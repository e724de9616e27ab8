package perfbench

import scala.util.Random
import org.apache.spark.sql.SparkSession
import graft.{CoreQueries, SparkEntry}

/** `reporting_mix`: BI reporting over the loaded fixtures — a fixed set
  * of reference-parity queries (`CoreQueries`), each built and driven
  * through a noop write, one sweep per iteration in a seed-shuffled
  * order. The Seg staging memo is cleared once per sweep, so its shared
  * fill is paid once per sweep. Read-only: no query here writes.
  *
  * The set spans the query families (aggregates, star and theta joins,
  * merges, ranks, the S1 fingerprint chain and the Seg staging chain)
  * within the run budget; the warm-up sweep writes each query's rows so
  * they can be checked against the DuckDB oracle after the run. */
final class ReportingMix(spark: SparkSession, data: String, work: String,
                         seed: Long) extends Workload {
  val keys: Seq[String] = ReportingMix.keys
  private val rnd = new Random(seed)
  private var outcomes: Map[String, Boolean] = Map.empty

  def prepare(): Unit = ()
  def inputBytes: Long = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem")
    .map(t => Files.bytes(s"$data/$t.parquet")).sum

  def warm(): (Seq[Check], Double) = {
    val t0 = System.nanoTime()
    CoreQueries.clearStagingCache()
    val outDir = s"$work/verify"
    outcomes = keys.map { k =>
      k -> (try {
        CoreQueries.all(k)(spark, data).write.mode("overwrite")
          .parquet(s"$outDir/$k")
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[reporting_mix] $k failed: $e"); false
      })
    }.toMap
    val warmS = (System.nanoTime() - t0) / 1e9
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json(SparkEntry.oracleSql).getBytes("UTF-8"))
    (Seq(Check("reporting.warm_sweep", outcomes.values.forall(identity),
      outcomes.filterNot(_._2).keys.mkString(","))), warmS)
  }

  /** One sweep: each query built and driven through a noop write. */
  private def sweep(iter: Int, order: Seq[String], tr: Tracer): Seq[Op] = {
    CoreQueries.clearStagingCache()
    order.map { k =>
      val t0 = System.nanoTime()
      val ok = try {
        tr(s"query.$k", iter) {
          val df = tr("build", iter)(CoreQueries.all(k)(spark, data))
          tr("action", iter)(
            df.write.format("noop").mode("overwrite").save())
        }
        outcomes(k)
      } catch {
        case e: Throwable =>
          System.err.println(s"[reporting_mix] $k failed: $e"); false
      }
      Op(k, (System.nanoTime() - t0) / 1e9, ok)
    }
  }

  def iterate(iter: Int, meter: Meter)
      : (Window, Seq[Op], Map[String, Any]) = {
    val order = rnd.shuffle(keys)
    val (ops, w) = meter(iter)(sweep(iter, order, meter.trace))
    (w, ops, Map.empty)
  }
}

object ReportingMix {
  /** Eight short keys and five long ones, so the per-query median falls
    * inside the short cluster rather than in the gap between the two. The
    * two Seg keys (q41, q43) share the staging fill, which the first of
    * them in a sweep pays; both are long either way. A short Seg key such
    * as q34 would turn long in the sweeps where it comes first, and move
    * the median with the query order. */
  val keys: Seq[String] = Seq(
    "q01_pricing_summary", "q02_filter_in_like", "q03_star_join_agg",
    "q05_anti_join", "q07_fingerprint_pipeline", "q09_theta_selfjoin",
    "q12_merge_upsert", "q16_string_clean", "q17_dedup_rank",
    "q20_topk_per_group", "q27_order_limit",
    "q41_client_minimarket_top", "q43_industry_spend")
}
