package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextOps}
import graft.pipelines.Curation

/** `curation`: `Curation.run` with every optional stage on (4c semantic
  * gate, 6b BM25 retrieval gate, 7b classifier, 7c DSIR), then the mix
  * audit, over the planted-defect corpus `gen.py` derives from the
  * documents/embeddings fixtures (see `curation_inputs` there). */
final class CurationRun(spark: SparkSession, data: String, work: String)
    extends Workload {
  private val inDir = s"$data/curation"
  private val inputsNames = Seq("docs", "eval", "emb", "cents", "sem_index",
    "bm25_index", "cls", "target")

  /** The two frozen indexes the optional gates probe are built by the
    * program: the history vectors' IVF assignment and the eval set's
    * BM25 index. */
  def prepare(): Unit = {
    def r(n: String) = spark.read.parquet(s"$inDir/$n.parquet")
    Dedup.semanticIndex(r("hist"), r("cents"), idCol = "doc_id")
      .select(col("doc_id"), col("centroid_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$inDir/sem_index.parquet")
    TextOps.bm25Index(r("eval"))
      .write.mode("overwrite").parquet(s"$inDir/bm25_index.parquet")
  }

  def inputBytes: Long =
    inputsNames.map(n => Files.bytes(s"$inDir/$n.parquet")).sum

  private def run(out: String): Curation.Result = {
    def r(n: String) = spark.read.parquet(s"$inDir/$n.parquet")
    Curation.run(r("docs"), r("eval"), out,
      keepNum = 3, keepDen = 4,
      dsirTarget = Some(r("target")), dsirNum = 3, dsirDen = 4,
      histSemanticIndex = Some(r("sem_index")),
      semCentroids = Some(r("cents")), docEmbeddings = Some(r("emb")),
      bm25EvalIndex = Some(r("bm25_index")), bm25Tau = Some(2.0),
      clsWeights = Some(r("cls")), clsBias = 1.0, clsTau = 0.5)
  }

  private var reference: Seq[(String, Long, Long)] = Nil

  private def ledger(r: Curation.Result): Seq[(String, Long, Long)] =
    r.report.orderBy("stage_no").collect().toSeq
      .map(x => (x.getString(1), x.getLong(2), x.getLong(3)))

  private val filtering = Seq("input", "c4_clean", "pii_scrub",
    "exact_dedup", "near_dedup", "semdup_vs_history", "line_dedup",
    "decontaminate", "retrieval_decon", "quality_prune", "classifier_prune",
    "dsir_select")

  def warm(): (Seq[Check], Double) = {
    val out = s"$work/curation_out/warm"
    val t0 = System.nanoTime()
    val r = run(out)
    val warmS = (System.nanoTime() - t0) / 1e9
    val auditOk = r.audit.filter(!col("ok")).count() == 0
    reference = ledger(r)
    Files.deleteTree(out); Files.deleteTree(out + "_manifest")
    val docs = reference.map(x => x._1 -> x._2).toMap
    val steps = filtering.sliding(2).map { case Seq(a, b) =>
      (b, docs.getOrElse(a, -1L), docs.getOrElse(b, -1L))
    }.toSeq
    // every filtering stage but the PII mask (which rewrites, never
    // drops) must kill at least one planted document
    val dead = steps.filter(_._1 != "pii_scrub")
    (Seq(
      Check("curation.stages", filtering.forall(docs.contains),
        reference.map(x => s"${x._1}=${x._2}").mkString(" ")),
      Check("curation.monotone", steps.forall(s => s._3 <= s._2), ""),
      Check("curation.every_stage_kills", dead.forall(s => s._3 < s._2),
        dead.filter(s => s._3 >= s._2).map(_._1).mkString(",")),
      Check("curation.audit", auditOk, "")), warmS)
  }

  def iterate(iter: Int, meter: Meter)
      : (Window, Seq[Op], Map[String, Any]) = {
    val out = s"$work/curation_out/iter-$iter"
    val (ok, w) =
      try {
        val ((r, bad), w) = meter(iter) {
          val r = meter.trace("curation.run", iter)(run(out))
          val bad = meter.trace("curation.audit", iter)(
            r.audit.filter(!col("ok")).count())
          (r, bad)
        }
        (bad == 0 && ledger(r) == reference, w)
      } catch {
        case e: Throwable =>
          System.err.println(s"[curation] iteration $iter failed: $e")
          (false, Window(Double.NaN, Double.NaN, 0, 0))
      }
    Files.deleteTree(out); Files.deleteTree(out + "_manifest")
    (w, Seq(Op("curate", w.wall, ok)), Map.empty)
  }
}
