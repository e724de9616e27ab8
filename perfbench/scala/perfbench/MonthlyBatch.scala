package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.KeyLedger
import graft.pipelines.Monthly

/** `monthly_batch`: the reference's monthly load, S1 → S3 → S2 → Seg plus
  * the atomic publish with the key ledger, into a fresh warehouse each
  * iteration, over the month `gen.py` derives from the fixtures (every
  * mapping pass has rows; see `monthly_inputs` there). Each published
  * warehouse must digest equal to the warm-up's. */
final class MonthlyBatch(spark: SparkSession, data: String, work: String,
                         seed: Long, rerunCheck: Boolean) extends Workload {
  private val inDir = s"$data/monthly_batch"
  private val names = Seq("header", "detail", "dimFingerprint", "fact",
    "txnProxy", "txnKeys", "dimPatron", "dimUniquePatron", "candidates",
    "dimZipGeo", "dimClient", "dimTerritory")
  private val published = Seq("staging_full_map", "dim_fingerprint",
    "dim_patron", "dim_unique_patron", "fact_transaction",
    "minimarket_spend", "personas")
  private val ledgerTables = Seq("dimFingerprint", "dimPatron",
    "dimUniquePatron")

  /** The inputs are generated with the base tables (perfbench/gen.py). */
  def prepare(): Unit = ()

  def inputBytes: Long =
    names.map(n => Files.bytes(s"$inDir/$n.parquet")).sum

  private def inputs(): Monthly.Inputs = {
    def r(n: String) = spark.read.parquet(s"$inDir/$n.parquet")
    Monthly.Inputs(header = r("header"), detail = r("detail"),
      dimFingerprint = r("dimFingerprint"), fact = r("fact"),
      txnProxy = r("txnProxy"), txnKeys = r("txnKeys"),
      dimPatron = r("dimPatron"), dimUniquePatron = r("dimUniquePatron"),
      uniquePatronCandidates = r("candidates"), dimZipGeo = r("dimZipGeo"),
      dimClient = r("dimClient"), dimTerritory = r("dimTerritory"),
      startDate = "2025-02-01", endDate = "2025-02-28",
      startKey = 20250201L, endKey = 20250228L)
  }

  /** Row count and an order-independent digest of each frame, in one
    * job: `count:sum(h mod p):xor(h)` over a row hash h. */
  private def digests(frames: Map[String, DataFrame]): Map[String, String] = {
    val got = frames.map { case (n, df) =>
        df.select(lit(n).as("t"),
          xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      }.reduce(_ unionByName _)
      .groupBy(col("t"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1000000007L))),
        bit_xor(col("h")))
      .collect().map(r => r.getString(0) ->
        s"${r.getLong(1)}:${r.getLong(2)}:${r.getLong(3)}").toMap
    frames.keys.map(n => n -> got.getOrElse(n, "0:0:0")).toMap
  }

  private def read(root: String): Map[String, DataFrame] =
    published.map(n => n -> spark.read.parquet(s"$root/$n")).toMap

  /** Digests of every published table plus the ledger maxima. */
  private def fingerprint(root: String, ledger: String): Map[String, String] =
    digests(read(root)) ++ ledgerTables.map(t => s"ledger.$t" ->
      KeyLedger.read(ledger, t).map(_.toString).getOrElse("none"))

  private var reference: Map[String, String] = Map.empty
  private var lastRoot = ""

  /** One month: run, then publish into a fresh warehouse and ledger. */
  private def month(iter: Int, meter: Option[Meter])
      : (Monthly.Result, String, String, Option[Window]) = {
    val root = s"$work/monthly_out/iter-$iter/warehouse"
    val ledger = s"$work/monthly_out/iter-$iter/ledger"
    new java.io.File(ledger).mkdirs()
    val in = inputs().copy(keyLedger = Some(ledger))
    def body(tr: Tracer): Monthly.Result = {
      val r = tr("monthly.run", iter)(Monthly.run(in))
      tr("monthly.publish", iter)(
        Monthly.publishWithLedger(spark, root, r.outputs, ledger).get)
      r
    }
    meter match {
      case Some(mt) =>
        val (r, w) = mt(iter)(body(mt.trace))
        (r, root, ledger, Some(w))
      case None =>
        val off = new Tracer(spark.sparkContext, System.nanoTime())
        (body(off), root, ledger, None)
    }
  }

  def warm(): (Seq[Check], Double) = {
    val t0 = System.nanoTime()
    val (r, root, ledger, _) = month(-1, None)
    val warmS = (System.nanoTime() - t0) / 1e9
    reference = fingerprint(root, ledger)
    lastRoot = root
    // self-check: every in-window transaction took the pass its customer
    // was generated for, each pass mapped rows, and every key-minting
    // dimension grew
    val mapped = spark.read.parquet(s"$root/fact_transaction")
      .join(spark.read.parquet(s"$inDir/labels.parquet"), Seq("TH_ID"))
    val patronOk = (col("Patron_ID") =!= 1).cast("long")
    val uniqueOk = (coalesce(col("UniquePatronId"), lit(0L)) =!= 0)
      .cast("long")
    val passes = mapped.groupBy(col("patron_pass").as("pass"))
        .agg(sum(patronOk).as("n"))
      .unionByName(mapped.groupBy(col("unique_pass").as("pass"))
        .agg(sum(uniqueOk).as("n")))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val newKeys = Seq("dim_fingerprint" -> "dimFingerprint",
        "dim_patron" -> "dimPatron",
        "dim_unique_patron" -> "dimUniquePatron").map { case (out, in) =>
      out -> (reference(out).takeWhile(_ != ':').toLong -
        spark.read.parquet(s"$inDir/$in.parquet").count())
    }
    val expected = Seq("natural", "natural_new", "synthesized", "employee",
      "card", "catch_all")
    (Option.when(rerunCheck)(fixedPoint(root)).toSeq ++ Seq(
      Check("monthly.passes", expected.forall(p => passes.getOrElse(p, 0L) > 0),
        expected.map(p => s"$p=${passes.getOrElse(p, 0L)}").mkString(" ")),
      Check("monthly.new_keys", newKeys.forall(_._2 > 0),
        newKeys.map { case (k, v) => s"$k=$v" }.mkString(" ")),
      Check("monthly.probes", r.unmappedPatrons == 0 &&
        r.unmappedUniquePatrons == 0,
        s"unmapped_patrons=${r.unmappedPatrons} " +
          s"unmapped_unique=${r.unmappedUniquePatrons}")), warmS)
  }

  /** Rerun fixed point over the published warehouse: run 2 consumes the
    * published month, run 3 consumes run 2; they must agree. (The timed
    * iterations publish this same warehouse, which their digests check.)
    * It costs two more months, so it runs in traced runs only. */
  private def fixedPoint(root: String): Check = {
    val in = inputs()
    def rerun(prev: Map[String, DataFrame]) =
      Monthly.run(in.copy(dimFingerprint = prev("dim_fingerprint"),
        fact = prev("fact_transaction"), dimPatron = prev("dim_patron"),
        dimUniquePatron = prev("dim_unique_patron")))
    val consumed = Set("dim_fingerprint", "fact_transaction", "dim_patron",
      "dim_unique_patron")
    def pin(r: Monthly.Result) = r.outputs.map { case (k, df) =>
      k -> (if (consumed(k)) df.localCheckpoint() else df) }
    val r2 = rerun(read(root)); val o2 = pin(r2)
    val r3 = rerun(o2); val o3 = pin(r3)
    val (d2, d3) = (digests(o2), digests(o3))
    val diff = published.filter(n => d2(n) != d3(n))
    Check("monthly.rerun_fixed_point", diff.isEmpty &&
      r3.unmappedPatrons == 0 && r3.unmappedUniquePatrons == 0,
      if (diff.isEmpty) "run2 == run3" else s"drift in ${diff.mkString(",")}")
  }

  def iterate(iter: Int, meter: Meter)
      : (Window, Seq[Op], Map[String, Any]) = {
    val prev = lastRoot
    val (ok, w, files) =
      try {
        val (_, root, ledger, w) = month(iter, Some(meter))
        val got = fingerprint(root, ledger)
        lastRoot = root
        (got == reference, w.get, Files.count(root) + Files.count(ledger))
      } catch {
        case e: Throwable =>
          System.err.println(s"[monthly_batch] iteration $iter failed: $e")
          (false, Window(Double.NaN, Double.NaN, 0, 0), 0L)
      }
    if (prev.nonEmpty && prev != lastRoot)
      Files.deleteTree(new java.io.File(prev).getParent)
    (w, Seq(Op("month", w.wall, ok)), Map("publish_files" -> files))
  }

}

object Files {
  def bytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .map(x => bytes(x.getPath)).sum
    else if (f.getName.endsWith(".parquet")) f.length()
    else 0L
  }
  def count(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .map(x => count(x.getPath)).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else 1L
  }
  def deleteTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }
}
