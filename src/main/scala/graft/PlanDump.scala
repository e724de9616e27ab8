package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Physical-plan snapshots: `.explain("formatted")` for every
  * SparkEntry query, scrubbed of run-varying noise (expression ids,
  * plan ids, absolute paths, size/row statistics) and written one file
  * per query under `plans/`. Committed so a reviewer can read or DIFF
  * the plan an operator compiles to — broadcast placement, pushed
  * filters, exchange count, codegen spans — without running anything;
  * regenerating after a change shows exactly which plans moved.
  *
  * Usage: `sbt "runMain graft.PlanDump [sfDir] [outDir] [names…]"`
  * (defaults: the sf0.001 fixture dir, `plans`, every SparkEntry key;
  * names may also be bench-only x-keys). Egress-style queries
  * (q52-q54, t42…) execute their write as part of building the frame —
  * the dump pays those small sf0.001 writes.
  */
object PlanDump {
  /** Strip everything that varies run to run but never changes the
    * plan's shape: expression ids (#123, kept as '#'), plan/subquery
    * ids, stats annotations, and any absolute path (temp egress dirs,
    * testdata roots, checkpoint locations). */
  private[graft] def scrub(plan: String): String =
    plan
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("subquery#?\\d*", "subquery")
      .replaceAll("cteId=\\d+", "cteId=x")
      .replaceAll("Statistics\\([^)]*\\)", "Statistics(...)")
      .replaceAll("\\$\\$Lambda\\$?\\d*/0x[0-9a-f]+@[0-9a-f]+",
        "\\$\\$Lambda@x")
      .replaceAll("@[0-9a-f]{6,}", "@x")
      .replaceAll("\\.scala:\\d+", ".scala:x")
      .replaceAll("RDD\\[\\d+\\]", "RDD[x]")
      // lambda-variable fresh names draw from one GLOBAL counter, so
      // ADDING a query shifts x_NNN in every later-planned snapshot —
      // churn with no plan-shape meaning (the t15 family moved 29
      // files when t121-t123 landed)
      .replaceAll("\\blambda ([a-z])_\\d+", "lambda $1_")
      .replaceAll("\\b([a-z])_\\d+#", "$1_#")
      .replaceAll("(?m)^(\\s*Location:).*$", "$1 <path>")
      .replaceAll("file:/[^\\s,\\]\\)]+", "<path>")
      .replaceAll("/(?:tmp|root)/[^\\s,\\]\\)]+", "<path>")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "plans"
    val spark = Session.fromEnv("4")
    Files.createDirectories(Paths.get(outDir))
    var failed = 0
    // args(2..): optional name filter (accepts bench-only x-keys too) —
    // the round-16 before/after snapshot path (plans/r16/)
    val slate: Seq[(String, (SparkSession, String) => DataFrame)] =
      if (args.length > 2)
        // resolve lazily: an unknown/typo'd name must report a per-name
        // FAIL below, not crash the whole dump with a bare
        // NoSuchElementException (round-16 ADVICE)
        args.drop(2).toSeq.map(n => n ->
          SparkEntry.queries.get(n)
            .orElse(DataQueries.benchOnly.get(n))
            .getOrElse((_: SparkSession, _: String) =>
              sys.error(s"unknown key '$n' (not in " +
                "SparkEntry.queries or DataQueries.benchOnly)")))
      else SparkEntry.queries.toSeq.sortBy(_._1)
    for ((name, build) <- slate) {
      try {
        val df = build(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
        Files.write(Paths.get(outDir, s"$name.txt"),
          (scrub(txt) + "\n").getBytes("UTF-8"))
        println(s"[plans] wrote $name")
      } catch {
        case e: Throwable =>
          failed += 1
          println(s"[plans] FAIL $name: ${e.getMessage}")
      }
    }
    println(s"[plans] done: ${slate.size - failed} written, " +
      s"$failed failed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
