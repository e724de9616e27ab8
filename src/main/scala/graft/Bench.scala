package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{Frozen, Tables}
import graft.ops.{Dedup, Similarity, Temporal, TextOps}
import graft.streaming.Streams

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints one JSON line per
  * completed pass PLUS a final min-of-N line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Survivability protocol (round-4 post-mortem: a 43-minute run on a
  * degraded host died of executor-heartbeat timeout and, because the one
  * JSON line printed only after ALL passes, the round's entire bench
  * signal was lost):
  *   - each completed pass prints its own JSON line immediately
  *     ({"metric":"pass","pass":N,...} — same shape as the total line),
  *     so killing the process at any point after pass 1 still leaves a
  *     parseable result in the log tail;
  *   - every query runs under a watchdog (SPARK_GRAFT_BENCH_CAP seconds,
  *     default 120): on timeout its Spark job group is cancelled and the
  *     query records -1 for the pass;
  *   - a query that throws records -1 (previously its elapsed-to-failure
  *     time was silently folded into the total);
  *   - -1 entries are excluded from every total; a query that never
  *     succeeded appears as -1 in "queries" so breakage is visible;
  *   - reps auto-downshift: if a completed pass exceeds
  *     SPARK_GRAFT_BENCH_BUDGET wall seconds (default 720 — raised in
  *     round 13 to 600 when the honest noop-write action pushed a
  *     healthy full pass to ~400 s wall, and again in round 16 when a
  *     healthy-START pass measured 637 s: the suite grew, and a budget
  *     under the healthy wall forces EVERY record to min-of-1 +
  *     salvage), remaining passes are skipped — a 10-50x-degraded
  *     host yields one honest pass instead of a dead process;
  *   - pass-START health gate (round-13 post-mortem: the official r13
  *     record was one pass begun at host_factor 4.66 — contention
  *     inflated early queries 10-20x and poisoned every trend drawn
  *     from it): a pass whose start kernel breaches
  *     SPARK_GRAFT_BENCH_MAX_START_FACTOR (default 2.0) waits
  *     SPARK_GRAFT_BENCH_GATE_WAIT s (default 60) and re-measures, up
  *     to SPARK_GRAFT_BENCH_GATE_TRIES times (default 5); if the gate
  *     exhausts, the pass runs anyway and its line (and, when EVERY
  *     pass exhausted, the total/compact record) carries
  *     degraded_start=true so trend tooling can refuse the record;
  *   - single-pass -1 rescue (round-7 post-mortem: the downshifted pass
  *     made q07's one capped attempt the final record): when only one
  *     pass ran and it left -1 entries, exactly those queries are
  *     retried once (a "retry" JSON line) before the total line;
  *   - contention salvage (round 16: the driver's official record was
  *     health-degraded three rounds running — r13 start, r14/r15
  *     mid-pass — leaving the 2x anchor gate unevaluated): each key's
  *     min carries PROVENANCE (the kernels bracketing its family
  *     segment in the pass the min came from). Keys whose every
  *     observation ran between degraded kernels are re-measured after
  *     the rep loop — health-gated, budget-bounded
  *     (SPARK_GRAFT_BENCH_SALVAGE tries, default 2;
  *     SPARK_GRAFT_BENCH_SALVAGE_BUDGET wall seconds, default 420) —
  *     under fresh bracket kernels ("salvage" JSON lines). The total
  *     line reports all_keys_clean / unclean_keys / per-key
  *     query_factors (pass-of-origin bracket-min normalization), so
  *     trend tooling can trust a record whose every reported key is
  *     clean-backed even when no full pass was clean end to end.
  *
  * Timing protocol (round-3 verdict: identical code swung 3-8x between
  * rounds, so single-shot numbers are JIT/GC noise): one untimed warm-up
  * (scan-agg-join round trip + the q48/q49/q50 fixture exports, so no
  * pass pays one-time materialization I/O), then up to
  * SPARK_GRAFT_BENCH_REPS (default 2) full passes, reporting the
  * per-query MIN across passes. The staging memos (t03/t14 verified
  * pairs, Seg-family ratios) are cleared before each pass so every pass
  * pays each staging fill exactly once; the Seg fill itself is timed as
  * its own "seg_staging" entry (inside the gated total — the work is
  * real) so q34/q41/q43/q44 time only their incremental cost.
  *
  * Host-health calibration (round-5 verdict: rounds 4 and 5 both lost or
  * distorted the bench signal to 10-45x host degradation that only a
  * judge re-run detected): every pass times a fixed deterministic
  * in-memory kernel (50M-row hash -> 9973-key agg -> sort, no I/O, no
  * cache reuse) at pass START ("host_factor") AND at pass END
  * ("host_factor_end"), both kernel_s / HOST_KERNEL_REF_SEC in its JSON
  * line — a mid-pass host collapse (round 7: 1.419 at start, then 346 s
  * wall for ~95 s of work) shows up as end >> start in the record
  * itself. Round 15 adds FAMILY-BOUNDARY kernels (after the gated
  * family, after the scale family): the r14 driver record started at
  * 1.844 and ended 1.953 — both under the gate — while mid-pass
  * contention inflated its t101-t105 block 20-40x, invisible to
  * start/end sampling. Each pass line carries the full
  * "host_factor_segments" vector and a "degraded_mid" flag (any
  * segment above the start-gate threshold); the record-level
  * degraded_mid means NO full pass was clean end to end, and
  * tools/bench_trend.py refuses such records for trending exactly as
  * it refuses degraded_start. The reference seconds are pinned from a healthy
  * round-6 build box, so per-query numbers are comparable across rounds
  * after dividing by the pass's host_factor: ~1.0 = healthy host, >>1 =
  * the host (not the code) is slow. See README "Benchmark protocol".
  *
  * `value` sums the mins of the oracle-verified queries only — directly
  * comparable to BASELINE.md and earlier rounds. The xxhash64 scale-path
  * variants (DataQueries.benchOnly) are timed the same way but reported
  * under the separate "scale_queries" key: same pipeline shapes, the
  * hash family a cluster would actually run (Verify can't check them —
  * DuckDB cannot recompute xxhash64 — so they must not inflate or
  * deflate the gated total).
  */
object Bench {
  /** Seconds the calibration kernel takes on a healthy build box
    * (best-observed on the round-6 box at local[32]; the same box showed
    * 0.62s and 1.05s on consecutive passes minutes apart — the wobble the
    * factor exists to expose); host_factor divides by this. Re-pin only if
    * the kernel itself changes. */
  val HostKernelRefSec = 0.65

  /** Fixed deterministic no-I/O kernel: 50M longs -> xxhash64 ->
    * 9973-key hash aggregate -> sort. Partition count is pinned (64) so
    * the measured work is identical regardless of SPARK_GRAFT_CPUS; the
    * result exercises codegen, shuffle write/read and sort — the same
    * machinery the real queries stress — with zero data dependence.
    * The sorted frame is driven through a noop WRITE, not count():
    * under count() Catalyst eliminates the Sort beneath the count
    * aggregate and the kernel would silently stop measuring the
    * sort/range-exchange path. */
  def hostKernelAction(spark: SparkSession): Unit =
    spark.range(0, 50000000L, 1, 64)
      // pmod bounds the summed value: 50M raw xxhash64 longs would
      // overflow the ANSI sum (and with count() instead of the noop
      // write, column pruning would silently skip the sum altogether)
      .select((col("id") % 9973).as("k"),
        pmod(xxhash64(col("id")), lit(1000000L)).as("h"))
      .groupBy(col("k"))
      .agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
      .orderBy(col("s"))
      .write.format("noop").mode("overwrite").save()

  def hostKernelSec(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    hostKernelAction(spark)
    (System.nanoTime() - t0) / 1e9
  }

  /** Run one action under a watchdog: elapsed seconds on success, -1 on
    * throw or on exceeding `capSec` (the action's job group is
    * cancelled so a hung query can't also poison the next one). Job
    * groups are thread-local, so the group is set inside the worker
    * thread. */
  private[graft] def capped(spark: SparkSession, capSec: Double,
                            name: String)(action: => Unit): Double = {
    val t0 = System.nanoTime()
    @volatile var failed: Option[String] = None
    val worker = new Thread(() => {
      try {
        spark.sparkContext
          .setJobGroup(s"bench-$name", name, interruptOnCancel = true)
        action
      } catch { case e: Throwable => failed = Some(String.valueOf(e)) }
    }, s"bench-$name")
    worker.setDaemon(true)
    worker.start()
    worker.join((capSec * 1000).toLong)
    if (worker.isAlive) {
      spark.sparkContext.cancelJobGroup(s"bench-$name")
      worker.join(15000)
      System.err.println(s"[bench] $name exceeded ${capSec}s cap, cancelled")
      -1.0
    } else if (failed.isDefined) {
      System.err.println(s"[bench] $name failed: ${failed.get}")
      -1.0
    } else (System.nanoTime() - t0) / 1e9
  }

  /** Extra CLI args are a dev-only name filter (same convention as
    * Verify): run only the named main/scale/streaming entries. Empty =
    * everything. The official driver run passes no args. */
  def main(args: Array[String]): Unit = {
    val nameFilter = args.toSet
    def keep(name: String): Boolean =
      nameFilter.isEmpty || nameFilter.contains(name)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val capSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_CAP", "120").toDouble
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "720").toDouble
    // Pass-START health gate (round-13 post-mortem: the official r13
    // record was a single pass STARTED at host_factor 4.66 — external
    // contention inflated its early queries 10-20x over clean-pass
    // numbers, poisoning every cross-round trend drawn from it). The
    // budget downshift already refuses to CONTINUE on a degraded host;
    // this refuses to START recording into one: a pass whose start
    // kernel reads above MAX_START_FACTOR waits GATE_WAIT seconds and
    // re-measures, up to GATE_TRIES times, before running anyway —
    // bounded, so a permanently-busy host still yields a record, with
    // degraded_start=true marking it untrustworthy for trending.
    val maxStartFactor =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_START_FACTOR", "2.0").toDouble
    val gateWaitSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_GATE_WAIT", "60").toDouble
    val gateTries =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_GATE_TRIES", "5").toInt.max(0)
    // clear any stale last-line handoff: a previous run killed between
    // writing the file and sbt's exit hook would otherwise replay its
    // record into some LATER sbt invocation's stdout
    try java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get("target/bench_last_line.json"))
    catch { case _: Throwable => () }
    val spark = Session.fromEnv("32")
    // Untimed warm-up: JIT/codegen round trip, then the three export-backed
    // queries so the one-time CSV/JSON/partitioned fixture materialization
    // happens outside every timed region (the export memo persists across
    // passes; only the staging memos are cleared per pass).
    try {
      Session.warm(spark, sfDir)
      SparkEntry.queries.view
        .filterKeys(k => k.startsWith("q48") || k.startsWith("q49") ||
          k.startsWith("q50"))
        .foreach { case (_, fn) => fn(spark, sfDir).count() }
      // the paced streams' multi-file exports are one-time
      // materialization I/O too
      Tables.exportedEventsParts(spark, sfDir)
      Tables.exportedDocsParts(spark, sfDir)
      Tables.exportedEmbsParts(spark, sfDir)
      // x34's 10x month-partitioned fact is one-time materialization
      // I/O too (a deployment's fact table already lives in this layout)
      Tables.exportedSegFactByMonth(spark, sfDir)
      hostKernelSec(spark) // JIT the calibration kernel itself
      ()
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] warm-up failed: ${e.getMessage}")
    }
    // the scale benches' frozen statics (PQ corpus/centroids/codebooks,
    // the x78i BM25 index, the x08r/x08z asset table): built once here
    // so those entries time pure search/retrieval/decode; a static that
    // fails to build fails its entries (-1) instead of building inside
    // the timed region
    Frozen.warm(spark, sfDir, DataQueries.frozenStatics)

    def timed(name: String)(action: => Unit): Double =
      capped(spark, capSec, name)(action)

    def timePass(qs: Seq[(String, (SparkSession, String) => DataFrame)])
        : Seq[(String, Double)] =
      qs.map { case (name, fn) =>
        // noop WRITE, not count() — the hostKernelAction rationale
        // applied to the queries themselves: under count() Catalyst
        // prunes every column no aggregate needs and ELIMINATES
        // cardinality-preserving operators outright (left joins on
        // unique keys, projections), so a projection-shaped operator
        // times as a bare scan. Round-13 catch: t54's 0.1 s "cost" was
        // count() dropping the entire excision chain via left-join
        // elimination — the real number is ~1.6 s. The noop sink
        // computes every output column and row, which is what a
        // pipeline consumer pays. (Numbers before the round-13 record
        // are count()-timed: projection-heavy keys read low there —
        // cross-round trend comparisons must use the same action.)
        name -> timed(name) {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          ()
        }
      }

    val main = (("seg_staging" ->
      ((s: SparkSession, d: String) => {
        CoreQueries.warmSegStaging(s, d)
        s.emptyDataFrame
      })) +: SparkEntry.queries.toSeq.sortBy(_._1))
      .filter(p => keep(p._1))
    val scale = DataQueries.benchOnly.toSeq.sortBy(_._1)
      .filter(p => keep(p._1))

    /** Streaming surface timing (reported under "streaming_queries", not
      * the gated total): the events fixture driven through the
      * readStream -> transform -> writeStream path one-shot
      * (Trigger.AvailableNow) into the noop sink, so the measured cost is
      * the streaming engine + stateful operators, not a sink. s01 is the
      * watermarked tumbling rollup (t10's stream twin), s02 the
      * stream-stream interval attribution join (t20's) — the two stateful
      * shapes a cluster would actually run. */
    // Streams self-cap: the watchdog's job-group cancel can't reach a
    // stream's microbatch thread (job groups are thread-local), so an
    // overlong stream is stopped here and recorded as a failure (-1)
    // instead of running on into the next timings. Per-microbatch
    // durations from StreamingQueryProgress go to streamDetail — the
    // one-shot total hides steady-state behavior (one 5 s batch and ten
    // 0.5 s batches total the same), so the pass line also records batch
    // count and max/sum triggerExecution ms per stream.
    val streamDetail =
      scala.collection.concurrent.TrieMap.empty[String, String]
    // State-store partitioning for the streaming entries: a stateful
    // operator spins up (and commits) one state store per shuffle
    // partition per microbatch, so at this input scale the session-wide
    // 32 is pure overhead — the s02 interval join carries 4 stores per
    // partition — and 8 is the deployment-level setting a cluster would
    // tune per stream. Streams run on their OWN SparkSession
    // (spark.newSession(): shared SparkContext, isolated SQLConf), so
    // the main session's shuffle setting is never mutated — a
    // watchdog-abandoned stream thread cannot leak the 8-partition value
    // into subsequent timed batch queries.
    val streamSpark = spark.newSession()
    // conf inheritance across newSession() is not guaranteed for
    // builder-time options; set what the streams need explicitly
    streamSpark.conf.set("spark.sql.shuffle.partitions", "8")
    streamSpark.conf.set("spark.sql.session.timeZone", "UTC")
    streamSpark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The streams' frozen statics: built ONCE, untimed, by the warm
    // call below (a deployment prebuilds them long before the stream
    // runs — a gate's steady-state cost is the per-batch probe, not the
    // build), shared across passes via localCheckpoint. A static whose
    // build fails fails its entries (-1) instead of building in-pass.
    // s05/s10: the corpus band index
    val gateIndex = Frozen("s05_band_index") { (s, d) =>
      Dedup.nearDupIndex(Tables.documents(s, d)).localCheckpoint()
    }
    // s06: the reference quality profile
    val refProfile = Frozen("s06_reference_profile") { (s, d) =>
      Streams.referenceProfile(Tables.documents(s, d)).localCheckpoint()
    }
    // s07/s08: the coarse quantizer (centroids, assigned corpus index)
    val semGate = Frozen("s07_quantizer") { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val cents = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("cvec"))
        .localCheckpoint()
      (cents, Dedup.semanticIndex(emb, cents).localCheckpoint())
    }
    // s08: the per-list embedding profile
    val embProfile = Frozen("s08_embedding_profile") { (s, d) =>
      Similarity.embeddingProfile(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
        semGate(s, d)._1).localCheckpoint()
    }
    // s09/s10: the DSIR profile (raw model = the corpus, target model =
    // its English slice)
    val dsirProf = Frozen("s09_dsir_profile") { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
      TextOps.dsirProfile(docs, docs.filter(col("lang") === "en"), n = 2,
        buckets = 4096).localCheckpoint()
    }
    // s11: the view-event history each purchase batch as-of joins
    val viewsStatic = Frozen("s11_view_history") { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("view_ts"), col("value").as("view_value"))
        .localCheckpoint()
    }
    // s12: the benchmark BM25 index — every 50th doc as the held-out
    // "benchmark" corpus (fan-out per incoming doc = sum of matched
    // bench dfs — the benchmark size IS the cost knob)
    val bm25Idx = Frozen("s12_benchmark_bm25_index") { (s, d) =>
      TextOps.bm25Index(Tables.documents(s, d)
        .filter(col("doc_id") % 50 === 0)).localCheckpoint()
    }
    // s18: the reference-period transition matrix (even users — a
    // deliberately different population than the full stream, so some
    // drift flags genuinely fire)
    val transBase = Frozen("s18_transition_baseline") { (s, d) =>
      Temporal.transitionMatrix(
          Tables.events(s, d).filter(col("user_id") % 2 === 0),
          "user_id", "ts", "event_type", "event_id")
        .localCheckpoint()
    }
    // s21: the incident windows — every error event opens a 30-minute
    // window
    val incidents = Frozen("s21_incident_windows") { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"),
          col("ts").as("inc_start"),
          (col("ts") + expr("INTERVAL 30 minutes")).as("inc_end"))
        .localCheckpoint()
    }
    Frozen.warm(streamSpark, sfDir, Seq(gateIndex, refProfile, semGate,
      embProfile, dsirProf, viewsStatic, bm25Idx, transBase, incidents))
    val noopSink: DataFrame => Unit =
      _.write.format("noop").mode("overwrite").save()
    def runStream(name: String, df: DataFrame, mode: String): Unit =
      runStreamQuery(name, () =>
        df.writeStream.format("noop").outputMode(mode)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start())
    def runStreamQuery(name: String,
        start: () => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      // drop any previous pass's entry first: a stream that fails or
      // exceeds the cap must not report the prior pass's batch stats
      // next to its own -1 timing
      streamDetail.remove(name)
      val q = start()
      try {
        // in-stream cap with headroom UNDER the watchdog: the watchdog's
        // job-group cancel can't reach the microbatch thread, so this
        // deadline must expire first — otherwise a slow stream startup
        // lets the watchdog fire, and the still-active stream's jobs
        // would overlap and inflate the next timed query
        val headroomMs = (((capSec - 5).max(1)) * 1000).toLong
        if (!q.awaitTermination(headroomMs)) {
          q.stop()
          throw new RuntimeException(s"stream exceeded in-stream cap " +
            s"(${headroomMs}ms < watchdog ${capSec}s)")
        }
      } finally if (q.isActive) q.stop()
      val durs = q.recentProgress.toSeq.map(p =>
        Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L))
      if (durs.nonEmpty)
        streamDetail(name) = s"""{"batches":${durs.size},""" +
          s""""max_batch_ms":${durs.max},"sum_batch_ms":${durs.sum}}"""
    }
    val streaming: Seq[(String, (SparkSession, String) => Unit)] = Seq(
      "s01_hourly_rollup" -> ((s, d) =>
        runStream("s01_hourly_rollup",
          Streams.hourlyRollup(Streams.eventsStreamAuto(s, d)), "append")),
      "s02_attribution_join" -> ((s, d) => {
        val src = Streams.eventsStreamAuto(s, d)
        runStream("s02_attribution_join", Streams.attributionJoin(
          src.filter(col("event_type") === "click"),
          src.filter(col("event_type") === "purchase")), "append")
      }),
      // steady-state complement to the s01 one-shot: same rollup, but
      // paced one file per microbatch over the 8-part export, so the
      // per-batch (state churn) cost shows up as ~9 batches in
      // streaming_detail instead of being averaged into 2
      "s03_steady_rollup" -> ((s, d) =>
        runStream("s03_steady_rollup",
          Streams.hourlyRollup(Streams.eventsStreamPaced(s,
            Tables.exportedEventsParts(s, d))), "append")),
      // ingest quality gate: per-source quality/PII screen as a running
      // aggregate over the paced 8-part document export (complete mode,
      // one state row per source)
      "s04_quality_gate" -> ((s, d) =>
        runStream("s04_quality_gate",
          Streams.qualityScreen(Streams.docsStreamPaced(s,
            Tables.exportedDocsParts(s, d))), "complete")),
      // near-dup ingest gate: paced documents banded per microbatch and
      // screened against the frozen corpus band index — the
      // stream-static MinHash gate shape, stateless across batches
      "s05_neardup_gate" -> ((s, d) =>
        runStreamQuery("s05_neardup_gate", () =>
          Streams.runNearDupGateOnce(s, Tables.exportedDocsParts(s, d),
            gateIndex(s, d), noopSink))),
      // distribution-drift monitor: per-source running means vs the
      // frozen reference profile — complete mode, one state row per
      // source, the s04 gate generalized to drift
      "s06_drift_monitor" -> ((s, d) =>
        runStream("s06_drift_monitor",
          Streams.driftMonitor(Streams.docsStreamPaced(s,
            Tables.exportedDocsParts(s, d)), refProfile(s, d)),
          "complete")),
      // semantic ingest gate: paced embeddings assigned to the frozen
      // coarse quantizer per microbatch and screened within-list against
      // the frozen assigned-corpus index — the s05 discipline on the
      // embedding modality, stateless across batches
      "s07_semantic_gate" -> ((s, d) => {
        val (cents, idx) = semGate(s, d)
        runStreamQuery("s07_semantic_gate", () =>
          Streams.runSemanticGateOnce(s, Tables.exportedEmbsParts(s, d),
            idx, cents, noopSink))
      }),
      // embedding-space drift monitor: paced embeddings quantized
      // against the frozen centroids per microbatch, per-list running
      // count + mean cosine vs the frozen profile — complete mode, one
      // state row per list, the s06 gate on the embedding modality
      "s08_embedding_drift" -> ((s, d) =>
        runStream("s08_embedding_drift",
          Similarity.embeddingDriftMonitor(
            Streams.embsStreamPaced(s, Tables.exportedEmbsParts(s, d)),
            semGate(s, d)._1, embProfile(s, d)),
          "complete")),
      // DSIR ingest gate: paced documents scored per microbatch against
      // the frozen bucket profile — one broadcast join + one doc-keyed
      // aggregate per batch, stateless across batches, the s05
      // discipline on the data-selection model
      "s09_dsir_gate" -> ((s, d) =>
        runStreamQuery("s09_dsir_gate", () =>
          Streams.runDsirGateOnce(s, Tables.exportedDocsParts(s, d),
            dsirProf(s, d), noopSink))),
      // composed ingest screen: quality + PII + near-dup flag + DSIR
      // score in ONE pass per batch against both frozen statics — the
      // production shape (one stream instead of three); per batch the
      // union of the component costs, stateless across batches
      "s10_ingest_screen" -> ((s, d) =>
        runStreamQuery("s10_ingest_screen", () =>
          Streams.runIngestScreenOnce(s, Tables.exportedDocsParts(s, d),
            gateIndex(s, d), dsirProf(s, d), noopSink))),
      // stream-static as-of enrichment: each paced purchase microbatch
      // picks the latest same-user view from the frozen history
      // snapshot — per batch the t70 join-free union+window shape,
      // stateless across batches
      "s11_asof_enrich" -> ((s, d) =>
        runStreamQuery("s11_asof_enrich", () =>
          Streams.runAsofEnrichOnce(s, Tables.exportedEventsParts(s, d),
            viewsStatic(s, d), "view_ts", Seq("view_id", "view_value"),
            tie = "view_id", sink = noopSink))),
      // lexical-decontamination gate: paced documents BM25-scored per
      // microbatch against the frozen benchmark index — stateless, the
      // s05 discipline on scored retrieval; production double-sum
      // accumulator (the bench measures the gate, the t84 oracle owns
      // the arithmetic)
      "s12_bm25_gate" -> ((s, d) =>
        runStreamQuery("s12_bm25_gate", () =>
          Streams.runBm25GateOnce(s, Tables.exportedDocsParts(s, d),
            bm25Idx(s, d), noopSink, tau = 9.0, exactSums = false))),
      // streaming cardinality monitor: the HLL sketch as a complete-mode
      // running aggregate over the paced 8-part event export — bounded
      // state (512 ints per event type) however many users stream past
      "s13_cardinality_monitor" -> ((s, d) =>
        runStream("s13_cardinality_monitor",
          Streams.cardinalityMonitor(Streams.eventsStreamPaced(s,
            Tables.exportedEventsParts(s, d))),
          "complete")),
      // length-drift gate: sampled token-count quantiles per source as
      // ONE stateful aggregation (expression-interpolated — streaming
      // forbids a second agg), <= k pairs of state per source forever
      "s14_length_gate" -> ((s, d) =>
        runStream("s14_length_gate",
          Streams.lengthDriftGate(Streams.docsStreamPaced(s,
            Tables.exportedDocsParts(s, d))),
          "complete")),
      // streaming funnel: out-of-order-tolerant custom state — events
      // buffer until the watermark passes them, then fold into the
      // chain; the flush sentinel part fires the tail timeout
      "s15_funnel" -> ((s, d) =>
        runStream("s15_funnel",
          Streams.funnelWithState(Streams.eventsStreamPaced(s,
              Tables.exportedEventsPartsFlush(s, d)),
            Seq("signup", "view", "purchase")).toDF(),
          "update")),
      // item-frequency monitor: the Count-Min grid as the one stateful
      // aggregate (<= 4x1024 cells per event type forever), each
      // trigger's complete grid probed for a 4-item watch list — the
      // per-item replay-storm gate next to s13's per-type cardinality
      // gate
      "s16_frequency_monitor" -> ((s, d) => {
        import s.implicits._
        val watch = Seq(("click", "1"), ("click", "2"), ("view", "3"),
          ("purchase", "4")).toDF("event_type", "probe")
        runStreamQuery("s16_frequency_monitor", () =>
          Streams.startFrequencyMonitor(s,
            Tables.exportedEventsParts(s, d), watch,
            maxCount = 1000L, sink = noopSink))
      }),
      // s16's grid under a 1-day half-life: the long-running form —
      // forward-weighted 2^day decimal cells, same bounded state, the
      // per-trigger probe rescaled as of the fixture window's end so
      // month-old floods stop alarming while fresh ones still do
      "s19_decayed_frequency" -> ((s, d) => {
        import s.implicits._
        val watch = Seq(("click", "1"), ("click", "2"), ("view", "3"),
          ("purchase", "4")).toDF("event_type", "probe")
        runStreamQuery("s19_decayed_frequency", () =>
          Streams.startDecayedFrequencyMonitor(s,
            Tables.exportedEventsParts(s, d), watch,
            maxDecayed = 100.0,
            t0Micros = 1704067200000000L, halfLifeSeconds = 86400L,
            asOfMicros = 1706659200000000L, sink = noopSink))
      }),
      // s13's cardinality monitor under epoch slicing: one p=9 register
      // set per (type, day) as the one stateful aggregate (<= 88 x 512
      // ints per type forever), each trigger's grid recombined with
      // recency weights so month-old cardinality storms un-alarm while
      // fresh ones fire — the s19 decay discipline applied to distinct
      // counts
      "s20_decayed_cardinality" -> ((s, d) =>
        runStreamQuery("s20_decayed_cardinality", () =>
          Streams.startDecayedCardinalityMonitor(s,
            Tables.exportedEventsParts(s, d),
            minDistinct = 2.0, maxRepeatFactor = 500.0,
            activityFloor = 1.0,
            t0Micros = 1704067200000000L, halfLifeSeconds = 86400L,
            asOfMicros = Some(1706659200000000L), sink = noopSink))),
      // stream-static range join: each paced purchase microbatch x the
      // frozen incident windows (every containing window, the
      // many-match contract) — the s11 discipline on t121's operator
      "s21_range_join" -> ((s, d) =>
        runStreamQuery("s21_range_join", () =>
          Streams.runRangeJoinOnce(s, Tables.exportedEventsParts(s, d),
            incidents(s, d), "inc_start", "inc_end",
            bucketSeconds = 1800L, sink = noopSink))),
      // streaming transition extraction: buffer-until-watermark pair
      // emission (the s15 discipline on consecutive-event pairs); the
      // flush sentinel part advances the watermark so the tails emit
      "s17_transitions" -> ((s, d) =>
        runStream("s17_transitions",
          Streams.transitionsWithState(Streams.eventsStreamPaced(s,
            Tables.exportedEventsPartsFlush(s, d))).toDF(),
          "append")),
      // transition-probability drift gate: s17's pair extraction with
      // each microbatch folded into the running (prev, next) grid and
      // alarmed against the frozen reference-period matrix — the s06
      // drift discipline on t108's behavior statistics
      "s18_transition_drift" -> ((s, d) =>
        runStreamQuery("s18_transition_drift", () =>
          Streams.startTransitionDriftMonitor(s,
            Tables.exportedEventsPartsFlush(s, d), transBase(s, d),
            tol = 0.1, sink = noopSink))))
    // `only` is re-evaluated just before each stream runs (not once up
    // front) so a stateful predicate — the salvage wall-budget check —
    // can cut the pass short between streams
    def timeStreamingPass(only: String => Boolean = _ => true)
        : Seq[(String, Double)] =
      streaming.filter(p => keep(p._1)).flatMap { case (name, fn) =>
        if (!only(name)) None
        else Some(name -> timed(name) { fn(streamSpark, sfDir) })
      }
    def streamDetailJson(only: String => Boolean = _ => true): String =
      streamDetail.toSeq.filter(p => only(p._1)).sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")

    // locale-safe 3-decimal rendering: the f-interpolator goes through
    // String.format and would emit "1,234" (invalid JSON) on
    // comma-decimal locales; Double.toString never does
    def r3(x: Double): Double = math.round(x * 1000) / 1000.0
    def jsonMap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def sumOk(rs: Seq[(String, Double)]): Double =
      rs.collect { case (_, v) if v >= 0 => v }.sum

    // Persisted bench record (round-6 verdict: BENCH_rN.json's truncated
    // tail drops pass-1 lines and per-query numbers; they must survive
    // in-repo, not in /tmp): every pass line and the final total line are
    // also written — rewritten after each pass, so a killed run still
    // leaves everything completed so far — to bench_summary_r{N}.json,
    // N inferred as (max existing BENCH_r*.json round)+1 in the cwd.
    // Override with SPARK_GRAFT_BENCH_SUMMARY; set it empty to disable.
    // A dev-filtered run (CLI name args) never writes the default file:
    // it would clobber the full record with a one-query summary.
    val summaryPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY",
      if (nameFilter.nonEmpty) "" else {
      val rx = "BENCH_r(\\d+)\\.json".r
      val rounds = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .flatMap(f => rx.findFirstMatchIn(f.getName).map(_.group(1).toInt))
      val n = if (rounds.nonEmpty) rounds.max + 1 else 1
      f"bench_summary_r$n%02d.json"
    })
    var passLines = Vector.empty[String]
    def writeSummary(totalLine: Option[String]): Unit =
      if (summaryPath.nonEmpty) try {
        val body = "{\"passes\":[" + passLines.mkString(",\n") + "]" +
          totalLine.map(t => ",\n\"total\":" + t).getOrElse("") + "}\n"
        java.nio.file.Files.write(java.nio.file.Paths.get(summaryPath),
          body.getBytes("UTF-8"))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] summary write failed: ${e.getMessage}")
      }

    case class Pass(main: Seq[(String, Double)], scale: Seq[(String, Double)],
                    streaming: Seq[(String, Double)], hostFactor: Double,
                    hostFactorEnd: Double, gateWaits: Int = 0,
                    degradedStart: Boolean = false,
                    midFactors: Seq[Double] = Nil,
                    isRetry: Boolean = false) {
      /** Mid-pass health (round-14 verdict item 2: the official r14
        * record passed the 2.0 START gate at 1.844 and ended at 1.953,
        * yet mid-pass contention inflated its t101-t105 block 20-40x —
        * a start-only gate cannot see a collapse BETWEEN its kernels).
        * The pass re-runs the calibration kernel at each family
        * boundary (main->scale, scale->streaming) plus the existing
        * end kernel; any segment above the start-gate threshold (or a
        * failed kernel, -1) marks the pass degraded_mid, and trend
        * tooling refuses records with no clean pass the same way it
        * refuses degraded_start records. */
      def degradedMid(maxFactor: Double): Boolean =
        (midFactors :+ hostFactorEnd).exists(f => f < 0 || f > maxFactor)
      /** The family's timings (0=gated main, 1=scale, 2=streaming). */
      def famSeq(fam: Int): Seq[(String, Double)] = fam match {
        case 0 => main
        case 1 => scale
        case _ => streaming
      }
      /** The calibration kernels BRACKETING a family's segment within
        * this pass: main runs between the start and first boundary
        * kernel, scale between the two boundary kernels, streaming
        * between the second boundary kernel and the end kernel. A pass
        * built without boundary kernels (the legacy single-pass -1
        * rescue) falls back to (start, end). */
      def brackets(fam: Int): (Double, Double) = fam match {
        case 0 => (hostFactor, midFactors.lift(0).getOrElse(hostFactorEnd))
        case 1 => (midFactors.lift(0).getOrElse(hostFactor),
          midFactors.lift(1).getOrElse(hostFactorEnd))
        case _ => (midFactors.lift(1).getOrElse(hostFactor), hostFactorEnd)
      }
      /** Both bracketing kernels measured AND under the health gate:
        * a measurement inside such a segment cannot have been taken
        * during a detectable contention window, so a per-key min with
        * at least one clean-bracketed observation is trustworthy even
        * when the record's FULL passes were all degraded elsewhere. */
      def cleanBracket(fam: Int, maxFactor: Double): Boolean = {
        val (l, r) = brackets(fam)
        l > 0 && r > 0 && l <= maxFactor && r <= maxFactor
      }
      /** Normalization factor for this pass's family segment: the MIN
        * of the positive bracketing kernels — bench_trend's streaming
        * lens rule (min, not nearest, so a transient boundary spike
        * cannot deflate the segment it brackets) generalized to every
        * family. -1 when both kernels failed. */
      def bracketFactor(fam: Int): Double = {
        val (l, r) = brackets(fam)
        val ok = Seq(l, r).filter(_ > 0)
        if (ok.nonEmpty) ok.min else -1.0
      }
    }
    def kernelFactor(): Double = {
      // prompt a collection first: the kernel measures the HOST, not
      // the just-finished family's heap debt — without this the run
      // pays the previous stage's accumulated garbage inside the
      // timed region
      System.gc()
      val kernelSec = timed("host_kernel") { hostKernelAction(spark) }
      if (kernelSec < 0) -1.0 else kernelSec / HostKernelRefSec
    }
    /** Boundary/end kernels: re-measure once after a short settle when
      * the first read breaches the gate, taking the MIN. Round-16 live
      * finding: the kernel immediately after the scale family read
      * 2.09/2.44/2.71 across three same-run measurements while the
      * kernels before and after read 0.94-1.9 (and the r15 anchor's
      * passes show the same mid-kernel elevation) — residual JVM state
      * from the heaviest family, not host contention, was flagging
      * whole families unclean. A genuinely contended host reads high
      * on BOTH samples and still flags; the start kernel keeps its own
      * longer gate-wait loop (gatedStartFactor). */
    def boundaryKernelFactor(): Double = {
      val f1 = kernelFactor()
      if (f1 >= 0 && f1 <= maxStartFactor) f1
      else {
        Thread.sleep(5000)
        val f2 = kernelFactor()
        if (f1 < 0) f2 else if (f2 < 0) f1 else math.min(f1, f2)
      }
    }
    /** Start-gated calibration: re-measure (after a bounded wait) while
      * the host reads degraded — above the gate OR a failed (-1)
      * kernel, which on a wedged host means the watchdog cap fired.
      * Returns (factor, waits, stillDegraded). */
    def gatedStartFactor(): (Double, Int, Boolean) = {
      var f = kernelFactor()
      var waits = 0
      def degraded = f < 0 || f > maxStartFactor
      while (degraded && waits < gateTries) {
        System.err.println(
          f"[bench] pass-start host_factor $f%.2f breaches the " +
            f"$maxStartFactor%.1f start gate; waiting ${gateWaitSec}%.0fs " +
            s"(retry ${waits + 1}/$gateTries) for the host to calm down")
        Thread.sleep((gateWaitSec * 1000).toLong)
        f = kernelFactor()
        waits += 1
      }
      if (degraded)
        System.err.println(
          f"[bench] start gate exhausted after $waits waits at " +
            f"host_factor $f%.2f — recording anyway, degraded_start=true")
      (f, waits, degraded)
    }
    var passes = Vector.empty[Pass]
    var pass = 0
    var continue = true
    def runPass(): Double = {
      pass += 1
      // host-health calibration at pass START and again at pass END
      // (round-7 post-mortem: a host that measures healthy at pass start
      // can collapse mid-pass — 1.419 at start, then 346 s of wall for
      // ~95 s of work — and a start-only factor makes that invisible in
      // the record). The kernel runs under the same watchdog/cap as the
      // queries — on a wedged host a hang or throw records factor=-1
      // instead of killing the whole pass before any line is emitted.
      val (hostFactor, gateWaits, degradedStart) = gatedStartFactor()
      // the wall clock starts AFTER the start gate: its bounded sleeps
      // are deliberate idling, not pass work — counting them would
      // inflate "wall" and could trip the budget downshift (min-of-3 ->
      // min-of-1, the round-7/9 noise regime) on a pass whose measured
      // work was healthy (round-14 review finding)
      val w0 = System.nanoTime()
      // cold staging per pass: drop the t03/t14 verified-pairs checkpoint
      // AND every persisted frame (segStaging etc.), so each pass pays
      // each staging fill exactly once — the same work profile as the
      // earlier single-pass rounds
      DataQueries.clearStagingCache()
      CoreQueries.clearStagingCache()
      spark.catalog.clearCache()
      val pm = timePass(main)
      // family-boundary kernels: a start-healthy host that collapses
      // mid-pass (the r14 t101-t105 block, 20-40x inflated while start
      // AND end kernels read under the gate) is caught at the nearest
      // boundary; ~0.7 s each on a healthy host, same watchdog as the
      // queries
      val fMid1 = boundaryKernelFactor()
      val ps = timePass(scale)
      val fMid2 = boundaryKernelFactor()
      val pt = timeStreamingPass()
      val p = Pass(pm, ps, pt, hostFactor, boundaryKernelFactor(), gateWaits,
        degradedStart, midFactors = Seq(fMid1, fMid2))
      if (p.degradedMid(maxStartFactor))
        System.err.println(
          f"[bench] pass $pass%d mid-pass health breach: segments " +
            s"${(Seq(p.hostFactor) ++ p.midFactors :+ p.hostFactorEnd)
              .map(f => f"$f%.2f").mkString("[", ", ", "]")} vs gate " +
            f"$maxStartFactor%.1f — degraded_mid=true on this pass")
      passes :+= p
      val wall = (System.nanoTime() - w0) / 1e9
      val passLine =
        s"""{"metric":"pass","pass":$pass,"value":${sumOk(p.main)},""" +
        s""""unit":"sec","wall":$wall,""" +
        s""""host_factor":${r3(p.hostFactor)},""" +
        s""""host_factor_end":${r3(p.hostFactorEnd)},""" +
        s""""host_factor_segments":${(Seq(p.hostFactor) ++ p.midFactors :+
          p.hostFactorEnd).map(r3).mkString("[", ",", "]")},""" +
        s""""gate_waits":${p.gateWaits},""" +
        s""""degraded_start":${p.degradedStart},""" +
        s""""degraded_mid":${p.degradedMid(maxStartFactor)},""" +
        s""""queries":${jsonMap(p.main)},""" +
        s""""scale_queries":${jsonMap(p.scale)},""" +
        s""""streaming_queries":${jsonMap(p.streaming)},""" +
        s""""streaming_detail":${streamDetailJson()},"sf":"$sfDir"}"""
      println(passLine)
      passLines :+= passLine
      writeSummary(None)
      wall
    }
    var lastWall = 0.0
    while (continue && pass < reps) {
      lastWall = runPass()
      if (lastWall > budgetSec && pass < reps) {
        System.err.println(
          s"[bench] pass $pass took ${lastWall}s > ${budgetSec}s budget; " +
            s"downshifting from $reps to $pass passes")
        continue = false
      }
    }
    // Noise guard (round-9 verdict: pass 1 ran on a degrading host and
    // left 1.5-2x artifacts on sub-second queries that the min-of-2
    // couldn't erase): when any completed pass's host_factor drifted
    // >10% between its start and end kernels, the per-query mins carry
    // mid-pass host noise — run ONE extra pass so the min has a stable
    // pass to draw from. Only when the normal reps completed (no budget
    // downshift — a dying host gets no extra work) and at most once.
    def drifted(p: Pass): Boolean =
      p.hostFactor > 0 && p.hostFactorEnd > 0 &&
        math.abs(p.hostFactorEnd / p.hostFactor - 1.0) > 0.10
    if (continue && reps > 1 && pass == reps && lastWall <= budgetSec &&
        passes.exists(drifted)) {
      System.err.println(s"[bench] host_factor drifted >10% within a " +
        s"pass; running one noise-guard extra pass (min-of-${reps + 1})")
      runPass()
    }

    // -1 rescue for single-pass records (round-7 post-mortem: when the
    // budget downshifts to ONE pass, any query whose single attempt was
    // capped or threw becomes a permanent -1 in the official record —
    // q07 ended round 7 with no number at all). If only one pass ran and
    // it left -1 entries, retry exactly those queries once; minOver then
    // folds a successful retry in, and a query that fails twice stays -1.
    // Staging memos are NOT cleared: a retried staging CONSUMER runs
    // against the warm staging it would have had mid-pass (comparable
    // timing); a retried staging FILLER (t03/t14, seg_staging) re-times
    // without its fill cost — deflated, but a number beats a -1 and the
    // retry line is labeled so the record shows which attempt is which.
    if (passes.size == 1 &&
        (passes.head.main ++ passes.head.scale ++ passes.head.streaming)
          .exists(_._2 < 0)) {
      val p0 = passes.head
      def failed(rs: Seq[(String, Double)]): Set[String] =
        rs.collect { case (n, v) if v < 0 => n }.toSet
      val (fm, fs, ft) = (failed(p0.main), failed(p0.scale),
        failed(p0.streaming))
      System.err.println(s"[bench] single-pass run left -1 entries; " +
        s"retrying once: ${(fm ++ fs ++ ft).toSeq.sorted.mkString(", ")}")
      val rp = Pass(timePass(main.filter(p => fm(p._1))),
        timePass(scale.filter(p => fs(p._1))),
        timeStreamingPass(ft), hostFactor = kernelFactor(),
        hostFactorEnd = -1.0, isRetry = true)
      passes :+= rp
      val retryLine =
        s"""{"metric":"retry","host_factor":${r3(rp.hostFactor)},""" +
        s""""queries":${jsonMap(rp.main)},""" +
        s""""scale_queries":${jsonMap(rp.scale)},""" +
        s""""streaming_queries":${jsonMap(rp.streaming)},"sf":"$sfDir"}"""
      println(retryLine)
      passLines :+= retryLine
      writeSummary(None)
    }

    // Per-query min over passes WITH PROVENANCE (round 16): alongside
    // the min (failed -1 observations ignored; a query that never
    // succeeded stays -1 and is excluded from the total), each key
    // carries (a) the bracket-min factor of the pass its min came from
    // — the per-key pass-of-origin normalization that collapses the
    // one-record-factor ambiguity BASELINE.md documents (0.42-0.61x on
    // the r15 anchor) — and (b) a clean bit: some successful
    // observation ran inside a clean-bracketed segment. Contention
    // only ever ADDS time, so a clean observation bounds the min from
    // above and the reported min cannot be contention-inflated.
    def provOver(fam: Int): Seq[(String, (Double, Double, Boolean))] =
      passes.flatMap(p => p.famSeq(fam).map { case (k, v) =>
        (k, v, p.bracketFactor(fam), p.cleanBracket(fam, maxStartFactor))
      }).groupBy(_._1).map { case (k, obs) =>
        val ok = obs.filter(_._2 >= 0)
        if (ok.isEmpty) k -> ((-1.0, -1.0, false))
        else {
          val minV = ok.map(_._2).min
          // among observations achieving the min prefer one from a
          // clean-bracketed segment, then the smaller factor
          val w = ok.filter(_._2 == minV).minBy(o => (!o._4, o._3))
          k -> ((minV, w._3, ok.exists(_._4)))
        }
      }.toSeq.sortBy(_._1)
    def uncleanOf(fam: Int): Seq[String] =
      provOver(fam).collect { case (k, (v, _, false)) if v >= 0 => k }

    // ---- contention salvage (round-16 mandate: the driver's official
    // record has been health-degraded three rounds running, leaving
    // the 2x anchor gate unevaluated). A degraded pass typically
    // pollutes a HANDFUL of keys (r15: ~5 — t79/q01/seg_staging/...),
    // so instead of refusing the whole record, keys that ended the rep
    // loop without clean-bracket provenance are re-measured here:
    // health-gated (the same bounded start-gate waits), in pass order
    // (staging fillers before their consumers), under fresh bracket
    // kernels, within a wall budget — minutes for the usual handful,
    // never another full pass forced onto a dying host (the gate
    // aborts salvage when the host won't calm down). A salvaged key's
    // time folds into the min like any pass (it can only lower it) and
    // its clean brackets grant provenance; trend tooling may then
    // trust a record whose every reported key is clean-backed even
    // when no FULL pass was clean end to end ("all_keys_clean").
    val salvageTries =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SALVAGE", "2").toInt.max(0)
    val salvageBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SALVAGE_BUDGET", "420").toDouble
    var salvageWall = 0.0
    var salvageAttempt = 0
    var salvageAbandoned = false
    while (salvageAttempt < salvageTries && !salvageAbandoned &&
        salvageWall < salvageBudgetSec &&
        (0 to 2).exists(f => uncleanOf(f).nonEmpty)) {
      salvageAttempt += 1
      val (un0, un1, un2) = (uncleanOf(0).toSet, uncleanOf(1).toSet,
        uncleanOf(2).toSet)
      System.err.println(s"[bench] salvage $salvageAttempt/$salvageTries: " +
        s"${un0.size + un1.size + un2.size} keys lack clean-bracket " +
        s"provenance: ${(un0 ++ un1 ++ un2).toSeq.sorted.mkString(", ")}")
      val (f0, waits, stillDeg) = gatedStartFactor()
      if (stillDeg) {
        System.err.println("[bench] salvage abandoned: host still " +
          f"degraded (factor $f0%.2f) after the gate's waits — unclean " +
          "keys stay flagged")
        salvageAbandoned = true
      } else {
        val w0 = System.nanoTime()
        val deadline = w0 + ((salvageBudgetSec - salvageWall) * 1e9).toLong
        def overBudget: Boolean = System.nanoTime() > deadline
        // staging discipline: a selected FILLER re-pays its fill (its
        // memo is cleared — the first-in-pass-order semantics every
        // pass has), while a selected CONSUMER whose filler is absent
        // times against warm staging exactly as it would mid-pass
        if (un0.contains("seg_staging")) CoreQueries.clearStagingCache()
        if ((un0 ++ un1).exists(k =>
          k.startsWith("t03") || k.startsWith("t14")))
          DataQueries.clearStagingCache()
        def budgeted(qs: Seq[(String, (SparkSession, String) => DataFrame)],
            sel: Set[String]): Seq[(String, Double)] =
          qs.filter(p => sel(p._1)).flatMap { case (name, fn) =>
            if (overBudget) {
              System.err.println(s"[bench] salvage budget exhausted " +
                s"before $name — stays unclean")
              None
            } else Some(name -> timed(name) {
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              ()
            })
          }
        val pm = budgeted(main, un0)
        val fMid1 = boundaryKernelFactor()
        val ps = budgeted(scale, un1)
        val fMid2 = boundaryKernelFactor()
        val pt = timeStreamingPass(k => un2(k) && !overBudget)
        val p = Pass(pm, ps, pt, f0, boundaryKernelFactor(), waits,
          degradedStart = false, midFactors = Seq(fMid1, fMid2),
          isRetry = true)
        passes :+= p
        salvageWall += (System.nanoTime() - w0) / 1e9
        val salvageLine =
          s"""{"metric":"salvage","attempt":$salvageAttempt,""" +
          s""""host_factor":${r3(p.hostFactor)},""" +
          s""""host_factor_end":${r3(p.hostFactorEnd)},""" +
          s""""host_factor_segments":${(Seq(p.hostFactor) ++ p.midFactors :+
            p.hostFactorEnd).map(r3).mkString("[", ",", "]")},""" +
          s""""gate_waits":${p.gateWaits},""" +
          s""""degraded_mid":${p.degradedMid(maxStartFactor)},""" +
          s""""queries":${jsonMap(p.main)},""" +
          s""""scale_queries":${jsonMap(p.scale)},""" +
          s""""streaming_queries":${jsonMap(p.streaming)},""" +
          // only streams this attempt actually ran — a stale entry
          // from the last full pass must not sit next to salvage times
          s""""streaming_detail":${streamDetailJson(
            p.streaming.map(_._1).toSet)},"sf":"$sfDir"}"""
        println(salvageLine)
        passLines :+= salvageLine
        writeSummary(None)
      }
    }

    val provMain = provOver(0)
    val provScale = provOver(1)
    val provStream = provOver(2)
    def minsOf(prov: Seq[(String, (Double, Double, Boolean))])
        : Seq[(String, Double)] = prov.map { case (k, (v, _, _)) => k -> v }
    val results = minsOf(provMain)
    val scaleResults = minsOf(provScale)
    val streamingResults = minsOf(provStream)
    val provAll = provMain ++ provScale ++ provStream
    // keys whose reported number has no clean-bracketed backing (a -1
    // key is its own alarm and is excluded); all_keys_clean makes the
    // record trend-usable even when no FULL pass was clean end to end
    val uncleanKeys = provAll.collect {
      case (k, (v, _, false)) if v >= 0 => k }.sorted
    val allKeysClean = uncleanKeys.isEmpty
    // per-key pass-of-origin normalization factors (bracket-min of the
    // pass each min came from); consumers fall back to the record
    // host_factor for keys absent here (factor unmeasurable, -1)
    val queryFactors = provAll.collect {
      case (k, (v, f, _)) if v >= 0 && f > 0 => k -> r3(f) }
    // the total line reports the best host_factor among passes that
    // were CLEAN END TO END (start gate passed, every segment under
    // the gate) — a start kernel from a pass whose middle collapsed
    // must not normalize the record (round-15 review finding: the
    // min-start rule picked 1.042 from a pass that hit 2.9 mid-run,
    // loosening the anchor gate ~1.45x). Fallback order: clean-pass
    // starts, any pass start, -1 when every calibration failed.
    val fullPasses = passes.filterNot(_.isRetry)
    val cleanFactors = fullPasses
      .filter(p => !p.degradedStart && !p.degradedMid(maxStartFactor))
      .map(_.hostFactor).filter(_ >= 0)
    // fallback draws from FULL passes only, matching the documented
    // "clean-pass starts, any FULL pass start, -1" order — a retry
    // pass's (usually healthy, post-cooldown) start kernel must not
    // become the record factor for mins it didn't produce (round-15
    // review finding)
    val okFactors = fullPasses.map(_.hostFactor).filter(_ >= 0)
    val bestFactor =
      if (cleanFactors.nonEmpty) cleanFactors.min
      else if (okFactors.nonEmpty) okFactors.min
      else -1.0
    // the RECORD is degraded only when every FULL pass began degraded
    // (the gate exhausted its waits each time) — one clean-start pass
    // gives the per-query mins a trustworthy pass to draw from. The
    // single-pass -1 retry is excluded from the forall: it re-times a
    // handful of failed queries, so its (usually healthy) start kernel
    // must not vouch for a record whose every full pass was degraded.
    val recordDegraded =
      fullPasses.nonEmpty && fullPasses.forall(_.degradedStart)
    // degraded_mid at the record level: no full pass was clean end to
    // end (start gate passed AND every boundary/end kernel under the
    // gate). Per-query mins tolerate ONE degraded pass when a clean
    // pass exists (min takes the lower), so only the no-clean-pass
    // case poisons the record — the r14 single-pass driver record is
    // the archetype.
    val recordDegradedMid = fullPasses.nonEmpty && fullPasses.forall(p =>
      p.degradedStart || p.degradedMid(maxStartFactor))
    val totalLine =
      s"""{"metric":"total","value":${sumOk(results)},"unit":"sec",""" +
      s""""reps":$pass,""" +
      s""""host_factor":${r3(bestFactor)},""" +
      s""""degraded_start":$recordDegraded,""" +
      s""""degraded_mid":$recordDegradedMid,""" +
      s""""all_keys_clean":$allKeysClean,""" +
      s""""n_unclean":${uncleanKeys.size},""" +
      s""""unclean_keys":${uncleanKeys
        .map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""query_factors":${jsonMap(queryFactors)},""" +
      s""""queries":${jsonMap(results)},""" +
      s""""scale_queries":${jsonMap(scaleResults)},""" +
      s""""streaming_queries":${jsonMap(streamingResults)},"sf":"$sfDir"}"""
    println(totalLine)
    writeSummary(Some(totalLine))
    // FINAL stdout line: a compact min-of-N record that fits the
    // driver's fixed-size stdout tail (round-8 post-mortem: the full
    // total line is ~5 KB of per-query entries, the driver keeps the
    // last ~2 KB, so BENCH_r*.json recorded "parsed": null every round
    // and the official record needed bench_summary_*.json to be
    // readable). Same totals, family sums, failure count and the top
    // few most expensive queries; full per-query detail stays in the
    // total line above and in the summary file it names.
    def topOf(rs: Seq[(String, Double)], n: Int): Seq[(String, Double)] =
      rs.filter(_._2 >= 0).sortBy(-_._2).take(n)
        .map { case (k, v) => k -> r3(v) }
    // n_failed counts across ALL THREE families, so n_total does too —
    // a consumer computing a failure rate divides matching populations
    // (n_queries stays the gated count, the denominator of "value")
    val compactLine =
      s"""{"metric":"total","value":${r3(sumOk(results))},"unit":"sec",""" +
      s""""reps":$pass,"host_factor":${r3(bestFactor)},""" +
      s""""degraded_start":$recordDegraded,""" +
      s""""degraded_mid":$recordDegradedMid,""" +
      s""""all_keys_clean":$allKeysClean,""" +
      s""""n_unclean":${uncleanKeys.size},""" +
      s""""n_queries":${results.size},""" +
      s""""n_total":${results.size + scaleResults.size +
        streamingResults.size},""" +
      s""""n_failed":${(results ++ scaleResults ++ streamingResults)
        .count(_._2 < 0)},""" +
      s""""scale_total":${r3(sumOk(scaleResults))},""" +
      s""""streaming_total":${r3(sumOk(streamingResults))},""" +
      s""""top_queries":${jsonMap(topOf(results, 8))},""" +
      s""""detail":"$summaryPath","sf":"$sfDir"}"""
    println(compactLine)
    // The driver parses the LAST stdout line of the sbt invocation, but
    // the bench runs in a forked JVM and sbt prints its "[success]
    // Total time…" epilogue AFTER this process exits — so nothing
    // printed here can be the last line. Hand the compact record to the
    // sbt process instead: the JVM shutdown hook build.sbt registers
    // (benchLastLineEcho, via Runtime.addShutdownHook) reads this file
    // and prints it raw during sbt shutdown, after the epilogue.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("target/bench_last_line.json"),
      (compactLine + "\n").getBytes("UTF-8"))
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] last-line handoff failed: " +
          s"${e.getMessage}")
    }
    spark.stop()
  }
}
