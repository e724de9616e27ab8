package graft

import org.apache.spark.sql.functions._
import graft.pipelines.Curation

/** End-to-end curation pipeline: every planted defect dies at its
  * stage, survivors reach the sharded mix, the audit is clean, and the
  * per-stage report is monotone through the attrition stages. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  // two-line bodies from a rotating word bank: every line passes the
  // C4 rules (terminal punctuation, >= 5 words, no blocklist) and
  // DIFFERENT ids share almost no 3-shingles (distinct word runs), so
  // only the deliberately planted pairs are near-dups
  private val bank = Vector("amber", "birch", "copper", "dunes",
    "ember", "fjord", "garnet", "harbor", "indigo", "juniper", "kelp",
    "lantern", "marble", "nectar", "opal", "prairie", "quartz", "raven",
    "saffron", "timber", "umber", "velvet", "willow", "xenon", "yarrow",
    "zephyr", "basalt", "cedar", "delta")
  // id-bearing tokens are interleaved mid-line so even ids whose word
  // RUNS collide (i ≡ i' mod 29) stay well under Jaccard 0.5 — only
  // the planted pair crosses the near-dup threshold
  private def run(i: Long, off: Int): String =
    (0 until 8).map(j => bank(((i * 7 + off * 11 + j * 3) % 29).toInt))
      .mkString(" ")
  private def body(i: Long): String =
    s"${run(i, 0)} marker${i}a holds ${i * 3} and ${i * 7} ends " +
      "cleanly today.\n" +
      s"${run(i, 1)} marker${i}b keeps ${i * 5} with ${i * 11} also " +
      "ends properly."
  private val boiler =
    "This shared promotional footer sentence appears in many documents."

  // a second, disjoint word bank for the DSIR target corpus: target
  // texts must share NO shingles with the curated (bank-1) corpus —
  // every 8-word-run base mod 29 is occupied by some month-1 doc, so
  // any bank-1 text risks a deterministic MinHash band collision with
  // the history index — while their bigrams carry the profile's
  // target mass
  private val bank2 = Vector("arroyo", "bramble", "cobalt", "drizzle",
    "estuary", "flint", "gingko", "heather", "inlet", "jasper", "krill",
    "lagoon", "mesa", "nimbus", "orchid", "pumice", "quill", "ripple",
    "sorrel", "tundra", "umbra", "verdant", "wisteria", "xylem", "yucca",
    "zenith", "bayou", "cinder", "dew")
  private def run2(i: Long, off: Int): String =
    (0 until 8).map(j => bank2(((i * 7 + off * 11 + j * 3) % 29).toInt))
      .mkString(" ")
  private def body2(i: Long): String =
    s"${run2(i, 0)} marker${i}a holds ${i * 3} and ${i * 7} ends " +
      "cleanly today.\n" +
      s"${run2(i, 1)} marker${i}b keeps ${i * 5} with ${i * 11} also " +
      "ends properly."

  private def corpus = {
    val good = (1L to 20L).map(i =>
      (i, body(i), if (i % 2 == 0) "web" else "books"))
    val exactPair = Seq(
      (100L, body(100), "web"), (101L, body(100), "web"))
    // near-dup: 103 swaps one mid-line word of 102's text — both lines
    // still pass the C4 rules, neither line is byte-identical to 102's
    // (doc dedup catches it before line dedup could), Jaccard stays
    // high, token counts tie so the keep-the-longest rank falls to the
    // lower id
    val nd = body(102)
    val nearPair = Seq((102L, nd, "web"),
      (103L, nd.replace(" also ", " too "), "web"))
    // contaminated: a copy of the eval doc (plus one clean line so the
    // C4 pass keeps it alive until decontamination)
    val contaminated = Seq((104L,
      evalDoc + "\nAn extra clean line keeps this document alive here.",
      "web"))
    val pii = Seq((105L,
      "Contact me at someone@example.com for all further details today.",
      "books"))
    // 110/111 share the boilerplate footer: it survives once (in 110,
    // the lowest occurrence) and dies in 111; 116 is ONLY boilerplate
    // and must die entirely at line dedup
    val boilered = Seq(
      (110L, body(110) + "\n" + boiler, "books"),
      (111L, body(111) + "\n" + boiler, "books"),
      (116L, boiler, "books"))
    (good ++ exactPair ++ nearPair ++ contaminated ++ pii ++ boilered)
      .toDF("doc_id", "text", "source")
  }
  private val evalDoc =
    "The held out benchmark prompt sentence lives here with its own " +
      "very distinctive ten word tail for exact matching."
  private def evalSet = Seq((9001L, evalDoc)).toDF("doc_id", "text")

  test("curation pipeline: planted defects die at their stages, " +
      "survivors land sharded, audit clean, report monotone") {
    val out = java.nio.file.Files.createTempDirectory("curate").toString
    val r = Curation.run(corpus, evalSet, out,
      keepNum = 1, keepDen = 1, // prune pass-through: survival below is
                                // asserted per id, not per quantile
      budgetTokens = 100000L, capacity = 64, buckets = 4, shards = 4)
    val report = r.report.orderBy("stage_no").collect()
      .map(row => row.getString(1) -> row.getLong(2)).toSeq
    val byStage = report.toMap
    // attrition is monotone from input through quality_prune
    val order = Seq("input", "c4_clean", "pii_scrub", "exact_dedup",
      "near_dedup", "line_dedup", "decontaminate", "quality_prune")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(byStage(b) <= byStage(a), s"$b grew over $a: $report")
    }
    // every planted death at exactly its stage: the exact twin at
    // exact_dedup, the word-swapped near-dup at near_dedup, the
    // boilerplate-only doc at line_dedup, the eval copy at decontaminate
    assert(byStage("pii_scrub") === byStage("input"))
    assert(byStage("exact_dedup") === byStage("pii_scrub") - 1)
    assert(byStage("near_dedup") === byStage("exact_dedup") - 1)
    assert(byStage("line_dedup") === byStage("near_dedup") - 1)
    assert(byStage("decontaminate") === byStage("line_dedup") - 1)
    // replication multiplies docs (tiny corpus, roomy budget)
    assert(byStage("allocate") > byStage("quality_prune"))
    // the landed mix: replica ids recover originals via div 8
    val landed = r.mix.select((col("doc_id") / 8).cast("long").as("orig"))
      .distinct().collect().map(_.getLong(0)).toSet
    Seq(101L, 103L, 104L, 116L).foreach(id =>
      assert(!landed(id), s"doc $id should have died upstream"))
    Seq(1L, 102L, 105L, 110L, 111L).foreach(id =>
      assert(landed(id), s"doc $id should have survived to the mix"))
    // the landed layout audits clean
    assert(r.audit.filter(!col("ok")).count() === 0L)
    // a genuine prune (keep 1/2 per source) removes docs while the
    // same planted deaths still happen upstream
    val out2 = java.nio.file.Files.createTempDirectory("curate2").toString
    val r2 = Curation.run(corpus, evalSet, out2,
      keepNum = 1, keepDen = 2, budgetTokens = 100000L,
      capacity = 64, buckets = 4, shards = 4)
    val by2 = r2.report.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(by2("quality_prune") < by2("decontaminate"))
    assert(r2.audit.filter(!col("ok")).count() === 0L)
    // no DSIR target -> no dsir_select stage in the report
    assert(!r.report.collect().map(_.getString(1)).contains("dsir_select"))
  }

  test("an all-killed corpus ends with egress 0 and an empty audit") {
    // single-line documents C4 drops (no terminal punctuation; under
    // minWords): every document dies at c4_clean, so the sharded mix
    // lands no payload file at all
    val dead = Seq(
      (1L, "this line has no terminal punctuation at all", "web"),
      (2L, "Too short.", "books")).toDF("doc_id", "text", "source")
    val out = java.nio.file.Files.createTempDirectory("curate_dead").toString
    val r = Curation.run(dead, evalSet, out, capacity = 64, buckets = 4,
      shards = 4)
    val byStage = r.report.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(byStage("input") === 2L)
    assert(byStage("c4_clean") === 0L)
    assert(byStage("egress") === 0L)
    assert(r.mix.count() === 0L)
    assert(r.audit.count() === 0L)
  }

  test("optional DSIR selection stage: off-distribution docs die at " +
      "dsir_select, the stage sits between prune and allocate") {
    // two fully-gibberish docs — every line passes the C4 rules, all
    // words are outside the bank so they share no shingles with
    // anything (no near-dup deaths) and none of their bigrams occur in
    // the target corpus: every gram sits at the smoothing floor, so
    // their log-weights are decisively the lowest in their sources
    val gib = Seq(
      (120L, "quopl vrint slabe droqk minty phrex grolt brinth varnel " +
        "crusk.\nzamber crolux vintle pharn deblik rostun welkin " +
        "darnel frosk plim.", "web"),
      (121L, "oblysk trewn shamble quopt nivrel dask corvid planx " +
        "zint mur.\nmorvel dunst crebble wost farlix intorp grimsel " +
        "vontu ablek rin.", "books"))
      .toDF("doc_id", "text", "source")
    val docs = corpus.unionByName(gib)
    val target = (1L to 20L).map(i => (i, body(i))).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("curate3").toString
    val r = Curation.run(docs, evalSet, out,
      keepNum = 1, keepDen = 1, budgetTokens = 100000L,
      capacity = 64, buckets = 4, shards = 4,
      dsirTarget = Some(target), dsirNum = 3, dsirDen = 4)
    val rep = r.report.orderBy("stage_no").collect()
    val names = rep.map(_.getString(1)).toSeq
    assert(names.indexOf("dsir_select") ===
      names.indexOf("quality_prune") + 1,
      s"dsir_select must follow quality_prune: $names")
    val byStage = rep.map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(byStage("dsir_select") < byStage("quality_prune"),
      "the 3/4 cut must drop documents")
    val landed = r.mix.select((col("doc_id") / 8).cast("long").as("orig"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(!landed(120L) && !landed(121L),
      "off-distribution docs must die at the DSIR cut")
    assert(landed.exists(_ <= 20L), "in-distribution docs must survive")
    assert(r.audit.filter(!col("ok")).count() === 0L)
  }

  test("optional classifier screen (7b): a learned negative weight " +
      "kills the spam doc the heuristics pass; bias-only docs survive") {
    // the spam doc passes every heuristic stage: C4-clean lines, words
    // outside the bank (no shingles shared with anything), and the 1/1
    // quality prune keeps all — only the learned model knows "spamword"
    val spam = Seq(
      (130L, "spamword trovak blenni squam drolt phizz spamword wrenk " +
        "olst crum.\nspamword darvel quisk blunt ferrol gimble oxbow " +
        "prent vask lurm.", "web"))
      .toDF("doc_id", "text", "source")
    val docs = corpus.unionByName(spam)
    val weights = Seq(("spamword", BigDecimal("-5.0")))
      .toDF("term", "weight")
    val out = java.nio.file.Files.createTempDirectory("curate_cls").toString
    val r = Curation.run(docs, evalSet, out,
      keepNum = 1, keepDen = 1, budgetTokens = 100000L,
      capacity = 64, buckets = 4, shards = 4,
      clsWeights = Some(weights), clsBias = 1.0, clsTau = 0.5)
    val rep = r.report.orderBy("stage_no").collect()
    val names = rep.map(_.getString(1)).toSeq
    assert(names.indexOf("classifier_prune") ===
      names.indexOf("quality_prune") + 1,
      s"classifier_prune must follow quality_prune: $names")
    val byStage = rep.map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(byStage("classifier_prune") ===
      byStage("quality_prune") - 1,
      "exactly the spam doc dies at the classifier")
    val landed = r.mix.select((col("doc_id") / 8).cast("long").as("orig"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(!landed(130L), "the spam doc must die at the classifier")
    assert(landed.exists(_ <= 20L),
      "bias-only docs (sigmoid(1.0) = 0.73 >= tau) must survive")
    assert(r.audit.filter(!col("ok")).count() === 0L)
  }

  test("incremental curation: the classifier model is frozen state — " +
      "month 2 is screened by month 1's persisted weights even when " +
      "none (or different ones) are passed") {
    import graft.pipelines.Curation
    val state = java.nio.file.Files.createTempDirectory("curcls").toString
    val out1 = java.nio.file.Files.createTempDirectory("curclso1").toString
    val weights = Seq(("spamword", BigDecimal("-5.0")))
      .toDF("term", "weight")
    Curation.runIncremental(corpus, evalSet, out1, state,
      keepNum = 1, keepDen = 1, budgetTokens = 100000L,
      capacity = 64, buckets = 4, shards = 4,
      clsWeights = Some(weights), clsBias = 1.0, clsTau = 0.5)
    assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(state, "cls_weights")),
      "the model must persist as a state dimension")
    assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(state, "cls_params")),
      "bias and tau must persist WITH the model (round-10 advice)")
    // month 2 passes NO weights AND hostile bias/tau: the spam doc
    // (unique words, passes every heuristic) must still die at the
    // classifier via the STORED model, and the clean doc must survive
    // — if the passed bias=-100 governed, everything would die; if the
    // passed tau=0.999 governed, the clean doc (prob σ(1)≈0.73) would
    // die too
    val m2 = Seq(
      (300L, body(300), "web"),
      (301L, "spamword trovak blenni squam drolt phizz spamword wrenk " +
        "olst crum.\nspamword darvel quisk blunt ferrol gimble oxbow " +
        "prent vask lurm.", "web"))
      .toDF("doc_id", "text", "source")
    val out2 = java.nio.file.Files.createTempDirectory("curclso2").toString
    val r2 = Curation.runIncremental(m2, evalSet, out2, state,
      keepNum = 1, keepDen = 1, budgetTokens = 100000L,
      capacity = 64, buckets = 4, shards = 4,
      clsBias = -100.0, clsTau = 0.999)
    val by2 = r2.report.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(by2.contains("classifier_prune"),
      s"the stored model must activate the stage: ${by2.keys}")
    assert(by2("classifier_prune") === by2("quality_prune") - 1,
      "exactly the month-2 spam doc dies against the frozen model")
    val landed = r2.mix.select((col("doc_id") / 8).cast("long").as("o"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(landed(300L) && !landed(301L))
  }

  test("incremental curation: month 2 is gated against month 1's " +
      "persisted state; state grows; runs compose") {
    import graft.pipelines.Curation
    val state = java.nio.file.Files.createTempDirectory("curstate")
      .toString
    val out1 = java.nio.file.Files.createTempDirectory("curinc1").toString
    // month 1: the standard corpus; empty state -> behaves like run()
    // with two no-op history stages
    val r1 = Curation.runIncremental(corpus, evalSet, out1, state,
      keepNum = 1, keepDen = 1, budgetTokens = 100000L,
      capacity = 64, buckets = 4, shards = 4)
    val by1 = r1.report.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(by1("exact_vs_history") === by1("exact_dedup"),
      "empty history must kill nothing")
    assert(by1("neardup_vs_history") === by1("near_dedup"))
    assert(r1.audit.filter(!col("ok")).count() === 0L)
    val fp1 = spark.read.parquet(s"$state/fingerprints").count()
    val bd1 = spark.read.parquet(s"$state/band_index").count()
    assert(fp1 === r1.kept.count(), "one digest per kept doc")
    assert(bd1 > 0L)
    // month 2: one fresh doc, one EXACT copy of a month-1 survivor
    // (doc 1 — its lines are unique, so its kept text equals its
    // cleaned input text), one near-dup of it (single mid-word swap,
    // the 102/103 construction). The copies pass every local stage and
    // die at exactly the history gates.
    val m2 = Seq(
      (200L, body(200), "web"),
      (201L, body(1), "web"),
      (202L, body(1).replace(" holds ", " keeps "), "web"))
      .toDF("doc_id", "text", "source")
    val out2 = java.nio.file.Files.createTempDirectory("curinc2").toString
    val r2 = Curation.runIncremental(m2, evalSet, out2, state,
      keepNum = 1, keepDen = 1, budgetTokens = 100000L,
      capacity = 64, buckets = 4, shards = 4)
    val by2 = r2.report.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(by2("exact_dedup") === 3L, s"no in-batch dups: $by2")
    assert(by2("exact_vs_history") === 2L,
      s"the cross-month exact copy must die at the history gate: $by2")
    assert(by2("neardup_vs_history") === 1L,
      s"the cross-month near-dup must die at the band gate: $by2")
    val landed2 = r2.mix
      .select((col("doc_id") / 8).cast("long").as("orig"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(landed2 === Set(200L),
      s"only the fresh doc survives month 2: $landed2")
    assert(r2.audit.filter(!col("ok")).count() === 0L)
    // state grew by exactly the month-2 survivor
    assert(spark.read.parquet(s"$state/fingerprints").count() === fp1 + 1)
    assert(spark.read.parquet(s"$state/band_index").count() > bd1)
  }

  test("incremental curation: semantic index and DSIR profile are " +
      "state dimensions, both FROZEN at first use") {
    val state = java.nio.file.Files.createTempDirectory("cursem").toString
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    // embeddings ride a (doc_id, embedding) side frame; docs without a
    // row pass the semantic gate ungated
    val e5 = Array(1f, 0f, 0f, 0f)
    val emb = Seq(
      5L -> e5,
      210L -> Array(0.99f, 0.141f, 0f, 0f), // cos ~0.99 with doc 5
      211L -> Array(0f, 1f, 0f, 0f),        // orthogonal to doc 5
      220L -> Array(0.98f, 0.199f, 0f, 0f)  // cos ~0.98 with doc 5
    ).toDF("doc_id", "embedding")
    val cents = Seq(0L -> Array(1f, 0f, 0f, 0f),
      1L -> Array(0f, 1f, 0f, 0f)).toDF("centroid_id", "cvec")
    // the target is a DISTINCT, never-curated corpus in the second
    // word bank: DSIR scores target-likeness RELATIVE to raw, so
    // month-2 docs reusing target texts score ~ln(2) per gram while
    // docs outside both distributions sit at the smoothing floor — a
    // target equal to the curated corpus would make every
    // in-distribution doc look like raw too and rank on noise
    val target = (50L to 69L).map(i => (i, body2(i))).toDF("doc_id", "text")

    // month 1: builds both state dimensions; empty index kills nothing
    val r1 = Curation.runIncremental(corpus, evalSet, tmp("sem1"), state,
      keepNum = 1, keepDen = 1, capacity = 64, buckets = 4, shards = 4,
      dsirTarget = Some(target), dsirNum = 1, dsirDen = 1,
      docEmbeddings = Some(emb), semCentroids = Some(cents))
    val by1 = r1.report.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(by1.contains("semdup_vs_history") && by1.contains("dsir_select"))
    assert(by1("semdup_vs_history") === by1("near_dedup"),
      "an empty semantic index must kill nothing")
    for (dim <- Seq("sem_centroids", "semantic_index", "dsir_profile"))
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(state, dim)), s"$dim must persist")
    // only docs WITH embeddings enter the index: doc 5's vector, in
    // centroid 0's list
    val idx1 = spark.read.parquet(s"$state/semantic_index").collect()
    assert(idx1.length === 1 &&
      idx1(0).getAs[Long]("doc_id") === 5L &&
      idx1(0).getAs[Long]("centroid_id") === 0L)

    // month 2 (all texts in bank 2 — no shingle overlap with month-1
    // history, so the band gate provably passes them): 210 = fresh
    // text, embedding a semantic twin of kept doc 5 -> dies at 4c;
    // 211/212 carry TARGET texts (bodies2 50/51 — never curated, and
    // their bigrams are the profile's target mass), 211 with an
    // orthogonal embedding -> survives 4c, 212 with no embedding ->
    // passes 4c ungated; 213 gibberish (outside both distributions) ->
    // dies at dsir_select even though NO target is passed (the frozen
    // profile gates it)
    val m2 = Seq(
      (210L, body2(60), "web"), (211L, body2(50), "web"),
      (212L, body2(51), "web"),
      (213L, "quopl vrint slabe droqk minty phrex grolt brinth varnel " +
        "crusk.\nzamber crolux vintle pharn deblik rostun welkin " +
        "darnel frosk plim.", "web"))
      .toDF("doc_id", "text", "source")
    val r2 = Curation.runIncremental(m2, evalSet, tmp("sem2"), state,
      keepNum = 1, keepDen = 1, capacity = 64, buckets = 4, shards = 4,
      dsirNum = 2, dsirDen = 3,
      docEmbeddings = Some(emb), semCentroids = Some(cents))
    val by2 = r2.report.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(by2("neardup_vs_history") === 4L, s"texts are all fresh: $by2")
    assert(by2("semdup_vs_history") === 3L,
      s"the semantic twin must die at 4c: $by2")
    assert(by2("dsir_select") === 2L,
      s"the frozen profile must kill the gibberish doc: $by2")
    val landed2 = r2.mix
      .select((col("doc_id") / 8).cast("long").as("orig"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(landed2 === Set(211L, 212L), landed2.toString)

    // month 3: DIFFERENT centroids passed — the STORED quantizer must
    // win (an index probed with foreign centroids would miss): 220's
    // embedding is again doc 5's twin and must still die at 4c
    val badCents = Seq(9L -> Array(0f, 0f, 1f, 0f))
      .toDF("centroid_id", "cvec")
    // bank-2 texts whose run bases (21,3 / 23,5 mod 29) collide with
    // neither month-2 survivor (2,13 / 9,20) — no shared runs, so the
    // band gate passes both
    val m3 = Seq((220L, body2(61), "web"), (221L, body2(53), "web"))
      .toDF("doc_id", "text", "source")
    val r3 = Curation.runIncremental(m3, evalSet, tmp("sem3"), state,
      keepNum = 1, keepDen = 1, capacity = 64, buckets = 4, shards = 4,
      dsirNum = 1, dsirDen = 1,
      docEmbeddings = Some(emb), semCentroids = Some(badCents))
    val by3 = r3.report.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(by3("semdup_vs_history") === 1L,
      s"the frozen quantizer must still route the twin to doc 5: $by3")
    val landed3 = r3.mix
      .select((col("doc_id") / 8).cast("long").as("orig"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(landed3 === Set(221L), landed3.toString)
    // the stored centroid frame is untouched by the foreign argument
    assert(spark.read.parquet(s"$state/sem_centroids")
      .orderBy("centroid_id").collect().map(_.getLong(0)).toSeq
      === Seq(0L, 1L))
    // the index grew by month 2's + month 3's embedded survivors (211)
    assert(spark.read.parquet(s"$state/semantic_index").count() === 2L)
  }

  test("incremental curation: semantic state compaction collapses " +
      "in-index twins; a twin of the DROPPED vector still dies at 4c") {
    val state = java.nio.file.Files.createTempDirectory("curcmp").toString
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    // docs 5 and 6 carry near-identical embeddings (cos ~0.995): with
    // compaction on, only the lowest id survives in the state; doc 7
    // is orthogonal and must NOT be compacted away
    val emb = Seq(
      5L -> Array(1f, 0f, 0f, 0f),
      6L -> Array(0.995f, 0.0999f, 0f, 0f),
      7L -> Array(0f, 1f, 0f, 0f),
      230L -> Array(0.995f, 0.0999f, 0f, 0f), // twin of DROPPED doc 6
      231L -> Array(0f, 0.99f, 0.141f, 0f)    // twin of kept doc 7
    ).toDF("doc_id", "embedding")
    val cents = Seq(0L -> Array(1f, 0f, 0f, 0f),
      1L -> Array(0f, 1f, 0f, 0f)).toDF("centroid_id", "cvec")
    val r1 = Curation.runIncremental(corpus, evalSet, tmp("cmp1"), state,
      keepNum = 1, keepDen = 1, capacity = 64, buckets = 4, shards = 4,
      docEmbeddings = Some(emb), semCentroids = Some(cents),
      semCompactTau = Some(0.95))
    assert(r1.audit.filter(!col("ok")).count() === 0L)
    val idx = spark.read.parquet(s"$state/semantic_index")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(idx === Set(5L, 7L),
      s"compaction must drop 6 (twin of 5) and keep orthogonal 7: $idx")
    // month 2: twins of a dropped and of a kept index vector both die
    // at the gate — compaction did not loosen it on this fixture —
    // and a distant doc passes
    val m2 = Seq((230L, body2(60), "web"), (231L, body2(50), "web"),
      (232L, body2(51), "web")).toDF("doc_id", "text", "source")
    val r2 = Curation.runIncremental(m2, evalSet, tmp("cmp2"), state,
      keepNum = 1, keepDen = 1, capacity = 64, buckets = 4, shards = 4,
      docEmbeddings = Some(emb), semCentroids = Some(cents),
      semCompactTau = Some(0.95))
    val by2 = r2.report.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(by2("semdup_vs_history") === 1L,
      s"both planted twins must die at 4c: $by2")
    val landed2 = r2.mix
      .select((col("doc_id") / 8).cast("long").as("orig"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(landed2 === Set(232L), landed2.toString)
  }

  test("retrieval decontamination (6b): an eval paraphrase with no " +
      "intact 5-gram survives the overlap gate and dies at the " +
      "retrieval gate; without the gate it lands; the frozen index " +
      "gates later incremental batches against the ORIGINAL eval set") {
    import graft.pipelines.Curation
    // every content word of evalDoc, reordered so no 5 consecutive
    // normalized words match — the overlap gate (stage 6) is blind to
    // it, the retrieval gate is not (eval index: N=1, every term df=1,
    // tfn=1 at dl=Ltot -> top ~ 14 shared terms x ln(4/3) ~ 4 >> 2)
    val para =
      "Benchmark prompt and distinctive tail sentence held very nicely " +
        "today fine.\n" +
      "Word own lives for exact here matching with ten items properly."
    val docs = corpus.unionByName(
      Seq((120L, para, "web")).toDF("doc_id", "text", "source"))
    val idx = graft.ops.TextOps.bm25Index(evalSet).localCheckpoint()
    val out = java.nio.file.Files.createTempDirectory("curbm").toString
    val r = Curation.run(docs, evalSet, out,
      keepNum = 1, keepDen = 1, budgetTokens = 100000L,
      capacity = 64, buckets = 4, shards = 4,
      bm25EvalIndex = Some(idx), bm25Tau = Some(2.0))
    val by = r.report.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(by("decontaminate") === by("line_dedup") - 1,
      s"only the verbatim eval copy dies at the overlap gate: $by")
    assert(by("retrieval_decon") === by("decontaminate") - 1,
      s"exactly the paraphrase dies at the retrieval gate: $by")
    val landed = r.mix
      .select((col("doc_id") / 8).cast("long").as("orig"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(!landed(120L) && landed(1L))
    // without the gate the same paraphrase sails through to the mix
    // and the report carries no retrieval stage
    val out0 = java.nio.file.Files.createTempDirectory("curbm0").toString
    val r0 = Curation.run(docs, evalSet, out0,
      keepNum = 1, keepDen = 1, budgetTokens = 100000L,
      capacity = 64, buckets = 4, shards = 4)
    assert(!r0.report.collect().map(_.getString(1))
      .contains("retrieval_decon"))
    assert(r0.mix.select((col("doc_id") / 8).cast("long").as("orig"))
      .distinct().collect().map(_.getLong(0)).toSet.contains(120L))
    // incremental: run 1 freezes the eval index into state; run 2
    // arrives with a DIFFERENT eval set, yet a fresh paraphrase of the
    // ORIGINAL eval doc still dies at 6b — the stored index gates, not
    // the batch's evalSet (which only reshapes the stage-6 overlap)
    val state = java.nio.file.Files.createTempDirectory("curbmst")
      .toString
    val inc1 = java.nio.file.Files.createTempDirectory("curbm1").toString
    Curation.runIncremental(corpus, evalSet, inc1, state,
      keepNum = 1, keepDen = 1, budgetTokens = 100000L,
      capacity = 64, buckets = 4, shards = 4, bm25Tau = Some(2.0))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(state, "bm25_index")))
    val para2 =
      "Exact matching word tail for that benchmark sentence held here " +
        "today.\n" +
      "Distinctive own prompt lives with very ten fine items properly."
    val m2 = Seq((300L, body2(3), "web"), (301L, para2, "web"))
      .toDF("doc_id", "text", "source")
    val evalSet2 = Seq((9002L,
      "A completely unrelated second benchmark suite text sits in " +
        "this run."))
      .toDF("doc_id", "text")
    val inc2 = java.nio.file.Files.createTempDirectory("curbm2").toString
    val r2 = Curation.runIncremental(m2, evalSet2, inc2, state,
      keepNum = 1, keepDen = 1, budgetTokens = 100000L,
      capacity = 64, buckets = 4, shards = 4, bm25Tau = Some(2.0))
    val by2 = r2.report.collect()
      .map(row => row.getString(1) -> row.getLong(2)).toMap
    assert(by2("decontaminate") === 2L,
      s"nothing overlaps the run-2 eval set: $by2")
    assert(by2("retrieval_decon") === 1L,
      s"the original-eval paraphrase must die at the frozen index: $by2")
    val landed2 = r2.mix
      .select((col("doc_id") / 8).cast("long").as("orig"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(landed2 === Set(300L), landed2.toString)
  }

  test("bm25Index's narrow-tf re-spread leaves exactly ONE persisted " +
      "tf copy: the stale pre-spread localCheckpoint's blocks are " +
      "dropped at the RDD layer, not left to the ContextCleaner") {
    // a tiny corpus always takes the narrow path (tf0 coalesces under
    // defaultParallelism), i.e. two localCheckpoints run. Dataset
    // .unpersist was a no-op on the first (not CacheManager-tracked,
    // round-14 ADVICE); the fix unpersists the LogicalRDD's RDD.
    // getPersistentRDDs tracks RDD.persist directly, so it sees both.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val idx = graft.ops.TextOps.bm25Index(
      Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta epsilon"))
        .toDF("doc_id", "text"))
    assert(idx.count() > 0)
    val fresh = sc.getPersistentRDDs.keySet -- before
    assert(fresh.size === 1,
      s"expected exactly the wide re-checkpoint to stay persisted, " +
        s"found ${fresh.size} new persistent RDDs (ids $fresh)")
  }
}
