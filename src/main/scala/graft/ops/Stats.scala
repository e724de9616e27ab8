package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-profiling aggregates — the distributed form of the reference's
  * diagnostic SELECTs (O10, e.g. `UpdtMapDimPatron.sql` count checks): the
  * summaries a 100 TB corpus is screened with before training (token-length
  * quantiles per quality band, value histograms for skew checks).
  *
  * Scale posture: one two-phase aggregate each. `percentilesBy` uses
  * Spark's exact `percentile` aggregate (per-group sort of the group's
  * values only); `histogram` is pure floor arithmetic over a broadcast
  * (min, max) scalar pair — both stay in whole-stage codegen and exchange
  * only (group, partial-state) rows.
  */
object Stats {

  /** Exact linear-interpolation percentiles of `valueCol` per group —
    * matches DuckDB/Postgres `quantile_cont`/`percentile_cont` semantics,
    * so results are oracle-checkable bit-for-bit. Returns one row per
    * group with `p_<nn>` columns (nn = percentile * 100) and `n`. */
  def percentilesBy(df: DataFrame, groupCols: Seq[Column], valueCol: String,
                    ps: Seq[Double]): DataFrame =
    df.groupBy(groupCols: _*)
      .agg(expr(s"percentile($valueCol, array(${ps.mkString(",")}))")
          .as("__ps"),
        count(lit(1)).as("n"))
      .select(groupCols ++ ps.zipWithIndex.map { case (p, i) =>
        col("__ps").getItem(i).as(s"p_${(p * 100).round}")
      } :+ col("n"): _*)

  /** Group-wise z-score normalization — the feature-scaling pass a
    * numeric training column gets before modeling. Sum and sum-of-squares
    * accumulate as decimals (order- and partitioning-independent; plain
    * double sums are not), the mean/stddev math then runs in double on
    * those exact sums, so any engine reproduces the result bit-for-bit:
    * {{{ sd = sqrt((sumsq - sum*sum/n) / (n-1)) }}} (sample stddev).
    * Single-member or constant groups get NULL (sd = 0). Group stats are
    * aggregate-sized and broadcast back — one shuffle over the groups,
    * none over the data. `valueDecimal` must bound `value^2`'s precision.
    */
  def zscoreBy(df: DataFrame, groupCols: Seq[Column], valueCol: Column,
               valueDecimal: String = "decimal(18,2)"): DataFrame = {
    // Group keys are materialized once under positional aliases (__g_0…)
    // BEFORE the aggregate: arbitrary expressions — including two
    // structurally identical ones — group, join back, and drop cleanly.
    // (The previous toString-keyed aliases collided on identical
    // renderings and could not re-resolve complex expressions against the
    // aggregated frame.)
    val aliases = groupCols.indices.map(i => s"__g_$i")
    val keyed = df.select(col("*") +:
      groupCols.zip(aliases).map { case (c, a) => c.as(a) }: _*)
    val v = valueCol.cast(valueDecimal)
    val stats = keyed.groupBy(aliases.map(col): _*)
      .agg(sum(v).as("__sum"), sum(v * v).as("__sumsq"),
        count(lit(1)).as("__n"))
      .select(aliases.map(col) ++ Seq(
        col("__sum").cast("double").as("__sum"),
        col("__sumsq").cast("double").as("__sumsq"),
        col("__n")): _*)
    val mean = col("__sum") / col("__n")
    val sd = sqrt((col("__sumsq") - col("__sum") * col("__sum") / col("__n")) /
      (col("__n") - 1))
    keyed.join(broadcast(stats), aliases.toSeq)
      .withColumn("zscore",
        when(col("__n") > 1 && sd =!= 0.0, (valueCol - mean) / sd))
      .drop(aliases ++ Seq("__sum", "__sumsq", "__n"): _*)
  }

  /** Equal-width histogram of `valueCol` over its observed [min, max]
    * range: bucket i covers [min + i*w, min + (i+1)*w), the max value
    * folds into the last bucket. The (min, max) pair is a scalar
    * aggregate (O36c idiom) joined back by cross join — two passes total,
    * both full-codegen. Bucket arithmetic is written as
    * `floor((x - min) * buckets / (max - min))` so an oracle can mirror
    * it term-for-term. */
  def histogram(df: DataFrame, valueCol: Column, buckets: Int): DataFrame = {
    val bounds = df.agg(min(valueCol).as("__mn"), max(valueCol).as("__mx"))
    df.crossJoin(broadcast(bounds))
      // degenerate range (single distinct value): the bucket expression
      // is 0/0 and engines disagree on NaN floor/casting (Spark's long
      // cast → 0, DuckDB's least(floor(NaN), k-1) → k-1) — pin bucket 0
      // explicitly and mirror the same guard in the oracle SQL
      .select(when(col("__mx") === col("__mn"), lit(0L))
        .otherwise(least(
            floor((valueCol - col("__mn")) * buckets /
              (col("__mx") - col("__mn"))),
            lit(buckets - 1))
          .cast("long")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** 60-bit value hash in [0, 2^60): the first 15 hex chars of md5,
    * parsed as an integer. ONE shared expression for every consumer of
    * the KMV sketch (and any replaying oracle: DuckDB's
    * `('0x'||substr(md5(v),1,15))::bigint` is identical) — the
    * [[graft.functions.BloomBits]] discipline: sketch build and oracle
    * replay provably hash the same way. `c` must be a STRING column:
    * the native kernel (`Md5PrefixExpr`) accepts StringType only and
    * fails analysis on anything else, BinaryType included (Spark's own
    * md5 takes binary) — cast other types to string first. */
  def hash60(c: Column): Column =
    // native kernel; value-identical to
    // conv(substring(md5(c), 1, 15), 16, 10).cast("long") — the hex
    // encode + substring + base-16 string parse ran per row under every
    // sketch/digest consumer (round-17; SketchExprSpec pins equality)
    graft.functions.GraftFunctions.md5_prefix(c, 15)

  /** Per-group approximate distinct count of `valueCol` via the
    * [[graft.functions.KMinValues]] bottom-k sketch: rows hash through
    * [[hash60]], each group keeps its k smallest distinct hashes, and
    * the estimate is `(k-1) * 2^60 / kth_min` — exact (= the sketch
    * size) whenever a group has fewer than k distinct values. Standard
    * error ~ 1/sqrt(k-2). Returns per group: `n_rows` (raw), `n_kmv`
    * (sketch fill), `kth_min` (null below fill), `est_distinct`
    * (rounded to 4 — deterministic and engine-replayable end to end).
    *
    * This is the mergeable, bounded-state form of
    * `count(distinct ...)`: the exact aggregate shuffles every distinct
    * value; this exchanges at most k longs per (group, partition) —
    * the 100 TB shape for unbounded domains. Null values are ignored
    * (matching count(distinct)). */
  def kmvDistinctBy(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                    k: Int = 64): DataFrame = {
    val kmv = udaf(new graft.functions.KMinValues(k), Encoders.scalaLong)
    val twoTo60 = 1152921504606846976.0 // 2^60, exact in double
    df.filter(valueCol.isNotNull)
      .select(groupCols.map(col) :+ hash60(valueCol).as("__h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(kmv(col("__h")).as("__kmv"), count(lit(1)).as("n_rows"))
      .select(groupCols.map(col) ++ Seq(
        col("n_rows"),
        size(col("__kmv")).cast("long").as("n_kmv"),
        when(size(col("__kmv")) >= k, element_at(col("__kmv"), k))
          .as("kth_min"),
        round(when(size(col("__kmv")) < k,
            size(col("__kmv")).cast("double"))
          .otherwise(lit((k - 1).toDouble) * twoTo60 /
            element_at(col("__kmv"), k).cast("double")), 4)
          .as("est_distinct")): _*)
  }

  /** The raw per-group KMV sketch — (group…, `kmv` array<long> of the
    * k smallest distinct hashes, ascending). The persistable form
    * [[kmvOverlap]] and future merges consume: sketches are plain
    * columns, so they store, broadcast and union like any other
    * aggregate. */
  def kmvSketchBy(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                  k: Int = 64): DataFrame = {
    val kmv = udaf(new graft.functions.KMinValues(k), Encoders.scalaLong)
    df.filter(valueCol.isNotNull)
      .select(groupCols.map(col) :+ hash60(valueCol).as("__h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(kmv(col("__h")).as("kmv"))
  }

  /** Per-group HyperLogLog registers — (group…, `hll` array<int> of
    * 2^p max-rank registers) via [[graft.functions.HyperLogLog]]. The
    * persistable form: register arrays merge by elementwise max
    * (re-aggregating stored per-shard sketches months later gives the
    * same registers as one pass over the union), and state is a flat
    * 2^p ints per group no matter the cardinality. Null values are
    * ignored (matching count(distinct)).
    *
    * `sparse = true` swaps in [[graft.functions.HyperLogLogSparse]]:
    * identical registers out (spec-pinned), but a partial buffer stays
    * a ≤ m/4-entry (register, rank) list until it genuinely fills —
    * the right default when groups are many and mostly small. */
  def hllSketchBy(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                  p: Int = 9, sparse: Boolean = false): DataFrame = {
    val hll =
      if (sparse) udaf(new graft.functions.HyperLogLogSparse(p),
        Encoders.scalaLong)
      else udaf(new graft.functions.HyperLogLog(p), Encoders.scalaLong)
    df.filter(valueCol.isNotNull)
      .select(groupCols.map(col) :+ hash60(valueCol).as("__h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(hll(col("__h")).as("hll"), count(lit(1)).as("n_rows"))
  }

  /** Per-group approximate distinct count via [[hllSketchBy]]'s
    * registers (Flajolet et al. 2007, the pre-"++" estimator with its
    * small-range linear-counting correction — every branch of which is
    * decidable from exact integers, so it replays cross-engine):
    *
    *  - `hll_s` (long) = Σ_j 2^(maxRank − M_j): the harmonic sum scaled
    *    by 2^maxRank so it is an EXACT integer (≤ 2^61) — order-free,
    *    overflow-free, and bit-replayable by any engine from the same
    *    md5-derived hashes;
    *  - `hll_v` (long) = number of untouched registers;
    *  - `est_distinct` = α_m·m²·2^maxRank / S, replaced by linear
    *    counting m·ln(m/V) when the raw estimate ≤ 2.5m and V > 0.
    *    The two double divisions/logs run on exact integer inputs and
    *    the result rounds to 4 dp, so the printed value reproduces.
    *
    * Standard error ≈ 1.04/sqrt(2^p) (~4.6% at p = 9) — the fixed-size
    * alternative to [[kmvDistinctBy]] when sketches must be stored and
    * re-merged indefinitely. Requires p ≥ 7 (the α formula below is the
    * m ≥ 128 constant). */
  def hllDistinctBy(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                    p: Int = 9, biasCorrect: Boolean = false): DataFrame = {
    require(p >= 7 && p <= 16, "hllDistinctBy needs p in [7, 16]")
    require(!biasCorrect || hllBiasAnchors.contains(p),
      s"hllDistinctBy biasCorrect has anchor tables for p in " +
        s"${hllBiasAnchors.keys.toSeq.sorted.mkString("[", ",", "]")}; " +
        s"got p=$p (re-run the recorded derivation to extend)")
    val m = 1 << p
    val maxRank = 60 - p + 1
    val rawNum = 0.7213 / (1.0 + 1.079 / m) * m * m * math.pow(2.0, maxRank)
    val sCol = aggregate(col("hll"), lit(0L),
      (acc, r) => acc + pow(lit(2.0), lit(maxRank) - r).cast("long"))
    val vCol = size(filter(col("hll"), r => r === 0)).cast("long")
    val raw = lit(rawNum) / col("hll_s").cast("double")
    val harmonic = if (biasCorrect) raw - hllBiasSpark(p, raw) else raw
    val est = when(raw <= lit(2.5 * m) && col("hll_v") > 0,
        lit(m.toDouble) * log(lit(m.toDouble) / col("hll_v").cast("double")))
      .otherwise(harmonic)
    hllSketchBy(df, groupCols, valueCol, p)
      .withColumn("hll_s", sCol)
      .withColumn("hll_v", vCol)
      .select(groupCols.map(col) ++ Seq(
        col("n_rows"), col("hll_v"), col("hll_s"),
        round(est, 4).as("est_distinct")): _*)
  }

  /** Empirical bias anchors (mean raw estimate, mean bias) for the
    * [[hllDistinctBy]] band correction — the HLL++ idea (Heule,
    * Nunkesser & Hall, EDBT 2013): below ~5m the harmonic estimator
    * systematically OVERestimates, and the overshoot is a smooth
    * function of the raw estimate that an interpolation table removes.
    * HLL++ ships tables simulated under its own hash; these anchors are
    * derived the same way under THIS repo's hash60 family — 22 true
    * cardinalities spanning 2m..5.57m, 128 runs each over salted value
    * sets `md5("hllbias:<p>:<run>:<i>")`, anchor = (mean raw, mean
    * raw − true n), recorded to 4 dp. Fully deterministic: anyone
    * re-running the recorded procedure reproduces the table. */
  private[graft] val hllBiasAnchors: Map[Int, Array[(Double, Double)]] = Map(
    7 -> Array(
      (268.1055, 12.1055), (286.9748, 9.9748), (306.7110, 7.7110),
      (328.1139, 7.1139), (348.7615, 5.7615), (368.4315, 4.4315),
      (389.5666, 3.5666), (410.9506, 2.9506), (431.2410, 1.2410),
      (451.3797, 0.3797), (474.1398, 1.1398), (495.2983, 0.2983),
      (515.7711, -1.2289), (538.6779, 0.6779), (559.9207, -0.0793),
      (583.1392, 1.1392), (605.2429, 1.2429), (627.3816, 2.3816),
      (650.7364, 3.7364), (670.9462, 1.9462), (694.2619, 3.2619),
      (715.4266, 3.4266)),
    8 -> Array(
      (540.4026, 28.4026), (578.6841, 23.6841), (619.7980, 20.7980),
      (658.6736, 16.6736), (697.6555, 11.6555), (736.5069, 7.5069),
      (777.0083, 4.0083), (815.4139, -0.5861), (859.0735, -0.9265),
      (903.6760, 0.6760), (950.0206, 3.0206), (992.8849, 2.8849),
      (1037.8731, 3.8731), (1081.6903, 4.6903), (1126.8489, 5.8489),
      (1167.7939, 3.7939), (1212.8933, 4.8933), (1253.1427, 2.1427),
      (1297.0811, 2.0811), (1336.1881, -1.8119), (1378.8908, -3.1092),
      (1424.6328, -0.3672)),
    9 -> Array(
      (1078.7754, 54.7754), (1157.3582, 46.3582), (1235.4636, 37.4636),
      (1316.5903, 31.5903), (1398.9113, 26.9113), (1480.1177, 21.1177),
      (1565.0277, 19.0277), (1649.1973, 16.1973), (1734.3032, 14.3032),
      (1818.2934, 11.2934), (1903.9990, 9.9990), (1990.4402, 9.4402),
      (2076.7243, 8.7243), (2164.6499, 9.6499), (2249.1662, 7.1662),
      (2334.0155, 5.0155), (2419.1725, 3.1725), (2502.1672, -0.8328),
      (2585.9607, -4.0393), (2676.2984, -0.7016), (2762.1080, -1.8920),
      (2844.4706, -6.5294)),
    10 -> Array(
      (2154.5081, 106.5081), (2305.3511, 83.3511), (2465.2376, 69.2376),
      (2624.0231, 54.0231), (2785.8314, 41.8314), (2948.9660, 30.9660),
      (3116.6585, 24.6585), (3283.4041, 17.4041), (3453.7142, 13.7142),
      (3624.6263, 10.6263), (3798.1289, 10.1289), (3968.0942, 6.0942),
      (4133.9979, -2.0021), (4304.4251, -6.5749), (4479.7571, -5.2429),
      (4656.0431, -2.9569), (4829.0926, -3.9074), (5011.2799, 4.2799),
      (5178.3669, -2.6331), (5350.9665, -4.0335), (5528.0270, -0.9730),
      (5693.9882, -9.0118)),
    11 -> Array(
      (4325.6668, 229.6668), (4631.0427, 187.0427), (4946.2654, 154.2654),
      (5269.7028, 129.7028), (5590.4837, 102.4837), (5915.4147, 79.4147),
      (6250.5313, 66.5313), (6589.4137, 56.4137), (6928.3113, 47.3113),
      (7267.2531, 38.2531), (7606.7411, 29.7411), (7953.8833, 28.8833),
      (8306.7342, 33.7342), (8657.8817, 35.8817), (8999.1766, 29.1766),
      (9336.3316, 18.3316), (9691.6307, 25.6307), (10037.8252, 23.8252),
      (10379.6302, 17.6302), (10733.7385, 22.7385), (11072.9965, 13.9965),
      (11415.6267, 8.6267)),
    12 -> Array(
      (8638.9414, 446.9414), (9248.0491, 360.0491), (9875.4943, 291.4943),
      (10511.8834, 231.8834), (11154.0251, 177.0251), (11810.7761, 137.7761),
      (12465.0257, 96.0257), (13143.6751, 77.6751), (13816.8267, 54.8267),
      (14495.6496, 37.6496), (15171.1661, 16.1661), (15855.9093, 4.9093),
      (16534.6783, -12.3217), (17224.0037, -19.9963), (17919.7442, -20.2558),
      (18602.7820, -33.2180), (19297.8819, -35.1181), (19984.4557, -44.5443),
      (20671.8169, -53.1831), (21381.1977, -40.8023), (22087.1289, -30.8711),
      (22779.7246, -34.2754)))

  /** Piecewise-linear bias at `raw` from [[hllBiasAnchors]]: 0 beyond
    * 5m (the HLL++ correction window), the first anchor's bias below
    * the first anchor, linear between neighbors otherwise. Arithmetic
    * is `b1 + (raw − r1) * slope` with the slope a precomputed double
    * literal, the same term order [[hllBiasSqlCase]] emits — so an
    * external engine reproduces the corrected estimate to the printed
    * rounding. */
  private def hllBiasSpark(p: Int, raw: Column): Column = {
    val a = hllBiasAnchors(p)
    val fiveM = 5.0 * (1 << p)
    // the trailing .otherwise(0.0) below is reachable only for raw in
    // (last anchor, 5m] — dead for the shipped tables, which all span
    // past 5m. Assert that so an EXTENDED table stopping short cannot
    // silently zero the correction inside the band (review finding).
    require(a.last._1 >= fiveM,
      s"hllBias anchors for p=$p end at ${a.last._1} < 5m=$fiveM — " +
        "the table must span the full correction band")
    val base = when(raw > lit(fiveM), lit(0.0))
      .when(raw <= lit(a(0)._1), lit(a(0)._2))
    a.sliding(2).foldLeft(base) {
      case (c, Array((r1, b1), (r2, b2))) =>
        c.when(raw <= lit(r2),
          lit(b1) + (raw - lit(r1)) * lit((b2 - b1) / (r2 - r1)))
      case (c, _) => c
    }.otherwise(lit(0.0))
  }

  /** The [[hllBiasSpark]] chain as DuckDB CASE text over a raw-estimate
    * SQL expression — generated from the SAME anchor array, so the
    * oracle and the engine share one table by construction. */
  private[graft] def hllBiasSqlCase(p: Int, raw: String): String = {
    val a = hllBiasAnchors(p)
    val fiveM = 5.0 * (1 << p)
    require(a.last._1 >= fiveM, // the hllBiasSpark span assertion, shared
      s"hllBias anchors for p=$p end at ${a.last._1} < 5m=$fiveM")
    val sb = new StringBuilder(s"CASE WHEN $raw > $fiveM THEN 0.0")
    sb.append(s"\n    WHEN $raw <= ${a(0)._1} THEN ${a(0)._2}")
    a.sliding(2).foreach {
      case Array((r1, b1), (r2, b2)) =>
        val slope = (b2 - b1) / (r2 - r1)
        sb.append(s"\n    WHEN $raw <= $r2 THEN $b1 + ($raw - $r1) * $slope")
      case _ => ()
    }
    sb.append("\n    ELSE 0.0 END").toString
  }

  /** Per-group approximate percentiles from a deterministic bottom-k-
    * by-hash row sample ([[graft.functions.KMinPairs]]): rows whose
    * `keyCol` md5-hash lands among the group's k smallest carry their
    * `valueCol` into the sample; exact `percentile` interpolation then
    * runs on the sample only. `keyCol` must be unique per row (it IS
    * the sampling randomness — and the reproducibility: the same rows
    * are sampled forever, under any partitioning, and an oracle replays
    * the exact sample by sorting the same hashes).
    *
    * The 100 TB shape for quantiles over unbounded groups: the exact
    * aggregate shuffles every value; this map-side-combines each
    * partition to ≤ k pairs, exchanges those, and pays one
    * aggregate-sized second pass for the interpolation. Groups with at
    * most k rows are EXACT (the sample is the group — the property the
    * spec pins). Standard error of a p-quantile ≈
    * sqrt(p(1-p)/k) in rank space. Returns per group: `p_<nn>` columns,
    * `n_rows` (raw) and `n_sample`. */
  def sampleQuantilesBy(df: DataFrame, groupCols: Seq[String],
                        valueCol: Column, keyCol: Column, ps: Seq[Double],
                        k: Int = 256): DataFrame = {
    val kmp = udaf(new graft.functions.KMinPairs(k),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    val sampled = df.filter(valueCol.isNotNull && keyCol.isNotNull)
      .select(groupCols.map(col) ++ Seq(hash60(keyCol).as("__h"),
        valueCol.cast("double").as("__v")): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(kmp(col("__h"), col("__v")).as("__sample"),
        count(lit(1)).as("n_rows"))
    // interpolation runs over exploded sample values — aggregate-sized
    // input (≤ k rows per group), and Spark's percentile matches
    // DuckDB's quantile_cont bit-for-bit (the percentilesBy contract)
    sampled
      .select(groupCols.map(col) ++ Seq(col("n_rows"),
        size(col("__sample")).cast("long").as("n_sample"),
        explode(col("__sample")).as("__sv")): _*)
      .groupBy(groupCols.map(col) ++ Seq(col("n_rows"), col("n_sample")): _*)
      .agg(expr(s"percentile(__sv, array(${ps.mkString(",")}))").as("__ps"))
      .select(groupCols.map(col) ++ Seq(col("n_rows"), col("n_sample")) ++
        ps.zipWithIndex.map { case (p, i) =>
          round(col("__ps").getItem(i), 4).as(s"p_${(p * 100).round}")
        }: _*)
  }

  /** Linear-interpolation p-quantile of an array<double> column —
    * `percentile`/`quantile_cont` semantics (pos = p·(n−1), linear
    * between the straddling order statistics) as a PURE EXPRESSION, so
    * it composes where a second aggregate cannot: on top of a single
    * streaming aggregation (Structured Streaming forbids chained
    * aggregates — the [[sampleQuantilesBy]] two-agg form is
    * batch-only), or over any stored sample array. Null for empty
    * arrays. StatsSpec pins equality with the `percentile` aggregate
    * on shared samples. */
  def quantileOfArray(sample: Column, p: Double): Column = {
    val sorted = array_sort(sample)
    val n = size(sorted)
    val pos = lit(p) * (n - lit(1)).cast("double")
    val lo = floor(pos).cast("int")
    val vLo = element_at(sorted, lo + 1)
    val vHi = element_at(sorted, least(lo + lit(2), n))
    when(n === 0, lit(null).cast("double"))
      .when(n === 1, element_at(sorted, 1))
      .otherwise(vLo + (pos - lo.cast("double")) * (vHi - vLo))
  }

  /** Trailing-window anomaly detection over a per-key series — the
    * volume monitor an ingest pipeline runs per (source, day): each row's
    * `valueCol` compares against the mean/std of the PREVIOUS `window`
    * rows of its key (current row excluded, so a spike cannot mask
    * itself; a sustained shift alarms until the window absorbs it).
    * Integer values make every moment exact: the window aggregates are
    * exact integer sums, the variance numerator n·Σv² − (Σv)² is an
    * exact integer, and sd/z are single IEEE operations on those exact
    * integers — an external engine replays them bit-for-bit (rounded to
    * 4 for export). `anomaly` fires with ≥ `minPrior` prior rows when
    * |z| > nSigma, or when a constant history (sd = 0) changes at all;
    * z is null when sd = 0 (no scale to express it in).
    *
    * Scale shape: one hash exchange on the key, one sort per key —
    * window frames are per-key and `window`-bounded, so state never
    * exceeds the frame no matter the series length. */
  def trailingAnomaly(df: DataFrame, keyCols: Seq[String],
                      orderCol: Column, valueCol: Column, window: Int = 7,
                      nSigma: Double = 3.0, minPrior: Int = 3): DataFrame = {
    require(window >= 2 && minPrior >= 2, "need window >= 2, minPrior >= 2")
    require(minPrior <= window,
      "minPrior > window can never be satisfied — the detector would " +
        "silently never flag")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCol)
      .rowsBetween(-window, -1)
    val v = valueCol.cast("long")
    // moments accumulate as DECIMAL (the zscoreBy discipline): long
    // sums of v*v wrap silently past v ~ 4e8 at this window, exactly
    // the regime the 100 TB claim covers
    val vd = valueCol.cast("decimal(19,0)") // vd*vd fits decimal(38,0)
    val varNum = col("n_prior") * col("__sq") - col("__s") * col("__s")
    val sd = sqrt(varNum.cast("double") /
      (col("n_prior") * (col("n_prior") - lit(1))).cast("double"))
    df.withColumn("__s", sum(vd).over(w))
      .withColumn("__sq", sum(vd * vd).over(w))
      .withColumn("n_prior", count(v).over(w))
      // warm-up guards, not try_divide: ANSI mode refuses the /0 at
      // n_prior <= 1, and null mean/sd is the honest value there
      .withColumn("__mean", when(col("n_prior") > 0,
        col("__s").cast("double") / col("n_prior").cast("double")))
      .withColumn("__sd", when(col("n_prior") > 1, sd))
      .withColumn("z", when(col("__sd") > 0,
        round((v.cast("double") - col("__mean")) / col("__sd"), 4)))
      .withColumn("anomaly", col("n_prior") >= minPrior &&
        (when(col("__sd") > 0,
            abs(v.cast("double") - col("__mean")) > lit(nSigma) * col("__sd"))
          .otherwise(v.cast("double") =!= col("__mean"))))
      .withColumn("mean_prior", round(col("__mean"), 4))
      .drop("__s", "__sq", "__mean", "__sd")
  }

  /** Count-Min sketch build (Cormode & Muthukrishnan 2005): per group, a
    * `depth` × `width` grid of counters where row i counts `valueCol`
    * occurrences (or `weightCol` mass) in bucket
    * `hash60('cms:' i ':' value) mod width`. The point-FREQUENCY
    * companion to the set sketches ([[kmvDistinctBy]] counts distincts,
    * MisraGries keeps top items, this answers "how often did THIS item
    * occur" for any item, after the fact): state is at most depth·width
    * counters per group no matter the item domain — the 100 TB shape for
    * per-item frequency over unbounded vocabularies.
    *
    * Spark-first form: the grid is a plain aggregate over the exploded
    * (row, bucket) pairs — map-side combine collapses each partition to
    * ≤ depth·width partial rows per group before the exchange, and two
    * sketches built on disjoint slices merge by summing matching cells
    * (it's all sums). Counters are exact integers, so an external engine
    * replays the sketch AND the estimates bit-for-bit. Nulls are ignored.
    * Returns (group…, row, bucket, cnt) — only touched cells are present
    * (untouched cells are implicitly 0; [[cmsEstimate]] coalesces). */
  def cmsSketchBy(df: DataFrame, groupCols: Seq[String], valueCol: Column,
                  depth: Int = 4, width: Int = 64,
                  weightCol: Column = lit(1L)): DataFrame = {
    require(depth >= 1 && width >= 2, "cms needs depth >= 1, width >= 2")
    val buckets = array((0 until depth).map { i =>
      pmod(hash60(concat_ws(":", lit("cms"), lit(i), valueCol)),
        lit(width.toLong))
    }: _*)
    df.filter(valueCol.isNotNull)
      .select(groupCols.map(col) ++ Seq(weightCol.cast("long").as("__w"),
        posexplode(buckets).as(Seq("row", "bucket"))): _*)
      .groupBy(groupCols.map(col) ++ Seq(col("row"), col("bucket")): _*)
      .agg(sum(col("__w")).as("cnt"))
  }

  /** Exponentially-DECAYED Count-Min sketch — the long-running-monitor
    * variant of [[cmsSketchBy]] (ROADMAP "decayed/windowed sketch"
    * item): a frequency monitor that runs for months wants recent mass
    * to dominate without keeping one grid per window and composing
    * them. Each occurrence contributes `2^b` to its cells, where
    * `b = floor((t − t0) / halfLife)` is the event's whole-half-life
    * index since the monitor's epoch `t0Micros` — FORWARD-weighted
    * mass, so decay is pure bookkeeping at read time
    * ([[cmsDecayedEstimate]] rescales by `2^-B`) and the aggregation
    * stays order-free, mergeable by summing cells, and streamable as
    * ONE stateful aggregate with ≤ depth·width rows per group forever.
    *
    * Exactness discipline: `2^b` is an exact double for b < 88 and the
    * cells accumulate as DECIMAL(38,0) — exact integers, so shard
    * grids, microbatch order, and an external oracle all reproduce the
    * cells bit-for-bit (the t101 discipline under decay). The price is
    * a bounded epoch: b must land in [0, 88) (row-level raise_error
    * outside), i.e. one epoch covers 88 half-lives — at a 1-day
    * half-life, ~3 months, after which a monitor re-anchors t0 (old
    * mass has decayed by 2^-88 ≈ 3e-27; dropping it is the point).
    * Decay is bucket-granular: ages round DOWN to whole half-lives. */
  def cmsDecayedSketchBy(df: DataFrame, groupCols: Seq[String],
                         valueCol: Column, timeCol: Column,
                         t0Micros: Long, halfLifeSeconds: Long,
                         depth: Int = 4, width: Int = 64,
                         weightCol: Column = lit(1L)): DataFrame = {
    require(depth >= 1 && width >= 2 && halfLifeSeconds > 0,
      "cmsDecayed needs depth >= 1, width >= 2, halfLife > 0")
    val hlUs = halfLifeSeconds * 1000000L
    // micro diffs stay far under 2^53, so the double floor-div is exact
    val b = floor((unix_micros(timeCol) - lit(t0Micros)).cast("double") /
      lit(hlUs.toDouble)).cast("long")
    // a null event time must not silently skip the row (the plain CMS
    // counts every non-null value; a time-less row here would vanish
    // via null mass) — fail loud, like the horizon breach
    val bGuard = when(timeCol.isNull || b < 0 || b >= 88,
        raise_error(concat(lit("cmsDecayedSketchBy: null event time, or " +
          "event outside the epoch's 88-half-life horizon (re-anchor " +
          "t0); bucket="), coalesce(b.cast("string"), lit("null")))))
      .otherwise(b)
    // weighted mass stays an exact integer decimal: w * 2^b with
    // b < 88 and long weights — the plain cmsSketchBy weightCol parity
    val massRaw = (weightCol.cast("decimal(18,0)") *
      pow(lit(2.0), bGuard).cast("decimal(38,0)")).cast("decimal(38,0)")
    // a decimal(38,0) overflow (huge weights near the horizon: w * 2^87
    // past ~1e38) — or a NULL weight — yields NULL under non-ANSI mode,
    // and sum() would silently SKIP it: dropped mass would break the
    // never-underestimates guarantee with no signal. Fail loud, exactly
    // like the horizon breach above (review finding).
    val mass = when(massRaw.isNull,
        raise_error(lit("cmsDecayedSketchBy: weighted mass w*2^b " +
          "overflows decimal(38,0), or weight is null — bound weights " +
          "or re-anchor t0")))
      .otherwise(massRaw)
    val buckets = array((0 until depth).map { i =>
      pmod(hash60(concat_ws(":", lit("cms"), lit(i), valueCol)),
        lit(width.toLong))
    }: _*)
    df.filter(valueCol.isNotNull)
      .select(groupCols.map(col) ++ Seq(mass.as("__m"),
        posexplode(buckets).as(Seq("row", "bucket"))): _*)
      .groupBy(groupCols.map(col) ++ Seq(col("row"), col("bucket")): _*)
      .agg(sum(col("__m")).as("__mass"))
      // the CELL sum can also overflow to NULL even when every row-level
      // mass fits — same silent-drop hazard, same loud failure
      .withColumn("mass", when(col("__mass").isNull,
          raise_error(lit("cmsDecayedSketchBy: cell mass sum overflows " +
            "decimal(38,0) — re-anchor t0 or bound weights")))
        .otherwise(col("__mass")))
      .drop("__mass")
  }

  /** Decayed point-frequency estimates from a [[cmsDecayedSketchBy]]
    * grid as of `asOfMicros`: min over the depth rows of the item's
    * cell mass, rescaled by 2^-B (B = whole half-lives from t0 to
    * asOf) — an exact exponent shift on the double, so the printed
    * round-4 value replays externally. The estimate reads "occurrences,
    * each discounted by half per half-life of age (bucket-granular)";
    * like the plain CMS it never underestimates the decayed truth. */
  def cmsDecayedEstimate(sketch: DataFrame, probes: DataFrame,
                         groupCols: Seq[String], asOfMicros: Long,
                         t0Micros: Long, halfLifeSeconds: Long,
                         depth: Int = 4, width: Int = 64): DataFrame = {
    // floorDiv: truncating division would round a pre-t0 asOf UP to
    // bucket 0 and silently pass the guard
    val bAsOf = Math.floorDiv(asOfMicros - t0Micros,
      halfLifeSeconds * 1000000L)
    // one bucket past the event horizon (88) is legal: reading the
    // sketch "now", just after its final event bucket closed
    require(bAsOf >= 0 && bAsOf <= 88,
      s"cmsDecayedEstimate: asOf is $bAsOf half-lives from t0; re-anchor")
    val buckets = array((0 until depth).map { i =>
      pmod(hash60(concat_ws(":", lit("cms"), lit(i), col("probe"))),
        lit(width.toLong))
    }: _*)
    probes
      .select(groupCols.map(col) ++ Seq(col("probe"),
        posexplode(buckets).as(Seq("row", "bucket"))): _*)
      .join(broadcast(sketch), groupCols ++ Seq("row", "bucket"), "left")
      .groupBy(groupCols.map(col) :+ col("probe"): _*)
      .agg(min(coalesce(col("mass"), lit(0).cast("decimal(38,0)")))
        .as("__mass"))
      .withColumn("est_decayed",
        round(col("__mass").cast("double") / lit(math.pow(2.0, bAsOf.toDouble)), 4))
      .drop("__mass")
  }

  /** Epoch-sliced HyperLogLog registers — the state shape that lets
    * CARDINALITY decay the way [[cmsDecayedSketchBy]] lets frequency
    * decay (ROADMAP "decayed HLL" item): one [[hllSketchBy]] register
    * array per (group, half-life epoch), where
    * `epoch = floor((t − t0) / halfLife)`. Register maxima themselves
    * cannot decay (max is irreversible), so the slicing IS the decay
    * mechanism: each epoch's registers freeze that epoch's distinct
    * set, and [[hllDecayedDistinct]] recombines them at read time with
    * recency weights. State is ≤ 88 epochs × 2^p ints per group
    * FOREVER (the t117 re-anchor discipline bounds the epoch count),
    * and the aggregation is ONE groupBy — legal as a streaming
    * complete-mode aggregate, order-free, and mergeable: per-shard
    * epoch sketches re-aggregate by elementwise register max, so
    * paced microbatches equal the one-pass batch grid EXACTLY
    * (StreamingSpec-pinned, the s19 discipline).
    *
    * A null event time fails loud (a time-less row silently skipping
    * the sketch is the s13 null-producer hazard), as does an event
    * outside the epoch horizon [0, 88) — both mirror
    * [[cmsDecayedSketchBy]]'s guards. Null values are ignored
    * (matching count(distinct)). Returns (group…, epoch, hll,
    * n_rows). */
  def hllEpochSketchBy(df: DataFrame, groupCols: Seq[String],
                       valueCol: Column, timeCol: Column, t0Micros: Long,
                       halfLifeSeconds: Long, p: Int = 9): DataFrame = {
    require(p >= 7 && p <= 16, "hllEpochSketchBy needs p in [7, 16]")
    require(halfLifeSeconds > 0, "hllEpochSketchBy needs halfLife > 0")
    val hlUs = halfLifeSeconds * 1000000L
    // micro diffs stay far under 2^53, so the double floor-div is exact
    val b = floor((unix_micros(timeCol) - lit(t0Micros)).cast("double") /
      lit(hlUs.toDouble)).cast("long")
    val bGuard = when(timeCol.isNull || b < 0 || b >= 88,
        raise_error(concat(lit("hllEpochSketchBy: null event time, or " +
          "event outside the epoch's 88-half-life horizon (re-anchor " +
          "t0); epoch="), coalesce(b.cast("string"), lit("null")))))
      .otherwise(b)
    val hll = udaf(new graft.functions.HyperLogLog(p), Encoders.scalaLong)
    df.filter(valueCol.isNotNull)
      .select(groupCols.map(col) ++ Seq(bGuard.as("epoch"),
        hash60(valueCol).as("__h")): _*)
      .groupBy(groupCols.map(col) :+ col("epoch"): _*)
      .agg(hll(col("__h")).as("hll"), count(lit(1)).as("n_rows"))
  }

  /** Decayed distinct-count estimate from a [[hllEpochSketchBy]] grid
    * as of `asOfMicros` — each distinct item counts at weight
    * `2^-(B − e_last)` where `e_last` is its most RECENT epoch of
    * occurrence and B the as-of epoch, so a user last seen a month ago
    * contributes ~nothing while today's users count in full: the
    * cardinality monitor analog of [[cmsDecayedEstimate]].
    *
    * Derivation is pure suffix algebra on the frozen epoch registers:
    * the suffix union U_e (elementwise register max over epochs ≥ e)
    * estimates "distinct items seen in or after e" — registers of a
    * union are maxima, so merging slices IS the HLL union, and the
    * estimate S_e is monotone in e. Items whose last epoch is exactly
    * e are then the difference S_e − S_next (clamped at 0: successive
    * suffix estimates are monotone except across the linear-counting /
    * harmonic branch seam), and the decayed count is
    * Σ_e 2^(e−B) · (S_e − S_next).
    *
    * Exact-replay discipline (the t117 forward-mass trick applied to
    * ESTIMATES): each S_e rounds to fixed-point ×10^4 as an exact
    * long, the per-epoch differences scale by 2^e as exact
    * decimal(38,0) forward mass (order-free sum — a double sum would
    * be partition-order-dependent), and ONE final double division by
    * 2^B · 10^4 lands the printed round-4 value, so an external
    * engine replays every step (t119 oracle). Decimal overflow fails
    * loud (the cmsDecayedSketchBy guard). `rows_decayed` applies the
    * same forward-mass algebra to the exact per-epoch row counts —
    * the decayed row-volume numerator a repeat-factor monitor needs.
    * An epoch after asOf fails loud (its weight would exceed 1 —
    * clock skew or a wrong anchor).
    *
    * Scale shape: everything here runs on the aggregate-sized sketch
    * frame (≤ 89 epochs × 2^p cells per group) — the suffix merge is
    * a running register max over epoch DESC, so the fan-out is
    * epochs × m rows per group (NOT epochs², which a per-suffix join
    * would pay), metadata-sized; row data is never re-read. Returns
    * (group…, n_epochs, rows_decayed, est_decayed). */
  def hllDecayedDistinct(sketch: DataFrame, groupCols: Seq[String],
                         asOfMicros: Long, t0Micros: Long,
                         halfLifeSeconds: Long, p: Int = 9,
                         biasCorrect: Boolean = false): DataFrame = {
    require(p >= 7 && p <= 16, "hllDecayedDistinct needs p in [7, 16]")
    require(!biasCorrect || hllBiasAnchors.contains(p),
      s"hllDecayedDistinct biasCorrect has anchor tables for p in " +
        s"${hllBiasAnchors.keys.toSeq.sorted.mkString("[", ",", "]")}")
    val bAsOf = Math.floorDiv(asOfMicros - t0Micros,
      halfLifeSeconds * 1000000L)
    // one epoch past the horizon is legal: reading "now", just after
    // the final event epoch closed (the cmsDecayedEstimate rule)
    require(bAsOf >= 0 && bAsOf <= 88,
      s"hllDecayedDistinct: asOf is $bAsOf half-lives from t0; re-anchor")
    val m = 1 << p
    val maxRank = 60 - p + 1
    val rawNum = 0.7213 / (1.0 + 1.079 / m) * m * m *
      math.pow(2.0, maxRank)
    def loud(c: Column, msg: String): Column =
      when(c.isNull, raise_error(lit(msg))).otherwise(c)
    val sk = sketch.withColumn("epoch",
      when(col("epoch") > lit(bAsOf),
          raise_error(concat(lit("hllDecayedDistinct: sketch carries an " +
            "epoch after asOf (weight would exceed 1 — clock skew or " +
            "wrong anchor); epoch="), col("epoch").cast("string"))))
        .otherwise(col("epoch")))
    // suffix unions: for each present epoch e, elementwise register max
    // over epochs >= e. A running max over epoch DESC per (group,
    // register) produces exactly that at epochs x m rows — the naive
    // all-suffixes join would pay epochs^2 x m (30x more at a 30-day
    // window, measured on the s20 monitor's per-trigger cost).
    // Untouched registers stay 0 in the dense arrays, so every index
    // survives the explode and S_e sees all m registers.
    val wSuffix = Window
      .partitionBy(groupCols.map(col) :+ col("j"): _*)
      .orderBy(col("e").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val suffix = sk
      .select(groupCols.map(col) ++ Seq(col("epoch").as("e"),
        col("n_rows"), posexplode(col("hll")).as(Seq("j", "r"))): _*)
      .withColumn("mr", max(col("r")).over(wSuffix))
      .groupBy(groupCols.map(col) :+ col("e"): _*)
      // hll_s/hll_v are the hllDistinctBy exact integers on the merged
      // registers: sum of 2^(maxRank - mr) tops out at m * 2^maxRank
      // = 2^61, inside long. n_rows rides along (constant per
      // (group, e) — its sketch row's count), so the per-epoch row
      // mass needs no join back to the sketch (review finding: that
      // join was a whole extra exchange on the s20 per-trigger path)
      .agg(sum(pow(lit(2.0), lit(maxRank) - col("mr")).cast("long"))
          .as("hll_s"),
        sum(when(col("mr") === 0, 1L).otherwise(0L)).as("hll_v"),
        max(col("n_rows")).as("n_rows"))
    val raw = lit(rawNum) / col("hll_s").cast("double")
    val harmonic = if (biasCorrect) raw - hllBiasSpark(p, raw) else raw
    val est = when(raw <= lit(2.5 * m) && col("hll_v") > 0,
        lit(m.toDouble) * log(lit(m.toDouble) /
          col("hll_v").cast("double")))
      .otherwise(harmonic)
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("e"))
    val massCol = loud((col("__m4").cast("decimal(18,0)") *
        pow(lit(2.0), col("e")).cast("decimal(38,0)"))
          .cast("decimal(38,0)"),
      "hllDecayedDistinct: epoch mass overflows decimal — re-anchor t0 " +
        "or lower p")
    val rowsCol = loud((col("n_rows").cast("decimal(18,0)") *
        pow(lit(2.0), col("e")).cast("decimal(38,0)"))
          .cast("decimal(38,0)"),
      "hllDecayedDistinct: row mass overflows decimal — re-anchor t0")
    val twoToB = math.pow(2.0, bAsOf.toDouble)
    suffix
      // fixed-point S_e: round(est * 1e4) is an exact long (est * 1e4
      // stays far under 2^53), the ONE rounding both engines share
      .withColumn("__s4", round(est * lit(10000.0), 0).cast("long"))
      .withColumn("__n4", lead(col("__s4"), 1, 0L).over(w))
      .withColumn("__m4", greatest(col("__s4") - col("__n4"), lit(0L)))
      .withColumn("__cm", massCol)
      .withColumn("__rm", rowsCol)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_epochs"),
        loud(sum(col("__rm")),
          "hllDecayedDistinct: row mass sum overflows decimal")
          .as("__rmm"),
        loud(sum(col("__cm")),
          "hllDecayedDistinct: epoch mass sum overflows decimal")
          .as("__cmm"))
      .select(groupCols.map(col) ++ Seq(col("n_epochs"),
        round(col("__rmm").cast("double") / lit(twoToB), 4)
          .as("rows_decayed"),
        round(col("__cmm").cast("double") / lit(twoToB) / lit(10000.0), 4)
          .as("est_decayed")): _*)
  }

  /** Point-frequency estimates from a [[cmsSketchBy]] sketch: for each
    * (group, probe item) the estimate is the MIN over the depth rows of
    * the counter at the item's bucket (missing cell = 0). The classic
    * guarantees, which the spec pins: never an underestimate, exact when
    * the item's cells are collision-free, and ≤ true + e·N/width with
    * probability 1 − (1/2)^depth-ish on any single item. The sketch is
    * aggregate-sized so the probe join broadcasts; per probe the depth
    * cells collapse to one min — no row data is ever re-read.
    * `probes` must carry `groupCols` and a `probe` column. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame,
                  groupCols: Seq[String], depth: Int = 4,
                  width: Int = 64): DataFrame = {
    val buckets = array((0 until depth).map { i =>
      pmod(hash60(concat_ws(":", lit("cms"), lit(i), col("probe"))),
        lit(width.toLong))
    }: _*)
    probes
      .select(groupCols.map(col) ++ Seq(col("probe"),
        posexplode(buckets).as(Seq("row", "bucket"))): _*)
      .join(broadcast(sketch), groupCols ++ Seq("row", "bucket"), "left")
      .groupBy(groupCols.map(col) :+ col("probe"): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
  }

  /** The shared pair-merge machinery of [[kmvOverlap]] and
    * [[kmvDifference]]: the broadcast g_a < g_b self-join of the
    * sketch frame with `__m` = the merged bottom-k of A∪B, plus the
    * standard KMV union estimator over `__m` — ONE definition so the
    * two operators (and their oracles) can never desynchronize on the
    * estimator's fill-boundary convention (review finding). */
  private def kmvMergedPairs(sketches: DataFrame, groupCol: String,
                             k: Int): (DataFrame, Column) = {
    val twoTo60 = 1152921504606846976.0 // 2^60, exact in double
    val a = sketches.select(col(groupCol).as("g_a"), col("kmv").as("__ka"))
    val b = sketches.select(col(groupCol).as("g_b"), col("kmv").as("__kb"))
    val merged = a.join(broadcast(b), col("g_a") < col("g_b"))
      .withColumn("__m", slice(array_sort(array_distinct(
        concat(col("__ka"), col("__kb")))), 1, k))
    val unionEst = when(size(col("__m")) < k,
        size(col("__m")).cast("double"))
      .otherwise(lit((k - 1).toDouble) * twoTo60 /
        element_at(col("__m"), k).cast("double"))
    (merged, unionEst)
  }

  /** Pairwise set-overlap estimates between every two groups, from
    * their KMV sketches alone (Beyer et al., SIGMOD 2007): merge the
    * two sketches to the k smallest of A∪B; the union estimate is the
    * standard KMV estimator on the merged k-th minimum, the Jaccard
    * estimate is |merged ∩ A ∩ B| / |merged|, and the intersection
    * estimate is their product. When both groups sit below fill the
    * merged sketch IS A∪B and everything is exact. Every number is an
    * exact function of the hash sets (set ops + one IEEE division), so
    * an external engine replays the estimates bit-for-bit — O(k)
    * state per group makes this the 100 TB way to get an
    * all-pairs-of-sources overlap dashboard without ever joining the
    * underlying data.
    *
    * `sketches` = [[kmvSketchBy]] output; pairs are g_a < g_b. The
    * pair frame is group-level (aggregate-sized) — the self-join is
    * broadcast and never touches row data. */
  def kmvOverlap(sketches: DataFrame, groupCol: String,
                 k: Int): DataFrame = {
    val (merged, unionEst) = kmvMergedPairs(sketches, groupCol, k)
    val shared = size(array_intersect(array_intersect(col("__m"),
      col("__ka")), col("__kb")))
    // empty merged sample (both groups all-null values) → 0/0 would be
    // NaN; an empty union shares nothing, so the estimate is a defined 0
    val jac = when(size(col("__m")) === 0, lit(0.0))
      .otherwise(col("__shared").cast("double") /
        size(col("__m")).cast("double"))
    merged
      .withColumn("__shared", shared)
      .select(col("g_a"), col("g_b"),
        col("__shared").cast("long").as("n_shared_kmin"),
        round(unionEst, 4).as("est_union"),
        round(jac, 4).as("est_jaccard"),
        round(jac * unionEst, 4).as("est_intersection"))
  }

  /** Directional set-DIFFERENCE estimates from per-group KMV sketches —
    * the Theta-sketch A∖B operation on [[kmvSketchBy]] state (the
    * ROADMAP "Theta sketches" item, closed with KMV's own sample): for
    * every group pair, the pairwise-merged bottom-k is a uniform hash
    * sample of A∪B below its kth min, so the fraction of it seen ONLY
    * in A's sketch estimates |A∖B| / |A∪B| and scales by the union
    * estimate — the same fraction-times-union discipline as
    * [[kmvOverlap]]'s intersection, and the dashboard number a
    * curation pipeline wants for "how much of source A is NOT already
    * in B" without ever joining row data. Exact whenever the merged
    * fill is under k (the sample IS the union, and the fraction times
    * the exact union is the exact count). Membership tests run against
    * the k-min sets (the t75 rule): in the filled case every sample
    * element sits below the merged kth min ≤ both groups' retention
    * thresholds, so the tests are faithful; every output is an exact
    * function of the hash sets plus two IEEE divisions — an external
    * engine replays it bit-for-bit (t113 oracle).
    *
    * Scale shape: identical to [[kmvOverlap]] — aggregate-sized
    * sketch frame, broadcast self-join, O(k) state per group. */
  def kmvDifference(sketches: DataFrame, groupCol: String,
                    k: Int): DataFrame = {
    val (merged, unionEst) = kmvMergedPairs(sketches, groupCol, k)
    val aOnly = size(array_except(
      array_intersect(col("__m"), col("__ka")), col("__kb")))
    val bOnly = size(array_except(
      array_intersect(col("__m"), col("__kb")), col("__ka")))
    // same empty-sample guard as kmvOverlap's jaccard: 0/0 → defined 0
    def frac(part: Column): Column =
      when(size(col("__m")) === 0, lit(0.0))
        .otherwise(part.cast("double") / size(col("__m")).cast("double"))
    merged
      .select(col("g_a"), col("g_b"),
        aOnly.cast("long").as("n_a_only_kmin"),
        bOnly.cast("long").as("n_b_only_kmin"),
        round(frac(aOnly) * unionEst, 4).as("est_a_minus_b"),
        round(frac(bOnly) * unionEst, 4).as("est_b_minus_a"))
  }
}
