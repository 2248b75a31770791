package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scoring-model evaluation: exact ROC AUC (Mann–Whitney rank-sum
  * form, average ranks over ties), Gini, and the Kolmogorov–Smirnov
  * statistic of a continuous score against a binary label.
  *
  * The textbook computation ranks every row with ONE global sort — a
  * single-partition window that dies at corpus scale. Here the rank
  * sums come from a distributed prefix-sum instead:
  *
  *   1. collapse rows to distinct scores (one keyed shuffle; ties
  *      collapse to a (cnt, pos) pair per score);
  *   2. range-bucket the distinct scores by value into `buckets`
  *      fixed intervals (needs only the score min/max — one cheap
  *      2-value aggregate); bucket ids only steer the partition
  *      layout — the prefix sums, and thus the result, are
  *      bucket-independent;
  *   3. per-bucket totals (≤ `buckets` rows) give exclusive
  *      cross-bucket offsets via a window over that TINY frame;
  *   4. within each bucket, an ordinary partitioned window computes
  *      the exclusive within-bucket cumsum; offset + cumsum = the
  *      exact global rank prefix for every distinct score, with no
  *      global sort and no partition ever holding more than one
  *      bucket's distinct scores.
  *
  * Determinism: every sum is exact (DECIMAL(38,0) — no overflow
  * below ~10¹⁹ rows), and the only floating-point steps are the
  * final numerator/denominator casts and ONE division each for AUC
  * and KS — bit-identical in any engine at any parallelism.
  *
  *   AUC = (S2 − P(P+1)) / (2PN)   where
  *   S2  = Σ_g pos_g · (2·cntBefore_g + cnt_g + 1)   (twice the
  *         average-rank sum of positives, an exact integer)
  *   KS  = max_g |cumPos_g·N − cumNeg_g·P| / (P·N)
  */
object Evaluation {

  private val D = DecimalType(38, 0)
  private def d(c: Column): Column = c.cast(D)

  /** One-row evaluation report: n, n_pos, n_neg (BIGINT), auc, gini,
    * ks (DOUBLE). Null-score / null-label rows are excluded.
    * Degenerate inputs (empty, or a single class) yield null
    * auc/gini/ks rather than a division error. */
  def scoreEval(df: DataFrame, scoreCol: String, labelCol: String,
      buckets: Int = 64): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val g = df
      .where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(scoreCol).cast("double").as("score"))
      .agg(count(lit(1)).as("cnt"),
        sum(col(labelCol).cast("long")).as("pos"))
      .withColumn("neg", col("cnt") - col("pos"))

    val bounds = g.agg(min("score").as("lo"), max("score").as("hi"))
      .collect()(0)
    if (bounds.isNullAt(0)) return emptyReport(df)
    val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
    val span = hi - lo
    val bucket =
      if (span <= 0d) lit(0)
      else least(lit(buckets - 1),
        floor((col("score") - lit(lo)) / lit(span) * lit(buckets))
          .cast("int"))
    val gb = g.withColumn("b", bucket)

    // exclusive cross-bucket offsets over the ≤`buckets`-row frame
    // (the unpartitioned window is safe: its input is bucket totals,
    // never rows)
    // |buckets|-row window: single partition is the point
    val wOff = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = gb.groupBy("b")
      .agg(sum("cnt").as("bc"), sum("pos").as("bp"), sum("neg").as("bn"))
      .select(col("b"),
        coalesce(sum("bc").over(wOff), lit(0L)).as("off_c"),
        coalesce(sum("bp").over(wOff), lit(0L)).as("off_p"),
        coalesce(sum("bn").over(wOff), lit(0L)).as("off_n"))

    // exclusive within-bucket cumsums + offsets = exact global
    // prefixes per distinct score
    val wIn = Window.partitionBy("b").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = gb.join(broadcast(offsets), Seq("b"))
      .select(col("score"), col("cnt"), col("pos"), col("neg"),
        (col("off_c") + coalesce(sum("cnt").over(wIn), lit(0L)))
          .as("cb"),
        (col("off_p") + coalesce(sum("pos").over(wIn), lit(0L)))
          .as("cbp"),
        (col("off_n") + coalesce(sum("neg").over(wIn), lit(0L)))
          .as("cbn"))

    // class totals (single broadcast row) feed the per-group KS term
    val tot = g.agg(
      sum("cnt").cast("long").as("n"),
      sum("pos").cast("long").as("n_pos"),
      sum("neg").cast("long").as("n_neg"))

    val agg = pre.crossJoin(broadcast(tot))
      .agg(
        first("n").as("n"),
        first("n_pos").as("n_pos"),
        first("n_neg").as("n_neg"),
        sum(d(col("pos")) *
          (d(lit(2)) * d(col("cb")) + d(col("cnt")) + d(lit(1))))
          .as("s2"),
        max(abs(
          d(col("cbp") + col("pos")) * d(col("n_neg")) -
            d(col("cbn") + col("neg")) * d(col("n_pos"))))
          .as("ks_num"))

    val ok = col("n_pos") > 0 && col("n_neg") > 0
    val aucNum = col("s2") - d(col("n_pos")) * (d(col("n_pos")) + d(lit(1)))
    val aucDen = d(lit(2)) * d(col("n_pos")) * d(col("n_neg"))
    val ksDen = d(col("n_pos")) * d(col("n_neg"))
    val auc = when(ok,
      aucNum.cast("double") / aucDen.cast("double"))
    agg.select(col("n"), col("n_pos"), col("n_neg"),
      auc.as("auc"),
      (lit(2.0) * auc - lit(1.0)).as("gini"),
      when(ok, col("ks_num").cast("double") / ksDen.cast("double"))
        .as("ks"))
  }

  /** Welch's unequal-variance t-test between two experiment arms.
    *
    * Input: ONE ROW PER EXPERIMENTAL UNIT (e.g. per-user totals — the
    * caller aggregates to the randomization unit first; testing raw
    * events against a user-level assignment is the classic
    * unit-of-analysis error), with `variantCol` ∈ {0, 1} and the
    * metric in `centsCol` as an exact integer.
    *
    * Everything up to the test statistic is exact: per-arm n, Σy,
    * Σy² accumulate as DECIMAL(38,0) in one map-side-combined
    * aggregation (two groups — the shuffle ships six numbers), and
    * mean / sample variance / t / Welch–Satterthwaite df are a fixed
    * double op sequence over those integers, bit-identical in any
    * engine. Arms with n < 2 yield null t/df.
    *
    * Output (one row): n_a, n_b, mean_a, mean_b, var_a, var_b,
    * t_stat, welch_df — means/variances in metric units (cents/100).
    */
  def welchTTest(df: DataFrame, variantCol: String,
      centsCol: String): DataFrame = {
    val v = col(variantCol)
    val y = col(centsCol)
    def arm(side: Int, c: Column): Column =
      max(when(v === side, c))
    val s = df
      .where(v.isNotNull && y.isNotNull)
      .groupBy(v).agg(
        count(lit(1)).as("n"),
        sum(d(y)).as("sy"),
        sum(d(y * y)).as("syy"))
      .agg(
        arm(0, col("n")).as("na"), arm(1, col("n")).as("nb"),
        arm(0, col("sy")).as("sa"), arm(1, col("sy")).as("sb"),
        arm(0, col("syy")).as("ssa"), arm(1, col("syy")).as("ssb"))

    def meanOf(sy: Column, n: Column): Column =
      sy.cast("double") / lit(100.0) / n.cast("double")
    def varOf(n: Column, sy: Column, syy: Column): Column =
      when(n >= 2,
        (d(n) * syy - sy * sy).cast("double") /
          (d(n) * (d(n) - d(lit(1)))).cast("double") / lit(10000.0))
    val withMoments = s.select(
      coalesce(col("na"), lit(0L)).as("n_a"),
      coalesce(col("nb"), lit(0L)).as("n_b"),
      meanOf(col("sa"), col("na")).as("mean_a"),
      meanOf(col("sb"), col("nb")).as("mean_b"),
      varOf(col("na"), col("sa"), col("ssa")).as("var_a"),
      varOf(col("nb"), col("sb"), col("ssb")).as("var_b"))

    val vna = col("var_a") / col("n_a").cast("double")
    val vnb = col("var_b") / col("n_b").cast("double")
    val se2 = vna + vnb
    withMoments.select(col("n_a"), col("n_b"),
      col("mean_a"), col("mean_b"), col("var_a"), col("var_b"),
      when(se2 > 0d,
        (col("mean_a") - col("mean_b")) / sqrt(se2)).as("t_stat"),
      when(se2 > 0d && col("n_a") >= 2 && col("n_b") >= 2,
        se2 * se2 / (vna * vna / (col("n_a").cast("double") - 1.0) +
          vnb * vnb / (col("n_b").cast("double") - 1.0)))
        .as("welch_df"))
  }

  /** Calibration curve + expected calibration error (the reliability
    * diagram behind every "is this classifier's 0.9 really a 90%?"
    * check — Naeini et al. AAAI'15 formulation): bin predictions into
    * `nBins` equal-width probability bins, compare each bin's mean
    * predicted confidence with its observed positive rate, and weight
    * the gaps into one ECE number.
    *
    * Determinism contract: `score` must already be QUANTIZED to
    * 1/`scale` units (e.g. [[QualityModel.scoreCol]]'s 1e-4 sigmoid) —
    * then every aggregate here is an exact integer (si = score·scale,
    * bin = si·nBins div scale, Σsi, Σy, and the ECE numerator
    * Σ_b |pos_b·scale − Σsi_b|), and each output double is ONE
    * division of exact integers, reproducible under any partitioning
    * and in any engine. A float mean of raw sigmoids could never
    * hash-match.
    *
    * Scale shape: one keyed aggregation to ≤ nBins rows, one scalar
    * pass over them. Output: (bin, n, mean_conf, obs_rate, ece) rows
    * ordered by bin, `ece` constant across rows.
    */
  def calibrationBins(scored: DataFrame, score: Column, label: Column,
      nBins: Int = 10, scale: Long = 10000L): DataFrame = {
    require(nBins > 0 && scale > 0, "need nBins > 0 and scale > 0")
    val si = round(score * scale).cast("long")
    val binned = scored
      .select(si.as("si"), label.cast("long").as("y"))
      .where(col("si").isNotNull && col("y").isNotNull)
      .withColumn("bin",
        least(expr(s"(si * $nBins) div ${scale}L"), lit(nBins - 1L)))
    val agg = binned.groupBy("bin").agg(
      count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
      sum(col("si")).as("s_conf"))
    val tot = agg.agg(
      sum(abs(col("n_pos") * scale - col("s_conf"))).as("num"),
      sum(col("n")).as("nn"))
    val ece = tot.select(
      (col("num").cast("double") /
        (lit(scale) * col("nn")).cast("double")).as("ece"))
    agg.select(col("bin"), col("n"),
        (col("s_conf").cast("double") /
          (lit(scale) * col("n")).cast("double")).as("mean_conf"),
        (col("n_pos").cast("double") / col("n").cast("double"))
          .as("obs_rate"))
      .crossJoin(broadcast(ece))
      .orderBy("bin")
  }

  /** Two-sample distribution drift of a fixed-precision numeric
    * column, each group against the complement of the corpus: exact
    * Kolmogorov–Smirnov statistic and exact 1-Wasserstein (earth
    * mover) distance between the group's value distribution and the
    * rest's.
    *
    * Scale shape: values are snapped to an integer grid (`cents`
    * units per 1.0 — the corpus doubles carry ≤2 decimals, so
    * cents=100 is lossless), which makes the distinct-value DOMAIN
    * bounded by the value range × cents regardless of row count. One
    * corpus-sized keyed aggregation collapses rows to (group, grid
    * value) counts; everything after runs on the dense
    * |groups|×|domain| frame — grid-sized, not corpus-sized — so the
    * per-group cumulative windows never sort data rows. At 100 TB the
    * only corpus-sized job is the first count shuffle.
    *
    * Determinism: both statistics are computed as exact BIGINT
    * numerators over the common denominator n_a·n_b —
    *   KS = max_v |cumA_v·n_b − cumB_v·n_a| / (n_a·n_b)
    *   W1 = Σ_v gap_v·|cumA_v·n_b − cumB_v·n_a| / (cents·n_a·n_b)
    * (gap_v = grid distance to the next pooled value) — and each
    * output double is ONE cast/division of exact integers,
    * reproducible under any partitioning and in any engine.
    *
    * Output: (group, n_a, n_b, ks, w1) ordered by group.
    */
  def distributionDrift(df: DataFrame, groupCol: String,
      valueCol: String, cents: Int = 100): DataFrame = {
    require(cents >= 1, "cents must be >= 1")
    val perGV = df
      .where(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("g"),
        round(col(valueCol) * cents).cast("long").as("vc"))
      .groupBy("g", "vc").agg(count(lit(1)).as("c"))
    val perV = perGV.groupBy("vc").agg(sum(col("c")).as("cv"))
    val groups = perGV.groupBy("g").agg(sum(col("c")).as("n_a"))
    val tot = perGV.agg(sum(col("c")).as("n_tot"))
    val frame = groups
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(perV))
      .join(perGV, Seq("g", "vc"), "left")
      .na.fill(0L, Seq("c"))
    val w = Window.partitionBy("g").orderBy("vc")
    val scored = frame
      .withColumn("n_b", col("n_tot") - col("n_a"))
      .withColumn("cum_a", sum(col("c")).over(w))
      .withColumn("cum_b", sum(col("cv")).over(w) - col("cum_a"))
      .withColumn("diff",
        abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
      .withColumn("gap",
        coalesce(lead(col("vc"), 1).over(w) - col("vc"), lit(0L)))
    scored
      .groupBy(col("g"), col("n_a"), col("n_b"))
      .agg(max(col("diff")).as("ks_num"),
        sum(col("gap") * col("diff")).as("w1_num"))
      .select(col("g"), col("n_a"), col("n_b"),
        (col("ks_num").cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("ks"),
        (col("w1_num").cast("double") /
          (col("n_a") * col("n_b") * cents).cast("double")).as("w1"))
      .orderBy("g")
  }

  /** Jensen–Shannon divergence of each group's TOKEN distribution
    * against the complement of the corpus — the discrete-distribution
    * sibling of [[distributionDrift]] (which covers numeric columns):
    * "does this slice's vocabulary usage differ from everyone
    * else's". JSD is symmetric, bounded in [0, ln 2], and defined
    * even where supports differ — exactly what raw KL is not.
    *
    * Scale shape: one corpus-sized (group, token) count shuffle; all
    * later joins run on the |groups|×|vocab| frame (vocabulary-sized,
    * never corpus rows), with the group-total and grand-total sides
    * broadcast. No per-group list is ever collected.
    *
    * Determinism: each token's contribution
    *   x_t = p·ln(2p/(p+q)) + q·ln(2q/(p+q))   (absent side ⇒ 0)
    * is computed from the same four BIGINTs in either engine, then
    * QUANTIZED to integer 1e-12 units; the quantized contributions
    * are summed as DECIMAL(38,0) — exact and order-invariant, the
    * scalable alternative to the sorted-fold recipe of the per-doc
    * entropy query (a per-group fold would collect vocabulary-sized
    * lists). One double cast/division at the end.
    *
    * Output: (g, n_tokens, n_rest, vocab, jsd) ordered by group.
    */
  def tokenJsDrift(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val perGV = docs
      .where(col(groupCol).isNotNull && col(textCol).isNotNull)
      .select(col(groupCol).as("g"),
        explode(Dedup.tokens(col(textCol))).as("tok"))
      .groupBy("g", "tok").agg(count(lit(1)).as("c"))
    val perV = perGV.groupBy("tok").agg(sum(col("c")).as("cv"))
    val groups = perGV.groupBy("g").agg(sum(col("c")).as("n_a"))
    val tot = perGV.agg(sum(col("c")).as("n_tot"))
    val frame = perV
      .crossJoin(broadcast(groups))
      .crossJoin(broadcast(tot))
      .join(perGV, Seq("g", "tok"), "left")
      .na.fill(0L, Seq("c"))
    val p = col("c").cast("double") / col("n_a").cast("double")
    val q = (col("cv") - col("c")).cast("double") /
      (col("n_tot") - col("n_a")).cast("double")
    val x =
      when(col("c") > 0, p * log(lit(2.0) * p / (p + q)))
        .otherwise(lit(0.0)) +
      when(col("cv") - col("c") > 0, q * log(lit(2.0) * q / (p + q)))
        .otherwise(lit(0.0))
    frame
      .withColumn("__fp", round(x * 1e12).cast("long")
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      .groupBy(col("g"), col("n_a").as("n_tokens"),
        (col("n_tot") - col("n_a")).as("n_rest"))
      .agg(sum(when(col("c") > 0, 1L).otherwise(0L)).as("vocab"),
        sum(col("__fp")).as("__s"))
      .select(col("g"), col("n_tokens").cast("long"),
        col("n_rest").cast("long"), col("vocab").cast("long"),
        (col("__s").cast("double") / 2e12).as("jsd"))
      .orderBy("g")
  }

  /** Per-group label-distribution entropy — "how domain-balanced is
    * each output shard": for every group, H = −Σ p ln p over its
    * label (source/domain) mix, in nats. Uniform mix over k labels
    * gives ln k; a single-label shard gives 0.
    *
    * Scale shape: one (group, label) count aggregation (map-side
    * combined), then all arithmetic runs on the |groups|×|labels|
    * frame with the group totals joined back — never a per-group
    * collect. Each −p ln p term is quantized to 1e-12 units from the
    * same two BIGINTs in either engine and summed exactly (the
    * [[tokenJsDrift]] recipe).
    *
    * Output: (g, n_rows, n_labels, entropy) ordered by group.
    */
  def groupEntropy(df: DataFrame, groupCol: String,
      labelCol: String): DataFrame = {
    val counts = df
      .where(col(groupCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(labelCol).as("lab"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("g").agg(sum(col("c")).as("n"))
    val p = col("c").cast("double") / col("n").cast("double")
    counts.join(totals, Seq("g"))
      .withColumn("__fp",
        round(-p * log(p) * 1e12).cast("long")
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      .groupBy(col("g"), col("n"))
      .agg(count(lit(1)).cast("long").as("n_labels"),
        sum(col("__fp")).as("__s"))
      .select(col("g"), col("n").cast("long").as("n_rows"),
        col("n_labels"),
        (col("__s").cast("double") / 1e12).as("entropy"))
      .orderBy("g")
  }

  /** Two-proportion z-test (pooled) — the categorical A/B
    * counterpart of [[welchTTest]]: does arm A convert at a
    * different rate than arm B? z = (p̂_a − p̂_b) /
    * √(p̂(1−p̂)(1/n_a + 1/n_b)) with p̂ the pooled rate.
    *
    * `df` carries one row per UNIT (user — already aggregated to
    * the unit of analysis, the same correctness constraint
    * welchTTest documents) with a boolean arm and a boolean
    * outcome. One scalar aggregation; all counts exact BIGINTs, and
    * the z expression uses only +,−,×,÷,√ (every one correctly
    * rounded under IEEE 754), so the raw doubles are engine-portable
    * with no quantization.
    *
    * Output (one row): n_a, conv_a, n_b, conv_b, p_a, p_b, z (null
    * when either arm is empty or the pooled rate is degenerate 0/1).
    */
  def twoProportionZ(df: DataFrame, armACol: Column,
      convertedCol: Column): DataFrame = {
    val agg = df
      .select(armACol.cast("boolean").as("a"),
        convertedCol.cast("boolean").as("c"))
      .where(col("a").isNotNull && col("c").isNotNull)
      .agg(
        sum(col("a").cast("long")).as("n_a"),
        sum((col("a") && col("c")).cast("long")).as("conv_a"),
        sum((!col("a")).cast("long")).as("n_b"),
        sum((!col("a") && col("c")).cast("long")).as("conv_b"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val pa = col("conv_a").cast("double") / na
    val pb = col("conv_b").cast("double") / nb
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb))
    agg.select(col("n_a").cast("long"), col("conv_a").cast("long"),
      col("n_b").cast("long"), col("conv_b").cast("long"),
      pa.as("p_a"), pb.as("p_b"),
      when(col("n_a") > 0 && col("n_b") > 0 && pp > 0 && pp < 1,
        (pa - pb) / se).as("z"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between a group and its
    * complement, per group — the NONPARAMETRIC drift/shift test the
    * KS/Wasserstein pair ([[distributionDrift]]) doesn't give a
    * significance for: does this slice's value distribution
    * stochastically dominate the rest's?
    *
    * Exactness: values snap to the cent grid (the
    * [[distributionDrift]] contract), midranks over the merged
    * sample are kept as EXACT integers in 2× units (a tied block
    * spanning ranks lo..hi has midrank (lo+hi)/2 — doubling clears
    * the half), so U arrives as an exact BIGINT in 2× units. The
    * normal approximation z uses the tie-corrected variance —
    * doubles from exact integers, √ and ÷ only.
    *
    * Scale shape: one corpus-sized (group, cents) count shuffle;
    * ranks come from the VALUE-DOMAIN frame (complement counts per
    * cents value via a global-total broadcast), never a row-level
    * sort. Output per group: (g, n_a, n_b, u2 [2× units], z).
    */
  def mannWhitneyU(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val counts = df
      .where(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("g"),
        round(col(valueCol).cast("double") * 100).cast("long")
          .as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
    val perV = counts.groupBy("v").agg(sum(col("c")).as("cv"))
    val totals = counts.groupBy("g").agg(sum(col("c")).as("n_a"))
    val grand = counts.agg(sum(col("c")).as("n_tot"))
    // group ∪ complement = the whole corpus for EVERY group, so the
    // merged-sample midrank of a value is GLOBAL: one window over
    // the value domain (|distinct cents| rows, never corpus rows)
    // serves every group's rank sum.
    // |buckets|-row window: single partition is the point
    val w = org.apache.spark.sql.expressions.Window.orderBy("v")
      .rowsBetween(Long.MinValue, -1)
    val ranked = perV
      .withColumn("below", coalesce(sum(col("cv")).over(w), lit(0L)))
      // 2× midrank of the tied block at v: 2·below + cv + 1
      .withColumn("r2", lit(2) * col("below") + col("cv") + lit(1))
    val joined = counts.join(ranked, Seq("v"))
    val perG = joined.groupBy("g")
      .agg(sum(col("c").cast(D38) * col("r2").cast(D38)).as("rsum2"),
        sum(col("c")).as("na"))
    val tieTerm = perV
      .agg(sum(col("cv").cast(D38) * col("cv") * col("cv") -
        col("cv").cast(D38)).as("t3"))
    perG.crossJoin(broadcast(grand)).crossJoin(broadcast(tieTerm))
      .select(col("g"), col("na").cast("long").as("n_a"),
        (col("n_tot") - col("na")).cast("long").as("n_b"),
        // U in 2x units: rsum2 − na(na+1) (since 2·[R − na(na+1)/2])
        (col("rsum2") - col("na").cast(D38) *
          (col("na") + 1)).cast("long").as("u2"),
        {
          val na = col("na").cast("double")
          val nb = (col("n_tot") - col("na")).cast("double")
          val n = col("n_tot").cast("double")
          val u = (col("rsum2") - col("na").cast(D38) *
            (col("na") + 1)).cast("double") / 2.0
          val mean = na * nb / 2.0
          val varU = na * nb / 12.0 *
            ((n + 1.0) - col("t3").cast("double") / (n * (n - 1.0)))
          when(col("na") > 0 && col("n_tot") > col("na") && varU > 0,
            (u - mean) / sqrt(varU)).as("z")
        })
      .orderBy("g")
  }

  /** Cohen's kappa between two boolean raters — chance-corrected
    * agreement for filter-pipeline audits ("is my learned quality
    * classifier just re-deriving the length heuristic?"). κ = 1 is
    * redundant signals, κ ≈ 0 independent ones.
    *
    * One aggregation over the corpus; κ is computed from the four
    * exact confusion counts in one double division:
    * κ = (n·(a+d) − (r₁c₁ + r₂c₂)) / (n² − (r₁c₁ + r₂c₂)).
    * Output (one row): n, both_pos, both_neg, only_a, only_b, kappa
    * (null when the denominator is 0 — a constant rater).
    */
  def cohenKappa(df: DataFrame, aCol: Column,
      bCol: Column): DataFrame = {
    val conf = df
      .select(aCol.cast("boolean").as("a"), bCol.cast("boolean").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum((col("a") && col("b")).cast("long")).as("both_pos"),
        sum((!col("a") && !col("b")).cast("long")).as("both_neg"),
        sum((col("a") && !col("b")).cast("long")).as("only_a"),
        sum((!col("a") && col("b")).cast("long")).as("only_b"))
    val r1 = col("both_pos") + col("only_a")
    val r2 = col("only_b") + col("both_neg")
    val c1 = col("both_pos") + col("only_b")
    val c2 = col("only_a") + col("both_neg")
    val pe = r1 * c1 + r2 * c2
    val den = col("n") * col("n") - pe
    conf.select(col("n").cast("long"),
      col("both_pos").cast("long"), col("both_neg").cast("long"),
      col("only_a").cast("long"), col("only_b").cast("long"),
      when(den > 0,
        (col("n") * (col("both_pos") + col("both_neg")) - pe)
          .cast("double") / den.cast("double")).as("kappa"))
  }

  /** Multi-class classification report — per-class confusion-derived
    * precision / recall / F1 plus micro accuracy, the evaluation
    * table every labeler/filter in the pipeline (language-ID, quality
    * classes, source routing) gets scored with. [[cohenKappa]] is the
    * two-rater agreement number; this is the per-class truth-vs-
    * prediction breakdown.
    *
    * All counts are exact BIGINTs from one (truth, pred)-keyed
    * aggregation (key space = |classes|² — flat at any corpus size,
    * map-side combined); every ratio is ONE double division of exact
    * integers — F1 as 2·tp/(n_true + n_pred), never the p·r
    * composition, so engines can't diverge on an intermediate.
    * Classes appearing only as truth or only as prediction still get
    * a row (counts 0 on the missing side; ratios null on 0
    * denominators). Rows with a null truth or prediction are
    * excluded.
    *
    * Output: (class, n_true, n_pred, tp, precision, recall, f1,
    * accuracy) ordered by class — accuracy is the scalar micro
    * accuracy Σtp/n repeated per row.
    */
  def classificationReport(df: DataFrame, truthCol: Column,
      predCol: Column): DataFrame = {
    val base = df
      .select(truthCol.cast("string").as("t"),
        predCol.cast("string").as("p"))
      .where(col("t").isNotNull && col("p").isNotNull)
    val conf = base.groupBy("t", "p").agg(count(lit(1)).as("c"))
    val byTrue = conf.groupBy("t").agg(sum(col("c")).as("n_true"))
    val byPred = conf.groupBy("p").agg(sum(col("c")).as("n_pred"))
    val tp = conf.where(col("t") === col("p"))
      .select(col("t").as("cls"), col("c").as("tp"))
    val classes = byTrue.select(col("t").as("cls"))
      .union(byPred.select(col("p").as("cls"))).distinct()
    val tot = conf.agg(sum(col("c")).as("n"),
      sum(when(col("t") === col("p"), col("c")).otherwise(0L))
        .as("tp_sum"))
    val nTrue = coalesce(col("n_true"), lit(0L))
    val nPred = coalesce(col("n_pred"), lit(0L))
    val tpC = coalesce(col("tp"), lit(0L))
    classes
      .join(byTrue.withColumnRenamed("t", "cls"), Seq("cls"), "left")
      .join(byPred.withColumnRenamed("p", "cls"), Seq("cls"), "left")
      .join(tp, Seq("cls"), "left")
      .crossJoin(broadcast(tot))
      .select(col("cls").as("class"),
        nTrue.cast("long").as("n_true"),
        nPred.cast("long").as("n_pred"),
        tpC.cast("long").as("tp"),
        when(nPred > 0, tpC.cast("double") / nPred.cast("double"))
          .as("precision"),
        when(nTrue > 0, tpC.cast("double") / nTrue.cast("double"))
          .as("recall"),
        when(nTrue + nPred > 0, (tpC * 2).cast("double") /
          (nTrue + nPred).cast("double")).as("f1"),
        (col("tp_sum").cast("double") / col("n").cast("double"))
          .as("accuracy"))
      .orderBy("class")
  }

  private def emptyReport(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    Seq((0L, 0L, 0L)).toDF("n", "n_pos", "n_neg")
      .select(col("n"), col("n_pos"), col("n_neg"),
        lit(null).cast("double").as("auc"),
        lit(null).cast("double").as("gini"),
        lit(null).cast("double").as("ks"))
  }
}
