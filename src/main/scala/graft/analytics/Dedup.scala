package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Lineage

/** Document deduplication operators (north-star extension).
  *
  * Tiers, in increasing fuzziness:
  *   1. exact        — content-hash group-by (one shuffle keyed on hash)
  *   2. ngramJaccard — exact set similarity via shingle-inverted-index
  *                      join (no O(n²) crossJoin: only pairs sharing a
  *                      shingle are materialized)
  *   3. minHashLsh   — MinHash signatures + banded LSH bucket join
  *                      (the 100 TB path: candidate generation is a
  *                      bucket equi-join, verification only on
  *                      candidates)
  *   4. simHash      — 64-bit SimHash fingerprints for hamming-distance
  *                      near-dup detection
  *   5. embeddingNearDup — cosine-threshold pairs over embeddings
  *
  * Hashing is *portable*: every hash is derived from md5 hex (a SQL
  * standard available in any oracle engine) via 30-bit universal hashing
  * `(a·h + b) mod P`, so results are reproducible outside Spark. At
  * cluster scale the md5 can be swapped for `xxhash64` (one codegen'd
  * expression, no shuffle-shape change) — the algorithms are agnostic to
  * the underlying hash family.
  */
object Dedup {

  /** Largest prime below 2^30 — keeps `a·h + b` within int64. */
  val P: Long = 1073741789L

  /** Ceiling (bytes) for the PPJoin broadcast-verify sets frame —
    * AUTO-SIZED from the memory the broadcast actually has to fit in,
    * instead of a fixed constant. The sf3 rehearsal measured q19 at
    * 190 s when an ~800 MB sets frame fell past the old fixed 256 MB
    * ceiling onto the shuffle-verify path, and 138 s once the ceiling
    * was raised by hand — the engine should make that choice itself.
    *
    * Sizing: the collected sets frame lives once on the driver (while
    * the broadcast is built) and once per executor, next to task and
    * shuffle state — so the ceiling is 1/8 of the SMALLER of the
    * driver heap and the configured executor memory, floored at the
    * old 256 MB default (small heaps keep the measured-good
    * small-scale behavior; in local mode driver and executors share
    * one JVM, so `Runtime.maxMemory` is the binding figure on both
    * counts). `spark.graft.jaccardBroadcastSetBytes` set explicitly
    * overrides the heuristic entirely.
    *
    * Unit convention: a unitless `spark.executor.memory` means MiB in
    * Spark (`byteStringAsMb`), NOT bytes — parsing `"4096"` with
    * `byteStringAsBytes` would read a 4 GiB executor as 4 KiB and
    * collapse the ceiling to the 256 MB floor. */
  private[graft] def broadcastSetBytesCeiling(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.jaccardBroadcastSetBytes")
      .map(_.toLong).getOrElse {
        val driverHeap = Runtime.getRuntime.maxMemory
        val execMem = spark.conf.getOption("spark.executor.memory")
          .flatMap(parseExecutorMemoryBytes)
          .getOrElse(driverHeap)
        math.max(268435456L, math.min(driverHeap, execMem) / 8)
      }

  /** `spark.executor.memory` → bytes, honoring Spark's MiB default for
    * unitless values ("4096" = 4096 MiB, "4g" = 4 GiB). */
  private[graft] def parseExecutorMemoryBytes(s: String): Option[Long] =
    scala.util.Try(org.apache.spark.network.util
      .JavaUtils.byteStringAsMb(s) * 1024L * 1024L).toOption

  /** Deterministic universal-hash coefficients for seed `i`. */
  def hashCoeffs(i: Int): (Long, Long) = {
    val a = (2654435761L * (i + 1)) % (P - 1) + 1
    val b = (40503L * (i + 7919)) % P
    (a, b)
  }

  /** 30-bit integer hash of a string column via md5 prefix. */
  def h30(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long") % P

  /** 60-bit integer hash via md5 prefix — portable (DuckDB:
    * `('0x' || substr(md5(s), 1, 15))::BIGINT`) and wide enough that
    * cross-doc collisions are negligible (~k²/2⁶¹ for k distinct
    * shingles). Used as the shingle join key: an 8-byte long
    * shuffles and compares cheaper than the shingle text. */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Word tokens (whitespace split of trimmed text). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct word n-gram shingles; empty array when fewer than n
    * tokens, and (for parity with the original guarded-HOF
    * formulation) empty rather than null for null text. The
    * tokenize → slide → join → dedup pipeline is the native
    * [[graft.expressions.WordNgrams]] expression — the interpreted
    * HOF version dominated every shingle-based dedup query
    * (~4 s of q19's 8 s at sf0.1 was index build alone). */
  def shingles(text: Column, n: Int): Column =
    coalesce(
      graft.expressions.WordNgrams.column(text, n, distinct = true),
      array().cast("array<string>"))

  /** 1. Exact dedup: representative (min id) per content hash. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** (doc_id, shingle) exploded pairs — the inverted index. */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), n)).as("shingle"))

  /** 2. Exact n-gram Jaccard pairs ≥ threshold, via a prefix-filtered
    * inverted-index join (the PPJoin family — Bayardo et al. WWW'07,
    * Xiao et al. WWW'08; both public).
    *
    * A naive index self-join does Σ df² work, and df grows linearly
    * with the corpus whenever the shingle space saturates (fixed
    * vocabulary, templated text) — the sf1 scale rehearsal measured
    * exactly that: 150× wall time for 10× docs. Prefix filtering
    * restores near-linear candidate generation WITHOUT changing the
    * result set: for Jaccard ≥ t, any qualifying pair must overlap in
    * at least ⌈t·|A|⌉ shingles, so the first |A| − ⌈t·|A|⌉ + 1
    * shingles of each doc under a global rarest-first (df, h) order
    * are guaranteed to collide for every qualifying pair. Only those
    * prefix postings enter the self-join; candidates are then verified
    * EXACTLY with an `array_intersect` of the full (distinct) shingle
    * sets, so the emitted rows are bit-identical to the naive join's.
    * Rarest-first ordering pushes common shingles out of prefixes,
    * which is what cuts the df² head of the join.
    *
    * The strategy is ADAPTIVE, AQE-style: Σ df² is a one-number
    * aggregate of the document-frequency frame (computed anyway for
    * the ordering), and below `spark.graft.jaccardNaiveMaxDf2`
    * (default 64 M) the plain self-join wins — prefix ranking, the
    * candidate distinct and the array verification are pure overhead
    * at small index sizes (measured +60% on the sf0.1 queries). Both
    * paths emit identical rows, so the switch is a physical-plan
    * choice, not a semantic one.
    *
    * `maxDf` (optional) additionally drops shingles appearing in more
    * than that many docs — the standard stop-shingle guard; sizes and
    * intersections then both come from the filtered universe.
    *
    * STOP-SHINGLES ARE ON BY DEFAULT. Prefix filtering makes candidate
    * GENERATION near-linear, but exact Jaccard over an unbounded
    * shingle universe is still Ω(n²) whenever the corpus saturates its
    * shingle space (the sf1→sf3 rehearsal measured 10.6× wall for 3×
    * docs): every df grows with n, so qualifying-pair VERIFICATION
    * itself is quadratic work no algorithm can avoid. The shipped
    * default is therefore the at-scale-safe semantics used by web-scale
    * dedup in practice (stop-shingle / stop-word capping — Broder '97
    * onward): when `maxDf` is not given, shingles appearing in more
    * than `max(floor, ceil(fraction·corpus))` documents are treated as
    * boilerplate and excluded from the Jaccard universe, with
    *   floor    = spark.graft.jaccardStopShingleFloor    (default 64)
    *   fraction = spark.graft.jaccardStopShingleFraction (default 0.01)
    * The floor keeps small corpora (< ~6.4k docs) on effectively-exact
    * semantics — a shingle in 64+ docs there is pure boilerplate — and
    * the fraction keeps the candidate join linear at scale. Callers
    * needing the UNBOUNDED exact semantics opt out explicitly with
    * `autoStopShingles = false` (or pass their own `maxDf`), accepting
    * the documented quadratic verification cost.
    *
    * The returned frame is checkpoint-materialized (reading it
    * triggers no recompute and no cache bookkeeping); the internal
    * shingle index is released before returning.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDf: Option[Int] = None,
      autoStopShingles: Boolean = true): DataFrame =
    ngramJaccardPairsImpl(docs, idCol, textCol, n, threshold, maxDf,
      autoStopShingles, abortBudget = None).get

  /** [[ngramJaccardPairs]] that ABORTS (returns None, one scalar job
    * spent) when the capped Σ df² exceeds `abortBudget` — the
    * [[nearDups]] auto-router's exact-tier probe. Threading the
    * budget here instead of pre-pricing in the router means the
    * shingle index and the strategy statistics are built ONCE and
    * reused by the exact tier when it qualifies (the r15 bench
    * measured the separate pre-pricing pass costing q239 ~2× the
    * plain q19 run at sf1). */
  private def ngramJaccardPairsImpl(docs: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double, maxDf: Option[Int],
      autoStopShingles: Boolean,
      abortBudget: Option[Long],
      knownCount: Option[Long] = None): Option[DataFrame] = {
    val conf = docs.sparkSession.conf
    val effMaxDf: Option[Int] = maxDf.orElse {
      if (!autoStopShingles) None
      else {
        val floor = conf.get("spark.graft.jaccardStopShingleFloor", "64").toInt
        val fraction =
          conf.get("spark.graft.jaccardStopShingleFraction", "0.01").toDouble
        // one count-star over the input (parquet scans answer it from
        // footer metadata); the cap must exist before the df filter —
        // the auto router already counted for its maxDocs gate and
        // threads that count in, so the probe path scans once
        val nDocs = knownCount.getOrElse(docs.count())
        Some(math.max(floor.toLong, math.ceil(fraction * nDocs).toLong)
          .min(Int.MaxValue).toInt)
      }
    }
    // the index feeds both sides of the pair self-join — persist it so
    // the explode+hash runs once, not once per join side (unpersisted
    // after the result is materialized below). The join/groupBy key is
    // the 60-bit [[h60]] of the shingle, not the shingle text: an
    // 8-byte long halves the exchange payload and compares cheaper,
    // and a cross-doc collision (which would inflate `inter` by 1) has
    // probability ~k²/2⁶¹. The oracle joins on the same hash.
    val sh0 = shingleIndex(docs, idCol, textCol, n)
      .select(col("doc_id"), h60(col("shingle")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfm0 = sh0.groupBy("h").agg(count(lit(1)).as("df"))
    // strategy + cap statistics in ONE scalar job over the df frame:
    // the naive self-join's collision row count (Σ df², within-cap),
    // the posting count (sizes the verify-side broadcast), and the
    // LARGEST OBSERVED df. A cap no shingle exceeds is dropped
    // entirely (capActive=false): semantics are identical either way,
    // and the uncapped plan skips the df-filter join and takes the
    // narrow set-size projection — measured 2× on q19 at sf0.1, where
    // the default cap (64) never binds (max df 25).
    val inCap = effMaxDf
      .map(m => col("df") <= lit(m.toLong)).getOrElse(lit(true))
    val statsRow = dfm0.agg(
      coalesce(sum(when(inCap, col("df") * col("df"))), lit(0L)),
      coalesce(sum(when(inCap, col("df"))), lit(0L)),
      coalesce(max(col("df")), lit(0L))).collect()(0)
    val cost = statsRow.getLong(0)
    if (abortBudget.exists(cost > _)) {
      sh0.unpersist(false)
      return None
    }
    val nPostings = statsRow.getLong(1)
    val capActive = effMaxDf.exists(m => statsRow.getLong(2) > m)
    val dfm = if (capActive) dfm0.filter(col("df") <= effMaxDf.get)
      else dfm0
    // set sizes and pair intersections must reflect the SAME shingle
    // universe: with a df cap both come from the filtered index
    // (otherwise jaccard is systematically underestimated and exact
    // duplicates dominated by common shingles are missed); without a
    // cap the (already-distinct) array size is a narrow projection
    // needing no re-explode, and the postings need no df join at all
    // on the naive path
    lazy val sh = sh0.join(dfm, Seq("h"))
    val sizes =
      if (capActive)
        sh.groupBy("doc_id").agg(count(lit(1)).as("set_size"))
      else
        docs.select(col(idCol).as("doc_id"),
          size(shingles(col(textCol), n)).cast("long").as("set_size"))
    val naiveMax = docs.sparkSession.conf
      .get("spark.graft.jaccardNaiveMaxDf2", "64000000").toLong
    val result =
      if (cost <= naiveMax) {
        val post = if (capActive) sh.select("doc_id", "h") else sh0
        val pairs = post.as("a").join(post.as("b"), Seq("h"))
          .filter(col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("inter"))
        pairs
          .join(sizes.withColumnRenamed("doc_id", "id_a")
            .withColumnRenamed("set_size", "size_a"), Seq("id_a"))
          .join(sizes.withColumnRenamed("doc_id", "id_b")
            .withColumnRenamed("set_size", "size_b"), Seq("id_b"))
          .withColumn("jaccard", col("inter").cast("double") /
            (col("size_a") + col("size_b") - col("inter")).cast("double"))
          .filter(col("jaccard") >= threshold)
          .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
      } else {
        val wRank = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("df"), col("h"))
        val wDoc = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
        // rarest-first prefix: first sz − ⌈t·sz⌉ + 1 shingles per doc,
        // each carrying its rank and the doc's set size for the
        // per-collision filters below
        val prefix = sh
          .withColumn("rk", row_number().over(wRank))
          .withColumn("sz", count(lit(1)).over(wDoc))
          .filter(col("rk") <=
            col("sz") - ceil(col("sz") * threshold) + lit(1L))
          .select("doc_id", "h", "rk", "sz")
        // collision-level pruning (both complete for J ≥ t; proofs in
        // the PPJoin papers, sketched here):
        //  • size filter: J ≥ t ⇒ inter ≥ t·max(szA,szB) and
        //    inter ≤ min(szA,szB), so min ≥ t·max.
        //  • positional filter: the FIRST common shingle (global
        //    rarest-first order) at ranks (pa, pb) bounds the overlap
        //    by 1 + min(szA−pa, szB−pb); a qualifying pair needs
        //    overlap ≥ α = ⌈t/(1+t)·(szA+szB)⌉, and that first common
        //    shingle provably sits inside both prefixes (pa ≤ szA −
        //    inter + 1 ≤ szA − ⌈t·szA⌉ + 1), so at least one
        //    surviving collision row remains for every true pair.
        val alpha = ceil((col("a.sz") + col("b.sz"))
          * lit(threshold / (1.0 + threshold)))
        val cand = prefix.as("a").join(prefix.as("b"), Seq("h"))
          .filter(col("a.doc_id") < col("b.doc_id"))
          .filter(least(col("a.sz"), col("b.sz")) >=
            greatest(col("a.sz"), col("b.sz")) * threshold)
          .filter(lit(1) + least(col("a.sz") - col("a.rk"),
            col("b.sz") - col("b.rk")) >= alpha)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        // exact verification: intersect the full (distinct-shingle)
        // sets per candidate. The sets frame is postings-sized (one
        // array cell per posting), so up to the broadcast ceiling it
        // BROADCASTS and verification is map-side: no shuffle ever
        // carries a doc-sized array per candidate, and the candidate
        // distinct (measured multiplicity ~1.05 — most pairs collide
        // on exactly one prefix shingle) collapses to a cheap
        // distinct of the small verified output instead. Beyond the
        // ceiling the sets join falls back to shuffle joins with a
        // pre-distinct so each pair ships its arrays once. The
        // ceiling AUTO-SIZES from the JVM heap (see
        // [[broadcastSetBytesCeiling]]) — the sf3 rehearsal measured
        // q19 at 190 s on the shuffle-verify path vs 138 s broadcast,
        // purely because a fixed 256 MB ceiling under-used a 12 GB
        // heap; `spark.graft.jaccardBroadcastSetBytes` remains the
        // explicit override.
        val sets = sh.groupBy("doc_id").agg(
          collect_list(col("h")).as("hs"), count(lit(1)).as("set_size"))
        val bcastMax = broadcastSetBytesCeiling(docs.sparkSession)
        val smallSets = nPostings * 16 <= bcastMax
        val setsA = sets.select(col("doc_id").as("id_a"),
          col("hs").as("hs_a"), col("set_size").as("size_a"))
        val setsB = sets.select(col("doc_id").as("id_b"),
          col("hs").as("hs_b"), col("set_size").as("size_b"))
        val verified = (if (smallSets)
            cand.join(broadcast(setsA), Seq("id_a"))
              .join(broadcast(setsB), Seq("id_b"))
          else
            cand.distinct().join(setsA, Seq("id_a")).join(setsB, Seq("id_b")))
          .withColumn("inter",
            size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
          .withColumn("jaccard", col("inter").cast("double") /
            (col("size_a") + col("size_b") - col("inter")).cast("double"))
          .filter(col("jaccard") >= threshold)
          .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
        // duplicate collision rows (skipped pre-distinct) produce
        // bit-identical verified rows — dedup the small result
        if (smallSets) verified.distinct() else verified
      }
    // stage the (small) pair result while the index is still cached,
    // then release the index — see [[graft.util.Lineage.materialize]]
    // for why this must be a lineage-cutting checkpoint, not
    // persist+count
    val out = Lineage.materialize(result)
    sh0.unpersist(false)
    Some(out)
  }

  /** Consumer-grade near-duplicate entry point: ONE call that routes
    * to the scale-appropriate tier — exact n-gram Jaccard
    * ([[ngramJaccardPairs]]), MinHash+LSH ([[minHashLshCandidates]]),
    * or SimHash multi-block Hamming ([[simHashNearDups]]) — so a user
    * gets the scale-safe plan without reading three scaladocs.
    *
    * All tiers emit the SAME schema: (id_a, id_b, score, method) with
    * id_a < id_b, score in [0,1] (exact Jaccard / estimated Jaccard /
    * 1 − hamming÷64), method naming the tier that ran.
    *
    * `strategy = "auto"` selects from statistics that are free or
    * one-linear-job at the scale where they are consulted:
    *
    *  1. `nDocs = docs.count()` (parquet answers from footers). Above
    *     `spark.graft.nearDupsExactMaxDocs` (default 1,000,000) the
    *     exact tier is not even measured — its Σ df² stats pass costs
    *     a full shingle explode, and at that corpus size exact
    *     verification is the documented quadratic risk. Routing:
    *     `threshold ≥ spark.graft.nearDupsSimhashMinThreshold`
    *     (default 0.9, the near-identical regime where hamming ≤ 3
    *     on 64-bit simhash is the standard detector) → "simhash"
    *     (map-only fingerprints + one bucket join); otherwise →
    *     "lsh" (linear candidate generation, estimated-Jaccard
    *     scoring at the caller's threshold).
    *  2. At or below the doc ceiling, the exact tier PRICES ITSELF:
    *     [[ngramJaccardPairs]]'s own strategy-stats job (Σ df² with
    *     the auto stop-shingle cap) runs with an abort budget of
    *     `spark.graft.nearDupsExactMaxDf2` (default 256 M collision
    *     rows — the sf3 rehearsal ran 513 M in 75 s, so 256 M keeps
    *     the tier comfortably under a minute on one node). Within
    *     budget → "exact", with the already-built shingle index
    *     reused (no pre-pricing pass — the r15 bench measured a
    *     separate pricing pass costing ~2× plain q19 at sf1); beyond
    *     it the corpus has saturated its shingle space, the probe
    *     aborts after one scalar job, and the threshold routing of
    *     (1) applies.
    *
    * Explicit `strategy = "exact" | "lsh" | "simhash"` bypasses
    * selection. The LSH tier keeps its own shingle width (`lshN`,
    * default 3) and 32×16 signature layout; the simhash tier detects
    * hamming ≤ `simhashMaxHamming` (default 3) regardless of
    * `threshold` — near-identity is its contract.
    */
  def nearDups(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, strategy: String = "auto",
      lshN: Int = 3, simhashMaxHamming: Int = 3): DataFrame = {
    require(Set("auto", "exact", "lsh", "simhash")(strategy),
      s"unknown near-dup strategy '$strategy'")
    val conf = docs.sparkSession.conf
    def exactOut(d: DataFrame): DataFrame =
      d.select(col("id_a"), col("id_b"), col("jaccard").as("score"))
        .withColumn("method", lit("exact"))
    def lshOut(): DataFrame =
      minHashLshCandidates(docs, idCol, textCol, lshN)
        .filter(col("est_jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("est_jaccard").as("score"))
        .withColumn("method", lit("lsh"))
    def simhashOut(): DataFrame =
      simHashNearDups(docs, idCol, textCol, simhashMaxHamming)
        .select(col("id_a"), col("id_b"),
          (lit(1.0) - col("hamming").cast("double") / 64.0).as("score"))
        .withColumn("method", lit("simhash"))
    def bigCorpusTier(): DataFrame = {
      val simhashMinT = conf
        .get("spark.graft.nearDupsSimhashMinThreshold", "0.9").toDouble
      if (threshold >= simhashMinT) simhashOut() else lshOut()
    }
    strategy match {
      case "exact" => exactOut(
        ngramJaccardPairs(docs, idCol, textCol, n, threshold))
      case "lsh" => lshOut()
      case "simhash" => simhashOut()
      case "auto" =>
        val maxDocs =
          conf.get("spark.graft.nearDupsExactMaxDocs", "1000000").toLong
        val maxDf2 =
          conf.get("spark.graft.nearDupsExactMaxDf2", "256000000").toLong
        val nDocs = docs.count()
        if (nDocs > maxDocs) bigCorpusTier()
        else
          // the exact tier prices itself: its own strategy-stats job
          // doubles as the router (abort = one scalar job, no work
          // repeated when it qualifies); the maxDocs count is threaded
          // through so the stop-shingle cap doesn't recount
          ngramJaccardPairsImpl(docs, idCol, textCol, n, threshold,
            maxDf = None, autoStopShingles = true,
            abortBudget = Some(maxDf2), knownCount = Some(nDocs)) match {
            case Some(d) => exactOut(d)
            case None => bigCorpusTier()
          }
    }
  }

  /** MinHash signature: for seed i, min over the shingle set of the
    * universal hash `(a_i·h30(shingle) + b_i) mod P`. Docs with fewer
    * than n tokens have no signature (empty shingle set).
    */
  def minHashSignature(docs: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame = {
    val sh = shingleIndex(docs, idCol, textCol, n)
      .withColumn("h", h30(col("shingle")))
    val aggs = (0 until numHashes).map { i =>
      val (a, b) = hashCoeffs(i)
      min((col("h") * a + b) % P).as(s"mh_$i")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Banded LSH bucket keys of a [[minHashSignature]] frame:
    * (doc_id, band, bkey) — `bkey` is the band's signature slice
    * joined as a string (no second-level hash, oracle-reproducible).
    * Shared by the batch candidate generator and the streaming
    * incremental path, which derives OLD-side buckets from the stored
    * signature state instead of rescanning old documents. */
  def bandBuckets(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sig.select(col("doc_id"), explode(array(
      (0 until bands).map { bnd =>
        struct(lit(bnd).as("band"),
          concat_ws("-", (bnd * rows until (bnd + 1) * rows)
            .map(i => col(s"mh_$i")): _*).as("bkey"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))
  }

  /** A [[minHashSignature]] frame with `doc_id` renamed to `idName`
    * and every `mh_i` column prefixed `p_mh_i` — the join-ready shape
    * for [[sigAgreement]] verification. Shared by the batch candidate
    * generator and the streaming incremental path so the estimated-
    * Jaccard definition lives in exactly one place. */
  def sigPrefixed(sig: DataFrame, p: String, idName: String): DataFrame =
    sig.toDF(sig.columns.map(c =>
      if (c == "doc_id") idName else s"${p}_$c"): _*)

  /** Estimated Jaccard between two [[sigPrefixed]] signature sides:
    * the fraction of agreeing signature positions. */
  def sigAgreement(numHashes: Int, pa: String, pb: String): Column =
    (0 until numHashes)
      .map(i => (col(s"${pa}_mh_$i") === col(s"${pb}_mh_$i"))
        .cast("int"))
      .reduce(_ + _).cast("double") / numHashes

  /** 3. MinHash + banded LSH candidate pairs with signature-estimated
    * Jaccard. `numHashes` must be divisible by `bands`. Candidate
    * generation is an equi-join on (band, band-key) — the band key is
    * the band's signature slice itself (joined as a string), so no
    * second-level hash is needed and the oracle can reproduce it.
    * The returned frame is checkpoint-materialized (see
    * [[ngramJaccardPairs]]).
    */
  def minHashLshCandidates(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 3, numHashes: Int = 32,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    // signatures are read four times (both band-join sides, both
    // verification sides) and are tiny relative to the corpus
    // (numHashes longs per doc) — persist instead of recomputing the
    // shingle explode + hash + 32-way min aggregation each time
    val sig = minHashSignature(docs, idCol, textCol, n, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val buckets = bandBuckets(sig, numHashes, bands)
    val cand = buckets.as("a").join(buckets.as("b"), Seq("band", "bkey"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

    // estimated jaccard = fraction of agreeing signature positions
    val sigA = sigPrefixed(sig, "a", "id_a")
    val sigB = sigPrefixed(sig, "b", "id_b")
    val result = Lineage.materialize(
      cand.join(sigA, Seq("id_a")).join(sigB, Seq("id_b"))
        .withColumn("est_jaccard", sigAgreement(numHashes, "a", "b"))
        .select("id_a", "id_b", "est_jaccard"))
    sig.unpersist(false)
    result
  }

  /** 64-bit SimHash of one text value as a 16-char hex string — the
    * native [[graft.expressions.SimHash64]] expression: per-row
    * compiled code, zero exchange. */
  def simHashHex(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.SimHash64(
        org.apache.spark.sql.graft.ColumnBridge.expression(text)))

  /** 4. SimHash fingerprints for a corpus — map-only ([[simHashHex]]
    * per row; the round-1 shape exploded tokens into a 64-aggregate
    * groupBy, shuffling the entire token stream for what is a per-row
    * computation). Null-text docs are dropped, matching the
    * explode+groupBy formulation (and the oracle), where a null token
    * array produced no rows to aggregate.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        simHashHex(col(textCol)).as("simhash_hex"))

  /** 4b. SimHash hamming near-dup PAIRS — completes the simhash tier
    * (fingerprints alone don't dedup): 64-bit fingerprints split into
    * 8×8-bit blocks joined on block COMBINATIONS (the multi-index
    * scheme of Manku/Jain/Das Sarma, WWW'07 — public): any pair
    * within hamming distance 3 has its differing bits inside at most
    * 3 blocks, so it agrees exactly on the 5 blocks of at least one
    * of the C(8,3) = 56 "bad-block" triples. Candidate generation is
    * an equi-join on one bit-packed long (combo id over the 5 good
    * blocks — a 40-bit value space per combo), so RANDOM collisions
    * are ~n²/2⁴⁰ per combo (negligible at
    * any realistic corpus) and the candidate stream is essentially
    * the true pairs. The earlier 4×16-bit single-band pigeonhole had
    * the same recall guarantee but n²/2¹⁶ random collisions per band
    * — measured 16.5× super-linear at the sf1 rehearsal (1.1→17.5 s
    * for 10× docs); this layout re-ran sub-linear. The price is a
    * 56-entries/doc index instead of 4 — linear in the corpus, the
    * right side of the trade. Full distance (summed popcounts of
    * blocked xors) verifies candidates exactly; identical
    * fingerprints collide in all 56 combos, which the candidate
    * distinct absorbs. Map-only fingerprinting + one bucket join —
    * the 100 TB shape.
    */
  def simHashNearDups(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val fp = simHash(docs, idCol, textCol)
    val blocks = fp.select(col("doc_id") +: (0 until 8).map(i =>
      conv(substring(col("simhash_hex"), 1 + 2 * i, 2), 16, 10)
        .cast("long").as(s"b_$i")): _*)
    blockedHammingPairs(blocks, maxHamming)
  }

  /** Near-duplicate pairs by Hamming distance over ANY 64-bit
    * fingerprint column (simhash, image aHash, …): split each hash
    * into 8 8-bit blocks and pair via the Manku 3-bad-block bucket
    * keys — exact full recall for `maxHamming` ≤ 3 by pigeonhole
    * (≤ 3 differing bits can dirty at most 3 blocks, so some
    * 5-good-block combination matches exactly), never all-pairs.
    * Returns (id_a, id_b, hamming) with id_a < id_b, distance ≤
    * `maxHamming`, null hashes excluded. */
  def hamming64NearDups(hashes: DataFrame, idCol: String,
      hashCol: String, maxHamming: Int = 3): DataFrame = {
    val blocks = hashes
      .where(col(hashCol).isNotNull)
      .select(col(idCol).as("doc_id") +: (0 until 8).map(i =>
        shiftrightunsigned(col(hashCol).cast("long"), 8 * (7 - i))
          .bitwiseAND(lit(255L)).as(s"b_$i")): _*)
    blockedHammingPairs(blocks, maxHamming)
  }

  /** Shared band-join core of [[simHashNearDups]] /
    * [[hamming64NearDups]]: `blocks` is (doc_id, b_0..b_7) with each
    * b_i one 8-bit block of the fingerprint. */
  private def blockedHammingPairs(blocksIn: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "3-bad-block combos guarantee full recall only for maxHamming <= 3")
    val nBlocks = 8
    // blocks are read four times (both self-join sides, both
    // verification sides) and are tiny (8 longs per doc) — persist
    // instead of re-running the fingerprint lineage each time, same
    // rationale as the minhash signature persist
    val blocks = blocksIn
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val badSets = (0 until nBlocks).combinations(3).toSeq
    // one bit-packed LONG key per combo: combo id in the high bits,
    // the 5 good 8-bit blocks below (45 bits total) — 8-byte shuffle
    // keys and ~5 integer ops per key instead of a string build, and
    // the 56-way projection stays small enough for whole-stage codegen
    val bucket = blocks.select(col("doc_id"), explode(array(
      badSets.zipWithIndex.map { case (bad, ci) =>
        val good = (0 until nBlocks).filterNot(bad.contains)
        good.foldLeft(lit(ci.toLong): Column)((acc, i) =>
          shiftleft(acc, 8).bitwiseOR(col(s"b_$i")))
      }: _*)).as("ckey"))
    val cand = bucket.as("a").join(bucket.as("b"), Seq("ckey"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val hamming = (0 until nBlocks).map(i =>
      bit_count(col(s"a_b_$i").bitwiseXOR(col(s"b_b_$i"))))
      .reduce(_ + _)
    val result = Lineage.materialize(
      cand.join(sigPrefixed(blocks, "a", "id_a"), Seq("id_a"))
        .join(sigPrefixed(blocks, "b", "id_b"), Seq("id_b"))
        .withColumn("hamming", hamming.cast("int"))
        .filter(col("hamming") <= maxHamming)
        .select("id_a", "id_b", "hamming"))
    blocks.unpersist(false)
    result
  }

  /** Connected components over near-duplicate pairs: turns pairwise
    * matches (from [[ngramJaccardPairs]] / [[minHashLshCandidates]] /
    * [[embeddingNearDupsBucketed]]) into dedup GROUPS — (doc_id,
    * cluster_rep) where the representative is the smallest id in the
    * component, the standard keep-one-per-cluster contract.
    *
    * Iterative min-label propagation: each round joins labels to
    * neighbors and takes the min — integer-only arithmetic, so the
    * fixpoint is deterministic under any partitioning. Rounds needed =
    * component diameter; near-dup clusters are small and dense, so a
    * handful of rounds converge (the loop stops at the first
    * unchanged round); exceeding `maxIter` without converging RAISES
    * rather than returning silently-wrong intermediate labels. For
    * adversarial long-chain graphs at corpus scale the
    * large-star/small-star variant halves diameters per round — same
    * join shapes, noted as the upgrade path.
    *
    * Each round's labels are checkpoint-materialized
    * ([[graft.util.Lineage.materialize]]) — the standard practice for
    * iterative algorithms: it bounds the plan (no per-round lineage
    * growth) and leaves no cache entries to invalidate. The returned
    * frame is likewise materialized.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    val edges = Lineage.materialize(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionByName(
          pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())
    var labels = Lineage.materialize(
      edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min(col("label")).as("nbr"))
      val next = Lineage.materialize(
        labels.withColumnRenamed("label", "old")
          .join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("old"), coalesce(col("nbr"), col("old")))
              .as("label"),
            col("old")))
      converged = next.filter(col("label") =!= col("old")).isEmpty
      labels = next.select("id", "label")
      i += 1
    }
    if (!converged)
      sys.error(s"connectedComponents did not converge in $maxIter " +
        "rounds (component diameter exceeds the cap) — raise maxIter " +
        "or switch to the large-star/small-star variant")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_rep"))
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the documented upgrade path of
    * [[connectedComponents]]: min-label propagation needs
    * diameter-many rounds, star contraction O(log²) (in practice a
    * handful), so adversarial long-chain graphs converge where
    * propagation would hit its iteration cap. Same join shapes (a
    * groupBy-min and an equi-join per half-step), integer-only
    * arithmetic, deterministic fixpoint.
    *
    * Contract matches [[connectedComponents]]: (doc_id, cluster_rep)
    * with the component's min id as representative, one row per node
    * appearing in `pairs`.
    */
  /** Per-key neighborhood minimum as a partial-aggregating
    * `groupBy.min` — the skew-safe building block of the star
    * contraction. Returns one `(key, __mn)` row per key; map-side
    * combine bounds what any single reducer receives to one row per
    * upstream partition, however hot the key.
    */
  private[graft] def neighborhoodMin(df: DataFrame, key: String,
      value: String): DataFrame =
    df.groupBy(key).agg(min(col(value)).as("__mn"))

  /** One full alternating contraction round (large-star then
    * small-star) as a LAZY plan over a materialized edge frame.
    *
    * Large-star: for every node u, attach each strictly-larger
    * neighbor v to m = min(Γ(u) ∪ {u}); u's view covers each edge
    * from its smaller endpoint, so the result is again larger-first.
    * Neighborhood minima via groupBy + join-back, NOT a window:
    * during contraction a representative's degree grows to component
    * size, and window functions have no map-side partials — a 100M-
    * node component would push 100M rows through one task's sort.
    * groupBy(min) partial-aggregates the hot key down to one row per
    * map partition, and the join-back is an equi-join AQE can skew-
    * split; per-task state stays bounded at any component size.
    *
    * Small-star: edges are (x, y) with y < x; attach x and all its
    * smaller neighbors to m = min of them. Same partial-agg shape;
    * the (x, m) self rows come straight off the aggregate (one row
    * per x) instead of once per edge pre-distinct.
    */
  private def contractOnce(edges: DataFrame): DataFrame = {
    val bidir = edges.select(col("x").as("u"), col("y").as("v"))
      .unionByName(edges.select(col("y").as("u"), col("x").as("v")))
    val large = bidir.join(neighborhoodMin(bidir, "u", "v"), Seq("u"))
      .where(col("v") > col("u"))
      .select(col("v").as("x"),
        least(col("__mn"), col("u")).as("y")).distinct()
    val minsX = neighborhoodMin(large, "x", "y")
    large.join(minsX, Seq("x"))
      .where(col("y") =!= col("__mn"))
      .select(col("y").as("x"), col("__mn").as("y"))
      .unionByName(minsX.select(col("x"), col("__mn").as("y")))
      .distinct()
  }

  /** Deduplicated edge count below which the star loop collects the
    * edge set and unions it on the driver instead of iterating
    * distributed rounds — the same small-side reasoning as a
    * broadcast join threshold. At the default (2⁶ KiB of edges: two
    * ids × 65536 rows ≈ 1 MB) the state is model-sized; every
    * contraction round above it would still shuffle the same ≤1 MB
    * through 2 jobs × O(log n) rounds of pure scheduling latency.
    * Configurable (`spark.graft.ccLocalEdgeLimit`; 0 disables) —
    * the DISTRIBUTED loop remains the at-scale path and keeps its
    * own specs (the 1M-edge hub rehearsal exceeds the limit). */
  private[graft] val DefaultCcLocalEdgeLimit = 65536L

  /** Driver-local min-label connected components of a COLLECTED edge
    * list — exact same contract as the distributed fixpoint: one
    * (node, min id of its component) row per edge endpoint. */
  private[graft] def localComponents(
      edgeRows: Array[org.apache.spark.sql.Row]): Map[Any, Any] = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(a: Any): Any = {
      var r = a
      while (parent(r) != r) r = parent(r)
      var c = a // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edgeRows.foreach { r =>
      val (x, y) = (r.get(0), r.get(1))
      parent.getOrElseUpdate(x, x)
      parent.getOrElseUpdate(y, y)
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(rx) = ry
    }
    // min id per component, in the same ordering the distributed
    // loop's greatest/least canonicalization uses. Only id types whose
    // driver-side ordering provably equals Spark's are admitted here
    // ([[localOrderingSafe]] gates the fast path): for strings that is
    // UTF-8 BYTE order (what UTF8String compares) — Java's String `<`
    // is UTF-16 code-unit order, which DISAGREES beyond the BMP
    // (supplementary characters sort below U+E000..U+FFFF there).
    val minOf = scala.collection.mutable.HashMap.empty[Any, Any]
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long) => x < y
      case (x: Int, y: Int) => x < y
      case (x: String, y: String) =>
        val (xb, yb) = (x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val c = java.util.Arrays.compareUnsigned(xb, yb)
        c < 0
      case _ => sys.error( // unreachable behind localOrderingSafe
        s"localComponents: unsupported id type ${a.getClass}")
    }
    parent.keys.foreach { n =>
      val r = find(n)
      minOf.get(r) match {
        case Some(m) if !lt(n, m) => ()
        case _ => minOf(r) = n
      }
    }
    parent.keys.map(n => n -> minOf(find(n))).toMap
  }

  /** Star-contraction connected components. `materializeResult = false`
    * skips checkpointing the RESULT (the loop state is always
    * checkpointed): right for callers that consume the labels exactly
    * once in one downstream action — the labels' lineage is then two
    * cheap scans of the final checkpointed edge set. Leave it on when
    * the result feeds multiple actions or multiple plan subtrees
    * (q78's oldLabels joins both pair endpoints).
    *
    * Edge sets at or below `spark.graft.ccLocalEdgeLimit`
    * ([[DefaultCcLocalEdgeLimit]]) short-circuit to a driver-local
    * union-find over the (already checkpointed, bounded) edge list —
    * identical labels, none of the per-round job latency; larger
    * graphs run the distributed loop unchanged. */
  def connectedComponentsStar(pairs: DataFrame, aCol: String,
      bCol: String, maxIter: Int = 35,
      materializeResult: Boolean = true): DataFrame = {
    // canonical larger-first undirected pair set, SELF-LOOPS KEPT:
    // this single materialization is the only consumer of the `pairs`
    // lineage — with self-loops retained, every pair endpoint appears
    // in the checkpointed frame, so the node universe (for singleton
    // labels) is two cheap checkpoint scans instead of a re-execution
    // of the (possibly expensive, un-materialized) pair generation.
    // Measured on q99: the labels' nodes leg re-ran the whole
    // per-batch candidate generation at write time, ~2.5 s per batch.
    val (edges0, edge0Count, edge0Fp) = Lineage.materializeWithStats(pairs
      .select(greatest(col(aCol), col(bCol)).as("x"),
        least(col(aCol), col(bCol)).as("y"))
      .distinct())
    val sess = pairs.sparkSession
    val localLimit = sess.conf.getOption("spark.graft.ccLocalEdgeLimit")
      .map(_.toLong).getOrElse(DefaultCcLocalEdgeLimit)
    // the fast path requires driver ordering == Spark ordering for the
    // id type (long/int exactly; string via UTF-8 byte compare). Any
    // other type (decimal, date, ...) silently takes the distributed
    // loop, which is correct for every orderable type.
    val orderingSafe = edges0.schema.head.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    }
    if (orderingSafe && edge0Count <= localLimit) {
      // driver fast path: self-loop rows register their node in the
      // union-find without uniting anything, so the label map covers
      // EVERY endpoint — the result is the (bounded) map itself, no
      // distributed join at all
      val labelMap = localComponents(edges0.collect())
      val idType = edges0.schema.head.dataType
      val labelRows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(labelMap.toSeq.map { case (n, r) =>
          org.apache.spark.sql.Row(n, r) }: _*)
      val labelDf = sess.createDataFrame(labelRows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", idType),
          org.apache.spark.sql.types.StructField("cluster_rep", idType))))
      // already driver-local — a result checkpoint would only add jobs
      return labelDf
    }
    // the loop contracts the self-loop-free edge set (a cheap filter
    // over the checkpoint). When the input had no self-loops (every
    // shipped candidate generator emits id_a < id_b) the initial
    // count/fingerprint remain exact for the convergence gate; with
    // self-loops present they differ from the filtered set's, which
    // only delays the first gate by one round — never a false
    // convergence (the anti-join stays the exact confirmation).
    var edges = edges0.where(col("x") =!= col("y"))
    var edgeCount = edge0Count
    var edgeFp = edge0Fp
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val (next, nextCount, nextFp) = Lineage.materializeWithStats(
        contractOnce(edges))
      // both sides are distinct sets, so equal counts + one-sided
      // containment ⇒ equality; the count+fingerprint gate (free off
      // the materialization job) skips the anti-join on every round
      // where the edge set still moved, and the anti-join remains the
      // EXACT confirmation — a fingerprint collision only costs one
      // spurious exceptAll, never a wrong fixpoint
      converged = nextCount == edgeCount && nextFp == edgeFp &&
        next.exceptAll(edges).isEmpty
      edgeCount = nextCount
      edgeFp = nextFp
      edges = next
      i += 1
    }
    if (!converged)
      sys.error(s"connectedComponentsStar did not converge in $maxIter " +
        "rounds — raise maxIter")
    // fixpoint is a star forest: every non-root points at its root.
    // Nodes absent from the forest (self-pairs, singletons the caller
    // fed in) are their own representative, matching
    // [[connectedComponents]]. The node universe reads the
    // checkpointed edges0 (self-loops kept), NOT `pairs` — see above.
    val stars = edges.select(col("x").as("doc_id"),
        col("y").as("cluster_rep"))
      .unionByName(edges.select(col("y").as("doc_id"),
        col("y").as("cluster_rep")).distinct())
    val nodes = edges0.select(col("x").as("doc_id"))
      .unionByName(edges0.select(col("y").as("doc_id"))).distinct()
    val labels = stars.unionByName(
      nodes.join(stars, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("cluster_rep")))
    if (materializeResult) Lineage.materialize(labels) else labels
  }

  /** Apply near-dup clustering to a corpus — the step that turns
    * match pairs into a deduplicated training set: cluster the pairs
    * ([[connectedComponentsStar]]), keep ONE surviving document per
    * cluster — the min-id member PRESENT IN `docs` — carrying every
    * original column plus the cluster's member count (counted over
    * present members). Documents in no candidate pair survive as
    * singletons (n_members = 1). Anchoring the survivor to the present
    * minimum (not the cluster rep) means a pair table computed on a
    * broader corpus than `docs` (a stale pair table, an upstream
    * filter between match and apply) cannot silently drop a whole
    * cluster because its rep was filtered away.
    *
    * Scale shape: the corpus joins the (doc_id, rep) label table —
    * pair-set-sized, not corpus-sized — once to resolve reps, and the
    * cluster-sized keep table once on its id. The corpus text is
    * never shuffled on anything but its own id.
    */
  /** Asymmetric CONTAINMENT pairs: (a, b) with
    * `|shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ tauNum/tauDen` —
    * the directional near-dup relation Jaccard misses (license
    * boilerplate inside a larger doc, a quoted article inside a
    * digest). The threshold is a RATIONAL and the filter is the
    * integer cross-multiplication `i·tauDen ≥ tauNum·sz`, so no
    * floating-point boundary can disagree with an oracle.
    *
    * Plan: distinct-shingle index self-join grouped per pair — the
    * same Σdf² shape as exact Jaccard, so the SAME DEFAULTS apply:
    * the stop-shingle df cap is ON unless the caller opts out
    * (`autoStopShingles = false`) or passes an explicit `maxDf` —
    * `max(spark.graft.jaccardStopShingleFloor (64),
    * ⌈spark.graft.jaccardStopShingleFraction (0.01)·corpus⌉)`,
    * mirroring [[ngramJaccardPairs]]. Containment sizes and
    * intersections then both come from the capped universe. The cap
    * is adaptively DROPPED (one scalar max-df job) when no shingle
    * exceeds it, so small corpora keep exact semantics AND the
    * cheaper no-filter plan. At corpus scale the designed discovery
    * path remains LSH/simhash candidate buckets; this exact join is
    * the verification tier. Emits both directions when both clear
    * the threshold.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tauNum: Int, tauDen: Int,
      maxDf: Option[Long] = None,
      autoStopShingles: Boolean = true): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"containment threshold must be a rational in (0,1]: $tauNum/$tauDen")
    val conf = docs.sparkSession.conf
    val effMaxDf: Option[Long] = maxDf.orElse {
      if (!autoStopShingles) None
      else {
        val floor = conf.get("spark.graft.jaccardStopShingleFloor", "64").toInt
        val fraction =
          conf.get("spark.graft.jaccardStopShingleFraction", "0.01").toDouble
        val nDocs = docs.count()
        Some(math.max(floor.toLong, math.ceil(fraction * nDocs).toLong))
      }
    }
    val sh0 = shingleIndex(docs, idCol, textCol, n)
    val sh = effMaxDf match {
      case None => sh0
      case Some(cap) =>
        val dfm = sh0.groupBy("shingle").agg(count(lit(1)).as("__df"))
        val capActive = dfm
          .agg(coalesce(max(col("__df")), lit(0L))).collect()(0)
          .getLong(0) > cap
        if (!capActive) sh0
        else sh0.join(
          dfm.where(col("__df") <= cap).select("shingle"), Seq("shingle"))
    }
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz_a"))
    val inter = sh.select(col("doc_id").as("id_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingle")), "shingle")
      .where(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
    inter.join(sizes.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
      .where(col("i") * tauDen >= col("sz_a") * tauNum)
      .select(col("id_a"), col("id_b"), col("i"), col("sz_a"),
        (col("i").cast("double") / col("sz_a")).as("containment"))
  }

  /** Cross-corpus (R-S) exact n-gram Jaccard join: pairs (a ∈ A,
    * b ∈ B) with J(a,b) ≥ threshold — the "dedup the NEW batch
    * against the REFERENCE corpus" shape, where a self-join would
    * waste Σdf² work on within-corpus pairs nobody asked for.
    *
    * Shingle universe and stop-shingle cap are defined over the
    * COMBINED corpus (boilerplate in either side is boilerplate for
    * the comparison); the default cap mirrors [[ngramJaccardPairs]]
    * (`spark.graft.jaccardStopShingle{Floor,Fraction}`, floor 64 /
    * 1% of |A|+|B|), with the same explicit opt-out. Candidate volume
    * is Σ_h df_A(h)·df_B(h), bounded by the cap — and ADAPTIVELY
    * guarded like the self-join: one scalar job measures that sum,
    * and past `spark.graft.jaccardNaiveMaxDf2` the join switches to
    * the PPJoin prefix/size/positional-filtered form with exact
    * `array_intersect` verification (broadcast-sided up to
    * [[broadcastSetBytesCeiling]]) — identical rows, bounded
    * candidates. At 100 TB the designed discovery path for
    * cross-corpus near-dups stays the LSH tier
    * ([[incrementalAssign]]); this exact join is the
    * verification-grade tier, same division of labor as the
    * self-join case.
    *
    * Id spaces may overlap between A and B (a doc equal to itself
    * across corpora is a legitimate cross-corpus duplicate); output
    * is one row per (id_a, id_b) with inter/sizes/jaccard.
    */
  def crossCorpusJaccardPairs(docsA: DataFrame, docsB: DataFrame,
      idCol: String, textCol: String, n: Int, threshold: Double,
      maxDf: Option[Int] = None,
      autoStopShingles: Boolean = true): DataFrame = {
    val conf = docsA.sparkSession.conf
    val effMaxDf: Option[Long] = maxDf.map(_.toLong).orElse {
      if (!autoStopShingles) None
      else {
        val floor = conf.get("spark.graft.jaccardStopShingleFloor", "64").toInt
        val fraction =
          conf.get("spark.graft.jaccardStopShingleFraction", "0.01").toDouble
        val nDocs = docsA.count() + docsB.count()
        Some(math.max(floor.toLong, math.ceil(fraction * nDocs).toLong))
      }
    }
    def posts(docs: DataFrame) =
      shingleIndex(docs, idCol, textCol, n)
        .select(col("doc_id"), h60(col("shingle")).as("h"))
    val pa0 = posts(docsA)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pb0 = posts(docsB)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Per-side df frames once (vocab-sized, persisted); the combined
    // df, the cap decision AND the naive-join cost statistic all
    // derive from ONE full-outer join of them — no postings-wide
    // union aggregation, and the strategy stat is free when the cap
    // is inactive (the common case). The cap is dropped when nothing
    // exceeds it (same zero-cost adaptivity as the self-join path).
    val dfa0 = pa0.groupBy("h").agg(count(lit(1)).as("dfa"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfb0 = pb0.groupBy("h").agg(count(lit(1)).as("dfb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val jdf = dfa0.join(dfb0, Seq("h"), "full_outer")
      .select(col("h"),
        (coalesce(col("dfa"), lit(0L)) + coalesce(col("dfb"), lit(0L)))
          .as("df"),
        (col("dfa") * col("dfb")).as("p")) // null unless h on both sides
    val statRow0 = jdf.agg(
      coalesce(max(col("df")), lit(0L)),
      coalesce(sum(col("p")), lit(0L))).collect()(0)
    val capActive = effMaxDf.exists(m => statRow0.getLong(0) > m)
    val keep = jdf.filter(col("df") <= effMaxDf.getOrElse(Long.MaxValue))
      .select("h")
    val (pa, pb) =
      if (capActive) (pa0.join(keep, Seq("h")), pb0.join(keep, Seq("h")))
      else (pa0, pb0)
    def sizes(p: DataFrame, docs: DataFrame) =
      if (capActive) p.groupBy("doc_id").agg(count(lit(1)).as("set_size"))
      else docs.select(col(idCol).as("doc_id"),
        size(shingles(col(textCol), n)).cast("long").as("set_size"))
    // adaptive strategy, mirroring the self-join path: the naive R-S
    // index join materializes Σ_h df_A(h)·df_B(h) collision rows.
    // Below `spark.graft.jaccardNaiveMaxDf2` the plain join wins
    // (prefix ranking is pure overhead at small index sizes); above
    // it the PPJoin prefix/size/positional filters bound candidates
    // and an exact `array_intersect` verification restores the
    // identical rows — the completeness proof is the self-join one
    // verbatim (the first common shingle under the COMBINED-df
    // rarest-first order lands inside both prefixes for every J ≥ t
    // pair; the argument never uses self-join symmetry, only the
    // shared global (df, h) order). With an ACTIVE cap the cost must
    // be re-measured over the in-cap universe (one extra vocab-sized
    // job, rare case); otherwise it came free with the max-df scalar.
    val cost =
      if (!capActive) statRow0.getLong(1)
      else jdf.filter(col("df") <= effMaxDf.get)
        .agg(coalesce(sum(col("p")), lit(0L))).collect()(0).getLong(0)
    val naiveMax = conf.get("spark.graft.jaccardNaiveMaxDf2",
      "64000000").toLong
    val szA = sizes(pa, docsA)
    val szB = sizes(pb, docsB)
    val result =
      if (cost <= naiveMax) {
        pa.select(col("doc_id").as("id_a"), col("h"))
          .join(pb.select(col("doc_id").as("id_b"), col("h")), Seq("h"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
          .join(szA
            .withColumnRenamed("doc_id", "id_a")
            .withColumnRenamed("set_size", "size_a"), Seq("id_a"))
          .join(szB
            .withColumnRenamed("doc_id", "id_b")
            .withColumnRenamed("set_size", "size_b"), Seq("id_b"))
          .withColumn("jaccard", col("inter").cast("double") /
            (col("size_a") + col("size_b") - col("inter")).cast("double"))
          .filter(col("jaccard") >= threshold)
          .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
      } else {
        // rarest-first order shared by both sides: COMBINED df
        // (in-cap) — the order the cap filter already computed
        val ord = jdf.filter(col("df") <=
          effMaxDf.getOrElse(Long.MaxValue)).select("h", "df")
        def prefixOf(p: DataFrame, szs: DataFrame) = {
          val wRank = org.apache.spark.sql.expressions.Window
            .partitionBy("doc_id").orderBy(col("df"), col("h"))
          p.join(ord, Seq("h"))
            .join(szs.withColumnRenamed("set_size", "sz"), Seq("doc_id"))
            .withColumn("rk", row_number().over(wRank))
            .filter(col("rk") <=
              col("sz") - ceil(col("sz") * threshold) + lit(1L))
            .select("doc_id", "h", "rk", "sz")
        }
        val alpha = ceil((col("a.sz") + col("b.sz"))
          * lit(threshold / (1.0 + threshold)))
        val cand = prefixOf(pa, szA).as("a")
          .join(prefixOf(pb, szB).as("b"), Seq("h"))
          .filter(least(col("a.sz"), col("b.sz")) >=
            greatest(col("a.sz"), col("b.sz")) * threshold)
          .filter(lit(1) + least(col("a.sz") - col("a.rk"),
            col("b.sz") - col("b.rk")) >= alpha)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        val setsA = pa.groupBy("doc_id").agg(
          collect_list(col("h")).as("hs_a"),
          count(lit(1)).as("size_a"))
          .withColumnRenamed("doc_id", "id_a")
        val setsB = pb.groupBy("doc_id").agg(
          collect_list(col("h")).as("hs_b"),
          count(lit(1)).as("size_b"))
          .withColumnRenamed("doc_id", "id_b")
        val postCount = pa.count() + pb.count()
        val smallSets =
          postCount * 16 <= broadcastSetBytesCeiling(docsA.sparkSession)
        val verified = (if (smallSets)
            cand.join(broadcast(setsA), Seq("id_a"))
              .join(broadcast(setsB), Seq("id_b"))
          else
            cand.distinct()
              .join(setsA, Seq("id_a")).join(setsB, Seq("id_b")))
          .withColumn("inter",
            size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
          .withColumn("jaccard", col("inter").cast("double") /
            (col("size_a") + col("size_b") - col("inter")).cast("double"))
          .filter(col("jaccard") >= threshold)
          .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
        if (smallSets) verified.distinct() else verified
      }
    val out = Lineage.materialize(result)
    dfa0.unpersist()
    dfb0.unpersist()
    pa0.unpersist()
    pb0.unpersist()
    out
  }

  def keepRepresentatives(docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    // labels feed exactly one join in one plan — skip the result
    // checkpoint (the loop state behind them is checkpointed)
    val clusters = connectedComponentsStar(pairs, aCol, bCol,
        materializeResult = false)
      .withColumnRenamed("doc_id", idCol)
    val kept = docs.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_rep"), col(idCol)).as("__rep"))
      .groupBy("__rep")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_members"))
      .drop("__rep")
    docs.join(kept, Seq(idCol))
  }

  /** Quality-aware dedup apply — [[keepRepresentatives]] keeping the
    * BEST-scored member of each near-dup cluster instead of the
    * min-id one (what production pipelines actually do: Dolma keeps
    * the longest document, quality-filtered corpora keep the highest
    * classifier score). Tie-break is min doc id, so the choice is
    * deterministic under any partitioning. `docs` must carry an
    * integer-comparable `scoreCol`. Returns the kept docs' rows plus
    * n_members — same contract as [[keepRepresentatives]], different
    * survivor.
    *
    * Scale shape: cluster labels from the same star-contraction CC;
    * the survivor per cluster is one max(struct(score, −id)) hash
    * aggregation (map-side partials) — no window over corpus rows.
    */
  def keepBestRepresentatives(docs: DataFrame, idCol: String,
      scoreCol: String, pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    val clusters = connectedComponentsStar(pairs, aCol, bCol,
        materializeResult = false)
      .withColumnRenamed("doc_id", idCol)
    val best = docs.select(col(idCol), col(scoreCol))
      .join(clusters, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_rep"), col(idCol)).as("__rep"),
        col(scoreCol).cast("long").as("__score"))
      .groupBy("__rep")
      .agg(max(struct(col("__score"), (-col(idCol)).as("__negid")))
          .as("__b"),
        count(lit(1)).as("n_members"))
      .select((-col("__b.__negid")).as(idCol), col("n_members"))
    docs.join(best, Seq(idCol))
  }

  /** Dedup-aware train/validation split — the leakage guard a
    * training pipeline needs between dedup and sharding: assignment
    * is by CLUSTER, not by document, so two near-duplicates can never
    * straddle the split (the classic eval-leak: train on doc A,
    * validate on its near-copy B). Each doc's cluster rep (from the
    * same star-contraction CC; singletons are their own rep) is
    * hashed with [[h30]] and the cluster goes to "val" when
    * `h30(rep) mod 100 < valPct`, else "train" — deterministic, no
    * rand(), stable as the corpus grows (a cluster's side never
    * changes when unrelated docs arrive, because it depends only on
    * its own rep id).
    *
    * Returns (doc_id, rep, split) for every doc in `docs`.
    */
  def clusterSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      valPct: Int, aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    require(valPct >= 0 && valPct <= 100, "valPct must be in [0, 100]")
    val clusters = connectedComponentsStar(pairs, aCol, bCol,
        materializeResult = false)
      .withColumnRenamed("doc_id", idCol)
    docs.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_rep"), col(idCol)).as("rep"))
      .withColumn("split",
        when(pmod(h30(col("rep").cast("string")), lit(100L)) < valPct,
          lit("val")).otherwise(lit("train")))
  }

  /** Incremental dedup assignment — what a production corpus pipeline
    * runs per ingest batch: given the EXISTING corpus's cluster
    * assignments (append-only; old clusters never move) and the
    * candidate pairs that involve at least one NEW document, assign
    * each new document either to an existing cluster (reporting that
    * cluster's rep) or to a fresh cluster formed within the new batch.
    *
    * Mechanics: old endpoints are rewritten to their cluster rep via
    * an equi-join on `oldLabels` (an old doc never seen in a pair is
    * its own rep); new ids are shifted by `offset` so every old rep
    * orders below every new id; [[connectedComponentsStar]] then
    * yields per-component minima, which decode to "the smallest
    * matched existing rep, else the smallest new doc id". Existing
    * assignments are never rewritten: if one new doc bridges two old
    * clusters, both keep their reps and the new doc reports the
    * smaller one — the append-only contract; a periodic full
    * re-cluster over all pairs is the compaction path.
    *
    * `pairs` must contain only new-involving pairs (old–old pairs are
    * already folded into `oldLabels`; feeding them here would merge
    * old clusters, violating append-only). All ids must be in
    * [0, `offset`); `isOld` decides batch membership per id column.
    *
    * Scale shape: two equi-joins (rep lookup) + star contraction over
    * a batch-sized edge set — the old CORPUS is never rescanned, only
    * its (doc_id, rep) assignment table, which is the point of
    * incrementality at 100 TB.
    *
    * Output, for NEW docs only: (doc_id, cluster_rep,
    * joined_existing) with `joined_existing` = 1 iff cluster_rep is
    * an existing cluster's rep.
    */
  def incrementalAssign(pairs: DataFrame, aCol: String, bCol: String,
      oldLabels: DataFrame, isOld: Column => Column,
      offset: Long = 1000000000L): DataFrame = {
    require(offset > 0, "offset must be positive")
    val labA = oldLabels.select(col("doc_id").as(aCol),
      col("cluster_rep").as("__repA"))
    val labB = oldLabels.select(col("doc_id").as(bCol),
      col("cluster_rep").as("__repB"))
    val a = checkedId(col(aCol), offset)
    val b = checkedId(col(bCol), offset)
    // reps from oldLabels are range-checked too — a corrupt stored rep
    // >= offset would collide with the shifted new-id band and decode
    // to a nonexistent doc id
    val enc = pairs.join(labA, Seq(aCol), "left")
      .join(labB, Seq(bCol), "left")
      .select(
        when(isOld(a), coalesce(checkedId(col("__repA"), offset), a))
          .otherwise(a + offset).as("src"),
        when(isOld(b), coalesce(checkedId(col("__repB"), offset), b))
          .otherwise(b + offset).as("dst"))
    assignFromEncoded(enc, offset)
  }

  /** [[incrementalAssign]] for callers that already know which side of
    * each pair is which (e.g. the streaming path, where OLD docs are
    * "ids present in the stored assignment state" — not expressible as
    * a column predicate): `newOldPairs` is (new_id, old_id),
    * `newNewPairs` is (id_a, id_b) with both new. Same encode → star
    * CC → decode core, same output contract.
    */
  def incrementalAssignTagged(newOldPairs: DataFrame,
      newNewPairs: DataFrame, oldLabels: DataFrame,
      offset: Long = 1000000000L): DataFrame = {
    require(offset > 0, "offset must be positive")
    val lab = oldLabels.select(col("doc_id").as("old_id"),
      col("cluster_rep").as("__rep"))
    val e1 = newOldPairs.select(col("new_id"), col("old_id"))
      .join(lab, Seq("old_id"), "left")
      .select((checkedId(col("new_id"), offset) + offset).as("src"),
        coalesce(checkedId(col("__rep"), offset),
          checkedId(col("old_id"), offset)).as("dst"))
    val e2 = newNewPairs.select(
      (checkedId(col("id_a"), offset) + offset).as("src"),
      (checkedId(col("id_b"), offset) + offset).as("dst"))
    assignFromEncoded(e1.unionByName(e2), offset)
  }

  /** Fail-fast guard for the [0, offset) id contract of the
    * incremental encodes: an out-of-range id (hash- or
    * timestamp-derived, for instance) would otherwise be silently
    * misclassified by the offset decode into garbage assignments.
    * Null passes through (the when-condition is null → otherwise),
    * which the rep-coalesce paths rely on. Shared with the streaming
    * ingest, which validates every batch id up front — ids that never
    * enter a candidate pair still land in the assignment state. */
  private[graft] def checkedId(c: Column, offset: Long): Column =
    when(c < 0L || c >= offset, raise_error(concat(
      lit(s"incremental assign: doc id outside [0, $offset): "),
      c.cast("string")))).otherwise(c)

  /** Shared decode step: star CC over rep/offset-encoded edges, then
    * NEW rows only, ids shifted back, `joined_existing` = the
    * component label landed below the offset (an existing rep). */
  private def assignFromEncoded(enc: DataFrame, offset: Long): DataFrame =
    connectedComponentsStar(enc, "src", "dst",
        materializeResult = false)
      .where(col("doc_id") >= offset)
      .select((col("doc_id") - offset).as("doc_id"),
        when(col("cluster_rep") >= offset, col("cluster_rep") - offset)
          .otherwise(col("cluster_rep")).as("cluster_rep"),
        (col("cluster_rep") < offset).cast("int").as("joined_existing"))

  /** 5. Embedding-cosine near-duplicate pairs above a threshold.
    * Exact all-pairs — O(n²) cosines; correctness baseline for tiny
    * corpora and for validating [[embeddingNearDupsBucketed]] recall.
    */
  def embeddingNearDups(emb: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    // norms per ROW before the all-pairs join (Similarity.cosinePre)
    val a = emb.select(col(idCol).as("id_a"), col(embCol).as("emb_a"),
      Similarity.embNorm(col(embCol)).as("__na"))
    val b = emb.select(col(idCol).as("id_b"), col(embCol).as("emb_b"),
      Similarity.embNorm(col(embCol)).as("__nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("score", Similarity.cosinePre(
        Similarity.dot(col("emb_a"), col("emb_b")),
        col("__na"), col("__nb")))
      .filter(col("score") >= threshold)
      .select("id_a", "id_b", "score")
  }

  /** 5b. LSH-bucketed near-dup pairs — the corpus-scale path: only
    * pairs sharing a sign bucket in ANY of `tables` independent seeded
    * hyperplane tables are scored (OR-amplification, same recall dial
    * as [[Similarity.bucketedTopK]]), turning the all-pairs scan into
    * per-table bucket equi-joins (candidate count ≈ tables·n²/2^bits
    * under a centered distribution). Deterministic: the bucketing is a
    * pure seeded expression, so results are reproducible (and
    * oracle-checkable) — the trade is recall, not stability.
    */
  def embeddingNearDupsBucketed(emb: DataFrame, idCol: String,
      embCol: String, threshold: Double, bits: Int,
      dim: Int = 64, tables: Int = 2): DataFrame = {
    // ids only through the per-table joins + dedup (vector payloads
    // would multiply the exchanged bytes by the embedding width);
    // vectors join back once per surviving pair — AQE picks broadcast
    // while the corpus fits and degrades to a keyed join beyond
    val pairs = (0 until tables).map { t =>
      val bucketed = emb.select(col(idCol),
        Similarity.signBucket(col(embCol), bits, dim,
          Similarity.tableSeed(t)).as("bucket"))
      val a = bucketed.select(col("bucket"), col(idCol).as("id_a"))
      val b = bucketed.select(col("bucket"), col(idCol).as("id_b"))
      a.join(b, Seq("bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
    }.reduce(_ unionByName _)
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(emb.select(col(idCol).as("id_a"), col(embCol).as("emb_a"),
        Similarity.embNorm(col(embCol)).as("__na")), Seq("id_a"))
      .join(emb.select(col(idCol).as("id_b"), col(embCol).as("emb_b"),
        Similarity.embNorm(col(embCol)).as("__nb")), Seq("id_b"))
      .withColumn("score", Similarity.cosinePre(
        Similarity.dot(col("emb_a"), col("emb_b")),
        col("__na"), col("__nb")))
      .filter(col("score") >= threshold)
      .select("id_a", "id_b", "score")
  }

  /** [[embeddingNearDupsBucketed]] with the bucket width chosen FROM
    * THE CORPUS — the consumer-grade default for the tier. A fixed
    * `bits` is a scale bug, not a tuning knob: candidates are
    * ≈ tables·n²/2^bits, so any pinned width turns quadratic once n
    * outgrows it (the r15 sf10 rehearsal measured the oracled bits=8
    * form at 228× wall for 10× vectors). Linear scaling needs a
    * CONSTANT expected bucket size, i.e. 2^bits ∝ n: this picks
    * `bits = clamp(⌈log₂(n / targetBucket)⌉, 1, 24)` from one
    * count(*) (parquet answers it from footer metadata). Re-measured
    * under that rule the same decade step ran 3.9 s → 15.0 s (3.8×
    * for 10× vectors, bits 11→14, tables 2). Per-table recall thins
    * as buckets narrow; `tables` (independent hyperplane sets,
    * OR-amplified) is the recall knob that compensates — the
    * standard multi-table sign-LSH trade, measured on the sf0.01
    * corpus against exact all-pairs truth at τ=0.35 (a MODERATE
    * similarity band — the tier's hard case; sign retention is
    * (1−θ/π)^bits per table, so near-identity pairs recall far
    * higher): bits=4 t=2 → 0.28, t=4 → 0.49, t=8 → 0.74. Default
    * t=4: 2× the candidate cost of the bucketed primitive's default
    * for +0.21 recall; q251 keeps the number audited per band.
    */
  def embeddingNearDupsAuto(emb: DataFrame, idCol: String,
      embCol: String, threshold: Double, targetBucket: Int = 32,
      dim: Int = 64, tables: Int = 4,
      targetRecall: Option[Double] = None,
      maxTables: Int = 64): DataFrame = {
    require(targetBucket >= 1, "targetBucket must be >= 1")
    val bits = autoSignBits(emb.count(), targetBucket)
    targetRecall match {
      // recall-targeted mode where the inversion stays under the cap:
      // the retention model is closed-form, so given (threshold,
      // target recall) the table count is the model INVERTED rather
      // than a knob the caller has to calibrate
      case Some(r) if !moderateTauExceedsCap(bits, threshold, r,
          maxTables) =>
        embeddingNearDupsBucketed(emb, idCol, embCol, threshold, bits,
          dim, autoSignTables(bits, threshold, r, maxTables))
      // cap would bind: clamping would silently deliver < R — route
      // to the two-level centroid tier, whose recall is cluster
      // locality (q255/q262-audited), not the sign-retention model
      case Some(_) =>
        Similarity.embeddingNearDupsCentroid(emb, idCol, embCol,
          threshold, dim, targetCell = targetBucket)
      case None =>
        embeddingNearDupsBucketed(emb, idCol, embCol, threshold, bits,
          dim, tables)
    }
  }

  /** The 2^bits ∝ n rule behind [[embeddingNearDupsAuto]], pinned by
    * spec: smallest width giving expected bucket ≤ `targetBucket`,
    * clamped to [1, 24]. */
  private[graft] def autoSignBits(n: Long, targetBucket: Int): Int = {
    val raw = math.ceil(
      math.log(math.max(n, 1).toDouble / targetBucket) / math.log(2.0))
    math.min(24, math.max(1, raw.toInt))
  }

  /** Per-pair sign-LSH retention model at cosine similarity `s`,
    * `bits`-wide buckets, `tables` OR'd independent tables: a random
    * hyperplane splits a pair at angle θ = acos(s) with probability
    * θ/π (Goemans–Williamson), so one table retains it with
    * (1 − θ/π)^bits and ANY of `tables` tables with
    * 1 − (1 − (1 − θ/π)^bits)^tables. Recall is increasing in `s`,
    * so the value at the accept threshold is the FLOOR of the
    * model-predicted per-pair recall over everything the tier is
    * asked to find (q251/q256 audit it per band). */
  private[graft] def signRecallModel(bits: Int, tables: Int,
      s: Double): Double = {
    val p1 = 1.0 - math.acos(math.min(1.0, math.max(-1.0, s))) / math.Pi
    val p = math.pow(p1, bits)
    1.0 - math.pow(1.0 - p, tables)
  }

  /** [[signRecallModel]] inverted for the table count — the
    * recall-targeted sizing rule behind
    * `embeddingNearDupsAuto(targetRecall = …)`: the smallest T with
    * 1 − (1 − p)^T ≥ targetRecall where p = (1 − acos(τ)/π)^bits,
    * i.e. T = ⌈ln(1 − R) / ln(1 − p)⌉. Clamped to [1, maxTables]
    * (candidate cost is linear in T — the cap bounds the spend when
    * the target is unreachable at this width).
    *
    * HONEST SCALE ACCOUNTING: at the auto width (2^bits ∝ n) the
    * per-table retention p = p1^bits shrinks polynomially in n
    * (p1 < 1 fixed by τ), so the T needed for a FIXED (τ, R) grows
    * ≈ n^(−log₂ p1) and eventually hits the cap — constant-recall
    * moderate-similarity retrieval is not free at scale. Closed
    * form: candidates ≈ T·n²/2^bits with T ≈ −ln(1−R)/p, minimized
    * at the finest granularity bits ≈ log₂ n, giving cost
    * ∝ n^(2−log₂(2·p1)) — e.g. n^1.70 at τ=0.35 (p1=0.614), n^1.33
    * at τ=0.8 (p1=0.795), linear only as τ→1. The auto-width
    * default (fixed tables) is the LINEAR operating point whose
    * recall at fixed moderate τ instead thins slowly with n; this
    * inversion buys back recall at a priced, capped cost. At 100 TB
    * the practical recipe is the near-identity band (τ ≥ 0.8, cost
    * ≤ n^1.33, usually a handful of tables) and routing moderate-τ
    * semantic grouping to the two-level centroid tier — and since
    * round 17 that recipe is CODE, not advice: when the demand
    * exceeds the cap ([[moderateTauExceedsCap]]) the auto entry
    * points route to
    * [[graft.analytics.Similarity.embeddingNearDupsCentroid]] /
    * [[graft.analytics.CorpusOps.semanticContaminationExact]]
    * instead of silently clamping below the stated recall
    * (q283/q284 hash-pin the routed paths). */
  private[graft] def autoSignTables(bits: Int, threshold: Double,
      targetRecall: Double, maxTables: Int = 64): Int = {
    val t = signTablesNeeded(bits, threshold, targetRecall)
    math.min(maxTables.toLong, math.max(1L, t)).toInt
  }

  /** The UNCLAMPED table count the retention-model inversion demands
    * for (bits, τ, targetRecall) — `⌈ln(1−R) / ln(1−p)⌉` with
    * p = (1 − acos(τ)/π)^bits; Long.MaxValue when p underflows (the
    * target is unreachable at any table count). Split out from
    * [[autoSignTables]] so the ROUTING rule below can see whether the
    * cap would bind BEFORE clamping. */
  private[graft] def signTablesNeeded(bits: Int, threshold: Double,
      targetRecall: Double): Long = {
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall must be in (0, 1), got $targetRecall")
    val p1 = 1.0 -
      math.acos(math.min(1.0, math.max(-1.0, threshold))) / math.Pi
    val p = math.pow(p1, bits)
    if (p >= 1.0) 1L
    else if (p <= 0.0) Long.MaxValue
    else {
      val t = math.ceil(math.log1p(-targetRecall) / math.log1p(-p))
      if (t >= 9.0e18) Long.MaxValue else math.max(1.0, t).toLong
    }
  }

  /** The moderate-τ ROUTING rule (pinned like [[autoSignBits]]): at
    * the auto width the per-table retention p = p1^bits shrinks
    * polynomially in n, so for a fixed (τ, R) the demanded table
    * count eventually exceeds any cost cap — and silently CLAMPING
    * (what `autoSignTables` alone would do) silently delivers LESS
    * than the requested recall. When this rule fires, the recall-
    * targeted entry points route to the tier whose recall does not
    * ride the sign-retention model at all: the two-level CENTROID
    * tier for corpus self-dedup
    * ([[Similarity.embeddingNearDupsCentroid]]), and the exact
    * broadcast scorer for contamination against a bounded benchmark
    * ([[CorpusOps.semanticContaminationExact]], recall 1 by
    * construction). */
  private[graft] def moderateTauExceedsCap(bits: Int,
      threshold: Double, targetRecall: Double,
      maxTables: Int = 64): Boolean =
    signTablesNeeded(bits, threshold, targetRecall) > maxTables

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo 1995) —
    * the THIRD blocking family next to LSH banding and PPJoin prefix
    * filtering, and the one that wins when near-dups share a PREFIX
    * (re-crawls, versioned titles) rather than global token overlap:
    * records sorted by a normalized key only meet neighbors within a
    * sliding rank window.
    *
    * This is the BLOCKED variant: ranks are per block (first
    * `blockChars` of the key), so the rank window is an ordinary
    * key-partitioned `row_number` — no global sort — and the window
    * self-join is an equi-join on (block, rank bucket). A pair whose
    * keys differ in the first `blockChars` characters is by
    * construction > `maxDist` edits apart anyway when `blockChars`
    * ≤ maxDist is false; callers pick blockChars ≤ maxDist to keep
    * the standard SNM completeness argument, or accept prefix-block
    * recall loss (documented standard practice).
    *
    * Match predicate: Levenshtein distance between the full keys —
    * integer DP, engine-portable. Output (id_a, id_b, key_a, key_b,
    * lev), id_a < id_b by rank order within block.
    */
  /** Blocking-cost profile — "what will this blocking scheme cost
    * BEFORE running it": the block-size histogram of the
    * sorted-neighborhood prefix key, with each size class's exact
    * C(b,2) pair contribution. A fat head (one giant block) means
    * the naive in-block pair budget explodes; the histogram is the
    * evidence for choosing block length / switching schemes, at the
    * price of one aggregation instead of the dedup run itself.
    *
    * Same key derivation as [[sortedNeighborhoodPairs]]; two
    * map-side-combined aggregations (block → size, size → class);
    * pair counts accumulate as DECIMAL(38,0) (Σ b² overflows a long
    * on a degenerate single-block corpus at ~3·10⁹ docs).
    *
    * Output: (block_size, n_blocks, n_docs, n_pairs) ordered by
    * block_size.
    */
  def blockingProfile(docs: DataFrame, idCol: String,
      textCol: String, blockChars: Int = 2): DataFrame = {
    require(blockChars >= 1, "blockChars must be >= 1")
    val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val key = lower(substring(
      regexp_replace(trim(col(textCol)), "\\s+", " "), 1, blockChars))
    docs.where(col(textCol).isNotNull)
      .select(key.as("block"))
      .groupBy("block").agg(count(lit(1)).as("b"))
      .groupBy(col("b").cast("long").as("block_size"))
      .agg(count(lit(1)).cast("long").as("n_blocks"))
      .select(col("block_size"), col("n_blocks"),
        (col("block_size") * col("n_blocks")).cast("long").as("n_docs"),
        // b(b−1) is even, so the D38 product floor-divides exactly
        (expr("(CAST(block_size AS DECIMAL(38,0)) * (block_size - 1)) div 2")
          * col("n_blocks")).cast("long").as("n_pairs"))
      .orderBy("block_size")
  }

  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
      textCol: String, keyChars: Int = 32, blockChars: Int = 2,
      window: Int = 3, maxDist: Int = 5): DataFrame = {
    require(keyChars > blockChars && blockChars >= 1,
      "need keyChars > blockChars >= 1")
    require(window >= 1 && maxDist >= 0, "bad window/maxDist")
    val key = lower(substring(
      regexp_replace(trim(col(textCol)), "\\s+", " "), 1, keyChars))
    val keyed = docs
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), key.as("key"))
      .withColumn("block", substring(col("key"), 1, blockChars))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("block").orderBy("key", "id")
    val ranked = Lineage.materialize(
      keyed.withColumn("r", row_number().over(w)))
    // rank-bucket band join: a probes its own bucket and the next
    // one (every rb in (ra, ra+window] lands in one of the two), so
    // candidates stay O(window) per row — a bare block join would
    // materialize |block|² pairs before the band filter
    val a = ranked.select(col("block"), col("id").as("id_a"),
        col("key").as("key_a"), col("r").as("ra"),
        explode(array(floor((col("r") - 1) / window),
          floor((col("r") - 1) / window) + 1)).as("jb"))
    val b = ranked.select(col("block"), col("id").as("id_b"),
      col("key").as("key_b"), col("r").as("rb"),
      floor((col("r") - 1) / window).as("jb"))
    a.join(b, Seq("block", "jb"))
      .where(col("rb") > col("ra") && col("rb") <= col("ra") + window)
      .withColumn("lev", levenshtein(col("key_a"), col("key_b")))
      .where(col("lev") <= maxDist)
      .select("id_a", "id_b", "key_a", "key_b", "lev")
  }

  /** Full-text edit-distance VERIFICATION of sorted-neighborhood
    * candidates — the verify stage of the SNM tier, mirroring how the
    * LSH tier pairs candidate generation with in-bucket exact Jaccard
    * (q170): [[sortedNeighborhoodPairs]] proposes key-level
    * candidates, then each candidate pair is re-scored on the first
    * `verifyChars` characters of the whitespace-normalized, lowered
    * full text with true Levenshtein distance.
    *
    * Why truncate: edit-distance DP is O(len²) per pair; capping the
    * verify window bounds per-pair cost to O(verifyChars²) while the
    * candidate count stays O(window) per row from the SNM band — the
    * whole verify stage is candidate-bounded, never corpus².
    *
    * Output per candidate pair: (id_a, id_b, lev, len_a, len_b, rel,
    * is_dup) where rel = lev / max(len_a, len_b) (one double division
    * of exact ints — engine-portable) and is_dup = rel ≤ maxRel. All
    * candidates are emitted with their verdict rather than filtered,
    * so the operator doubles as the SNM-tier calibration report.
    */
  def editVerifiedPairs(docs: DataFrame, idCol: String,
      textCol: String, keyChars: Int = 32, blockChars: Int = 2,
      window: Int = 3, maxKeyDist: Int = 5, verifyChars: Int = 240,
      maxRel: Double = 0.2): DataFrame = {
    require(verifyChars >= keyChars,
      "verify window must cover the blocking key")
    require(maxRel > 0.0 && maxRel < 1.0, "maxRel must be in (0,1)")
    val cand = sortedNeighborhoodPairs(docs, idCol, textCol,
      keyChars, blockChars, window, maxKeyDist)
      .select("id_a", "id_b")
    val norm = docs
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        lower(substring(regexp_replace(trim(col(textCol)),
          "\\s+", " "), 1, verifyChars)).as("t"))
    cand
      .join(norm.select(col("id").as("id_a"), col("t").as("t_a")),
        Seq("id_a"))
      .join(norm.select(col("id").as("id_b"), col("t").as("t_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("t_a"), col("t_b")).cast("long").as("lev"),
        length(col("t_a")).cast("long").as("len_a"),
        length(col("t_b")).cast("long").as("len_b"),
        (levenshtein(col("t_a"), col("t_b")).cast("double") /
          greatest(length(col("t_a")), length(col("t_b")))
            .cast("double")).as("rel"))
      .withColumn("is_dup", col("rel") <= lit(maxRel))
  }
}
