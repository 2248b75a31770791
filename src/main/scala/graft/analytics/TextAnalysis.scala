package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-corpus pipelines (north-star
  * extension): language identification, quality scoring, token
  * counting, and document fingerprinting. Everything is a pure
  * codegen'd `Column` expression over one scan of the corpus — no UDFs,
  * no shuffle except the caller's own aggregations, so each scales
  * linearly with input splits at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  // --- language identification (stopword-profile heuristic) ---------

  /** Tiny public stopword profiles. Scores are per-token hit ratios;
    * prediction is the argmax with deterministic alphabetical
    * tie-break.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit",
      "ein", "eine", "zu"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it",
      "that", "for"),
    "es" -> Seq("el", "los", "las", "y", "es", "una", "en", "para",
      "por", "con"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "pour",
      "que", "des"))

  /** Languages in deterministic (alphabetical) preference order. */
  val langs: Seq[String] = stopwords.keys.toSeq.sorted

  /** All language scores as one array ([[langs]] order) over an
    * already-bound token array — a single pass over the tokens per
    * language. */
  private def langScoresArr(toks: Column): Column =
    array(langs.map { l =>
      size(filter(toks, t => t.isin(stopwords(l): _*))).cast("double") /
        size(toks).cast("double")
    }: _*)

  /** Argmax over a score array: earliest language wins exact ties,
    * "und" when no profile hit at all. */
  private def predictFromScores(ss: Column): Column =
    when(array_max(ss) > 0,
      element_at(array(langs.map(lit): _*),
        array_position(ss, array_max(ss)).cast("int")))
      .otherwise(lit("und"))

  /** Predicted language: argmax score, earliest language wins ties.
    * Single tokenize + one filter pass per language — the tokens and
    * the score array are bound through HOF arguments (evaluated once;
    * Spark does no CSE across HOF lambdas, so the naive
    * compare-each-to-all form costs O(L²) tokenize passes per row).
    */
  def langPredict(text: Column): Column =
    get(transform(array(tokens(text)), toks =>
      get(transform(array(langScoresArr(toks)),
        ss => predictFromScores(ss)), lit(0))), lit(0))

  /** One-pass language profile: struct(s_<lang>…, predicted) — all
    * four scores and the argmax from a single tokenize. Callers should
    * project it through a generator (`explode(array(...))`) so
    * projection collapse cannot re-inline the struct per output field.
    */
  def langProfile(text: Column): Column =
    get(transform(array(tokens(text)), toks =>
      get(transform(array(langScoresArr(toks)), ss =>
        struct(langs.zipWithIndex.map { case (l, i) =>
          element_at(ss, i + 1).as(s"s_$l")
        } :+ predictFromScores(ss).as("predicted"): _*)), lit(0))), lit(0))

  // --- quality scoring (Gopher-style repetition/shape gates) --------

  /** Punctuation-to-character ratio. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,!?;:]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** One-pass quality profile: struct(n_tokens, mean_token_len,
    * stop_ratio, punct_ratio, quality_score) from a single tokenize —
    * tokens and the metric vector are bound through HOF arguments so
    * nothing re-evaluates. Project through `explode(array(...))` (see
    * [[langProfile]]). */
  def qualityProfile(text: Column): Column =
    get(transform(array(tokens(text)), toks => {
      val metrics = array(
        size(toks).cast("double"),
        length(regexp_replace(text, "\\s", "")).cast("double") /
          size(toks).cast("double"),
        size(filter(toks, t => t.isin(stopwords("en"): _*))).cast("double") /
          size(toks).cast("double"),
        punctRatio(text))
      get(transform(array(metrics), m => {
        val gates = Seq(
          element_at(m, 1).between(20.0, 100000.0),
          element_at(m, 2).between(3.0, 10.0),
          element_at(m, 3) >= 0.01,
          element_at(m, 4) <= 0.1)
        struct(
          element_at(m, 1).cast("long").as("n_tokens"),
          element_at(m, 2).as("mean_token_len"),
          element_at(m, 3).as("stop_ratio"),
          element_at(m, 4).as("punct_ratio"),
          (gates.map(_.cast("int")).reduce(_ + _).cast("double") /
            gates.size).as("quality_score"))
      }), lit(0))
    }), lit(0))

  // --- token counting ----------------------------------------------

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish sub-word segmentation regex (GPT-2-style pre-tokenizer
    * simplified to engine-portable syntax: contraction suffixes, letter
    * runs, digit runs, symbol runs, whitespace runs).
    */
  val bpeRegex: String =
    "'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  /** BPE-ish token count (matches of [[bpeRegex]]). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeRegex), lit(0)))

  // --- document fingerprinting -------------------------------------

  /** Polynomial rolling hash of the token stream, mod [[Dedup.P]]:
    * fp = Σ tokenHash·B^i (Horner fold, B=131). Order-sensitive — two
    * docs with the same tokens in different order fingerprint
    * differently, unlike bag-of-words hashes.
    */
  def rollingFingerprint(text: Column): Column =
    aggregate(
      transform(tokens(text), t => Dedup.h30(t)),
      lit(0L),
      (acc, h) => (acc * 131 + h) % Dedup.P)

  // --- tokenizer-training statistics -------------------------------

  /** BPE merge-pair statistics (the inner loop of byte-pair-encoding
    * tokenizer training, Sennrich et al. 2016): corpus-weighted
    * counts of adjacent character pairs inside words. The classic
    * scale trick is applied: aggregate the corpus to (distinct word,
    * frequency) FIRST — one shuffle proportional to the vocabulary,
    * not the corpus — then explode each distinct word's character
    * pairs exactly once and weight by its frequency. At 100 TB the
    * vocab-sized second stage is negligible next to the corpus scan.
    * (Single merge step over raw characters; real training re-runs
    * this loop over progressively merged symbol sequences.)
    *
    * Returns (pair, pair_count) for words of length >= 2, one row per
    * distinct adjacent pair.
    */
  def bpePairCounts(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val words = docs.where(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("word"))
      .where(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    words
      .where(length(col("word")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("freq")).as("pair_count"))
  }

  /** Differential term analysis — "Fightin' Words" log-odds with an
    * informed Dirichlet prior (Monroe, Colaresi & Quinn 2008,
    * public): which terms distinguish the TARGET slice from the rest
    * of the corpus, with small-count noise shrunk by the corpus-wide
    * prior (raw log-odds would rank one-off typos first; the z-score
    * divides by the uncertainty).
    *
    *   δ_w = ln[(a_w+α_w)/(n_A+α₀−a_w−α_w)]
    *       − ln[(b_w+α_w)/(n_B+α₀−b_w−α_w)],
    *   z_w = δ_w / √(1/(a_w+α_w) + 1/(b_w+α_w)),  α_w = μ·(a_w+b_w)/N
    *
    * Scale shape: one (group-side, token) count aggregation, then
    * everything runs on the vocabulary-sized frame; the final top-k
    * is a TakeOrdered by (z, term). Determinism: every input to the
    * formula is an exact BIGINT; the two scores are QUANTIZED to
    * 1e-12 integer units on output (JVM and C libm ln disagree in
    * the last ulp, so even row-local doubles need the fixed-point
    * boundary — measured on this very query) and the top-k orders by
    * the quantized score.
    *
    * Returns the `k` most target-leaning (term, cnt_target,
    * cnt_rest, delta_fp, z_fp), z_fp descending, scores in 1e-12
    * units.
    */
  def logOddsTerms(docs: DataFrame, textCol: String, groupCol: String,
      targetGroup: String, mu: Double, k: Int): DataFrame = {
    require(mu > 0 && k >= 1, "mu > 0, k >= 1")
    val counts = docs
      .where(col(textCol).isNotNull && col(groupCol).isNotNull)
      .select((col(groupCol) === targetGroup).as("tgt"),
        explode(tokens(col(textCol))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("tok")
      .agg(sum(when(col("tgt"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("tgt"), 1L).otherwise(0L)).as("b"))
    val totals = counts.agg(sum(col("a")).as("na"),
      sum(col("b")).as("nb"))
    val nA = col("na").cast("double"); val nB = col("nb").cast("double")
    val n = nA + nB
    val alphaW = lit(mu) * (col("a") + col("b")).cast("double") / n
    val alpha0 = lit(mu)
    val aw = col("a").cast("double") + alphaW
    val bw = col("b").cast("double") + alphaW
    val delta =
      log(aw / (nA + alpha0 - aw)) - log(bw / (nB + alpha0 - bw))
    val z = delta / sqrt(lit(1.0) / aw + lit(1.0) / bw)
    counts.crossJoin(broadcast(totals))
      .select(col("tok").as("term"),
        col("a").cast("long").as("cnt_target"),
        col("b").cast("long").as("cnt_rest"),
        round(delta * 1e12).cast("long").as("delta_fp"),
        round(z * 1e12).cast("long").as("z_fp"))
      .orderBy(col("z_fp").desc, col("term"))
      .limit(k)
  }

  /** Zipf slope of the corpus token-frequency distribution: OLS fit
    * of ln(count) against ln(rank) over the top `k` tokens — the
    * one-number "is this corpus natural language" check (natural
    * text sits near −1; machine-generated or templated corpora
    * flatten or steepen it).
    *
    * Scale shape: one vocabulary-sized count aggregation, a global
    * top-k by (count, token) — TakeOrdered, never a full vocabulary
    * sort — then the regression runs on k rows. Determinism: ln x
    * and ln rank are quantized to 1e-12 units; all OLS power sums
    * accumulate as DECIMAL(38,0) from those integers, with the final
    * slope/intercept one double division each. Rank ties cannot
    * occur (rank is by (count desc, token), a total order).
    *
    * Output (one row): n_terms, slope, intercept (nats).
    */
  def zipfSlope(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val counts = docs.where(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(k)
    val ranked = counts.withColumn("r",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("tok"))))
    val x = round(log(col("r").cast("double")) * 1e12).cast("long")
      .cast(D38)
    val y = round(log(col("c").cast("double")) * 1e12).cast("long")
      .cast(D38)
    val s = ranked.agg(count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * y).as("sxy"), sum(x * x).as("sxx"))
    val n = col("n").cast(D38)
    val num = (n * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = (n * col("sxx") - col("sx") * col("sx")).cast("double")
    s.select(col("n").cast("long").as("n_terms"),
      when(den > 0, num / den).as("slope"),
      when(den > 0,
        (col("sy").cast("double") / 1e12 -
          (num / den) * (col("sx").cast("double") / 1e12)) /
          col("n").cast("double")).as("intercept"))
  }

  /** Delimiters for [[rakeKeywords]]: a token is a phrase BREAK when
    * its normalized form is empty (pure punctuation) or one of these
    * function words — the classic RAKE recipe (Rose et al. 2010,
    * public) with a fixed, engine-portable stoplist. */
  val RakeStopwords: Seq[String] = Seq(
    "the", "of", "and", "a", "in", "to", "is", "was", "it", "for",
    "with", "on", "as", "by", "at", "an", "or", "are", "be", "this",
    "that", "from", "but", "not", "have", "has")

  /** RAKE keyword extraction (Rapid Automatic Keyword Extraction):
    * candidate phrases are maximal stopword/punctuation-delimited
    * token runs (capped at `maxLen` words); each word scores
    * deg(w)/freq(w) over the candidate corpus (deg = Σ phrase length
    * across occurrences, freq = occurrence count) and a phrase scores
    * the sum over its word instances — multi-word domain terms
    * outrank ubiquitous single words because their words inherit
    * their neighbors' degree.
    *
    * Scale shape: one per-token pass (posexplode + a doc-local window
    * cumsum for run ids), one phrase aggregation, one vocabulary-
    * sized word-stats aggregation joined back on the word — never
    * doc×doc, no driver loop. Determinism: deg/freq is computed as
    * `(deg·10¹²) div freq` in exact DECIMAL arithmetic and summed as
    * integers — the engine-portable quantization recipe — and the
    * top-k is total-ordered by (score, phrase).
    *
    * Returns the `k` best (phrase, n_words, n_occ, score_fp) where
    * score_fp is the 1e-12-scaled integer score.
    */
  def rakeKeywords(docs: DataFrame, idCol: String, textCol: String,
      k: Int, maxLen: Int = 4): DataFrame = {
    require(k >= 1 && maxLen >= 1, "k and maxLen must be >= 1")
    val toks = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("i", "raw")))
      .withColumn("w",
        regexp_replace(lower(col("raw")), "[^a-z0-9]", ""))
      .withColumn("br",
        (col("w") === "" ||
          col("w").isInCollection(RakeStopwords)).cast("long"))
    val runs = toks.withColumn("run",
      sum(col("br")).over(org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("i")))
    val phrases = runs.where(col("br") === 0)
      .groupBy("doc_id", "run")
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("i"), col("w")))),
          x => x("w")), " ").as("phrase"),
        count(lit(1)).as("plen"))
      .where(col("plen") <= maxLen)
    val stats = phrases
      .select(col("plen"), explode(split(col("phrase"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"),
        sum(col("plen")).as("deg"))
    val ptype = phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occ"),
        first(col("plen")).as("n_words"))
    ptype
      .select(col("phrase"), col("n_words"), col("n_occ"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(stats, Seq("w"))
      .groupBy("phrase")
      .agg(first(col("n_words")).cast("long").as("n_words"),
        first(col("n_occ")).cast("long").as("n_occ"),
        sum(expr("CAST(deg AS DECIMAL(38,0)) * 1000000000000 div freq"))
          .cast("long").as("score_fp"))
      .orderBy(col("score_fp").desc, col("phrase"))
      .limit(k)
  }

  /** Heaps'-law vocabulary-growth fit per source: OLS of
    * ln(distinct tokens) on ln(total tokens) across documents —
    * V ≈ K·N^β, so `beta` is the vocabulary-growth exponent (natural
    * prose sits around 0.4–0.6; template/boilerplate-heavy sources
    * grow much slower, near-random token soup near 1) and `ln_k` the
    * log richness constant. The per-source comparison is a curation
    * signal the per-doc quality scores can't see: it measures how a
    * source's vocabulary SCALES, not how one document reads.
    *
    * Determinism ([[graft.analytics.Regression.groupOls]]'s contract
    * on log points): per-doc token/type counts are exact integers;
    * each ln is quantized to µln units (⌊ln·10⁶ + 0.5⌋ — the
    * established ln-quantization convention) so the five OLS power
    * sums accumulate as exact DECIMAL(38,0) integers, map-side
    * combined, with one double conversion per statistic at the end.
    * Docs with fewer than 2 tokens are excluded (ln 0 / degenerate
    * points). Output: (source, n_docs, beta, ln_k, r2) ordered by
    * source; null statistics for degenerate (constant-x) sources.
    */
  def heapsLaw(docs: DataFrame, sourceCol: String,
      textCol: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(38, 0)
    def d(c: Column): Column = c.cast(D)
    val toks = tokens(col(textCol))
    val base = docs
      .where(col(textCol).isNotNull && col(sourceCol).isNotNull)
      .select(col(sourceCol).as("source"),
        size(toks).cast("long").as("nt"),
        size(array_distinct(toks)).cast("long").as("nv"))
      .where(col("nt") >= 2 && col("nv") >= 1)
    val pts = base.select(col("source"),
      floor(log(col("nt").cast("double")) * lit(1000000.0) + lit(0.5))
        .cast("long").as("x"),
      floor(log(col("nv").cast("double")) * lit(1000000.0) + lit(0.5))
        .cast("long").as("y"))
    val sums = pts.groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(d(col("x"))).as("sx"), sum(d(col("y"))).as("sy"),
        sum(d(col("x")) * d(col("y"))).as("sxy"),
        sum(d(col("x")) * d(col("x"))).as("sxx"),
        sum(d(col("y")) * d(col("y"))).as("syy"))
    val num = (d(col("n")) * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val den = (d(col("n")) * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val deny = (d(col("n")) * col("syy") - col("sy") * col("sy"))
      .cast("double")
    sums.select(col("source"), col("n").cast("long").as("n_docs"),
        when(den > 0d, num / den).as("beta"),
        when(den > 0d,
          (col("sy").cast("double") - (num / den) *
            col("sx").cast("double")) / col("n").cast("double") /
            lit(1000000.0)).as("ln_k"),
        when(den > 0d && deny > 0d, num * num / (den * deny)).as("r2"))
      .orderBy("source")
  }
}
