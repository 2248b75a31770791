package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Lineage

/** Corpus-preparation operators for LLM training pipelines: PII
  * redaction, eval-set decontamination, repetition quality signals,
  * and fixed-window chunking. All map-only except decontamination
  * (one shingle equi-join) — at 100 TB these run as a single pass
  * over the corpus with no driver-side state.
  *
  * Regex patterns are deliberately kept in the RE2-compatible subset
  * (no backreferences / lookaround) so the same pattern runs under
  * Java regex (Spark) and RE2 (DuckDB oracle, and most scale-out
  * scan engines) with identical semantics.
  */
object CorpusOps {

  /** The per-document corpus-prep verdict — the decision a
    * training-data run makes for every crawled document, as ONE
    * declarative plan: language-ID + composite quality score +
    * exact-dup keep-first rank (all from a single corpus scan: one
    * content-keyed window, then one generator barrier evaluating both
    * per-row profiles exactly once) joined with eval-set shingle
    * contamination against `bench`. Returns (idCol, predicted,
    * quality_score, is_dup, contamination, kept) with kept = 1 iff
    * predicted = `keepLang` ∧ quality ≥ `minQuality` ∧ first copy ∧
    * contamination < `maxContam`. Factored from the q79 operator so
    * composed pipelines (q240) run the identical verdict. */
  def prepVerdict(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, keepLang: String, minQuality: Double,
      maxContam: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col(textCol))).orderBy(idCol)
    val base = corpus
      .withColumn("is_dup", (row_number().over(w) > 1).cast("int"))
      .select(col(idCol), col("is_dup"),
        explode(array(struct(
          TextAnalysis.langProfile(col(textCol)).as("lp"),
          TextAnalysis.qualityProfile(col(textCol)).as("qp")))).as("r"))
      .select(col(idCol),
        col("r.lp.predicted").as("predicted"),
        col("r.qp.quality_score").as("quality_score"),
        col("is_dup"))
    val cont = contamination(corpus, bench, idCol, textCol, n = 5)
      .select(col(idCol), col("contamination"))
    val contaminationC = coalesce(col("contamination"), lit(0.0))
    base.join(cont, Seq(idCol), "left")
      .select(col(idCol), col("predicted"), col("quality_score"),
        col("is_dup"), contaminationC.as("contamination"),
        (col("predicted") === keepLang &&
          col("quality_score") >= minQuality &&
          col("is_dup") === 0 &&
          contaminationC < maxContam).cast("int").as("kept"))
  }

  /** PII patterns: email, dashed international-ish phone, IPv4. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Count occurrences of `pattern` in `c` (0 for null input). */
  def piiCount(c: Column, pattern: String): Column =
    coalesce(size(regexp_extract_all(c, lit(pattern), lit(0))), lit(0))
      .cast("long")

  /** Replace email/phone/IPv4 matches with typed placeholder tags.
    * Order matters: emails first (their local parts can contain
    * digits that the looser patterns must not see first). */
  def redactPii(c: Column): Column = {
    val e = regexp_replace(c, EmailRe, "<EMAIL>")
    val p = regexp_replace(e, PhoneRe, "<PHONE>")
    regexp_replace(p, Ipv4Re, "<IP>")
  }

  /** Gopher-style repetition signals per document: duplicate-n-gram
    * fraction for n = 1, 2, 3. Map-only, built on the native
    * [[graft.expressions.WordNgrams]] expression (the interpreted
    * HOF version cost 2.2 s at sf0.1; each native call re-tokenizes
    * in compiled code, which is far cheaper than one interpreted
    * slice/join pass). */
  def repetitionSignals(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val text = col(textCol)
    val nTokens = size(Dedup.tokens(text))
    def dupFrac(n: Int): Column = {
      val total = greatest(nTokens - (n - 1), lit(0))
      val distinctN =
        size(graft.expressions.WordNgrams.column(text, n, distinct = true))
      when(total === 0, lit(0.0))
        .otherwise(lit(1.0) - distinctN.cast("double") /
          total.cast("double"))
    }
    docs.where(text.isNotNull)
      .select(col(idCol).as("doc_id"),
        nTokens.cast("long").as("n_tokens"),
        dupFrac(1).as("dup_unigram_frac"),
        dupFrac(2).as("dup_bigram_frac"),
        dupFrac(3).as("dup_trigram_frac"))
  }

  /** Eval-set decontamination: for each corpus doc, the fraction of
    * its distinct `n`-gram shingles that also occur in `bench`. One
    * equi-join on shingle — the bench side is a distinct shingle set
    * (small for real eval suites; not force-broadcast so AQE can
    * decide from measured size). Docs with no shingles are omitted,
    * as are bench docs themselves (caller pre-splits the frames). */
  def contamination(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val corpusSh = Dedup.shingleIndex(corpus, idCol, textCol, n)
    val benchSh = Dedup.shingleIndex(bench, idCol, textCol, n)
      .select("shingle").distinct()
      .withColumn("hit", lit(1L))
    contaminationTail(corpusSh.join(benchSh, Seq("shingle"), "left"),
      coalesce(col("hit"), lit(0L)))
  }

  /** Shared per-doc aggregation of an indexed (doc_id, shingle [, …])
    * frame with a 0/1 hit column: shingle count, contaminated count,
    * and their ratio. */
  private def contaminationTail(indexed: DataFrame,
      hit: Column): DataFrame =
    indexed.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(hit.cast("long")).as("n_contaminated"))
      .withColumn("contamination",
        col("n_contaminated").cast("double") /
          col("n_shingles").cast("double"))

  /** URL curation for web corpora: host/TLD extraction plus a
    * blocklist gate. Map-only — `parse_url` is a built-in expression,
    * the blocklist is a literal `isin` for small lists (swap for a
    * broadcast join or Bloom probe when it grows). Malformed URLs
    * yield null host (`try_parse_url`; plain `parse_url` raises under
    * ANSI) and are flagged rather than dropped. */
  def urlFacets(urls: Column, blockedTlds: Seq[String]): Seq[Column] = {
    val host = try_parse_url(urls, lit("HOST"))
    val tld = substring_index(host, ".", -1)
    // case-insensitive gate: 'SPAM.BIZ' must not evade a 'biz' block
    val blocked = host.isNull ||
      lower(tld).isin(blockedTlds.map(_.toLowerCase): _*)
    Seq(host.as("host"), tld.as("tld"), blocked.as("blocked"))
  }

  /** Map-only decontamination via a broadcast Bloom filter of the
    * bench shingle set — the shape for when the corpus is 100 TB but
    * the eval suite is not: a few hundred MB of Bloom bits replace
    * the shingle equi-join ([[contamination]]) with a pure map pass
    * over the corpus, no shuffle of corpus shingles at all.
    *
    * One-sided error: no false negatives (every truly contaminated
    * shingle is counted), false positives bounded by `fpp` — the
    * reported fraction is an upper bound on the exact join's, which
    * is the safe direction for a decontamination gate. The membership
    * probe is a Scala UDF: Bloom membership has no public built-in
    * Column function, and the probe is a leaf predicate with no
    * expression fusion to lose.
    */
  def contaminationBloom(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int,
      expectedBenchShingles: Long, fpp: Double): DataFrame = {
    val bloom = Dedup.shingleIndex(bench, idCol, textCol, n)
      .stat.bloomFilter("shingle", expectedBenchShingles, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val hit = udf((s: String) =>
      if (s == null) false else bc.value.mightContainString(s))
    contaminationTail(Dedup.shingleIndex(corpus, idCol, textCol, n),
      hit(col("shingle")).cast("long"))
  }

  /** Concat-and-split sequence packing over chunked documents: chunks
    * are laid end to end in (doc_id, chunk_idx) order within a shard
    * and a chunk belongs to the training sequence where its first
    * token lands (`floor(exclusive-cumsum / budget)`). Packing is a
    * running sum, so it is per-shard sequential by nature — the shard
    * key (`doc_id % shards`) keeps it embarrassingly parallel with
    * deterministic output instead of a single global-order window.
    * Sequences fill to ~budget tokens (a chunk that starts near the
    * boundary overruns by at most chunk_len - 1; training loaders
    * split the concatenated stream exactly there).
    */
  def packSequences(chunks: DataFrame, budget: Int,
      shards: Int): DataFrame = {
    require(budget > 0 && shards > 0, "budget and shards must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id", "chunk_idx")
      .rowsBetween(Long.MinValue, -1)
    chunks
      .withColumn("shard", pmod(col("doc_id"), lit(shards)))
      .withColumn("cum_excl",
        coalesce(sum(col("n_chunk_tokens")).over(w), lit(0L)))
      .groupBy(col("shard"),
        floor(col("cum_excl") / budget).cast("long").as("seq_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_chunk_tokens")).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"))
  }

  /** Corpus-wide exact paragraph deduplication (the C4 / Dolma
    * pass: every later occurrence of a repeated paragraph is
    * dropped, the first occurrence in (doc_id, position) order
    * survives, and each document is reassembled from its surviving
    * paragraphs). Real corpora split paragraphs on blank lines; the
    * synthetic corpus is single-line word salad, so a "paragraph"
    * here is a non-overlapping run of `k` word tokens — the plan is
    * identical either way (only the splitter expression changes).
    *
    * Scale posture: chunking is a pure higher-order-function
    * projection (no join, no pre-shuffle explode); the dedup
    * decision is ONE hash shuffle partitioned by paragraph content
    * and the reassembly is ONE shuffle back on doc_id — at 100 TB
    * both are plain hash exchanges with no skew beyond genuine
    * boilerplate paragraphs (a paragraph repeated millions of times
    * lands on one reducer, but carries only (doc_id, pos) pairs —
    * the text itself is not duplicated per occurrence on the dedup
    * side). Returns one row per document: paragraph count, surviving
    * count, and the deduplicated text.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, "paragraph token length k must be positive")
    val paras = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), Dedup.tokens(col(textCol)).as("__w"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0),
          ceil(size(col("__w")) / lit(k.toDouble)).cast("int") - 1),
        i => array_join(slice(col("__w"), i * k + 1, lit(k)), " "))))
      .toDF("doc_id", "pos", "para")
    val firstSeen = org.apache.spark.sql.expressions.Window
      .partitionBy("para").orderBy("doc_id", "pos")
    paras
      .withColumn("kept", row_number().over(firstSeen) === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        sum(col("kept").cast("long")).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("pos"), col("para"))))),
          x => x("para")), " ").as("dedup_text"))
  }

  /** Per-document boilerplate coverage — the template-removal signal
    * of web-corpus cleaning (license headers, navigation chrome,
    * SEO footers): a token `n`-gram is BOILERPLATE when it occurs in
    * ≥ `minDf` distinct documents, and each document reports how much
    * of its own n-gram mass those shared templates cover. High-share
    * docs are near-pure chrome; the gram table itself (df ≥ minDf) is
    * the induced template library.
    *
    * Scale shape: one corpus-sized (doc, gram) aggregation (map-side
    * combined — instances collapse to per-doc counts before
    * shuffling), one vocabulary-sized df aggregation, and one join
    * keyed on the gram — never doc×doc, never a broadcast of an
    * unbounded gram set. All counts exact BIGINTs; the share is one
    * final double division.
    *
    * Returns (doc_id, n_grams, n_boiler, boiler_share) for every doc
    * with at least one n-gram, ordered by doc_id.
    */
  def boilerplateCoverage(docs: DataFrame, idCol: String,
      textCol: String, n: Int, minDf: Long): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(minDf >= 2, "minDf must be >= 2")
    val grams = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(coalesce(
          graft.expressions.WordNgrams.column(col(textCol), n,
            distinct = false),
          array().cast("array<string>"))).as("gram"))
    val perDocGram = grams.groupBy("doc_id", "gram")
      .agg(count(lit(1)).as("c"))
    val dfTab = perDocGram.groupBy("gram")
      .agg(count(lit(1)).as("df"))
    perDocGram.join(dfTab, Seq("gram"))
      .groupBy("doc_id")
      .agg(sum(col("c")).cast("long").as("n_grams"),
        sum(when(col("df") >= minDf, col("c")).otherwise(lit(0L)))
          .cast("long").as("n_boiler"))
      .withColumn("boiler_share",
        col("n_boiler").cast("double") / col("n_grams").cast("double"))
      .orderBy("doc_id")
  }

  /** Fixed-window token chunking with overlap (window 32 / stride 24
    * style): one output row per chunk with its 0-based index, token
    * count, and content hash. Map-only explode — the chunker a
    * training pipeline runs immediately before packing. */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val bound = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(array(Dedup.tokens(col(textCol)))).as("toks"))
    bound
      .select(col("doc_id"), size(col("toks")).as("n"), col("toks"))
      .select(col("doc_id"),
        explode(sequence(lit(1), col("n"), lit(stride))).as("start"),
        col("toks"), col("n"))
      .select(col("doc_id"),
        ((col("start") - 1) / stride).cast("long").as("chunk_idx"),
        least(lit(window), col("n") - col("start") + 1).cast("long")
          .as("n_chunk_tokens"),
        md5(array_join(slice(col("toks"), col("start"), lit(window)), " "))
          .as("chunk_hash"))
  }

  /** Chunk-level eval-set decontamination — the span-removal variant
    * of [[contamination]]: instead of scoring (and possibly dropping)
    * whole documents, each document is cut into non-overlapping
    * `window`-token chunks and a chunk is DROPPED iff it contains any
    * `n`-gram that appears in the benchmark set. This is what
    * production decontamination actually ships (drop the quoted
    * benchmark passage, keep the surrounding document).
    *
    * Scale shape: one map-side chunk+shingle explode over the corpus,
    * one equi-join against the (distinct, benchmark-sized — broadcast
    * while small) shingle set, two map-side-combined aggregations
    * (chunk verdict, then per-doc stats). No window over corpus rows,
    * no driver state.
    *
    * Chunks shorter than `n` tokens carry no n-gram and are always
    * kept — identical semantics on both engines (empty shingle
    * generation, not a special case). Returns per doc: (doc_id,
    * n_chunks, n_kept, n_dropped, kept_tokens).
    */
  def decontaminateChunks(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, window: Int, n: Int): DataFrame = {
    require(window > 0, "window must be positive")
    require(n > 0, "n must be positive")
    val benchSh = Dedup.shingleIndex(bench, idCol, textCol, n)
      .select("shingle").distinct().withColumn("hit", lit(1L))
    val chunks = corpus.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        Dedup.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        explode(sequence(lit(1), greatest(size(col("toks")), lit(1)),
          lit(window))).as("start"), col("toks"))
      .select(col("doc_id"),
        ((col("start") - 1) / window).cast("long").as("chunk_idx"),
        slice(col("toks"), col("start"), lit(window)).as("ctoks"))
      .withColumn("n_chunk_tokens", size(col("ctoks")).cast("long"))
    // guard the sequence upper bound: sequence(1, 0) counts DOWN in
    // Spark, so a chunk shorter than n must take the empty branch
    val chunkShingles = when(size(col("ctoks")) >= n,
      transform(sequence(lit(1), size(col("ctoks")) - (n - 1)),
        i => array_join(slice(col("ctoks"), i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    val shingled = chunks.select(col("doc_id"), col("chunk_idx"),
      col("n_chunk_tokens"),
      explode(concat(array(lit(null).cast("string")), chunkShingles))
        .as("shingle"))
    // the null sentinel keeps shingle-less chunks (len < n) in the
    // frame with zero join hits, so the verdict aggregation sees them
    val verdict = shingled
      .join(benchSh, Seq("shingle"), "left")
      .groupBy("doc_id", "chunk_idx")
      .agg(first(col("n_chunk_tokens")).as("n_chunk_tokens"),
        coalesce(max(col("hit")), lit(0L)).as("dropped"))
    verdict.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(lit(1L) - col("dropped")).as("n_kept"),
        sum(col("dropped")).as("n_dropped"),
        sum(when(col("dropped") === 0L, col("n_chunk_tokens"))
          .otherwise(lit(0L))).as("kept_tokens"))
  }

  /** Exact substring dedup statistics (the ExactSubstr pass of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): every stride-1 window of `k` tokens whose content
    * appears at more than one (doc, pos) corpus-wide — and is not the
    * corpus-first occurrence in (doc_id, pos) order — is flagged, and
    * flagged windows inside a document are merged into maximal
    * contiguous duplicated spans (the token ranges the pass would cut).
    *
    * Lee et al. build a corpus-wide suffix array; the Spark-native
    * equivalent is a single shuffle keyed on the window content hash
    * (row_number picks the first occurrence) followed by a per-document
    * gaps-and-islands pass — both plain hash exchanges, linear in total
    * token count at 100 TB, with no driver-side state and no index to
    * hold in memory. Output per qualifying doc: total windows,
    * duplicated windows, merged span count, and tokens covered by
    * duplicated spans.
    */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, "substring window length k must be positive")
    import org.apache.spark.sql.expressions.Window
    val sized = docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), Dedup.tokens(col(textCol)).as("__w"))
      .select(col("doc_id"), col("__w"), size(col("__w")).as("n"))
      .where(col("n") >= k)
    // native one-pass window hashing: byte-identical to the HOF
    // transform/slice/md5 chain (the oracle's formulation) but ~one
    // MessageDigest loop per row instead of an interpreted lambda and
    // a fresh slice per window — see expressions/WindowHashes
    val wins = sized
      .select(col("doc_id"), posexplode(
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.expressions.WindowHashes(
            org.apache.spark.sql.graft.ColumnBridge
              .expression(col("__w")), k))))
      .toDF("doc_id", "pos", "h")
    val firstSeen = Window.partitionBy("h").orderBy("doc_id", "pos")
    val dups = wins
      .withColumn("rn", row_number().over(firstSeen))
      .where(col("rn") > 1)
      .select("doc_id", "pos")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    // A window starting at pos covers tokens [pos, pos+k-1]; the next
    // flagged window extends the same span iff its coverage overlaps
    // or touches (pos - prev <= k). First row: NULL <= k is not true
    // in both engines, so it opens a span.
    val spans = dups
      .withColumn("new_span",
        when(col("pos") - lag("pos", 1).over(byDoc) <= k, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("span_id", sum("new_span").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perDoc = spans
      .groupBy("doc_id", "span_id")
      .agg(count(lit(1)).as("nw"),
        (max("pos") - min("pos") + k).cast("long").as("cov"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum("nw").as("n_dup_windows"),
        sum("cov").as("dup_tokens"))
    sized.select(col("doc_id"), (col("n") - (k - 1)).cast("long").as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).cast("long").as("n_dup_windows"),
        coalesce(col("n_dup_spans"), lit(0L)).cast("long").as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).cast("long").as("dup_tokens"))
  }

  /** SEMANTIC eval-set decontamination — the embedding-level
    * complement of the n-gram [[decontaminateChunks]]: an n-gram
    * check only catches VERBATIM benchmark quotes, while a
    * paraphrased or re-worded leak shares almost no shingles but
    * sits next to the benchmark item in embedding space. For every
    * corpus vector, find its best benchmark match at cosine ≥
    * `threshold` among sign-LSH candidates (same bucket in ANY of
    * `tables` seeded tables) and report (vec_id, bench_id, score,
    * contaminated); clean docs keep a row with null match columns —
    * the survivor list is `filter(!contaminated)`.
    *
    * Scale shape: the benchmark side is eval-suite-sized and
    * BROADCAST (both its buckets and its vectors); the corpus is
    * touched map-only per table (bucket expression + broadcast-hash
    * join) plus one aggregation for the per-doc argmax — no corpus
    * self-join, no shuffle keyed on anything wider than `idCol`.
    * Recall follows the q251/q256 retention model; size `bits` via
    * [[Dedup.autoSignBits]] and `tables` via [[Dedup.autoSignTables]]
    * (that composition is [[semanticContaminationAuto]]).
    *
    * Deterministic: best match = max (score, lowest bench id) under
    * the engines' shared NaN-greatest ordering; the bucketing and
    * cosine are the oracle-bit-identical seeded expressions.
    */
  def semanticContamination(corpus: DataFrame, bench: DataFrame,
      idCol: String, embCol: String, threshold: Double, bits: Int,
      dim: Int = 64, tables: Int = 2): DataFrame = {
    require(tables >= 1, s"tables must be >= 1, got $tables")
    val b = bench.select(col(idCol).as("bench_id"),
      col(embCol).cast("array<double>").as("b_emb"))
    val c = corpus.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("c_emb"))
    val cand = (0 until tables).map { t =>
      val seed = Similarity.tableSeed(t)
      val bb = b.select(col("bench_id"),
        Similarity.signBucket(col("b_emb"), bits, dim, seed)
          .as("bucket"))
      val cc = c.select(col("vec_id"),
        Similarity.signBucket(col("c_emb"), bits, dim, seed)
          .as("bucket"))
      cc.join(broadcast(bb), Seq("bucket"))
        .select("vec_id", "bench_id")
    }.reduce(_ unionByName _)
      .dropDuplicates("vec_id", "bench_id")
    contaminationVerdict(c, b, cand, threshold)
  }

  /** Shared score-argmax-verdict tail of the contamination family:
    * exact cosine over the candidate set, per-doc best match (max
    * score, tie lowest bench id), clean docs kept with null match. */
  private def contaminationVerdict(c: DataFrame, b: DataFrame,
      cand: DataFrame, threshold: Double): DataFrame = {
    val scored = cand
      .join(c.withColumn("__cn", Similarity.embNorm(col("c_emb"))),
        Seq("vec_id"))
      .join(broadcast(b.withColumn("__bn",
        Similarity.embNorm(col("b_emb")))), Seq("bench_id"))
      .withColumn("score", Similarity.cosinePre(
        Similarity.dot(col("c_emb"), col("b_emb")),
        col("__cn"), col("__bn")))
    verdictFromScored(c.select("vec_id"), scored, threshold)
  }

  /** The argmax-verdict tail over an ALREADY-SCORED candidate frame
    * (vec_id, bench_id, score): per-doc best match at score ≥
    * threshold (max score, tie lowest bench id), every id in `cIds`
    * kept — clean docs with null match columns. Taking scored rows
    * directly lets embedding-bearing candidate paths skip the
    * re-join of the corpus by vec_id (a shuffle keyed on the full
    * candidate set) that the id-only path pays. */
  private def verdictFromScored(cIds: DataFrame, scored: DataFrame,
      threshold: Double): DataFrame = {
    val best = scored.filter(col("score") >= threshold)
      .groupBy("vec_id")
      .agg(max(struct(col("score"), (-col("bench_id")).as("nb")))
        .as("__m"))
      .select(col("vec_id"), (-col("__m.nb")).as("bench_id"),
        col("__m.score").as("score"))
    cIds.join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("bench_id"), col("score"),
        col("bench_id").isNotNull.as("contaminated"))
  }

  /** EXACT semantic decontamination — every (corpus, benchmark) pair
    * scored, no LSH candidates, recall 1 BY CONSTRUCTION. The
    * benchmark side is eval-suite-sized and broadcast, and the
    * embedding-bearing frames cross-join DIRECTLY (no candidate-id
    * detour back through the corpus), so the cost is |corpus| ·
    * |bench| codegen'd cosines, genuinely map-only over the corpus —
    * linear in the corpus at any scale, priced by the benchmark size
    * (which, unlike the corpus, does not grow with the crawl). The
    * PRUNED tier ([[semanticContaminationPruned]]) keeps the same
    * recall-1 contract while skipping provably sub-threshold cells. */
  def semanticContaminationExact(corpus: DataFrame, bench: DataFrame,
      idCol: String, embCol: String, threshold: Double): DataFrame = {
    val b = bench.select(col(idCol).as("bench_id"),
      col(embCol).cast("array<double>").as("b_emb"))
    val c = corpus.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("c_emb"))
    val scored = c.withColumn("__cn", Similarity.embNorm(col("c_emb")))
      .crossJoin(broadcast(b.withColumn("__bn",
        Similarity.embNorm(col("b_emb")))))
      .withColumn("score", Similarity.cosinePre(
        Similarity.dot(col("c_emb"), col("b_emb")),
        col("__cn"), col("__bn")))
    verdictFromScored(c.select("vec_id"), scored, threshold)
  }

  /** The ADMISSIBLE cos upper bound of the pruning tier: for a bench
    * vector q, a centroid c at angle `thetaQC`, and a cell whose
    * members all lie within angle `r` of c (r = acos of the cell's
    * MINIMUM member-to-centroid cosine), the spherical triangle
    * inequality gives θ(q,x) ≥ θ(q,c) − r for every member x, so
    * cos θ(q,x) ≤ cos(max(0, θ(q,c) − r)). Cosine depends only on
    * direction, so the bound holds for un-normalized vectors too.
    * NaN anywhere (zero vectors) keeps the cell — NaN ≥ τ is true
    * under both engines' NaN-greatest comparisons, matching the
    * exact tier's verdict for those rows. */
  private def centroidCosBound(thetaQC: Column, r: Column): Column =
    cos(greatest(lit(0.0), thetaQC - r))

  private def clampAcos(c: Column): Column =
    acos(least(lit(1.0), greatest(lit(-1.0), c)))

  /** Exact-recall PRUNED semantic decontamination — the
    * [[semanticContaminationExact]] contract (every ≥ τ match found,
    * recall 1) at a fraction of the scoring work: corpus vectors are
    * assigned to a k-means codebook, each cell carries its residual
    * radius (max member angle from the centroid), and a (bench, cell)
    * pair is scored ONLY when the triangle-inequality bound
    * ([[centroidCosBound]]) admits a ≥ τ member — cells that provably
    * cannot contain a match are never touched. A 1e-9 slack on the
    * threshold absorbs the double-rounding of the acos/cos chain, so
    * float noise can only ADD candidates, never drop one; output is
    * therefore row-identical to the exact tier (pinned in
    * CorpusOpsSpec).
    *
    * Cost shape: one codebook train (iterations · n·k broadcast
    * cosines — amortize it at 100 TB by querying a PERSISTED index
    * instead, [[semanticContaminationIndexed]]), one n·k assignment,
    * then |unpruned cells| · |bench| exact cosines instead of n ·
    * |bench|. Bench and codebook are both broadcast; the only
    * corpus-keyed shuffle is the assignment argmax.
    *
    * Priced honestly — RE-MEASURED r19 after fixing the probe's
    * join-elimination artifact (a bare count() on the verdict let
    * Catalyst drop the left join and the whole scoring cross join, so
    * the r18 "wall-flat exact scan" numbers timed a parquet count):
    * the exact scan is genuinely linear in n·|bench| (11.5 s at
    * sf10 × 128 bench; 15.4 s at 200k × 4096), and the INDEXED read
    * beats it about 2× at sf10 (5.6–6.8 s) once the partition-pruned
    * cell scan stopped paying the 32-files-per-cell layout tax. This
    * INLINE form — which must train the codebook first — remains the
    * oracle-checkable correctness primitive, not a routing win
    * (training costs ≈ iterations·n·√n cosines, more than the scan it
    * saves); the production entry is [[semanticContaminationIndexed]],
    * where training is already paid and pruning becomes a partition
    * predicate. */
  def semanticContaminationPruned(corpus: DataFrame, bench: DataFrame,
      idCol: String, embCol: String, threshold: Double, kCells: Int,
      dim: Int = 64, iterations: Int = 2): DataFrame = {
    val b = bench.select(col(idCol).as("bench_id"),
      col(embCol).cast("array<double>").as("b_emb"))
    val c = corpus.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("c_emb"))
    val cb = Similarity.kmeansCodebook(corpus, idCol, embCol, kCells,
      dim, iterations, initSmallestK = true)
    // consumed twice (the per-cell radii AND the exact scoring join in
    // prunedVerdict) — checkpoint-materialize, or the n·k assignment
    // cosines and the corpus scan execute twice per call (the semDedup
    // idiom; persist would be pointless on a lazily-returned frame)
    val assigned = Lineage.materialize(
      Similarity.assignNearestCellScored(cb, c, "vec_id", "c_emb"))
    val radii = assigned
      .select(col("cell"), nanvl(col("cscore"), lit(-1.0)).as("__cs"))
      .groupBy("cell").agg(min(col("__cs")).as("min_cscore"))
    prunedVerdict(c.select("vec_id"),
      assigned.select("vec_id", "c_emb", "cell"),
      b, cb.join(radii, col("centroid_id") === col("cell")).drop("cell"),
      threshold)
  }

  /** The shared prune-score-verdict tail: bench × centroid bounds
    * (both model-sized, broadcast), unpruned (cell, bench) pairs
    * joined cell-keyed against the assigned corpus, exact cosine on
    * survivors. `centStats` is (centroid_id, cent_emb, min_cscore). */
  private def prunedVerdict(cIds: DataFrame, assigned: DataFrame,
      b: DataFrame, centStats: DataFrame, threshold: Double)
      : DataFrame = {
    val pairs = b.withColumn("__bn", Similarity.embNorm(col("b_emb")))
      .crossJoin(broadcast(centStats))
      .withColumn("__theta",
        clampAcos(Similarity.cosine(col("b_emb"), col("cent_emb"))))
      .withColumn("__r", clampAcos(col("min_cscore")))
      .filter(!(centroidCosBound(col("__theta"), col("__r")) <
        lit(threshold - 1e-9)))
      .select(col("bench_id"), col("b_emb"), col("__bn"),
        col("centroid_id").as("cell"))
    val scored = assigned
      .withColumn("__cn", Similarity.embNorm(col("c_emb")))
      .join(broadcast(pairs), Seq("cell"))
      .withColumn("score", Similarity.cosinePre(
        Similarity.dot(col("c_emb"), col("b_emb")),
        col("__cn"), col("__bn")))
    verdictFromScored(cIds, scored, threshold)
  }

  /** [[semanticContaminationPruned]] against a PERSISTED IVF index
    * ([[Similarity.buildIvfIndex]]) — the 100 TB operating point:
    * training and assignment are paid once at index time, the
    * per-cell stats table already holds the residual radii, and the
    * unpruned-cell set (bounded by the codebook size) is collected to
    * drive PARTITION PRUNING on the cell-partitioned assignment
    * table, so a decontamination run reads only the cells some bench
    * vector can reach — sublinear in the corpus when the bench suite
    * is concentrated, never more than the exact tier's one scan. The
    * clean-doc left-join reads only the id column of the skipped
    * cells (column pruning). Output ≡ the exact tier (recall 1). */
  def semanticContaminationIndexed(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      bench: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    // resolve the index generation ONCE: codebook, cellstats and the
    // cell scan below must come from the same frozen trio
    val dir = Similarity.resolveIndexDir(spark, indexPath)
    graft.warehouse.Writer.recoverPartitions(spark,
      s"$dir/cells", Seq("cell"))
    val b = bench.select(col(idCol).as("bench_id"),
      col(embCol).cast("array<double>").as("b_emb"))
    val cb = spark.read.parquet(s"$dir/codebook")
    val stats = Similarity.readCellStatsIn(spark, dir)
    val centStats = cb.join(stats, col("centroid_id") === col("cell"))
      .select(col("centroid_id"), col("cent_emb"), col("min_cscore"))
    val pairs = b.withColumn("__bn", Similarity.embNorm(col("b_emb")))
      .crossJoin(broadcast(centStats))
      .withColumn("__theta",
        clampAcos(Similarity.cosine(col("b_emb"), col("cent_emb"))))
      .withColumn("__r", clampAcos(col("min_cscore")))
      .filter(!(centroidCosBound(col("__theta"), col("__r")) <
        lit(threshold - 1e-9)))
      .select(col("bench_id"), col("b_emb"), col("__bn"),
        col("centroid_id").as("cell"))
    // codebook-bounded collect → a partition predicate on the scan
    val live = pairs.select("cell").distinct().collect()
      .map(_.getInt(0))
    val cells = spark.read.parquet(s"$dir/cells")
    val assigned = cells
      .filter(col("cell").isin(live.map(Integer.valueOf): _*))
      .select(col("neighbor_id").as("vec_id"), col("c_emb"),
        Similarity.embNorm(col("c_emb")).as("__cn"), col("cell"))
    val scored = assigned.join(broadcast(pairs), Seq("cell"))
      .withColumn("score", Similarity.cosinePre(
        Similarity.dot(col("c_emb"), col("b_emb")),
        col("__cn"), col("__bn")))
    verdictFromScored(
      cells.select(col("neighbor_id").as("vec_id")), scored, threshold)
  }

  /** [[semanticContamination]] sized from the corpus and a recall
    * target: bucket width from the constant-bucket rule
    * ([[Dedup.autoSignBits]], one count(*)) and table count from the
    * inverted retention model ([[Dedup.autoSignTables]]) — "flag
    * paraphrase leaks at τ with recall ≥ R" as a one-call contract.
    * Decontamination is the use case where the recall target
    * MATTERS most: a missed leak poisons an eval, so the caller
    * states the recall and the engine pays the (priced, capped)
    * table cost. */
  def semanticContaminationAuto(corpus: DataFrame, bench: DataFrame,
      idCol: String, embCol: String, threshold: Double,
      targetRecall: Double = 0.8, dim: Int = 64,
      targetBucket: Int = 32, maxTables: Int = 64,
      indexPath: Option[String] = None): DataFrame = {
    val n = corpus.count()
    val bits = Dedup.autoSignBits(n, targetBucket)
    // when the inversion demands more tables than the cost cap,
    // clamping would silently miss leaks below the stated recall —
    // for THIS workload the bench side is bounded, so the honest
    // route is a recall-1 scorer (Dedup.moderateTauExceedsCap,
    // pinned in NearDupsAutoSpec). WHICH recall-1 scorer is a priced
    // choice, RE-measured r19 with the probe's join-elimination
    // artifact fixed: the exact broadcast scan is linear in
    // n·|bench| (11.5 s at sf10 × 128 bench — NOT the wall-flat the
    // r18 probes read off an optimized-away join), while INLINE
    // centroid pruning must first train+assign a √n-cell codebook
    // (≈3·n·√n cosines), which loses whenever |bench| ≲ 3·√n — at
    // every realistic (crawl, eval-suite) pairing. The pruned tier
    // wins when training is ALREADY paid: pass `indexPath` (a
    // persisted [[Similarity.buildIvfIndex]] of this same corpus)
    // and the cap route reads radii from its cellstats and
    // partition-prunes the cell scan
    // ([[semanticContaminationIndexed]]) — measured ~2× faster than
    // the exact scan at sf10 on BOTH near-uniform (τ 0.35 and 0.8)
    // and clustered corpora. The routing policy is unchanged
    // (indexed iff an index exists); only the r18 pricing narrative
    // was wrong.
    if (Dedup.moderateTauExceedsCap(bits, threshold, targetRecall,
        maxTables))
      indexPath match {
        case Some(p) => semanticContaminationIndexed(
          corpus.sparkSession, p, bench, idCol, embCol, threshold)
        case None => semanticContaminationExact(corpus, bench, idCol,
          embCol, threshold)
      }
    else semanticContamination(corpus, bench, idCol, embCol, threshold,
      bits, dim,
      Dedup.autoSignTables(bits, threshold, targetRecall, maxTables))
  }
}
