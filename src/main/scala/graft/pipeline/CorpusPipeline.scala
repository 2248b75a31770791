package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.{CorpusOps, Dedup, Sampling}

/** The composed "raw crawl → training shards" run (q240) as a
  * consumer-callable surface: per-doc verdict (language + quality +
  * exact-dup + eval-set decontamination) → LSH near-dup
  * representatives over the KEPT docs → greedy token-budget
  * selection → sharded JSONL export with a read-back manifest. Each
  * stage is the same library call its standalone oracle-checked
  * query verifies (q79/q97/q191/q106); q240 verifies the whole
  * chain end-to-end against one composed DuckDB oracle.
  */
object CorpusPipeline {

  /** Knobs for [[prepareCorpus]]; defaults match the oracled q240
    * configuration. `scoreCol` is the integer quality key the
    * token-budget selection ranks on. */
  case class Config(
      keepLang: String = "en",
      minQuality: Double = 0.75,
      maxContam: Double = 0.5,
      lshShingle: Int = 3,
      lshNumHashes: Int = 32,
      lshBands: Int = 16,
      lshThreshold: Double = 0.5,
      tokenBudget: Long = 8000L)

  /** Verdict → representatives → token-budget selection. Returns the
    * SELECTED documents (all `corpus` columns), ready to export. */
  def prepareCorpus(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, scoreCol: String, cfg: Config): DataFrame = {
    val verdict = CorpusOps.prepVerdict(corpus, bench, idCol, textCol,
      cfg.keepLang, cfg.minQuality, cfg.maxContam)
    // materialize the kept id set ONCE (id-only, corpus-bounded): it
    // feeds the LSH signature build, both sides of the representative
    // selection, and (through reps) the budget selection — without the
    // cut, the whole verdict subtree (two regex profiles per doc, the
    // exact-dup window, the contamination shingle join) re-executed
    // once per consumer (measured 3x in the r20 q240 job trace)
    val keptIds = graft.util.Lineage.materialize(
      verdict.where(col("kept") === 1).select(idCol))
    val keptDocs = corpus.join(keptIds, Seq(idCol))
    val cand = Dedup.minHashLshCandidates(keptDocs, idCol, textCol,
        n = cfg.lshShingle, numHashes = cfg.lshNumHashes,
        bands = cfg.lshBands)
      .where(col("est_jaccard") >= cfg.lshThreshold)
    val reps = Dedup.keepRepresentatives(keptIds, idCol, cand)
    val repDocs = reps.select(idCol).join(corpus, Seq(idCol))
      .withColumn("__toks",
        size(split(trim(col(textCol)), "\\s+")).cast("long"))
    val sel = Sampling.tokenBudgetSelect(repDocs, idCol, scoreCol,
      "__toks", cfg.tokenBudget)
    corpus.join(sel.select(col("doc_id").as(idCol)), Seq(idCol))
  }

  /** [[prepareCorpus]] + sharded JSONL export; returns the read-back
    * frame (shard column included) so the manifest is computed from
    * what actually landed on disk. */
  def prepareAndExport(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, scoreCol: String, cfg: Config,
      path: String, shards: Int): DataFrame =
    graft.warehouse.Writer.exportJsonlSharded(
      prepareCorpus(corpus, bench, idCol, textCol, scoreCol, cfg),
      idCol, path, shards)
}
