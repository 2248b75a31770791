package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.analytics.Dedup
import graft.util.Lineage

/** Streaming corpus operators: the per-batch form of the dedup tier —
  * a document stream is incrementally deduplicated against everything
  * ingested before it, the shape a production training-data pipeline
  * runs on arrival rather than as a full-corpus recluster.
  *
  * Durable state lives on the lake, not in stream memory, and is
  * SIGNATURE-sized, not corpus-sized:
  *
  *   `<statePath>/assignments` — (doc_id, cluster_rep), append-only
  *   `<statePath>/signatures`  — (doc_id, mh_0..mh_{H-1}), append-only
  *
  * Each micro-batch minhashes only its own documents, finds
  * new-vs-old candidates by joining its band buckets against buckets
  * DERIVED from the stored signatures (old documents are never
  * rescanned, never even stored), verifies estimated Jaccard from
  * signatures alone, and assigns append-only via
  * [[graft.analytics.Dedup.incrementalAssignTagged]]. Both state
  * tables only ever receive appends, so a crash between writes leaves
  * a consistent prefix; replayed batches are dropped by an anti-join
  * on already-assigned doc ids, making retries idempotent.
  */
object CorpusStreams {

  /** Streaming entry: foreachBatch over a documents stream
    * (`doc_id: long, text: string`), each batch folded into the state
    * at `statePath` by [[assignBatch]]. */
  def dedupAssignStream(docs: DataFrame, statePath: String,
      n: Int = 3, numHashes: Int = 32, bands: Int = 16,
      threshold: Double = 0.5) =
    docs.writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        assignBatch(batch.toDF(), statePath, n, numHashes, bands,
          threshold)
      }

  /** One micro-batch of incremental dedup (public so batch backfills
    * and specs can drive it directly — the streaming wrapper adds
    * nothing but the trigger).
    *
    * Documents too short to shingle (fewer than `n` tokens — no
    * signature) and documents matching nothing become their own
    * cluster rep; every batch doc lands in `assignments` exactly once.
    * Doc ids must be in [0, `offset`).
    *
    * Crash-replay note: a batch replayed after a half-written state
    * (signatures appended, assignments not) re-runs whole — the replay
    * gate is the assignment anti-join, and the old-corpus side
    * semi-joins signatures against assignments, so the crashed
    * attempt's orphaned signatures are excluded entirely; cluster_rep
    * AND joined_existing match the no-crash run. The only residue is a
    * duplicate signature row per batch doc: correctness-harmless
    * (candidate pairs are distinct()-ed) and purged by
    * [[compactState]].
    */
  def assignBatch(batch: DataFrame, statePath: String, n: Int = 3,
      numHashes: Int = 32, bands: Int = 16, threshold: Double = 0.5,
      offset: Long = 1L << 40): Unit = {
    val spark = batch.sparkSession
    val aPath = s"$statePath/assignments"
    val sPath = s"$statePath/signatures"
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a compactState crash can leave a state dir parked aside — restore
    // BEFORE the exists checks, or the batch would see "no state" and
    // re-ingest every doc as new
    recoverDir(fs, new org.apache.hadoop.fs.Path(aPath))
    recoverDir(fs, new org.apache.hadoop.fs.Path(sPath))
    val hasAssign = fs.exists(new org.apache.hadoop.fs.Path(aPath))
    val hasSig = fs.exists(new org.apache.hadoop.fs.Path(sPath))
    // the assignment state is consulted three times per batch (replay
    // anti-join, orphan-signature semi-join, rep lookup) and grows
    // with the whole ingested corpus — one read, cached for the batch
    val oldAssign = (
      if (hasAssign) spark.read.parquet(aPath)
      else spark.range(0).select(col("id").as("doc_id"),
        col("id").as("cluster_rep")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // idempotent replay: a doc already assigned (a retried batch, an
    // at-least-once source) is dropped, not reclustered. Ids are
    // range-validated HERE so even docs that never enter a candidate
    // pair (which would bypass the encode-time guard) fail fast
    // instead of landing out-of-contract ids in the state. Built (and
    // analysis-checked — a malformed batch throws from the select)
    // BEFORE the checkpoint-dir redirect below, so an early failure
    // cannot leave the session pointed at the batch scope
    val fresh = batch
      .select(Dedup.checkedId(col("doc_id"), offset).as("doc_id"),
        col("text"))
      .dropDuplicates("doc_id")
      .join(oldAssign, Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the per-batch star contractions below create reliable
    // checkpoints; once this batch's results are persisted in the
    // state tables those files are garbage. Scope them to a private
    // per-batch SIBLING of the session checkpoint dir (under the same
    // root): checkpoints taken BEFORE the batch live in the session
    // dir and survive the cleanup — an improvement over the previous
    // snapshot-and-diff of the shared dir, which deleted them. The
    // checkpoint dir is still SparkContext-GLOBAL, so work that
    // checkpoints CONCURRENTLY with a running batch would land inside
    // the batch scope and be reclaimed with it: concurrent
    // checkpointing during a batch remains out of contract (state
    // paths are single-writer; run concurrent checkpoint users before
    // or after the batch). Spark's setCheckpointDir appends a fresh
    // UUID leaf per call, so the restore targets the stable ROOT and
    // the path depth stays constant batch over batch.
    val sc = spark.sparkContext
    val ckptRoot = new org.apache.hadoop.fs.Path(
      Lineage.ensureCheckpointDir(sc)).getParent
    val batchCkpt = new org.apache.hadoop.fs.Path(ckptRoot,
      s"batch-${java.util.UUID.randomUUID()}")
    var oldSigCache: Option[DataFrame] = None
    sc.setCheckpointDir(batchCkpt.toString)
    try {
      val newSig = Dedup.minHashSignature(fresh, "doc_id", "text",
          n, numHashes)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val newB = Dedup.bandBuckets(newSig, numHashes, bands)

      // within-batch candidates: the standard banded self-join
      val nn = newB.as("a").join(newB.as("b"), Seq("band", "bkey"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
        .join(Dedup.sigPrefixed(newSig, "a", "id_a"), Seq("id_a"))
        .join(Dedup.sigPrefixed(newSig, "b", "id_b"), Seq("id_b"))
        .filter(Dedup.sigAgreement(numHashes, "a", "b") >= threshold)
        .select("id_a", "id_b")

      // batch-vs-corpus candidates: batch buckets against buckets
      // derived from the signature STATE — the old corpus is never
      // touched
      val no =
        if (!hasSig) spark.range(0).select(col("id").as("new_id"),
          col("id").as("old_id"))
        else {
          // the assignment table is the authority for OLD membership:
          // a crashed batch's orphan signatures (appended before their
          // assignments) must not act as old docs — their unassigned
          // ids would enter components unshifted and could steal the
          // min from a real existing rep
          // evaluated twice (band derivation + verification join) —
          // cached alongside the assignments for the batch
          val oldSig = spark.read.parquet(sPath)
            .join(oldAssign.select("doc_id"), Seq("doc_id"),
              "left_semi")
            .persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          oldSigCache = Some(oldSig)
          Dedup.bandBuckets(oldSig, numHashes, bands).as("b")
            .join(newB.as("a"), Seq("band", "bkey"))
            .select(col("a.doc_id").as("new_id"),
              col("b.doc_id").as("old_id"))
            .distinct()
            .join(Dedup.sigPrefixed(newSig, "a", "new_id"),
              Seq("new_id"))
            .join(Dedup.sigPrefixed(oldSig, "b", "old_id"),
              Seq("old_id"))
            .filter(Dedup.sigAgreement(numHashes, "a", "b") >= threshold)
            .select("new_id", "old_id")
        }

      val assigned = Dedup.incrementalAssignTagged(no, nn, oldAssign,
        offset)
      // every batch doc lands in the state exactly once: matched docs
      // with their component rep, the rest (unmatched, or too short to
      // shingle) as their own rep
      val all = fresh.select("doc_id")
        .join(assigned.select("doc_id", "cluster_rep"), Seq("doc_id"),
          "left")
        .select(col("doc_id"),
          coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"))
      // SIGNATURES BEFORE ASSIGNMENTS: the replay gate is the
      // assignment anti-join, so a crash between the two appends must
      // leave the batch unassigned (it re-runs whole; the duplicate
      // signature rows it leaves are harmless — candidate pairs are
      // distinct()-ed). The reverse order would leave the batch
      // assigned but signature-less: dropped on replay, unmatchable by
      // every later near-duplicate, a permanent recall hole.
      // REBALANCE before each append (guide §6 small files): the
      // frames arrive with shuffle-partition-count slivers (32 files
      // of a few rows each per batch at bench scale), and every later
      // batch re-opens the whole accumulated file set — AQE's
      // rebalance sizes output files to the advisory partition size,
      // so a small batch lands as one file and a large one still
      // splits
      try {
        newSig.hint("rebalance").write.mode("append").parquet(sPath)
        all.hint("rebalance").write.mode("append").parquet(aPath)
      } finally newSig.unpersist(false)
    } finally {
      fresh.unpersist(false)
      oldAssign.unpersist(false)
      oldSigCache.foreach(_.unpersist(false))
      // restore the session scope root and reclaim this batch's
      // checkpoint dir — without this a long-running stream
      // accumulates (CC rounds + 2) checkpointed frames per
      // micro-batch until the checkpoint disk fills (reliable
      // checkpoints are otherwise only cleaned at JVM exit).
      // Cleanup failure must never mask the body's exception (or
      // become the failure of an otherwise-successful batch): a
      // leaked checkpoint dir costs disk, not correctness.
      try {
        sc.setCheckpointDir(ckptRoot.toString)
        batchCkpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(batchCkpt, true): Unit
      } catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"checkpoint scope cleanup failed for $batchCkpt " +
              "(leaked dir, state unaffected)", e)
      }
    }
  }

  /** Current accumulated assignment state. A crashed [[compactState]]
    * may have parked the table aside — recover before the read builds
    * its file index, so monitoring/downstream readers never conclude
    * the state was lost. */
  def assignments(spark: SparkSession, statePath: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$statePath/assignments")
    recoverDir(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    spark.read.parquet(s"$statePath/assignments")
  }

  /** Streaming embedding ingest into a persisted IVF index
    * ([[graft.analytics.Similarity.buildIvfIndex]]): each micro-batch
    * of (vec_id, embedding) rows is assigned against the FROZEN
    * stored codebook and appended to the cell table — the index stays
    * query-fresh at stream latency while retraining remains a
    * periodic batch job ([[graft.analytics.Similarity.buildIvfIndex]]
    * rerun). The index must already exist (fail-fast with a clear
    * message otherwise — there is nothing to assign against without a
    * codebook).
    *
    * With `checkReplays` (default), replayed vectors are dropped by an
    * exact anti-join on ids already present, so at-least-once sources
    * append idempotently. That check scans the id column of the WHOLE
    * cell table each batch — narrow (8 bytes/row, column-pruned) but
    * O(index size), the honest price of exact idempotency without a
    * key-value store; sources with exactly-once delivery should pass
    * `checkReplays = false` and skip it.
    */
  def ivfIngestStream(vectors: DataFrame, indexPath: String,
      checkReplays: Boolean = true) =
    vectors.writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        // resolve the index generation per batch: a periodic retrain
        // publishing between micro-batches is picked up on the next
        // one, and the batch's reads all see one frozen trio
        val dir = graft.analytics.Similarity
          .resolveIndexDir(spark, indexPath)
        val cellsPath = new org.apache.hadoop.fs.Path(s"$dir/cells")
        val fs = cellsPath
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(fs.exists(cellsPath),
          s"no IVF index at $indexPath — run buildIvfIndex first")
        graft.warehouse.Writer.recoverPartitions(spark,
          cellsPath.toString, Seq("cell"))
        // same exclusion contract as the SQ8 build path: a zero or
        // NaN/Inf embedding has an undefined cosine, and NaN sorts
        // ABOVE all doubles in the descending top-k window — one bad
        // ingested vector would rank #1 for every query probing its
        // cell, forever
        val deduped = graft.analytics.Similarity.finiteNonZero(
          batch.toDF(), "embedding").dropDuplicates("vec_id")
        val fresh =
          if (!checkReplays) deduped
          else deduped.join(
            spark.read.parquet(cellsPath.toString)
              .select(col("neighbor_id").as("vec_id")),
            Seq("vec_id"), "left_anti")
        graft.analytics.Similarity.appendToIvfIndex(fresh, indexPath)
      }

  /** Compact the streaming dedup state (per-batch appends leave one
    * file set per micro-batch; thousands of batches mean thousands of
    * small files slowing every state read) into `files` parquet files
    * per table, swapped in with two directory renames. Run only while
    * the stream is stopped — state paths are single-writer. A crash
    * mid-swap parks the old dir aside; both [[assignBatch]] and the
    * next [[compactState]] restore it before reading ([[recoverDir]]),
    * so no crash point loses state or double-ingests. (The IVF cell
    * table compacts with the existing partition-scoped
    * [[graft.warehouse.Writer.compactPartitions]] instead — it is
    * partitioned by cell.)
    */
  def compactState(spark: SparkSession, statePath: String,
      files: Int = 1): Unit =
    for (name <- Seq("assignments", "signatures")) {
      val target = new org.apache.hadoop.fs.Path(s"$statePath/$name")
      val fs = target
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      recoverDir(fs, target)
      if (fs.exists(target)) {
        val id = java.util.UUID.randomUUID().toString
        val stage = new org.apache.hadoop.fs.Path(target.getParent,
          s".${target.getName}__compact__$id")
        val aside = new org.apache.hadoop.fs.Path(target.getParent,
          s".${target.getName}__old__$id")
        // crash-replayed batches leave exact-duplicate signature rows
        // (same doc_id, same deterministic signature — see assignBatch);
        // compaction is the natural purge point, or they inflate state
        // forever
        val table = spark.read.parquet(target.toString)
        val cleaned =
          if (name == "signatures") table.dropDuplicates("doc_id")
          else table
        try cleaned.repartition(files).write.parquet(stage.toString)
        catch { case e: Throwable => fs.delete(stage, true); throw e }
        require(fs.rename(target, aside), s"rename $target aside failed")
        require(fs.rename(stage, target), s"rename $stage in failed")
        fs.delete(aside, true): Unit
      }
    }

  /** Restore a state dir a crashed [[compactState]] left parked aside
    * (the dir is missing but a `.<name>__old__<id>` sibling exists),
    * then clear all compact/old debris for it. The parked OLD dir is
    * always the restore source — a crash during the stage write leaves
    * a partial stage, so the stage is never trusted. Idempotent. */
  private def recoverDir(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path): Unit = {
    val parent = target.getParent
    if (parent == null || !fs.exists(parent)) return
    val re =
      ("^\\.\\Q" + target.getName + "\\E__(old|compact)__[A-Za-z0-9-]+$").r
    val debris = fs.listStatus(parent).toSeq.map(_.getPath)
      .filter(p => re.findFirstIn(p.getName).isDefined)
    if (!fs.exists(target))
      debris.find(_.getName.contains("__old__")).foreach { d =>
        require(fs.rename(d, target), s"recover $d -> $target failed")
      }
    debris.foreach(d => if (fs.exists(d)) fs.delete(d, true))
  }

}
