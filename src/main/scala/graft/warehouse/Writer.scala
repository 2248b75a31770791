package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.{LocalFs, PinnedParquet}

/** Partitioned lake writers — the Spark analogue of the reference's
  * monthly RANGE partitioning of `fact_weather` (W7,
  * `db/init/01-schema.sql:139-181`): physical layout comes from
  * `partitionBy` at write time and partition pruning at read time, so
  * there is no DDL to maintain and no plpgsql partition-creation loop
  * to port.
  *
  * Every path-based write here carries [[graft.util.LocalFs.options]]
  * and every `FileSystem` handle comes from
  * [[graft.util.LocalFs.fileSystem]], so creating files and
  * directories on `file:` forks no `chmod`. [[writeBucketed]] is the
  * exception on both counts: `saveAsTable` would persist its write
  * options into the table's properties, and its handle only probes
  * and deletes.
  *
  * Path reads ([[readPartitioned]], [[compactPartitions]]) pin their
  * data schema from one parquet footer read on the driver
  * ([[graft.util.PinnedParquet]]) instead of running Spark's
  * schema-inference job; partition columns are still inferred from
  * the directory names. [[readEvolved]] merges every footer and keeps
  * Spark's inference.
  */
object Writer {

  /** Write a fact partitioned by year/month derived from a date-key
    * column (yyyymmdd int) — the reference's monthly range layout. */
  def writeMonthlyPartitioned(fact: DataFrame, dateKeyCol: String,
      path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    fact
      .withColumn("part_year", (col(dateKeyCol) / 10000).cast("int"))
      .withColumn("part_month", (col(dateKeyCol) / 100 % 100).cast("int"))
      .write.mode(mode).options(LocalFs.options)
      .partitionBy("part_year", "part_month")
      .parquet(path)

  /** Read back with partition pruning available on part_year /
    * part_month. */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    PinnedParquet.read(spark, path)

  /** Schema-evolution-tolerant read of a lake table whose batches were
    * written over time with ADDED columns: `mergeSchema` unions the
    * per-file footers (an O(files) driver merge, why it is not the
    * default), older files surface the added columns as nulls, and
    * filter pushdown / pruning on the shared columns is unaffected.
    * Column REMOVALS and type changes are not reconciled here — those
    * are contract breaks the per-table assertions in `graft.Tables`
    * exist to catch loudly, not paper over. */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Compaction plan for a small-files inventory — the operational
    * answer to the lake's "millions of tiny files" problem: within
    * each partition, assign files (in stable `fileCol` order) to
    * output groups by EXCLUSIVE-prefix fill — a file whose preceding
    * bytes total lands in bin g joins group g — so every group's
    * size lies within one file of `targetBytes` and a rewriter can
    * copy each group to one output file.
    *
    * Scale shape: one partition-local window cumsum plus one keyed
    * aggregation — no global sort, no driver-side listing loop; a
    * 100 TB lake plans each partition independently. The policy is
    * deterministic (exact BIGINT prefix sums, floor division), so
    * the plan is reproducible and engine-portable — no first-fit
    * heuristic whose bin contents depend on iteration order.
    *
    * Returns one row per (part, out_group): n_files, group_bytes,
    * first_file, last_file — ordered, all exact BIGINTs.
    */
  def compactionPlan(files: DataFrame, partCol: String,
      fileCol: String, bytesCol: String,
      targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("part").orderBy("file_id")
      .rowsBetween(Long.MinValue, -1)
    files
      .select(col(partCol).as("part"), col(fileCol).as("file_id"),
        col(bytesCol).cast("long").as("bytes"))
      .where(col("part").isNotNull && col("file_id").isNotNull &&
        col("bytes").isNotNull)
      .withColumn("__pre",
        coalesce(sum(col("bytes")).over(w), lit(0L)))
      .withColumn("out_group", expr(s"__pre div ${targetBytes}L"))
      .groupBy("part", "out_group")
      .agg(count(lit(1)).cast("long").as("n_files"),
        sum("bytes").cast("long").as("group_bytes"),
        min("file_id").as("first_file"),
        max("file_id").as("last_file"))
      .orderBy("part", "out_group")
  }

  /** Token-balanced shard assignment — equal-TOKEN training shards
    * instead of the doc-count sharding of `doc_id % S` (which skews
    * shard token mass by document-length variance): each document is
    * placed at its exclusive prefix position in a deterministic
    * corpus order and `shard = prefix_tokens div shardTokens` — the
    * exclusive-prefix fill of [[compactionPlan]] lifted to a GLOBAL
    * order without a global sort.
    *
    * Scale shape (the distributed global-cumsum pattern): docs order
    * by (bucket, md5(id), id) with bucket = h30(id) mod `buckets`;
    * per-bucket token masses aggregate first and cumsum over the
    * |buckets|-row frame (value-domain window), giving each bucket an
    * exclusive global OFFSET; within a bucket one bucket-partitioned
    * window cumsum adds the local prefix. No window ever sees more
    * than one bucket of corpus rows. Deterministic: same md5-hash
    * emit order as the shuffle-audit family.
    *
    * Returns (doc_id, bucket, toks, shard), shard ∈ [0, totalTokens /
    * shardTokens].
    */
  def tokenBalancedShards(docs: DataFrame, idCol: String,
      tokensCol: String, shardTokens: Long, buckets: Int): DataFrame =
    tokenBalancedShardsFrom(docs, idCol, tokensCol, shardTokens,
      buckets, 0L)

  private def tokenBalancedShardsFrom(docs: DataFrame, idCol: String,
      tokensCol: String, shardTokens: Long, buckets: Int,
      baseTokens: Long): DataFrame = {
    require(shardTokens > 0, "shardTokens must be positive")
    require(buckets >= 1, "buckets must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val d = docs
      .select(col(idCol).as("doc_id"),
        col(tokensCol).cast("long").as("toks"))
      .where(col("doc_id").isNotNull && col("toks").isNotNull &&
        col("toks") >= 0)
      .withColumn("bucket", pmod(
        graft.analytics.Dedup.h30(col("doc_id").cast("string")),
        lit(buckets.toLong)))
      .withColumn("ord", md5(col("doc_id").cast("string")))
    // |buckets|-row window: single partition is the point
    val wBucketSeq = Window.orderBy("bucket")
      .rowsBetween(Long.MinValue, -1)
    // |buckets| rows: exclusive global offset per bucket
    val offsets = d.groupBy("bucket")
      .agg(sum(col("toks")).as("__bt"))
      .withColumn("offset",
        coalesce(sum(col("__bt")).over(wBucketSeq), lit(0L)))
      .select("bucket", "offset")
    val wLocal = Window.partitionBy("bucket").orderBy("ord", "doc_id")
      .rowsBetween(Long.MinValue, -1)
    d.join(broadcast(offsets), Seq("bucket"))
      .withColumn("__pre", lit(baseTokens) + col("offset") +
        coalesce(sum(col("toks")).over(wLocal), lit(0L)))
      .withColumn("shard", expr(s"__pre div ${shardTokens}L"))
      .select("doc_id", "bucket", "toks", "shard")
  }

  /** Incremental [[tokenBalancedShards]] — append an ingest batch to
    * an already-sharded corpus WITHOUT re-sharding it: new docs take
    * the same deterministic (bucket, md5, id) order among themselves
    * and fill from global position `baseTokens` (the existing
    * corpus's total token mass), so the first new doc lands in the
    * existing partial tail shard and existing assignments never move
    * — the append-only contract of the incremental-dedup family
    * applied to the export layer. Same distributed global-cumsum
    * shape; `baseTokens` is one scalar the caller reads from the
    * existing manifest.
    */
  def tokenBalancedShardsAppend(newDocs: DataFrame, idCol: String,
      tokensCol: String, shardTokens: Long, buckets: Int,
      baseTokens: Long): DataFrame = {
    require(baseTokens >= 0, "baseTokens must be >= 0")
    tokenBalancedShardsFrom(newDocs, idCol, tokensCol, shardTokens,
      buckets, baseTokens)
  }

  /** Zone-map (min/max pruning) audit: for each candidate predicate
    * range, how many partitions could a scan SKIP on min/max
    * statistics alone, and how many rows does that save — the
    * layout-design question ("is this partition key worth it for
    * these filters") answered from one stats pass.
    *
    * One partition-keyed aggregation builds the zone map
    * (min/max/count per partition — exactly what parquet footers
    * hold); each audited range then broadcasts over that
    * partition-count-sized frame. A partition is skippable for
    * [lo, hi] iff its max < lo or its min > hi (the closed-range
    * pruning rule). Returns one row per range: (lo, hi, n_parts,
    * n_skippable, n_rows_skipped), exact BIGINTs, ordered by lo.
    */
  def zoneMapAudit(df: DataFrame, partCol: String, valueCol: String,
      ranges: Seq[(Long, Long)]): DataFrame = {
    require(ranges.nonEmpty, "ranges must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val zones = df
      .where(col(partCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(partCol).as("part"))
      .agg(min(col(valueCol).cast("long")).as("mn"),
        max(col(valueCol).cast("long")).as("mx"),
        count(lit(1)).as("c"))
    val preds = ranges.toDF("lo", "hi")
    zones.crossJoin(broadcast(preds))
      .withColumn("skip",
        (col("mx") < col("lo") || col("mn") > col("hi")).cast("long"))
      .groupBy("lo", "hi")
      .agg(count(lit(1)).cast("long").as("n_parts"),
        sum(col("skip")).cast("long").as("n_skippable"),
        sum(col("skip") * col("c")).cast("long").as("n_rows_skipped"))
      .orderBy("lo", "hi")
  }

  /** Save as a bucketed (+ sorted) catalog table: co-locates join keys
    * at write time so repeated fact-fact joins on `keys` need no
    * shuffle at all — the big-join analogue of the reference's
    * composite B-tree indexes. Bucket counts must match across the
    * tables being joined.
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int): Unit = {
    require(!table.contains("."),
      s"writeBucketed takes a SIMPLE table name in the current " +
        s"database, got '$table' — the idempotency cleanup below " +
        "resolves the managed location as {warehouse}/{name} and a " +
        "qualified name would be quoted as one identifier and cleaned " +
        "at the wrong path")
    val spark = df.sparkSession
    // a FRESH session catalog does not know about a previous JVM's
    // managed-table directory, and saveAsTable then refuses the
    // existing location — drop the entry AND clear the stale dir so
    // the writer is idempotent across sessions
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      table.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) { fs.delete(loc, true); () }
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }

  /** Idempotent daily reload: with dynamic partition overwrite, only
    * the partitions present in `fact` are replaced — re-running a
    * day's load rewrites that day alone, other partitions untouched
    * (the lake analogue of the reference's keyed upsert for
    * append-mostly facts).
    */
  def overwritePartitions(fact: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    val spark = fact.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try fact.write.mode(SaveMode.Overwrite).options(LocalFs.options)
      .partitionBy(partitionCols: _*).parquet(path)
    finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Dynamic-partition overwrite with a staged atomic swap — closes
    * the torn-partition window of writing straight into the target:
    *
    *  0. debris of a previously crashed swap on the same target is
    *     recovered first: any partition that went aside to a trash dir
    *     but never received its replacement is renamed back, then all
    *     debris is cleared;
    *  1. the full job writes to a hidden sibling staging directory
    *     (`.<name>__stage__<uuid>`), target bytes untouched;
    *  2. each staged leaf partition directory is then swapped into
    *     place with two filesystem renames (old dir aside to a hidden
    *     trash dir, staged dir in).
    *
    * A failure during the (long, data-moving) write job leaves the
    * target byte-identical — the common crash case costs nothing. A
    * failure during the (short, metadata-only) swap leaves every
    * partition fully old, fully new, or (for the one partition caught
    * between its two renames) parked in the trash dir — never a
    * half-written mix of part files; the staging and trash directories
    * are deliberately NOT deleted on a mid-swap failure (they may hold
    * the only complete copy of that partition). Both are dot-prefixed,
    * so readers of the target never see them, and the next
    * `overwritePartitionsAtomic` on the same target restores the
    * parked partition via step 0 before doing anything else — a re-run
    * of a crashed load therefore merges against the complete old
    * state, not a hole. Rename-per-directory is atomic on HDFS and
    * local filesystems; object stores without atomic rename need a
    * table format instead. Concurrent writers to one target are not
    * supported (same as any non-transactional layout).
    */
  def overwritePartitionsAtomic(fact: DataFrame, path: String,
      partitionCols: Seq[String], recoverFirst: Boolean = true): Unit = {
    val spark = fact.sparkSession
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = LocalFs.fileSystem(spark, target)
    // callers that already ran recoverPartitions (read-merge-write
    // flows must, before their target read) skip the redundant second
    // parent-dir listing
    if (recoverFirst) recoverSwapDebris(fs, target, partitionCols.length)
    val id = java.util.UUID.randomUUID().toString
    val stage = new org.apache.hadoop.fs.Path(target.getParent,
      s".${target.getName}__stage__$id")
    val trash = new org.apache.hadoop.fs.Path(target.getParent,
      s".${target.getName}__old__$id")
    try fact.write.mode(SaveMode.Overwrite).options(LocalFs.options)
      .partitionBy(partitionCols: _*).parquet(stage.toString)
    catch { case e: Throwable => fs.delete(stage, true); throw e }
    var swapStarted = false
    try {
      val rels = leafPartitionRels(fs, stage, partitionCols.length)
      // an empty frame stages no partition: creating the target anyway
      // would leave a data-less directory that later reads cannot
      // infer a schema from
      if (rels.nonEmpty && !fs.exists(target)) fs.mkdirs(target)
      rels.foreach { rel =>
        swapStarted = true
        val dest = new org.apache.hadoop.fs.Path(target, rel)
        if (fs.exists(dest)) {
          val aside = new org.apache.hadoop.fs.Path(trash, rel)
          fs.mkdirs(aside.getParent)
          mv(fs, dest, aside)
        }
        fs.mkdirs(dest.getParent)
        mv(fs, new org.apache.hadoop.fs.Path(stage, rel), dest)
      }
      fs.delete(stage, true)
      fs.delete(trash, true)
    } catch {
      case e: Throwable =>
        if (!swapStarted) { fs.delete(stage, true); fs.delete(trash, true) }
        throw e
    }
  }

  private def mv(fs: org.apache.hadoop.fs.FileSystem,
      from: org.apache.hadoop.fs.Path,
      to: org.apache.hadoop.fs.Path): Unit =
    require(fs.rename(from, to), s"rename $from -> $to failed")

  /** Leaf partition directories `depth` levels under `base`, as
    * base-relative paths. Partition dirs always contain `=`; metadata
    * dirs (`_SUCCESS`, `_temporary`) never do — filtering on the
    * underscore alone would also drop partition COLUMNS with a leading
    * underscore. */
  private def leafPartitionRels(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path, depth: Int): Seq[String] = {
    def walk(dir: org.apache.hadoop.fs.Path,
        d: Int): Seq[org.apache.hadoop.fs.Path] =
      if (d == 0) Seq(dir)
      else fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap(s => walk(s.getPath, d - 1))
    // relativize over fs-qualified URIs — listStatus returns
    // scheme-qualified paths, a bare `new Path(str)` does not
    val baseUri = fs.makeQualified(base).toUri
    val rels = walk(base, depth)
      .map(p => baseUri.relativize(fs.makeQualified(p).toUri).getPath)
    require(rels.forall(r => r.nonEmpty && !r.startsWith("/")),
      s"partition layout not relative to $base: $rels")
    rels
  }

  /** Public entry for swap-debris recovery: callers that READ the
    * target before writing it (e.g. a read-merge-write like
    * [[graft.warehouse.Merge.upsertPartitioned]]) must recover BEFORE
    * the read — the scan's file index is built at read time and would
    * miss a partition restored later. */
  def recoverPartitions(spark: SparkSession, path: String,
      partitionCols: Seq[String]): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = LocalFs.fileSystem(spark, target)
    recoverSwapDebris(fs, target, partitionCols.length)
  }

  /** Step 0 of [[overwritePartitionsAtomic]]: restore any partition a
    * crashed swap left parked in a trash dir (present there, absent
    * from the target), then delete all stage/trash debris for this
    * target. Idempotent; a no-op when no debris exists. */
  private def recoverSwapDebris(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path, depth: Int): Unit = {
    val parent = target.getParent
    if (parent == null || !fs.exists(parent)) return
    // exact-match THIS table's debris: a bare startsWith would also
    // capture a sibling table whose name extends the target's (target
    // `events` vs `.events__archive__old__<id>`) — restoring foreign
    // partitions and deleting the sibling's only recovery copy
    val debrisRe =
      ("^\\.\\Q" + target.getName + "\\E__(old|stage)__[A-Za-z0-9-]+$").r
    val debris = fs.listStatus(parent).toSeq.map(_.getPath)
      .flatMap(p => debrisRe.findFirstMatchIn(p.getName)
        .map(mm => (p, mm.group(1))))
    for ((d, kind) <- debris if kind == "old";
        rel <- leafPartitionRels(fs, d, depth)) {
      val dest = new org.apache.hadoop.fs.Path(target, rel)
      if (!fs.exists(dest)) {
        fs.mkdirs(dest.getParent)
        mv(fs, new org.apache.hadoop.fs.Path(d, rel), dest)
      }
    }
    debris.foreach { case (d, _) => fs.delete(d, true) }
  }

  /** Compact the small files of selected partitions (the debris of
    * many incremental [[graft.warehouse.Merge.upsertPartitioned]] /
    * streaming loads) into `filesPerPartition` files each, leaving
    * every other partition's bytes untouched — read the touched
    * partitions with a pruning filter, repartition on the partition
    * columns (+ a bounded salt when >1 file), rewrite via dynamic
    * partition overwrite. Run it on the partitions a merge touched,
    * not the whole table.
    */
  def compactPartitions(spark: SparkSession, path: String,
      partitionCols: Seq[String], predicate: Column,
      filesPerPartition: Int = 1): Unit = {
    // the predicate selects PARTITIONS; a row-granular predicate would
    // silently drop the non-matching rows of every touched partition
    // (the filter is per-row but the overwrite replaces whole
    // partition directories) — reject anything referencing non-
    // partition columns
    val refs = org.apache.spark.sql.graft.ColumnBridge
      .expression(predicate).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }
    val bad = refs.filterNot(partitionCols.contains)
    require(bad.isEmpty,
      s"compactPartitions predicate may reference only partition " +
        s"columns ${partitionCols.mkString("[", ",", "]")}; " +
        s"found ${bad.mkString(", ")}")
    // recover first (the read below builds its file index immediately),
    // and land through the ATOMIC swap — compaction rewrites partitions
    // wholesale, exactly the shape the torn-partition window hurts most
    recoverPartitions(spark, path, partitionCols)
    val touched = PinnedParquet.read(spark, path).filter(predicate)
    val distributed =
      if (filesPerPartition <= 1)
        touched.repartition(partitionCols.map(col): _*)
      else
        touched.repartition((partitionCols.map(col) :+
          pmod(xxhash64(touched.columns.map(col): _*),
            lit(filesPerPartition.toLong))): _*)
    overwritePartitionsAtomic(distributed, path, partitionCols,
      recoverFirst = false)
  }

  /** Z-order key: interleave the low `bits` bits of two non-negative
    * integer dimensions so rows close in BOTH dimensions sort near
    * each other. Sorting/range-partitioning files by this key makes
    * parquet min-max stats prune selective filters on either dimension
    * — the multi-dimensional upgrade of single-column sort layout.
    *
    * Encoded with the classic magic-number bit spread (Morton 1966;
    * the same arithmetic Delta Lake's OPTIMIZE ZORDER applies): 4
    * shift/mask rounds per dimension instead of the bits×3-node
    * per-bit expression tree, identical output.
    */
  def zorderKey(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 16, s"zorderKey supports 1..16 bits: $bits")
    val mask = (1L << bits) - 1L
    spread16(a.cast("long").bitwiseAND(lit(mask)))
      .bitwiseOR(shiftleft(
        spread16(b.cast("long").bitwiseAND(lit(mask))), 1))
  }

  /** Spread the low 16 bits of `c` to even bit positions (0,2,…,30). */
  private def spread16(c: Column): Column = {
    val m1 = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
    val m2 = m1.bitwiseOR(shiftleft(m1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val m3 = m2.bitwiseOR(shiftleft(m2, 2)).bitwiseAND(lit(0x33333333L))
    m3.bitwiseOR(shiftleft(m3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** [[zorderKey]] as DuckDB-runnable SQL text, for oracle mirrors. */
  def zorderSql(a: String, b: String, bits: Int = 16): String = {
    val mask = (1L << bits) - 1L
    def spread(x: String): String = {
      val s1 = s"((($x) | (($x) << 8)) & 16711935)"
      val s2 = s"(($s1 | ($s1 << 4)) & 252645135)"
      val s3 = s"(($s2 | ($s2 << 2)) & 858993459)"
      s"(($s3 | ($s3 << 1)) & 1431655765)"
    }
    s"(${spread(s"($a) & $mask")} | (${spread(s"($b) & $mask")} << 1))"
  }

  /** Write sorted by z-order of (dimA, dimB): range partition on the
    * interleaved key, sort within partitions — file-level min-max
    * stats then cover both dimensions. */
  def writeZOrdered(df: DataFrame, dimA: String, dimB: String,
      path: String, partitions: Int): Unit =
    df.withColumn("__z", zorderKey(col(dimA), col(dimB)))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).options(LocalFs.options).parquet(path)

  /** Export a corpus as sharded JSONL (the interchange format LLM
    * training loaders consume) and read it straight back. Shard
    * assignment is deterministic (`id % shards`, written as a
    * partition column so each shard is its own directory), the JSON
    * codec is Spark's line-delimited writer, and the returned frame
    * is the READ-BACK of what landed on disk — downstream counts over
    * it prove the sink round-trips losslessly rather than trusting
    * the write succeeded. At 100 TB the export is a map-only pass
    * (no shuffle: the partition column is derived, rows stay where
    * they are; `shards` only names directories, file counts follow
    * the upstream partitioning).
    */
  def exportJsonlSharded(docs: DataFrame, idCol: String, path: String,
      shards: Int): DataFrame = {
    require(shards > 0, "shards must be positive")
    val spark = docs.sparkSession
    // cluster by shard BEFORE the partitioned write (guide §6, the
    // buildIvfIndex cells lesson): unclustered, every upstream
    // partition writes its own sliver into every shard dir —
    // shards × partitions tiny files that the read-back (and every
    // downstream consumer of the export) pays to open; clustered,
    // one file per shard, which is the export contract's point
    docs.withColumn("shard", pmod(col(idCol), lit(shards.toLong)))
      .repartition(col("shard"))
      .write.mode(SaveMode.Overwrite).options(LocalFs.options)
      .partitionBy("shard").json(path)
    spark.read.schema(
        docs.withColumn("shard", pmod(col(idCol), lit(shards.toLong)))
          .schema)
      .json(path)
  }
}

/** Skew mitigation for hot join keys (SURVEY §7 "salt skewed merge
  * keys"): fan the build side out over `buckets` salt values and
  * spread the probe side deterministically, so one hot key no longer
  * lands on a single reducer. AQE's skew-join handles most cases at
  * runtime; explicit salting is for the pathological keys AQE cannot
  * split (e.g. a single key bigger than an executor).
  */
object SkewJoin {

  /** Equi-join `left ⋈ right` on `keys` with `buckets`-way salting.
    * `left` is the large/skewed side: each row gets a deterministic
    * salt derived from its whole row hash; `right` is replicated once
    * per salt value. Result equals the plain inner join, row-for-row.
    */
  def saltedInnerJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], buckets: Int): DataFrame = {
    val salted = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col): _*), lit(buckets.toLong)))
    val expanded = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(buckets - 1L))))
    salted.join(expanded, keys :+ "__salt").drop("__salt")
  }
}
