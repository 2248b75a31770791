package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.Lineage

/** Similarity search over an embedding column (north-star extension;
  * SURVEY §2.9).
  *
  * Scale posture: `bruteForceTopK` broadcasts the (small) query set and
  * streams the corpus once — O(|corpus|·|queries|) FLOPs but no shuffle
  * of the corpus and no O(n²) pair materialization. The LSH-bucketed
  * variant (`bucketedTopK`) prunes candidates to same-bucket rows, the
  * standard recall/throughput trade at 100 TB; buckets are sign-bit
  * projections so the bucketing is a pure expression (no model state).
  *
  * All arithmetic is a left-assoc double fold, bit-identical to the
  * DuckDB oracle's `list_reduce`.
  */
object Similarity {

  /** Cosine similarity between two array<float|double> columns — the
    * native [[graft.expressions.CosineSim]] expression (compiled
    * single pass, bit-identical to the original HOF fold). Float
    * arrays are consumed directly: the former `cast("array<double>")`
    * here sat above every pair join and re-materialized both arrays
    * once per PAIR (O(pairs·dim) allocation in the q251/q256-class
    * exact scans); CosineSim now widens per element instead, which is
    * bit-identical. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.CosineSim(
      ColumnBridge.expression(a),
      ColumnBridge.expression(b)))
  }

  /** Dot product of two array<float|double> columns — the pair half
    * of [[cosine]] (identical IEEE fold, see
    * [[graft.expressions.Dot]]). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.Dot(
      ColumnBridge.expression(a),
      ColumnBridge.expression(b)))
  }

  /** ‖e‖ exactly as [[cosine]] computes it internally: `dot(e,e)` is
    * CosineSim's own `na += xi·xi` fold and `sqrt` is the same
    * correctly-rounded IEEE op as `math.sqrt(na)` — precomputing this
    * per ROW (instead of per pair inside CosineSim) is bit-neutral. */
  def embNorm(e: Column): Column = sqrt(dot(e, e))

  /** cosine(a,b) from precomputed [[embNorm]]s:
    * `dot / (sqrt(na)·sqrt(nb))` — the exact [[CosineSim]] result
    * expression, at a third of the per-pair flops (guide §1.2: the
    * norms are per-row folds the pair kernel was re-running per
    * PAIR). Null set identical: dot(a,b) is null exactly when
    * CosineSim is (length mismatch / null element / null array), and
    * a null norm implies a null dot. The division is the native
    * [[graft.expressions.CosineFromNorms]], NOT the SQL Divide —
    * ANSI mode would raise DIVIDE_BY_ZERO where CosineSim yields the
    * IEEE NaN the oracles expect (zero vectors). */
  def cosinePre(dotAB: Column, normA: Column, normB: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.CosineFromNorms(
      ColumnBridge.expression(dotAB),
      ColumnBridge.expression(normA),
      ColumnBridge.expression(normB)))
  }

  /** Seeded Rademacher (±1) hyperplane signs, `bits` rows × `dim`
    * columns — shared by the Column expression and the oracle-SQL
    * generator so both engines bucket identically. ±1 projections are
    * the Achlioptas-style random-hyperplane family: exact in floating
    * point (a sign flip, never a rounding), so the bucket id is
    * bit-reproducible across engines and partitionings.
    */
  def hyperplaneSigns(bits: Int, dim: Int,
      seed: Long = 42L): IndexedSeq[IndexedSeq[Double]] =
    graft.expressions.SignBuckets.hyperplaneSigns(bits, dim, seed)

  /** Sign-bit LSH bucket id from `bits` seeded random ±1 hyperplanes
    * over all `dim` dimensions. Mixing every dimension into each bit
    * (instead of reading the first `bits` axes) decorrelates the
    * buckets, which is what lifts LSH recall on embeddings whose
    * leading dimensions are correlated. Deterministic and
    * SQL-expressible: the projection is a left-assoc multiply-add
    * fold, bit-identical to the DuckDB mirror — computed by the
    * native [[graft.expressions.SignBuckets]] single-pass loop (the
    * equivalent Column tree is ~bits·dim·3 interpreted nodes per row,
    * the dominant LSH cost at sf0.1).
    */
  def signBucket(emb: Column, bits: Int, dim: Int,
      seed: Long = 42L): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.SignBuckets(
      ColumnBridge.expression(emb.cast("array<double>")),
      hyperplaneSigns(bits, dim, seed)))
  }

  /** Exact top-k neighbors for each query vector (excluding self).
    * `queries` must be small (it is broadcast).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      k: Int): DataFrame = {
    // norms per ROW before the pair join — see [[cosinePre]]
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      embNorm(col("embedding")).as("__qn"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"),
      embNorm(col("embedding")).as("__cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosinePre(dot(col("q_emb"), col("c_emb")),
        col("__qn"), col("__cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "score", "rn")
  }

  /** Deterministic spherical k-means codebook: `iterations` Lloyd
    * rounds from a first-k init. Per-dimension sums run on
    * floor(v·2²⁰) integer quantizations — exact and associative, so
    * the centroids are bit-identical whatever the partitioning or
    * aggregation merge order (raw double sums would make the codebook
    * nondeterministic run to run, unfixable for an oracle). Cell means
    * need no normalization: cosine assignment is scale-invariant.
    * Empty cells keep their previous centroid. Each round is one
    * broadcast assign + one map-side-combining groupBy over the
    * corpus — k·dim driver state never exceeds the codebook itself.
    */
  /** Default driver-state budget for collected codebooks: 2²⁶ doubles
    * (512 MB) — override per session with
    * `spark.conf.set("spark.graft.maxCodebookDoubles", n)`. */
  val DefaultMaxCodebookDoubles: Long = 1L << 26

  /** Fail loudly when a requested codebook would exceed the driver-
    * state budget: the codebook is collected AND re-broadcast every
    * Lloyd round, so k=65k × dim=1k (~0.5 GB/round) silently becomes a
    * driver OOM or a network tax long before results look wrong. */
  private def checkCodebookBudget(sess: org.apache.spark.sql.SparkSession,
      k: Int, dim: Int): Unit = {
    val budget = sess.conf.getOption("spark.graft.maxCodebookDoubles")
      .map(_.toLong).getOrElse(DefaultMaxCodebookDoubles)
    require(k.toLong * dim <= budget,
      s"codebook k=$k × dim=$dim = ${k.toLong * dim} doubles exceeds " +
        s"the driver-state budget of $budget (collected and broadcast " +
        "each Lloyd round). Shrink k/dim, or raise " +
        "spark.graft.maxCodebookDoubles if the driver can hold it.")
  }

  /** `initHashK` seeds from the k vectors with the SMALLEST
    * xxhash64(id) — a deterministic uniform-spread sample (one
    * TakeOrdered pass, no full sort), the right init when cluster
    * membership CORRELATES with id order: smallest-k init on a
    * block-clustered corpus (ids 0..255 = cluster 0, …) packs every
    * seed into the first few clusters, and a 2-iteration Lloyd never
    * recovers — residual radii stay near 90° and every radius-based
    * pruning bound ([[graft.analytics.CorpusOps
    * .semanticContaminationIndexed]]) collapses to no-prune. Measured
    * on the r19 clustered rehearsal: hash init cut the indexed
    * decontamination read from slower-than-exact to a fraction of it.
    * Oracle-replayed codebooks (q58/q98 CTEs) keep the id-value rule;
    * hash init is for indexes whose RESULTS don't depend on the
    * codebook (recall-1 pruned tiers) or whose recall is spec-floored
    * rather than hash-pinned. */
  def kmeansCodebook(corpus: DataFrame, idCol: String, embCol: String,
      k: Int, dim: Int, iterations: Int,
      initSmallestK: Boolean = false,
      initHashK: Boolean = false): DataFrame = {
    val q = 1048576L // 2^20 quantization step
    val sess = corpus.sparkSession
    // gates EVERY driver-side collect in this function — the per-round
    // codebook AND the initSmallestK seed (a TakeOrdered of k rows ×
    // dim-double embeddings: exactly codebook-sized, and k grows as
    // √n under autoNlist, so at extreme corpus sizes this require is
    // what keeps the driver from holding √n·dim doubles unnoticed;
    // pinned in SimilaritySpec)
    checkCodebookBudget(sess, k, dim)
    import sess.implicits._
    // the codebook is MODEL state (k·dim doubles) — collecting it each
    // round keeps the per-round plan flat; leaving it as lineage embeds
    // the previous round twice per iteration (join + broadcast) and
    // grows the plan ~2^iterations
    def collected(df: DataFrame): DataFrame =
      df.collect().toSeq
        .map(r => (r.getInt(0), r.getSeq[Double](1).toIndexedSeq))
        .sortBy(_._1)
        .toDF("centroid_id", "cent_emb")
    // default init is the id-VALUE rule (id < k), which every trained
    // oracle CTE replays; initSmallestK seeds from the k SMALLEST ids
    // instead (a TakeOrdered top-k, no full sort) — required when the
    // id range doesn't start at 0 (e.g. a benchmark-split corpus whose
    // ids begin past k, where id < k would seed an EMPTY codebook)
    var cent =
      if (initHashK)
        corpus.select(col(idCol).cast("long").as("__id"),
            col(embCol).cast("array<double>").as("__emb"))
          .orderBy(xxhash64(col("__id")), col("__id")).limit(k)
          .collect().toSeq
          .sortBy(_.getLong(0)).zipWithIndex
          .map { case (r, i) => (i, r.getSeq[Double](1).toIndexedSeq) }
          .toDF("centroid_id", "cent_emb")
      else if (initSmallestK)
        corpus.select(col(idCol).cast("long").as("__id"),
            col(embCol).cast("array<double>").as("__emb"))
          .orderBy("__id").limit(k).collect().toSeq
          .sortBy(_.getLong(0)).zipWithIndex
          .map { case (r, i) => (i, r.getSeq[Double](1).toIndexedSeq) }
          .toDF("centroid_id", "cent_emb")
      else collected(corpus.filter(col(idCol) < k)
        .select(col(idCol).cast("int").as("centroid_id"),
          col(embCol).cast("array<double>").as("cent_emb")))
    for (_ <- 1 to iterations) {
      val assigned = nearestCell(cent, corpus
          .select(col(idCol).as("__vid"),
            col(embCol).cast("array<double>").as("__emb")),
          "__vid", "__emb")
        .select(col("cell").as("centroid_id"), col("__emb"))
      val sums = (0 until dim).map(i =>
        sum(floor(element_at(col("__emb"), i + 1) * q).cast("long"))
          .as(s"__s$i"))
      val means = assigned.groupBy("centroid_id")
        .agg(count(lit(1)).as("__n"), sums: _*)
        .select(col("centroid_id"), array((0 until dim).map(i =>
          col(s"__s$i") / col("__n") / q): _*).as("new_emb"))
      cent = collected(cent.join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("new_emb"), col("cent_emb")).as("cent_emb")))
    }
    cent
  }

  /** IVF (inverted-file) approximate top-k over an explicit codebook
    * (e.g. [[kmeansCodebook]]). Every corpus vector is assigned to its
    * nearest centroid cell via a broadcast join against the (tiny)
    * codebook; queries probe their `nprobe` nearest cells; exact
    * cosine runs only on same-cell candidates. All joins are
    * equi-joins on cell id — candidate count ≈ |corpus|·nprobe/|cells|.
    */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame,
      centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val corpusCells = assignCells(centroids, corpus.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("c_emb")),
      "neighbor_id", "c_emb", 1)
    probeAndScore(corpusCells, queryCellsOf(centroids, queries, nprobe), k)
  }

  private def queryCellsOf(centroids: DataFrame, queries: DataFrame,
      nprobe: Int): DataFrame =
    assignCells(centroids, queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      "query_id", "q_emb", nprobe)

  /** Single nearest centroid per row as an AGGREGATION over the
    * broadcast cross join: the native [[graft.expressions.ArgMaxCell]]
    * aggregate picks argmax-score with the smallest-id tie-break and
    * runs as ObjectHashAggregate with map-side partials — the
    * exchange carries one reduced row per input row instead of the
    * n·k crossed set that a `row_number` window (or a `max(struct)`,
    * which has no Tungsten buffer and falls back to SortAggregate)
    * must sort. Ordering semantics are identical to the window
    * formulation and the SQL oracles: NaN scores sort greatest.
    * Returns (idCol, embCol, cell, cscore). */
  private def nearestCell(centroids: DataFrame, df: DataFrame,
      idCol: String, embCol: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    def argmax(s: Column, i: Column, p: Column): Column =
      ColumnBridge.column(graft.expressions.ArgMaxCell(
        ColumnBridge.expression(s), ColumnBridge.expression(i),
        ColumnBridge.expression(p)).toAggregateExpression())
    // row/centroid norms once each, not once per (row × centroid) —
    // the n·k assignment is the family's hottest kernel ([[cosinePre]])
    df.withColumn("__vn", embNorm(col(embCol)))
      .crossJoin(broadcast(
        centroids.withColumn("__cn", embNorm(col("cent_emb")))))
      .withColumn("__cscore", cosinePre(
        dot(col(embCol), col("cent_emb")), col("__vn"), col("__cn")))
      .groupBy(col(idCol))
      .agg(argmax(col("__cscore"), col("centroid_id").cast("int"),
        col(embCol)).as("__best"))
      .select(col(idCol), col("__best.payload").as(embCol),
        col("__best.cid").as("cell"),
        col("__best.score").as("cscore"))
  }

  /** [[nearestCell]] as public surface — nearest-cell assignment
    * KEEPING the assignment cosine: (idCol, embCol, cell, cscore).
    * The input shape of the pruned contamination tier's per-cell
    * residual radii ([[graft.analytics.CorpusOps
    * .semanticContaminationPruned]]). */
  def assignNearestCellScored(centroids: DataFrame, df: DataFrame,
      idCol: String, embCol: String): DataFrame =
    nearestCell(centroids, df, idCol, embCol)

  /** Nearest-`probes` centroid cells per vector (broadcast codebook,
    * deterministic centroid-id tie-break). The hot 1-probe path (all
    * corpus-side assignments) is the map-side [[nearestCell]]
    * aggregation; multi-probe keeps the window (top-`probes` needs
    * the ranked list, and query sets are small). */
  private def assignCells(centroids: DataFrame, df: DataFrame,
      idCol: String, embCol: String, probes: Int): DataFrame = {
    if (probes == 1)
      return nearestCell(centroids, df, idCol, embCol)
        .select(col(idCol), col(embCol), col("cell"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("__cscore").desc, col("centroid_id"))
    df.withColumn("__vn", embNorm(col(embCol)))
      .crossJoin(broadcast(
        centroids.withColumn("__cn", embNorm(col("cent_emb")))))
      .withColumn("__cscore", cosinePre(
        dot(col(embCol), col("cent_emb")), col("__vn"), col("__cn")))
      .withColumn("__crn", row_number().over(w))
      .filter(col("__crn") <= probes)
      .select(col(idCol), col(embCol),
        col("centroid_id").as("cell"))
  }

  /** Probe side of IVF: queries pick `nprobe` cells, exact cosine runs
    * on same-cell candidates only. `corpusCells` is the (neighbor_id,
    * c_emb, cell) shape of [[assignCells]] — computed inline by
    * [[ivfTopKWith]] or read back (pruned) from a persisted index
    * ([[ivfTopKIndexed]]). */
  private def probeAndScore(corpusCells: DataFrame,
      queryCells: DataFrame, k: Int): DataFrame = {
    val scored = corpusCells.withColumn("__cn", embNorm(col("c_emb")))
      .join(queryCells.withColumn("__qn", embNorm(col("q_emb"))),
        Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosinePre(dot(col("q_emb"), col("c_emb")),
        col("__qn"), col("__cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "score", "rn")
  }

  /** Build and persist an IVF index: the trained codebook plus the
    * corpus's cell assignments, as two parquet tables under
    * `indexPath` (`codebook`, `cells` — the latter partitioned BY
    * cell, so a probe reads only its nprobe/k fraction of the corpus
    * via partition pruning). Train once, assign once, then every
    * query-time call ([[ivfTopKIndexed]]) pays only the probe — the
    * index-once/query-many shape a production ANN service runs; the
    * inline [[ivfTopKWith]] re-assigns the corpus every call.
    *
    * `codebook` supplies a pre-trained codebook (a
    * [[kmeansCodebook]] result — a driver-local model-sized frame) so
    * sibling index layouts over the same corpus (float +
    * [[buildIvfIndexSq8]]) share ONE training pass instead of each
    * paying `iterations` corpus scans for an identical result.
    * `assignments` analogously supplies a pre-computed
    * [[assignNearestCellScored]] frame over (neighbor_id, c_emb)
    * AGAINST THAT CODEBOOK, so sibling layouts also share the one
    * n·k corpus-assignment pass (the build's dominant compute).
    */
  def buildIvfIndex(corpus: DataFrame, indexPath: String, k: Int,
      dim: Int, iterations: Int,
      codebook: Option[DataFrame] = None,
      assignments: Option[DataFrame] = None): Unit = {
    val cb = codebook.getOrElse(kmeansCodebook(corpus, "vec_id",
      "embedding", k, dim, iterations))
    cb.write.mode("overwrite").parquet(s"$indexPath/codebook")
    // the n·k assignment kernel is the build's dominant compute and
    // has TWO consumers (the cells write and the cell-stats summary);
    // persisted for the duration of the build so it executes once —
    // an index-build intermediate inside one call, not cross-run state
    val assigned = assignments.getOrElse(
      nearestCell(cb, corpus.select(
          col("vec_id").as("neighbor_id"),
          col("embedding").as("c_emb")),
          "neighbor_id", "c_emb")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      // cluster by cell BEFORE the partitioned write: without it every
      // shuffle partition writes its own sliver into every cell dir —
      // nlist x shuffle-partitions footer-dominated files (~14k at the
      // sf10 rehearsal) whose open cost alone was ~5 s of every indexed
      // read; clustered, the table is ~one file per cell
      assigned.select("neighbor_id", "c_emb", "cell")
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$indexPath/cells")
      // per-cell summary: size (the skew/health statistic) and the
      // minimum member-to-centroid cosine (the residual-radius input of
      // the triangle-inequality pruning in
      // [[graft.analytics.CorpusOps.semanticContaminationIndexed]]).
      // NaN assignment cosines (zero vectors) collapse to -1 so a cell
      // holding one is never prunable — admissibility over cheapness.
      writeCellStats(cellStatsOf(assigned), indexPath)
    } finally if (assignments.isEmpty) assigned.unpersist(false)
  }

  /** The (cell, n, min_cscore) summary of a cscore-bearing assignment
    * frame — codebook-sized. */
  private def cellStatsOf(assigned: DataFrame): DataFrame =
    assigned.select(col("cell"),
        nanvl(col("cscore"), lit(-1.0)).as("__cs"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), min(col("__cs")).as("min_cscore"))

  private def writeCellStats(stats: DataFrame, indexPath: String): Unit =
    stats.coalesce(1).write.mode("overwrite")
      .parquet(s"$indexPath/cellstats")

  /** The CURRENT generation dir of a persisted index — `indexPath/
    * gen-<nonce>` after a [[rebuildIvfIndex]] swap ([[graft.warehouse
    * .IndexGen]] pointer), `indexPath` itself for an index never
    * retrained (flat legacy layout). Callers resolve ONCE per
    * operation and use the returned dir for every table of the trio,
    * so a retrain publishing mid-call can never hand them a mixed
    * codebook/cells/cellstats set. */
  private[graft] def resolveIndexDir(
      spark: org.apache.spark.sql.SparkSession, indexPath: String)
      : String =
    graft.warehouse.IndexGen.current(spark, indexPath)
      .map { case (_, rel) => s"$indexPath/$rel" }
      .getOrElse(indexPath)

  /** The per-cell stats table of a persisted index: (cell, n,
    * min_cscore) — the base table written at build/rebuild time,
    * folded with every append's DELTA dir ([[appendToIvfIndex]]); the
    * fold is codebook-sized per delta. A pre-stats legacy index (no
    * base table) rebuilds from ONE scan of the cell table instead —
    * that scan already contains every appended batch, so deltas are
    * deliberately IGNORED on this path (folding them in would count
    * each appended batch twice). */
  def readCellStats(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame =
    readCellStatsIn(spark, resolveIndexDir(spark, indexPath))

  private[graft] def readCellStatsIn(
      spark: org.apache.spark.sql.SparkSession, dir: String)
      : DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/cellstats")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(p)) {
      val base = spark.read.parquet(s"$dir/cellstats")
      val dDir = new org.apache.hadoop.fs.Path(s"$dir/cellstats_deltas")
      val deltas =
        if (!f.exists(dDir)) Seq.empty[String]
        else f.listStatus(dDir).toSeq.filter(_.isDirectory)
          .map(_.getPath.toString)
      if (deltas.isEmpty) base
      else base.unionByName(spark.read.parquet(deltas: _*))
        .groupBy("cell")
        .agg(sum("n").as("n"), min("min_cscore").as("min_cscore"))
    } else {
      val cb = spark.read.parquet(s"$dir/codebook")
      cellStatsOf(nearestCell(cb,
        spark.read.parquet(s"$dir/cells")
          .select("neighbor_id", "c_emb"),
        "neighbor_id", "c_emb"))
    }
  }

  /** Move a staged partitioned write's data files into the live cell
    * table under nonce-unique names — the manual commit that makes
    * concurrent appends safe: `mode("append")` writers SHARE the
    * `_temporary/0` staging dir (the first job to commit deletes the
    * second's in-flight task output), whereas each staged batch here
    * has its own dir and every file lands with one atomic rename. */
  private def moveStagedCells(f: org.apache.hadoop.fs.FileSystem,
      stage: org.apache.hadoop.fs.Path,
      cellsDir: org.apache.hadoop.fs.Path, nonce: String): Unit = {
    f.listStatus(stage).toSeq.filter(_.isDirectory).foreach { part =>
      val dst = new org.apache.hadoop.fs.Path(cellsDir,
        part.getPath.getName)
      if (!f.exists(dst)) f.mkdirs(dst): Unit
      f.listStatus(part.getPath).toSeq.filterNot(_.isDirectory)
        .foreach { file =>
          f.rename(file.getPath, new org.apache.hadoop.fs.Path(dst,
            s"$nonce-${file.getPath.getName}")): Unit
        }
    }
    f.delete(stage, true): Unit
  }

  /** Append new vectors to a persisted IVF index: assign against the
    * FROZEN stored codebook, land the batch's cell files via a
    * writer-unique stage + per-file renames, and record the batch's
    * per-cell stats as a DELTA dir. Concurrent appenders therefore
    * COMMUTE: no shared staging dir, no read-merge-overwrite of the
    * stats table (the pre-r19 fold lost one appender's update when
    * two interleaved), and [[readCellStats]] folds base + deltas on
    * read. Delta debris is bounded by the append count between
    * retrains — [[rebuildIvfIndex]] recomputes a fresh base and
    * starts the next generation delta-free. Periodic
    * [[rebalanceIvfIndexIfSkewed]] retrains when drift accumulates. */
  def appendToIvfIndex(newVectors: DataFrame, indexPath: String): Unit = {
    val spark = newVectors.sparkSession
    val dir = resolveIndexDir(spark, indexPath)
    val codebook = spark.read.parquet(s"$dir/codebook")
    val assigned = nearestCell(codebook, newVectors.select(
        col("vec_id").as("neighbor_id"), col("embedding").as("c_emb")),
        "neighbor_id", "c_emb")
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val stagePath = new org.apache.hadoop.fs.Path(
      s"$dir/cells_stage/$nonce")
    val f = stagePath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assigned.select("neighbor_id", "c_emb", "cell")
      .repartition(col("cell")) // ~one file per cell per batch
      .write.mode("errorifexists").partitionBy("cell")
      .parquet(stagePath.toString)
    moveStagedCells(f, stagePath,
      new org.apache.hadoop.fs.Path(s"$dir/cells"), nonce)
    // the batch's (cell, n, min_cscore) as its own delta dir —
    // codebook-bounded rows, one file
    cellStatsOf(assigned).coalesce(1).write.mode("errorifexists")
      .parquet(s"$dir/cellstats_deltas/delta-$nonce")
  }

  /** Residual-RADIUS health of a persisted index: one row of
    * (n_cells, min/p50/max of the per-cell minimum member-to-centroid
    * cosine). A cell's pruning radius is acos(min_cscore), so this is
    * the statistic that says whether radius-based pruning
    * ([[graft.analytics.CorpusOps.semanticContaminationIndexed]]) has
    * any teeth: p50 near 1 → tight cells, strong pruning; p50 near 0
    * (radii near 90°) → the triangle bound admits every (bench, cell)
    * pair and the "pruned" read degrades to the exact scan plus
    * overhead. The r19 clustered rehearsal pinned the failure mode:
    * when the corpus has MORE natural clusters than the codebook has
    * cells (765 planted clusters vs √n ≈ 443), every cell must merge
    * distant clusters and p50 collapses — the fix is a finer codebook
    * (nlist ≥ cluster count), which this statistic tells you to buy.
    * Codebook-sized aggregation over the stats table. */
  def ivfRadiusStats(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame =
    readCellStats(spark, indexPath)
      .agg(count(lit(1)).as("n_cells"),
        min(col("min_cscore")).as("worst_cscore"),
        expr("percentile_approx(min_cscore, 0.5)").as("p50_cscore"),
        max(col("min_cscore")).as("best_cscore"))

  /** Cell-size skew of a persisted index: max(n)/mean(n) over the
    * stats table — 1.0 is perfectly balanced; a frozen-codebook index
    * fed drifted appends ([[appendToIvfIndex]]) grows this silently,
    * degrading probe cost (the hot cell dominates every probe that
    * touches it) and recall (drifted vectors crowd into cells whose
    * centroid no longer represents them). */
  def ivfCellSkew(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Double = {
    val r = readCellStats(spark, indexPath)
      .agg(max(col("n")).cast("double").as("mx"), avg(col("n")).as("mean"))
      .head()
    r.getDouble(0) / r.getDouble(1)
  }

  /** Retrain a persisted float IVF index from its own stored vectors:
    * fresh [[autoNlist]]-sized codebook (smallest-k init — stored ids
    * are arbitrary), fresh assignment + stats, built into a NEW
    * generation dir and swapped in with ONE atomic pointer publish
    * ([[graft.warehouse.IndexGen]]). The pre-r19 swap renamed the
    * three table dirs one by one — a reader mid-swap could pair the
    * new codebook with the old cells (silent recall loss); under the
    * pointer a reader resolves the generation once and reads a frozen
    * trio, and the PREVIOUS generation is retained (retire keeps 2)
    * so a reader that resolved just before the publish finishes its
    * scan. Concurrent retrains CAS on the pointer — the loser fails
    * loudly, its staged generation left as unpointed debris no reader
    * resolves. Read equivalence is pinned in SimilaritySpec: the
    * rebuilt index answers [[ivfTopKIndexed]] queries identically to
    * an inline rebuild over the same vectors. */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, dim: Int = 64, iterations: Int = 2): Unit = {
    val cur = resolveIndexDir(spark, indexPath)
    // an SQ8 sibling layout (buildIvfIndexSq8 at the same path) shares
    // this codebook: replacing it would silently orphan the sq8 cell
    // assignments (probes read the WRONG cells — recall degrades with
    // no error). Refuse; the caller rebuilds both layouts explicitly.
    val curChk = new org.apache.hadoop.fs.Path(cur)
    val fChk = curChk.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fChk.exists(new org.apache.hadoop.fs.Path(curChk, "cells_sq8")),
      s"rebuildIvfIndex: $indexPath has an SQ8 sibling sharing this " +
        "codebook - a float-only rebuild would orphan its assignments; " +
        "retrain one codebook and rebuild both layouts with it " +
        "(buildIvfIndex + buildIvfIndexSq8, codebook = Some(...))")
    graft.warehouse.Writer.recoverPartitions(spark,
      s"$cur/cells", Seq("cell"))
    val corpus = spark.read.parquet(s"$cur/cells")
      .select(col("neighbor_id").as("vec_id"),
        col("c_emb").as("embedding"))
    val k = autoNlist(corpus.count())
    val genRel =
      s"gen-${java.util.UUID.randomUUID().toString.take(8)}"
    buildIvfIndex(corpus, s"$indexPath/$genRel", k, dim, iterations,
      codebook = Some(kmeansCodebook(corpus, "vec_id", "embedding",
        k, dim, iterations, initSmallestK = true)))
    graft.warehouse.IndexGen.publish(spark, indexPath, genRel): Unit
    // keep current + previous; the flat legacy dirs (never pointed)
    // stay on disk untouched — the price of never breaking a reader
    // that resolved before the first pointer existed
    graft.warehouse.IndexGen.retire(spark, indexPath, keepLast = 2): Unit
  }

  /** The maintenance trigger for frozen-codebook drift: rebuild when
    * [[ivfCellSkew]] exceeds `maxOverMean` (default 4× — past it the
    * hot cell dominates probe latency). Returns whether a rebuild
    * ran. The ingest loop is append → check → occasionally rebuild,
    * exactly a compacting lake's small-file maintenance shape. */
  def rebalanceIvfIndexIfSkewed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, maxOverMean: Double = 4.0, dim: Int = 64,
      iterations: Int = 2): Boolean = {
    val skew = ivfCellSkew(spark, indexPath)
    if (skew <= maxOverMean) false
    else { rebuildIvfIndex(spark, indexPath, dim, iterations); true }
  }

  /** IVF + int8 scalar quantization — the standard
    * inverted-file-with-scalar-quantizer layout: cells store packed
    * 1-byte-per-dim codes ([[sq8QuantizePacked]]) instead of float
    * embeddings, so the index is ~4× smaller than [[buildIvfIndex]]'s
    * and a probe's scan reads a quarter of the bytes. Training and
    * cell assignment run on the full-precision embeddings (quantizing
    * AFTER assignment keeps cell membership exact); only the stored
    * payload is quantized.
    *
    * Zero vectors are EXCLUDED from an SQ8 index (and from SQ8
    * queries): their cosine is undefined, so [[sq8Quantize]] drops
    * them. The float index retains them only as a NaN-ordering
    * artifact of cell assignment — exclusion is the coherent
    * contract, noted because the two indexes can differ in row count
    * on a corpus containing zero vectors.
    */
  def buildIvfIndexSq8(corpus: DataFrame, indexPath: String, k: Int,
      dim: Int, iterations: Int,
      codebook: Option[DataFrame] = None,
      assignments: Option[DataFrame] = None): Unit = {
    val cb = codebook.getOrElse(kmeansCodebook(corpus, "vec_id",
      "embedding", k, dim, iterations))
    cb.write.mode("overwrite").parquet(s"$indexPath/codebook")
    // `assignments` shares the sibling float build's corpus-assignment
    // pass (see [[buildIvfIndex]]) — cell membership is identical by
    // construction (same codebook, same argmax)
    val cells = assignments.getOrElse(
      assignCells(cb, corpus.select(
          col("vec_id").as("neighbor_id"),
          col("embedding").as("c_emb")),
          "neighbor_id", "c_emb", 1))
      .select("neighbor_id", "cell")
    val codes = sq8QuantizePacked(corpus, "vec_id", "embedding")
      .select(col("vec_id").as("neighbor_id"), col("code"),
        col("norm2"))
    cells.join(codes, Seq("neighbor_id"))
      .repartition(col("cell")) // ~one file per cell, see buildIvfIndex
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexPath/cells_sq8")
  }

  /** Query an IVF-SQ8 index ([[buildIvfIndexSq8]]): probe cells with
    * full-precision query embeddings against the stored codebook
    * (partition-pruned, as in [[ivfTopKIndexed]]), then score the
    * candidate codes with the compiled int8 dot
    * ([[graft.expressions.DotI8]]). Approximation is the product of
    * the two tiers — cell pruning × int8 resolution — and is
    * spec-floored via [[recallAtK]]. */
  def ivfTopKIndexedSq8(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    // resolve the generation ONCE — every read below sees one trio
    val dir = resolveIndexDir(spark, indexPath)
    // a crashed cell-table compaction may have parked partitions aside
    // — restore before this read builds its file index
    graft.warehouse.Writer.recoverPartitions(spark,
      s"$dir/cells_sq8", Seq("cell"))
    val codebook = spark.read.parquet(s"$dir/codebook")
    val queryCells = queryCellsOf(codebook, queries, nprobe)
    val probed = queryCells.select("cell").distinct().collect()
      .map(_.getInt(0))
    val qCodes = sq8QuantizePacked(queries, "vec_id", "embedding")
      .select(col("vec_id").as("query_id"), col("code").as("q_code"),
        col("norm2").as("q_n"))
    val q = queryCells.select("query_id", "cell")
      .join(qCodes, Seq("query_id"))
    val cells = spark.read.parquet(s"$dir/cells_sq8")
      .filter(col("cell").isin(probed.map(Integer.valueOf): _*))
      .select(col("neighbor_id"), col("code").as("c_code"),
        col("norm2").as("c_n"), col("cell"))
    val dot = ColumnBridge.column(graft.expressions.DotI8(
      ColumnBridge.expression(col("q_code")),
      ColumnBridge.expression(col("c_code"))))
    quantizedScoreTopK(
      cells.join(broadcast(q), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id")),
      dot, k)
  }

  /** Query a persisted IVF index ([[buildIvfIndex]]): probe `nprobe`
    * cells against the stored codebook and score ONLY those cell
    * partitions of the stored assignment table. The probed-cell set is
    * collected to drive partition pruning — it is bounded by the
    * codebook size (≤ k distinct cells exist, whatever the query
    * count), so the collect is model-sized, and the resulting `isin`
    * filter reaches the parquet scan as a partition predicate: a probe
    * touches nprobe/k of the corpus bytes, which is the point of the
    * index. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    // resolve the generation ONCE — every read below sees one trio
    val dir = resolveIndexDir(spark, indexPath)
    // a crashed cell-table compaction may have parked partitions aside
    // — restore before this read builds its file index
    graft.warehouse.Writer.recoverPartitions(spark,
      s"$dir/cells", Seq("cell"))
    val codebook = spark.read.parquet(s"$dir/codebook")
    // queryCells evaluates twice (the probed-cell collect here and the
    // join inside probeAndScore) — it is query-set-sized work against
    // a broadcast codebook, cheaper than managing a cache entry
    val queryCells = queryCellsOf(codebook, queries, nprobe)
    val probed = queryCells.select("cell").distinct().collect()
      .map(_.getInt(0))
    val cells = spark.read.parquet(s"$dir/cells")
      .filter(col("cell").isin(probed.map(Integer.valueOf): _*))
      .select(col("neighbor_id"), col("c_emb"), col("cell"))
    probeAndScore(cells, queryCells, k)
  }

  /** IVF top-k with the first-`codebookSize` corpus vectors as the
    * codebook — the zero-training baseline; [[kmeansCodebook]] +
    * [[ivfTopKWith]] is the trained upgrade with the same probe shape.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      codebookSize: Int, nprobe: Int): DataFrame =
    ivfTopKWith(queries, corpus,
      corpus.filter(col("vec_id") < codebookSize)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("cent_emb")),
      k, nprobe)

  /** The nlist ∝ √n rule for IVF cell counts, pinned by spec: with
    * `nlist = ⌈√n⌉` both the assignment pass (n·nlist broadcast
    * cosines) and the per-query probe work (nprobe·n/nlist
    * candidates) grow as n^1.5 / n^0.5 respectively — the standard
    * flat-IVF operating point (FAISS's published guidance is the
    * same √n·c family). A PINNED nlist is the same class of scale
    * bug the r15 rehearsal measured on q22's pinned LSH width: cells
    * grow linearly with the corpus and probe cost with them. Clamped
    * to [1, 65536] — the codebook stays model-sized (65536·64
    * doubles ≈ 32 MB) under [[kmeansCodebook]]'s collect budget. */
  def autoNlist(n: Long): Int =
    math.min(65536L, math.max(1L,
      math.ceil(math.sqrt(math.max(n, 0).toDouble)).toLong)).toInt

  /** Consumer-grade trained IVF: codebook size from [[autoNlist]]
    * (one count(*)), trained with [[kmeansCodebook]], probed with
    * [[ivfTopKWith]]. `nprobe` stays the caller's recall knob. The
    * oracled q46/q58/q98 pin their cell counts for the DuckDB
    * replay; this is the entry point that doesn't need the caller to
    * size anything. */
  def ivfTopKAuto(queries: DataFrame, corpus: DataFrame, k: Int,
      nprobe: Int, dim: Int = 64, iterations: Int = 2): DataFrame = {
    val nlist = autoNlist(corpus.count())
    ivfTopKWith(queries, corpus,
      kmeansCodebook(corpus, "vec_id", "embedding", nlist, dim,
        iterations), k, nprobe)
  }

  /** Per-query recall@k of an approximate top-k result against the
    * exact one (both shaped like the `*TopK` outputs — at least
    * `query_id, neighbor_id`). Queries with an empty approximate
    * candidate set (possible under LSH/IVF pruning) surface as
    * recall 0 rather than disappearing — `queryIds` is the driving
    * side. The denominator is the per-query EXACT result size capped
    * at k, so a corpus with fewer than k neighbors per query can still
    * reach recall 1.0 (a fixed /k would bound it at |corpus|/k); a
    * query with no exact neighbors at all scores the vacuous 1.0.
    * The join is an equi-semi-join on (query_id, neighbor_id): hit
    * counting never rescans the corpus.
    */
  def recallAtK(queryIds: DataFrame, exact: DataFrame, approx: DataFrame,
      k: Int, method: String): DataFrame = {
    val exactSel = exact.select("query_id", "neighbor_id")
    val exactCounts = exactSel.groupBy("query_id")
      .agg(count(lit(1)).as("__ec"))
    val hits = exactSel
      .join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("__h"))
    queryIds.join(hits, Seq("query_id"), "left")
      .join(exactCounts, Seq("query_id"), "left")
      .select(lit(method).as("method"), col("query_id"),
        coalesce(col("__h"), lit(0L)).cast("int").as("hits"),
        when(coalesce(col("__ec"), lit(0L)) === 0L, lit(1.0))
          .otherwise(coalesce(col("__h"), lit(0L)).cast("double") /
            least(lit(k.toLong), col("__ec")))
          .as("recall"))
  }

  /** int8 symmetric scalar quantization of an embedding column:
    * per-vector scale = max|xᵢ|, codeᵢ = floor(xᵢ·127/scale + 0.5) ∈
    * [−127, 127]. This is the memory-bandwidth scale path for ANN — a
    * float32 corpus scan shrinks 4× (100 TB of embeddings → 25 TB of
    * codes), and scoring becomes exact integer dot products, so the
    * result is bit-reproducible under any partitioning (no float
    * accumulation order to pin down). Zero vectors (scale 0) are
    * dropped: their cosine is undefined in the float path too.
    *
    * Output: (idCol, code: array<long>, norm2: long) — the
    * SQL-friendly form (a DuckDB oracle can replay it);
    * [[sq8QuantizePacked]] is the at-rest form with codes packed to
    * one byte per dimension.
    */
  /** Rows whose `embCol` is a finite nonzero vector — the exclusion
    * contract every ingest path must enforce: a zero vector's cosine
    * is undefined, and a NaN score sorts ABOVE all doubles in a
    * descending top-k, so one bad vector would rank #1 for every
    * query probing its bucket/cell. */
  def finiteNonZero(df: DataFrame, embCol: String): DataFrame =
    df.withColumn("__scale", array_max(transform(
        col(embCol).cast("array<double>"), x => abs(x))))
      .where(col("__scale") > 0d && !isnan(col("__scale")) &&
        col("__scale") =!= lit(Double.PositiveInfinity))
      .drop("__scale")

  def sq8Quantize(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    df.select(col(idCol), col(embCol).cast("array<double>").as("__e"))
      .withColumn("__scale", array_max(transform(col("__e"), x => abs(x))))
      // drops zero vectors (cosine undefined) AND non-finite ones: an
      // Inf scale would quantize every dimension to 0 and divide by a
      // zero norm, and NaN needs an explicit test — Spark (and DuckDB)
      // order NaN ABOVE all values, so `NaN > 0` is true
      // (the same gate as [[finiteNonZero]], kept inline because the
      // scale feeds the quantization below)
      .where(col("__scale") > 0d && !isnan(col("__scale")) &&
        col("__scale") =!= lit(Double.PositiveInfinity))
      .select(col(idCol),
        transform(col("__e"),
          x => floor(x * lit(127.0) / col("__scale") + lit(0.5))).as("code"))
      .withColumn("norm2",
        aggregate(col("code"), lit(0L), (acc, v) => acc + v * v))
  }

  /** [[sq8Quantize]] with codes packed into a binary column
    * ([[graft.expressions.PackI8]], one signed byte per dimension) —
    * the at-rest form: disk, shuffle, and cache all carry exactly
    * dim bytes per vector, making the 4×-vs-float32 reduction real
    * rather than nominal. Output: (idCol, code: binary, norm2: long).
    */
  def sq8QuantizePacked(df: DataFrame, idCol: String,
      embCol: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    sq8Quantize(df, idCol, embCol).select(col(idCol),
      ColumnBridge.column(graft.expressions.PackI8(
        ColumnBridge.expression(col("code")))).as("code"),
      col("norm2"))
  }

  /** Top-k neighbors per query scored on int8-quantized codes
    * ([[sq8Quantize]]): same broadcast-queries / stream-corpus shape
    * as [[bruteForceTopK]], but the corpus side reads 1 byte per
    * dimension and the dot product is integer arithmetic. The
    * quantized cosine = dot(ca,cb)/(√‖ca‖²·√‖cb‖²) approximates the
    * float cosine to ~1/127 per-dimension resolution — recall vs the
    * exact path is spec-asserted ([[recallAtK]]).
    */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // native compiled integer dot (graft.expressions.DotLong) — the
    // HOF chain aggregate(zip_with(..)) evaluates interpreted per pair
    // and dominated the runtime; integer arithmetic is exact, so the
    // swap is bit-identical
    import org.apache.spark.sql.graft.ColumnBridge
    sq8TopKWith(queries, corpus, k, sq8Quantize,
      ColumnBridge.column(graft.expressions.DotLong(
        ColumnBridge.expression(col("q_code")),
        ColumnBridge.expression(col("c_code")))))
  }

  /** [[sq8TopK]] over packed binary codes ([[sq8QuantizePacked]]) —
    * same integers, same scores, a quarter of the bytes in flight.
    * This is the production shape: quantize-and-pack the corpus ONCE
    * (persist the (id, code, norm2) table), then every query scans
    * dim bytes per vector through one compiled byte loop
    * ([[graft.expressions.DotI8]]).
    */
  def sq8TopKPacked(queries: DataFrame, corpus: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    sq8TopKWith(queries, corpus, k, sq8QuantizePacked,
      ColumnBridge.column(graft.expressions.DotI8(
        ColumnBridge.expression(col("q_code")),
        ColumnBridge.expression(col("c_code")))))
  }

  /** Shared quantized top-k shape: quantize both sides with
    * `quantizer`, broadcast the queries, score every candidate with
    * `dot` over (q_code, c_code) normalized by the precomputed norms,
    * and keep the per-query top-k with the id tie-break. Packed and
    * long-array paths differ ONLY in the quantizer + dot expression —
    * the spec asserting they are identical leans on this single
    * definition of the scoring shape. */
  private def sq8TopKWith(queries: DataFrame, corpus: DataFrame, k: Int,
      quantizer: (DataFrame, String, String) => DataFrame,
      dot: Column): DataFrame = {
    val q = quantizer(queries, "vec_id", "embedding")
      .select(col("vec_id").as("query_id"), col("code").as("q_code"),
        col("norm2").as("q_n"))
    val c = quantizer(corpus, "vec_id", "embedding")
      .select(col("vec_id").as("neighbor_id"), col("code").as("c_code"),
        col("norm2").as("c_n"))
    quantizedScoreTopK(
      c.join(broadcast(q), col("query_id") =!= col("neighbor_id")),
      dot, k)
  }

  /** The one definition of quantized scoring + per-query top-k: input
    * is candidate pairs carrying (query_id, neighbor_id, q_n, c_n) and
    * the code columns `dot` reads; every quantized path (broadcast
    * all-pairs, cell-probe) ends here, so the score expression and the
    * id tie-break cannot drift between them. */
  private def quantizedScoreTopK(pairs: DataFrame, dot: Column,
      k: Int): DataFrame = {
    val scored = pairs.withColumn("score", dot.cast("double") /
      (sqrt(col("q_n").cast("double")) * sqrt(col("c_n").cast("double"))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "score", "rn")
  }

  /** Per-table hyperplane seed: distinct deterministic seeds so the
    * `tables` hash tables are independent draws. */
  private[graft] def tableSeed(t: Int): Long = 42L + t * 7919L

  /** Approximate top-k via OR-amplified multi-table sign-LSH: `tables`
    * independent seeded hyperplane sets, candidates = any-table bucket
    * match, deduped before exact scoring. Single-table sign-LSH has an
    * irreducible miss rate (a near neighbor lands across ONE cutting
    * hyperplane with probability ≈ θ·bits/π); independent tables drive
    * it down geometrically — the standard recall/throughput dial of
    * every production LSH system (MinHash banding does the same thing
    * in [[Dedup]]). At scale each table is still a bucket equi-join
    * (shuffle keyed on bucket id); `tables` multiplies candidate
    * volume, not scan count — the corpus is bucketed once per table in
    * the same pass.
    */
  def bucketedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      bits: Int, dim: Int = 64, tables: Int = 2): DataFrame = {
    // candidate ids only through the union + dedup — dragging both
    // embedding arrays through the exchange multiplies shuffle bytes
    // by the vector width; the vectors are joined back once per
    // surviving pair instead
    val cand = (0 until tables).map { t =>
      val q = queries.select(col("vec_id").as("query_id"),
        signBucket(col("embedding"), bits, dim, tableSeed(t)).as("bucket"))
      val c = corpus.select(col("vec_id").as("neighbor_id"),
        signBucket(col("embedding"), bits, dim, tableSeed(t)).as("bucket"))
      c.join(broadcast(q), Seq("bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "neighbor_id")
    }.reduce(_ unionByName _)
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cand
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"),
        embNorm(col("embedding")).as("__qn"))), Seq("query_id"))
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"),
        embNorm(col("embedding")).as("__cn")), Seq("neighbor_id"))
      .withColumn("score", cosinePre(dot(col("q_emb"), col("c_emb")),
        col("__qn"), col("__cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "score", "rn")
  }

  /** Sign-bit LSH bucket of a vector's RESIDUAL against its cluster
    * centroid — bit b is `fold_b(vec) − fold_b(cent) ≥ 0` with the
    * same seeded hyperplane folds as [[signBucket]] (the native
    * [[graft.expressions.ResidualSignBuckets]] single pass).
    * Centering is what makes within-cluster LSH split: raw
    * projections of same-cell vectors concentrate around the
    * centroid's own projection (most raw bits are constant inside a
    * cell), residual projections spread around 0. */
  def residualSignBucket(vec: Column, cent: Column, bits: Int,
      dim: Int, seed: Long = 42L): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.ResidualSignBuckets(
      ColumnBridge.expression(vec.cast("array<double>")),
      ColumnBridge.expression(cent.cast("array<double>")),
      hyperplaneSigns(bits, dim, seed)))
  }

  /** Coarse cell count for the TWO-LEVEL semantic tier: ⌈n^⅓⌉,
    * clamped to [1, 4096]. The cube root balances the two
    * super-linear terms the two-level design still carries — k-means
    * training/assignment is n·k₁ and nothing else grows with k₁ —
    * at n^{4/3} worst case with a tiny constant (codegen'd broadcast
    * dot products), and the cap makes the whole path strictly linear
    * beyond n ≈ 7·10¹⁰ (assignment ≤ 4096 dots/vector; the residual
    * bits below absorb the growing cell size). √n cells — the FLAT
    * tier's operating point — would put assignment at n^1.5, which
    * is exactly the term the r15 sf10 rehearsal measured blowing up
    * (14.8×/decade even at k=√n). */
  def autoCoarseCells(n: Long): Int =
    math.min(4096L, math.max(1L,
      math.ceil(math.cbrt(math.max(n, 0).toDouble)).toLong)).toInt

  /** Residual-LSH width for the two-level semantic tier: the
    * smallest `bits` giving an expected (cell, bucket) size ≤
    * `targetCell`, i.e. ⌈log₂(n / (k₁·targetCell))⌉ clamped to
    * [0, 24] — 0 means the corpus is small enough that cells need no
    * second-level split (the pass degrades to the exact within-cell
    * form). 2^bits ∝ n/k₁ is the same constant-bucket rule as
    * [[graft.analytics.Dedup.autoSignBits]]: it is what keeps the
    * within-bucket pairwise term LINEAR (n·targetCell·tables
    * cosines) at any corpus size. */
  def autoResidualBits(n: Long, k1: Int, targetCell: Int = 32): Int = {
    require(k1 >= 1 && targetCell >= 1,
      "autoResidualBits: k1 and targetCell must be >= 1")
    val perCell = math.max(n, 0).toDouble / k1
    val raw = math.ceil(math.log(perCell / targetCell) / math.log(2.0))
    math.min(24, math.max(0, if (raw.isNaN) 0 else raw.toInt))
  }

  /** TWO-LEVEL semantic dedup — the sub-n^1.5 form of [[semDedup]]:
    * level 1 is the same deterministic spherical k-means (k₁ coarse
    * cells, centroid distance still defines the keep rule), level 2
    * splits each cell by `bits2`-wide sign-LSH over RESIDUAL vectors
    * (`tables` independent seeded tables, OR-amplified), and the
    * pairwise pass runs only within (cell, residual-bucket) — the
    * hierarchical-quantizer shape (IVF coarse level + in-cell
    * refinement) that removes the flat tier's Σ|cell|² = n²/k term.
    *
    * Semantics: a vector is dropped iff some CANDIDATE neighbor
    * (same cell, same residual bucket in ≥1 table) at cosine ≥
    * `threshold` sits strictly FARTHER from the LEVEL-1 centroid
    * (the keep-the-extreme-member rule; on ties the lower id
    * survives); `near_dups` counts candidate neighbors at ≥
    * `threshold`. With `bits2 = 0` every cell is one bucket and this
    * is EXACTLY [[semDedup]] at the same codebook (spec-pinned); with
    * `bits2 > 0` the trade is the standard LSH one — recall within
    * cell, never precision (every surviving pair is exact-cosine
    * verified).
    *
    * Scale shape: training/assignment n·k₁ broadcast cosines
    * (n^{4/3} at the [[autoCoarseCells]] operating point, linear
    * past its cap), residual bucketing map-only n·bits2·dim,
    * pairwise n·targetCell·tables cosines under the
    * [[autoResidualBits]] rule — no term is n^1.5, which the flat
    * tier could not say (measured 14.8×/decade at sf10 even at
    * k=√n). `codebook` accepts a persisted IVF coarse quantizer
    * ([[buildIvfIndex]]'s `codebook` table) so a pipeline that
    * already indexed the corpus pays no second training pass.
    */
  def semDedupTwoLevel(emb: DataFrame, idCol: String, embCol: String,
      k1: Int, dim: Int, iterations: Int, threshold: Double,
      bits2: Int, tables: Int = 2,
      codebook: Option[DataFrame] = None): DataFrame = {
    require(bits2 >= 0 && bits2 <= 24,
      s"bits2 must be in [0, 24], got $bits2")
    require(tables >= 1, s"tables must be >= 1, got $tables")
    val cb = codebook.getOrElse(
      kmeansCodebook(emb, idCol, embCol, k1, dim, iterations))
    twoLevelVerdict(
      twoLevelBucketed(emb, idCol, embCol, cb, bits2, dim, tables),
      threshold, tables)
  }

  /** Materialized bucketed assignment of the two-level tier —
    * consumed by every table's candidate pass, both pair sides, the
    * verdict output, and (on the state path) the persisted cells
    * write, so the n·k₁ assignment and the bucket hashing run ONCE. */
  private def twoLevelBucketed(emb: DataFrame, idCol: String,
      embCol: String, cb: DataFrame, bits2: Int, dim: Int,
      tables: Int): DataFrame =
    Lineage.materialize(withResidualBuckets(
      nearestCell(cb, emb.select(col(idCol).as("vec_id"),
        col(embCol).cast("array<double>").as("embedding")),
        "vec_id", "embedding"),
      cb, bits2, dim, tables))

  /** The within-(cell, bucket) prune over a [[twoLevelBucketed]]
    * frame — the verdict tail shared by [[semDedupTwoLevel]] and
    * [[buildSemDedupState]]. */
  private def twoLevelVerdict(bucketed: DataFrame, threshold: Double,
      tables: Int): DataFrame = {
    // ids only through the per-table joins + dedup (the
    // embeddingNearDupsBucketed discipline: vector payloads would
    // multiply the exchanged bytes by the embedding width)
    val cand = (0 until tables).map { t =>
      val b = bucketed.select(col("vec_id"), col("cell"),
        col(s"rb$t").as("rb"))
      b.select(col("cell"), col("rb"), col("vec_id").as("id_a"))
        .join(b.select(col("cell"), col("rb"),
          col("vec_id").as("id_b")), Seq("cell", "rb"))
        .filter(col("id_a") =!= col("id_b"))
        .select("id_a", "id_b")
    }.reduce(_ unionByName _)
      .dropDuplicates("id_a", "id_b")
    val pairs = cand
      .join(bucketed.select(col("vec_id").as("id_a"),
        col("embedding").as("emb_a"), col("cscore").as("ca"),
        embNorm(col("embedding")).as("__na")),
        Seq("id_a"))
      .join(bucketed.select(col("vec_id").as("id_b"),
        col("embedding").as("emb_b"), col("cscore").as("cb"),
        embNorm(col("embedding")).as("__nb")),
        Seq("id_b"))
      .withColumn("sim", cosinePre(dot(col("emb_a"), col("emb_b")),
        col("__na"), col("__nb")))
      .filter(col("sim") >= threshold)
    val nearCnt = pairs.groupBy(col("id_a").as("vec_id"))
      .agg(count(lit(1)).as("near_dups"))
    val dominated = pairs
      .filter(col("cb") < col("ca") ||
        (col("cb") === col("ca") && col("id_b") < col("id_a")))
      .select(col("id_a").as("vec_id")).distinct()
      .withColumn("__dom", lit(true))
    bucketed.join(nearCnt, Seq("vec_id"), "left")
      .join(dominated, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("__dom").isNull.as("kept"),
        coalesce(col("near_dups"), lit(0L)).as("near_dups"))
  }

  /** Centroid-tier near-duplicate PAIRS — the moderate-τ routing
    * target of [[graft.analytics.Dedup.embeddingNearDupsAuto]] when
    * the sign-table inversion exceeds its cost cap
    * (`Dedup.moderateTauExceedsCap`): candidates come from the
    * two-level quantizer (same coarse cell AND same residual bucket
    * in ≥1 of `tables` OR'd tables — the [[semDedupTwoLevel]]
    * machinery, auto-sized k₁ = [[autoCoarseCells]], bits from
    * [[autoResidualBits]]), every surviving pair exact-cosine
    * verified at ≥ `threshold`. Recall here is CLUSTER LOCALITY — a
    * pair is findable iff the quantizer co-locates it — which, for
    * the moderate-τ semantic-grouping workload, is the designed
    * trade: it does not decay with the n-driven bit growth that
    * makes constant-recall sign-LSH cost n^1.70 at τ=0.35. Cost is
    * the two-level shape: n·k₁ assignment + n·targetCell·tables
    * in-bucket cosines, no term n^1.5.
    *
    * Output: (id_a, id_b, score) with id_a < id_b — the same shape
    * as the bucketed tier, so the router swaps tiers without
    * changing consumers.
    */
  def embeddingNearDupsCentroid(emb: DataFrame, idCol: String,
      embCol: String, threshold: Double, dim: Int,
      targetCell: Int = 32, tables: Int = 2, iterations: Int = 2,
      codebook: Option[DataFrame] = None): DataFrame = {
    val n = emb.count()
    val k1 = autoCoarseCells(n)
    val bits2 = autoResidualBits(n, k1, targetCell)
    val cb = codebook.getOrElse(
      kmeansCodebook(emb, idCol, embCol, k1, dim, iterations))
    val bucketed = twoLevelBucketed(emb, idCol, embCol, cb, bits2,
      dim, tables)
    val cand = (0 until tables).map { t =>
      val b = bucketed.select(col("vec_id"), col("cell"),
        col(s"rb$t").as("rb"))
      b.select(col("cell"), col("rb"), col("vec_id").as("id_a"))
        .join(b.select(col("cell"), col("rb"),
          col("vec_id").as("id_b")), Seq("cell", "rb"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
    }.reduce(_ unionByName _)
      .dropDuplicates("id_a", "id_b")
    cand
      .join(bucketed.select(col("vec_id").as("id_a"),
        col("embedding").as("emb_a"),
        embNorm(col("embedding")).as("__na")), Seq("id_a"))
      .join(bucketed.select(col("vec_id").as("id_b"),
        col("embedding").as("emb_b"),
        embNorm(col("embedding")).as("__nb")), Seq("id_b"))
      .withColumn("score", cosinePre(dot(col("emb_a"), col("emb_b")),
        col("__na"), col("__nb")))
      .filter(col("score") >= threshold)
      .select("id_a", "id_b", "score")
  }

  /** The persisted cell-table schema, shared by the build and
    * append writers so the two parquet writes can never diverge. */
  private def semStateCols(tables: Int): Seq[String] =
    Seq("vec_id", "cell", "cscore", "embedding") ++
      (0 until tables).map(t => s"rb$t") :+ "kept"

  /** (vec_id, embedding, cell, cscore) + one `rb<t>` residual-bucket
    * column per table — the shared assignment shape of the two-level
    * tier: all tables' buckets in ONE pass over the broadcast-joined
    * centroids. */
  private def withResidualBuckets(cells: DataFrame, cb: DataFrame,
      bits2: Int, dim: Int, tables: Int): DataFrame = {
    val withCent = cells.join(broadcast(cb.select(
      col("centroid_id").cast("int").as("cell"), col("cent_emb"))),
      Seq("cell"))
    (0 until tables).foldLeft(withCent) { (d, t) =>
      d.withColumn(s"rb$t",
        if (bits2 == 0) lit(0)
        else residualSignBucket(col("embedding"), col("cent_emb"),
          bits2, dim, tableSeed(t)))
    }.drop("cent_emb")
  }

  /** Build + persist the TWO-LEVEL SEMANTIC DEDUP STATE — the
    * append-only index the incremental path assigns against:
    * `codebook` (the frozen coarse quantizer), `cells` (every
    * vector's cell, centroid score, residual buckets, embedding, and
    * survival verdict), and `params` (dim/bits2/tables/threshold, so
    * an increment recomputes buckets AND verdicts identically —
    * threshold is state, not a per-call knob: one cell table, one
    * dedup semantics). Returns the initial
    * corpus verdict (same shape as [[semDedupTwoLevel]]).
    *
    * Build pays the training + assignment once; after that,
    * [[semDedupAssignIncrement]] never rescans this corpus — the
    * same contract as [[graft.analytics.Dedup.incrementalAssign]]
    * and the streaming LSH state. */
  def buildSemDedupState(emb: DataFrame, idCol: String,
      embCol: String, statePath: String, k1: Int, dim: Int,
      iterations: Int, threshold: Double, bits2: Int,
      tables: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cb = kmeansCodebook(emb, idCol, embCol, k1, dim, iterations)
    cb.write.mode("overwrite").parquet(s"$statePath/codebook")
    // threshold is part of the state: a verdict column mixing two
    // thresholds in one cell table is silent nonsense, so increments
    // read it back instead of taking it as a parameter
    Seq((dim, bits2, tables, threshold))
      .toDF("dim", "bits2", "tables", "threshold")
      .write.mode("overwrite").parquet(s"$statePath/params")
    // ONE materialized assignment feeds both the verdict and the
    // persisted cell table
    val bucketed = twoLevelBucketed(emb, idCol, embCol, cb, bits2,
      dim, tables)
    val verdict = Lineage.materialize(
      twoLevelVerdict(bucketed, threshold, tables))
    bucketed.join(verdict.select(col("vec_id"), col("kept")),
        Seq("vec_id"))
      .select(semStateCols(tables).map(col): _*)
      .write.mode("overwrite").parquet(s"$statePath/cells")
    verdict
  }

  /** INCREMENTAL two-level semantic dedup — the per-ingest-batch
    * call: assign `newEmb` against the FROZEN stored coarse
    * quantizer, recompute the same residual buckets, and judge each
    * new vector against (a) stored corpus vectors sharing a
    * (cell, bucket) in any table and (b) the other new vectors, at
    * the threshold the state was BUILT with (read from `params`). Old
    * assignments and verdicts NEVER change (append-only; the old
    * corpus is read through its stored cell table, never rescanned
    * or re-paired with itself).
    *
    * Drop rule, deterministic: a new vector is dropped iff it has
    * ANY old candidate neighbor at cosine ≥ `threshold` (the stored
    * corpus wins — its own cluster structure already carries a
    * survivor; matching a dropped old member still means the content
    * is represented), OR a dominating NEW neighbor (farther from the
    * centroid, ties by lower id — the [[semDedupTwoLevel]]
    * keep-the-extreme-member rule).
    * `near_dups` counts distinct candidate neighbors (old + new) at
    * ≥ `threshold`; `joined_existing` = 1 iff an old neighbor
    * matched. New rows (with verdicts) are appended to the state, so
    * increments compose.
    *
    * Scale shape per batch: assignment |batch|·k₁ broadcast cosines,
    * bucket computation map-only, candidates are equi-joins keyed
    * (cell, bucket) — batch × bounded-bucket, never batch × corpus.
    */
  def semDedupAssignIncrement(spark: org.apache.spark.sql.SparkSession,
      statePath: String, newEmb: DataFrame, idCol: String,
      embCol: String): DataFrame = {
    val cb = spark.read.parquet(s"$statePath/codebook")
    val p = spark.read.parquet(s"$statePath/params").collect()(0)
    val (dim, bits2, tables, threshold) =
      (p.getAs[Int]("dim"), p.getAs[Int]("bits2"),
        p.getAs[Int]("tables"), p.getAs[Double]("threshold"))
    val old = spark.read.parquet(s"$statePath/cells")
    // consumed per table + near/dom/output — materialize like the
    // batch tier
    val nb = twoLevelBucketed(newEmb, idCol, embCol, cb, bits2, dim,
      tables)
    // ids only through the candidate joins + dedup (the
    // embeddingNearDupsBucketed discipline); neighbor payloads join
    // back once per surviving candidate below
    def candAgainst(other: DataFrame, tagOld: Boolean): DataFrame =
      (0 until tables).map { t =>
        nb.select(col("cell"), col(s"rb$t").as("rb"), col("vec_id"))
          .join(other.select(col("cell"), col(s"rb$t").as("rb"),
            col("vec_id").as("nid")), Seq("cell", "rb"))
          .filter(col("vec_id") =!= col("nid"))
          .select("vec_id", "nid")
      }.reduce(_ unionByName _)
        .dropDuplicates("vec_id", "nid")
        .withColumn("is_old", lit(tagOld))
    val cand = candAgainst(old, tagOld = true)
      .unionByName(candAgainst(nb, tagOld = false))
    // old and new ids live in disjoint ranges of one state, so a
    // single neighbor-payload lookup serves both candidate kinds
    val nbrs = old.select(col("vec_id").as("nid"),
        col("embedding").as("n_emb"), col("cscore").as("n_cscore"))
      .unionByName(nb.select(col("vec_id").as("nid"),
        col("embedding").as("n_emb"), col("cscore").as("n_cscore")))
      .withColumn("__nn", embNorm(col("n_emb")))
    val scored = cand
      .join(nb.select(col("vec_id"), col("embedding"),
        col("cscore"), embNorm(col("embedding")).as("__vn")),
        Seq("vec_id"))
      .join(nbrs, Seq("nid"))
      .withColumn("sim", cosinePre(dot(col("embedding"), col("n_emb")),
        col("__vn"), col("__nn")))
      .filter(col("sim") >= threshold)
    val nearCnt = scored.groupBy("vec_id")
      .agg(count(lit(1)).as("near_dups"),
        max(col("is_old").cast("int")).as("joined_existing"))
    // new-vs-new domination matches the batch tier's
    // keep-the-extreme-member rule EXACTLY (neighbor farther from
    // the centroid — lower cscore — dominates; ties by lower id)
    val dominated = scored
      .filter(col("is_old") ||
        col("n_cscore") < col("cscore") ||
        (col("n_cscore") === col("cscore") && col("nid") < col("vec_id")))
      .select("vec_id").distinct()
      .withColumn("__dom", lit(true))
    // the verdict is consumed twice (the state append below and the
    // caller) — materialize so the scoring pipeline runs once
    val verdict = Lineage.materialize(nb.select("vec_id", "cell")
      .join(nearCnt, Seq("vec_id"), "left")
      .join(dominated, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("__dom").isNull.as("kept"),
        coalesce(col("near_dups"), lit(0L)).as("near_dups"),
        coalesce(col("joined_existing"), lit(0)).as("joined_existing")))
    nb.join(verdict.select("vec_id", "kept"), Seq("vec_id"))
      .select(semStateCols(tables).map(col): _*)
      .write.mode("append").parquet(s"$statePath/cells")
    verdict
  }

  /** Prototypicality pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws", arXiv:2206.14486): rank every vector within its
    * k-means cell by similarity to the cell centroid and DROP the
    * most prototypical `pruneFraction` of each cell — on large
    * corpora, pruning EASY (centroid-hugging) examples beats random
    * and beats pruning hard ones, which is what lets data pruning
    * break the power-law scaling curve. The centroid machinery is
    * the same deterministic codebook as the semantic-dedup tier
    * (pass a persisted IVF `codebook` to skip training).
    *
    * Per vector: its cell, centroid cosine, 1-based rank within the
    * cell (closest first, ties by lower id), the cell size, and
    * `kept` = rank > ⌊pruneFraction·|cell|⌋ — so every cell retains
    * ≥1 member for any fraction < 1, small cells lose nothing until
    * the fraction covers a whole member, and the verdict is
    * deterministic under any partitioning.
    *
    * Scale shape: one broadcast assignment pass (n·k codegen'd
    * cosines) + one cell-keyed window (cells are the partition key —
    * bounded by the √n-style cell sizing, never a global sort).
    */
  def prototypicality(emb: DataFrame, idCol: String, embCol: String,
      k: Int, dim: Int, iterations: Int, pruneFraction: Double,
      codebook: Option[DataFrame] = None): DataFrame = {
    require(pruneFraction >= 0 && pruneFraction < 1,
      s"pruneFraction must be in [0, 1), got $pruneFraction")
    val cb = codebook.getOrElse(
      kmeansCodebook(emb, idCol, embCol, k, dim, iterations))
    val cells = nearestCell(cb, emb
        .select(col(idCol).as("vec_id"),
          col(embCol).cast("array<double>").as("embedding")),
      "vec_id", "embedding")
    val w = Window.partitionBy("cell")
      .orderBy(col("cscore").desc, col("vec_id"))
    cells
      .withColumn("rank_in_cell", row_number().over(w).cast("long"))
      .withColumn("cell_size",
        count(lit(1)).over(Window.partitionBy("cell")).cast("long"))
      .select(col("vec_id"), col("cell"), col("cscore"),
        col("rank_in_cell"), col("cell_size"),
        (col("rank_in_cell") >
          floor(lit(pruneFraction) * col("cell_size")))
          .as("kept"))
  }

  /** Clustering-quality audit against ground-truth labels: per
    * k-means cell, its size, majority label (ties to the lowest
    * label), majority count, and purity = majority/size — the
    * label-agreement number a pipeline reads before trusting a
    * codebook for routing (IVF cells, the semantic-dedup tiers, the
    * prototypicality pruner all share it). Purity is chosen over
    * NMI deliberately: counts and one ratio are exact in any
    * engine, while entropy terms drag libm `ln` differences into
    * the oracle comparison.
    *
    * Rows with a null label are excluded (audits run on the labeled
    * subset); cells with no labeled member are absent. One broadcast
    * assignment + two map-side-combined aggregations — no window
    * over corpus rows, no driver state beyond the codebook.
    */
  def clusterLabelAudit(emb: DataFrame, idCol: String,
      embCol: String, labelCol: String, k: Int, dim: Int,
      iterations: Int, codebook: Option[DataFrame] = None): DataFrame = {
    val cb = codebook.getOrElse(
      kmeansCodebook(emb, idCol, embCol, k, dim, iterations))
    val cells = nearestCell(cb, emb
        .select(col(idCol).as("vec_id"),
          col(embCol).cast("array<double>").as("embedding")),
      "vec_id", "embedding")
      .select("vec_id", "cell")
    val perLabel = cells
      .join(emb.select(col(idCol).as("vec_id"),
          col(labelCol).cast("int").as("label"))
        .where(col("label").isNotNull), Seq("vec_id"))
      .groupBy("cell", "label").agg(count(lit(1)).as("cnt"))
    perLabel.groupBy("cell")
      .agg(sum(col("cnt")).as("cell_size"),
        max(struct(col("cnt"), (-col("label")).as("nl"))).as("__m"))
      .select(col("cell"), col("cell_size"),
        (-col("__m.nl")).as("majority_label"),
        col("__m.cnt").as("majority_count"),
        (col("__m.cnt").cast("double") /
          col("cell_size").cast("double")).as("purity"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering embeddings with k-means and pruning
    * near-duplicates WITHIN each cluster only. A vector is dropped
    * iff some same-cluster vector at cosine >= `threshold` sits
    * strictly FARTHER from the cluster centroid (lower centroid
    * cosine; on ties the lower id survives) — the paper's
    * keep-the-extreme-member rule (SemDeDup retains the example
    * LEAST similar to its centroid) made deterministic. Returns one row per vector: its cell, whether it
    * survives, and its same-cell near-duplicate count.
    *
    * Scale posture: the codebook is tiny model state (broadcast both
    * for assignment and scoring); the pairwise pass is an equi-join
    * on cell id, so candidate volume is Σ|cell|² — k is chosen so
    * clusters fit a partition (k ≈ √n in practice), which is exactly
    * the knob the paper tunes. Nothing is ever pairwise across
    * cells, and no driver-side state beyond the k·dim codebook.
    */
  /** The consumer default for the semantic tier — since round 16 the
    * TWO-LEVEL form ([[semDedupTwoLevel]]), sized from one count(*):
    * k₁ = [[autoCoarseCells]] (⌈n^⅓⌉, capped), residual width =
    * [[autoResidualBits]] (2^bits ∝ n/k₁, constant expected bucket),
    * two OR'd residual tables. The FLAT form it replaced is
    * inherently Θ(n^1.5) — within-cell pairwise n²/k vs assignment
    * n·k, optimum k=√n; the r15 sf10 rehearsal measured it at
    * 14.8×/decade even at k=√n — and remains available as
    * [[semDedup]] (oracled at a pinned k by q103) for corpora small
    * enough that exact within-cell semantics matter more than the
    * n^1.5. The fully LINEAR non-centroid path remains
    * [[graft.analytics.Dedup.embeddingNearDupsAuto]]. */
  def semDedupAuto(emb: DataFrame, idCol: String, embCol: String,
      dim: Int, threshold: Double, iterations: Int = 2,
      targetCell: Int = 32): DataFrame = {
    val n = emb.count()
    val k1 = autoCoarseCells(n)
    semDedupTwoLevel(emb, idCol, embCol, k1, dim, iterations,
      threshold, autoResidualBits(n, k1, targetCell))
  }

  def semDedup(emb: DataFrame, idCol: String, embCol: String,
      k: Int, dim: Int, iterations: Int, threshold: Double,
      codebook: Option[DataFrame] = None): DataFrame = {
    val cb = codebook.getOrElse(
      kmeansCodebook(emb, idCol, embCol, k, dim, iterations))
    // consumed three times (both pairwise sides + the final output) —
    // checkpoint-materialize, or the crossed assignment recomputes
    // per consumer (no persist: the returned frame is lazy, so there
    // would be no point to unpersist at)
    val cells = Lineage.materialize(nearestCell(cb, emb
        .select(col(idCol).as("vec_id"),
          col(embCol).cast("array<double>").as("embedding")),
      "vec_id", "embedding"))
    val pairs = cells
      .select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
        col("cell"), col("cscore").as("ca"),
        embNorm(col("embedding")).as("__na"))
      .join(cells.select(col("vec_id").as("id_b"),
        col("embedding").as("emb_b"), col("cell"),
        col("cscore").as("cb"),
        embNorm(col("embedding")).as("__nb")), Seq("cell"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("sim", cosinePre(dot(col("emb_a"), col("emb_b")),
        col("__na"), col("__nb")))
      .filter(col("sim") >= threshold)
    val nearCnt = pairs.groupBy(col("id_a").as("vec_id"))
      .agg(count(lit(1)).as("near_dups"))
    val dominated = pairs
      .filter(col("cb") < col("ca") ||
        (col("cb") === col("ca") && col("id_b") < col("id_a")))
      .select(col("id_a").as("vec_id")).distinct()
      .withColumn("__dom", lit(true))
    cells.join(nearCnt, Seq("vec_id"), "left")
      .join(dominated, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("__dom").isNull.as("kept"),
        coalesce(col("near_dups"), lit(0L)).as("near_dups"))
  }
}
