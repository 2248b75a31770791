package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.{LocalFs, PinnedParquet}

/** Manifest-based table versioning — snapshot isolation and time
  * travel for a parquet lake, the Iceberg/Delta core idea at library
  * size. The reference keeps one mutable PostgreSQL state
  * (`db/init/01-schema.sql`) with no history; a 100 TB lake needs
  * immutable data + named snapshots instead.
  *
  * Layout under `path/`:
  *   - `data/seg-<version>-<nonce>/part-*.parquet` — immutable
  *     segment dirs, one per commit ATTEMPT (the nonce makes staging
  *     writer-unique, so concurrent committers never share a
  *     directory), NEVER rewritten;
  *   - `_versions/v<NNNNN>.list` — one manifest per version: the
  *     newline-separated list of segment dirs LIVE in that snapshot.
  *     Manifests are SELF-CONTAINED snapshots (never deltas), so every
  *     manifest doubles as its own checkpoint — a reader resolves ONE
  *     file, not a log replay;
  *   - `_versions/_latest.hint` — the latest-version pointer (the
  *     Delta `_last_checkpoint` idea): advisory, refreshed best-effort
  *     after every successful publish. Readers start at the hint and
  *     gallop forward one `exists` probe per commit the hint missed,
  *     so resolving the latest snapshot costs O(1) manifest-dir
  *     operations REGARDLESS of commit count — never a directory
  *     listing of `_versions/`. A missing/corrupt/vacuumed hint falls
  *     back to the full listing (legacy lakes stay readable).
  *
  * A commit writes its segment FIRST and publishes the manifest LAST
  * (tmp + atomic rename), so a torn commit leaves an orphan segment
  * that no reader ever sees — readers resolve a manifest, then scan
  * exactly the listed dirs (no directory listing of `data/`, the
  * object-store-scale property: the manifest is the source of truth).
  * Appends reference the parent's segments plus the new one;
  * overwrites reference only the new one. Old versions stay readable
  * until a retention job deletes their manifests and unreferenced
  * segments.
  *
  * Reads ([[read]], [[readDelta]] and [[compact]]'s scan) pin their
  * schema from one parquet footer read on the driver
  * ([[graft.util.PinnedParquet]]), the footer Spark's inference job
  * would read, so building a snapshot frame launches no Spark job.
  *
  * Scale shape: manifests are O(live segments) lines of text (bounded
  * by [[compact]] under a compacting sink); latest-version resolution
  * and commit are O(1) manifest-dir operations via the hint; only the
  * MAINTENANCE surface ([[versions]], [[vacuum]]) lists `_versions/`,
  * and [[vacuum]] reclaims superseded manifests so even that listing
  * stays bounded by the retention window, not by lifetime commits.
  *
  * Concurrency: optimistic single-winner commits with bounded CAS
  * retry — every attempt stages under writer-unique names, the
  * manifest rename (verified by read-back) is the sole arbiter of a
  * version (the hint is NEVER consulted to decide a claim, only to
  * start the search), and the loser automatically retries against the
  * re-read latest ([[commit]]). Object stores without atomic rename
  * need an external commit lock, same as every manifest-based format.
  *
  * Retention contract ([[vacuum]]): a time-travel reader must pin a
  * version inside the retention window (the last `keepLast` versions,
  * and — when `minAgeMs` is set — any version younger than that age).
  * Reading a retired version fails LOUDLY at manifest resolution; a
  * scan already resolved against a version that vacuum then retires
  * fails loudly at file open (Spark surfaces the missing part file),
  * never silently returning partial data. Size `minAgeMs` above the
  * longest expected scan + reader staleness, exactly the Delta
  * `deletedFileRetentionDuration` rule.
  */
object Versioned {

  /** Manifest-layer FS-operation counter (exists/open/list entries
    * touched) — test-visibility instrumentation for the O(1)-reads
    * guarantee; see VersionedSpec's 10k-commit case. */
  private[graft] val metaOps = new java.util.concurrent.atomic.AtomicLong

  /** Handles and segment writes go through [[graft.util.LocalFs]], so
    * manifests, hints and segments fork no `chmod` on `file:`. */
  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (LocalFs.fileSystem(spark, p), p)
  }

  private def manifestDir(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_versions")

  private def manifestPath(root: org.apache.hadoop.fs.Path, v: Long) =
    new org.apache.hadoop.fs.Path(manifestDir(root), f"v$v%05d.list")

  private def hintPath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(manifestDir(root), "_latest.hint")

  private def existsManifest(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, v: Long): Boolean = {
    metaOps.incrementAndGet(): Unit
    f.exists(manifestPath(root, v))
  }

  /** All committed version numbers, ascending (empty for a fresh
    * path). MAINTENANCE surface: full `_versions/` listing,
    * O(retained versions) — [[vacuum]]/inspection only; hot paths
    * ([[read]], [[commit]], [[segments]]) resolve via the hint. */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val (f, root) = fs(spark, path)
    listVersions(f, root)
  }

  private def listVersions(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[Long] = {
    val dir = manifestDir(root)
    if (!f.exists(dir)) { metaOps.incrementAndGet(): Unit; Seq.empty }
    else {
      val names = f.listStatus(dir).toSeq.map(_.getPath.getName)
      metaOps.addAndGet(1L + names.size): Unit
      // %05d is a zero-padding MINIMUM: version 100000 renders as
      // v100000.list, so the pattern must accept >5 digits or reads
      // silently pin to v99999 after the 100k-th commit
      names.collect { case n if n.matches("v\\d{5,}\\.list") =>
        n.stripPrefix("v").stripSuffix(".list").toLong }.sorted
    }
  }

  /** Latest committed version via the hint pointer — O(1) manifest-dir
    * operations plus one `exists` probe per commit the hint missed
    * (the gallop); full-listing fallback when the hint is absent,
    * unparseable, or points at a vacuumed manifest. None for a fresh
    * path. Assumes protocol-contiguous versions (every [[commit]] /
    * [[compact]] claims latest+1); manifests injected out-of-band past
    * a gap need the [[versions]] listing to be discovered. */
  def latestVersion(spark: SparkSession, path: String): Option[Long] = {
    val (f, root) = fs(spark, path)
    latestFrom(f, root)
  }

  private def latestFrom(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[Long] = {
    val hinted = readHint(f, root).filter(existsManifest(f, root, _))
    hinted match {
      case Some(h) =>
        var v = h
        while (existsManifest(f, root, v + 1)) v += 1
        Some(v)
      case None => listVersions(f, root).lastOption
    }
  }

  private def readHint(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[Long] =
    try {
      metaOps.incrementAndGet(): Unit
      if (!f.exists(hintPath(root))) None
      else {
        metaOps.incrementAndGet(): Unit
        val in = f.open(hintPath(root))
        val s = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim finally in.close()
        s.toLongOption.filter(_ >= 1L)
      }
    } catch { case _: java.io.IOException => None }

  /** Best-effort, NON-atomic pointer refresh after a successful
    * publish. Any failure mode (torn write, two writers interleaving,
    * crash before the write) at worst leaves a stale or unparseable
    * hint, which readers detect and survive via gallop/fallback — the
    * hint carries no correctness weight. */
  private def writeHint(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, v: Long): Unit =
    try {
      val out = f.create(hintPath(root), true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    } catch { case _: java.io.IOException => () }

  private def readManifest(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, v: Long): Seq[String] = {
    metaOps.incrementAndGet(): Unit
    val in = f.open(manifestPath(root, v))
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Segment dirs LIVE in a snapshot (the given version, or latest),
    * as path-relative strings in manifest order. O(1) manifest-dir
    * operations (hint resolution + one manifest read). */
  def segments(spark: SparkSession, path: String,
      version: Option[Long] = None): Seq[String] = {
    val (f, root) = fs(spark, path)
    readManifest(f, root, resolve(f, root, version, "segments", path))
  }

  private def resolve(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, version: Option[Long],
      op: String, path: String): Long = version match {
    case Some(v) =>
      require(existsManifest(f, root, v),
        s"Versioned.$op: version $v not in the retained manifests at " +
          s"$path (never committed, or vacuumed)")
      v
    case None =>
      latestFrom(f, root).getOrElse(
        throw new IllegalArgumentException(
          s"requirement failed: Versioned.$op: no committed versions at $path"))
  }

  /** (segment dir, total bytes) for every segment live in a snapshot
    * — the sizing input for [[compact]]'s small-segment threshold. */
  def segmentBytes(spark: SparkSession, path: String,
      version: Option[Long] = None): Seq[(String, Long)] = {
    val (f, root) = fs(spark, path)
    segments(spark, path, version).map { rel =>
      rel -> f.getContentSummary(
        new org.apache.hadoop.fs.Path(root, rel)).getLength
    }
  }

  /** An 8-hex writer nonce — staged artifacts (segment dirs, tmp
    * manifests) embed it so concurrent writers NEVER share a staging
    * path; the only contended name is the manifest itself. */
  private def nonce(): String =
    java.util.UUID.randomUUID().toString.take(8)

  /** Try to claim version `v` by publishing `live` as its manifest:
    * stage to a writer-unique tmp, rename onto the manifest path, and
    * READ BACK to verify the claim survived (rename refuses an
    * existing destination on HDFS semantics; the read-back closes the
    * residual local-FS window where two renames race an exists
    * check). Returns false — leaving no manifest debris — when
    * another writer won the version. */
  private def tryPublish(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, v: Long,
      live: Seq[String]): Boolean = {
    val tmp = new org.apache.hadoop.fs.Path(
      manifestDir(root), f".v$v%05d-${nonce()}.tmp")
    val out = f.create(tmp, true)
    try out.write((live.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val renamed =
      try f.rename(tmp, manifestPath(root, v))
      catch { case _: java.io.IOException => false }
    if (!renamed) { f.delete(tmp, false); return false }
    try readManifest(f, root, v) == live.toList
    catch { case _: java.io.IOException => false }
  }

  /** Commit `df` as the next version. `overwrite = false` (append)
    * keeps the parent snapshot's segments live; `overwrite = true`
    * makes the new segment the whole table. Returns the new version
    * number. Torn-commit safe: the segment is fully written before the
    * manifest rename publishes it. O(1) manifest-dir operations per
    * attempt (hint-resolved parent, one manifest read, one rename) —
    * commit cost does not grow with lake age.
    *
    * Optimistic concurrency (bounded CAS retry, the protocol of every
    * manifest-based table format): each attempt stages its segment
    * under a WRITER-UNIQUE name (`seg-<v>-<nonce>` — concurrent
    * writers can never interleave inside one directory), then claims
    * the version with one manifest rename, verified by read-back
    * ([[tryPublish]]). Losing the claim costs the attempt's segment
    * write — it becomes an orphan [[vacuum]] collects — and the
    * writer retries against the re-read latest version, up to
    * `maxRetries` times before failing loudly. Versions therefore
    * serialize: every successful commit's parent is exactly the
    * manifest it extended.
    */
  def commit(df: DataFrame, path: String,
      overwrite: Boolean = false, maxRetries: Int = 5): Long = {
    val spark = df.sparkSession
    val (f, root) = fs(spark, path)
    var attempt = 0
    while (true) {
      val parent = latestFrom(f, root)
      val v = parent.getOrElse(0L) + 1L
      val segRel = f"data/seg-$v%05d-${nonce()}"
      df.write.mode("errorifexists").options(LocalFs.options)
        .parquet(s"$path/$segRel")
      val live =
        if (overwrite || parent.isEmpty) Seq(segRel)
        else readManifest(f, root, parent.get) :+ segRel
      if (tryPublish(f, root, v, live)) { writeHint(f, root, v); return v }
      attempt += 1
      if (attempt > maxRetries)
        sys.error(s"Versioned.commit: lost $maxRetries CAS retries " +
          s"at $path - staged segments are orphans for vacuum")
      // brief backoff so the winner's manifest lands before re-read
      Thread.sleep(20L * attempt)
    }
    sys.error("unreachable")
  }

  /** Retention: keep the last `keepLast` versions — plus, when
    * `minAgeMs > 0`, EVERY version whose manifest is younger than that
    * age — and delete older manifests and every segment no retained
    * manifest references (orphans from torn commits go too). Returns
    * (manifests deleted, segments deleted). Manifest reclamation is
    * what keeps the maintenance listing bounded by the retention
    * window rather than lifetime commits.
    *
    * `minAgeMs` is the reader-safety guard (Delta's
    * `deletedFileRetentionDuration`), and it gates BOTH deletion
    * surfaces: a manifest is retired only once older than the window,
    * and an UNREFERENCED segment dir is reclaimed only once its
    * modification time is older than the window. The segment half is
    * what makes vacuum safe against an IN-FLIGHT [[commit]]: commit
    * stages its segment BEFORE publishing its manifest, so during
    * that window the segment looks like a torn-commit orphan — the
    * age floor keeps it alive until the publish lands (Delta's
    * uncommitted-file retention rule). Size `minAgeMs` above the
    * longest expected commit's segment-write time as well as the
    * longest reader scan. A time-travel reader that resolved its
    * version less than `minAgeMs` ago can never have segments deleted
    * out from under it mid-scan, because every version it could have
    * resolved is still retained. The default 0 is single-orchestrator
    * mode — safe only when no reader holds a version older than
    * `keepLast` AND no commit is concurrently staging; a reader of a
    * retired version fails loudly (manifest resolution, or file open
    * for an already resolved plan), never silently. */
  def vacuum(spark: SparkSession, path: String, keepLast: Int,
      minAgeMs: Long = 0L): (Int, Int) = {
    require(keepLast >= 1, "Versioned.vacuum: keepLast must be >= 1")
    val (f, root) = fs(spark, path)
    val vs = listVersions(f, root)
    val keepByCount = vs.takeRight(keepLast).toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    val dropManifests = vs.filterNot(keepByCount).filter { v =>
      minAgeMs <= 0L ||
        f.getFileStatus(manifestPath(root, v)).getModificationTime < cutoff
    }
    val keep = vs.filterNot(dropManifests.toSet)
    val live = keep.flatMap(v => readManifest(f, root, v)).toSet
    dropManifests.foreach(v => f.delete(manifestPath(root, v), false))
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    val dropSegs =
      if (!f.exists(dataDir)) Seq.empty[org.apache.hadoop.fs.Path]
      else f.listStatus(dataDir).toSeq
        .filterNot(s => live.contains(s"data/${s.getPath.getName}"))
        // the in-flight-commit guard: an unreferenced segment younger
        // than the retention window may be a commit mid-stage (its
        // manifest rename hasn't landed yet) — deleting it would let
        // the commit publish a manifest over vanished data
        .filter(s => minAgeMs <= 0L || s.getModificationTime < cutoff)
        .map(_.getPath)
    dropSegs.foreach(p => f.delete(p, true))
    (dropManifests.size, dropSegs.size)
  }

  /** Segment-selective compaction (the Delta/Iceberg OPTIMIZE
    * binpack): rewrite only the latest snapshot's segments SMALLER
    * than `smallerThanBytes` into one fresh packed segment
    * (`numFiles` output files, default 1) and commit a manifest
    * listing (big segments ∪ packed) — large segments are carried BY
    * REFERENCE, never read and never rewritten, so the maintenance
    * cost of an append-heavy 100 TB table is proportional to the
    * small-file debris, not the table. The small-segments cure:
    * micro-batch sinks ([[graft.streaming.EventStreams]]
    * `versionedSink`) accumulate one segment per commit and readers
    * pay per-dir open costs. History is preserved: older versions
    * still reference the original segments until [[vacuum]] retires
    * them. No-op (returns the current version) when fewer than two
    * segments qualify. The default threshold (`Long.MaxValue`) packs
    * the whole snapshot — the legacy full rewrite, which then skips
    * the coalesce when `numFiles` is unset to keep write parallelism.
    * Returns the (possibly unchanged) latest version.
    *
    * Race-free planning: the segment partition AND the claimed version
    * derive from ONE manifest read — a single snapshot — so a commit
    * interleaving anywhere after that read makes [[tryPublish]] lose
    * the claim and compact fail loudly (never publish a manifest that
    * drops the concurrent commit's segment).
    */
  def compact(spark: SparkSession, path: String,
      numFiles: Option[Int] = None,
      smallerThanBytes: Long = Long.MaxValue): Long = {
    val (f, root) = fs(spark, path)
    val latest = latestFrom(f, root).getOrElse(
      throw new IllegalArgumentException(
        s"requirement failed: Versioned.compact: no committed versions at $path"))
    // the ONE snapshot read both the binpack plan and the claimed
    // version derive from (TOCTOU-free: see scaladoc)
    val manifest = readManifest(f, root, latest)
    val sized = manifest.map { rel =>
      rel -> f.getContentSummary(
        new org.apache.hadoop.fs.Path(root, rel)).getLength
    }
    val (small, big) = sized.partition(_._2 < smallerThanBytes)
    // selective mode: binpacking fewer than two small segments is a
    // pure rewrite with no fan-in - skip it
    if (smallerThanBytes != Long.MaxValue && small.size < 2)
      return latest
    val smallDf = PinnedParquet.read(spark,
      small.map { case (rel, _) => s"$path/$rel" }: _*)
    val packed =
      if (numFiles.isEmpty && big.isEmpty && smallerThanBytes == Long.MaxValue)
        smallDf // legacy full rewrite: keep natural parallelism
      else smallDf.coalesce(numFiles.getOrElse(1))
    val v = latest + 1L
    val segRel = f"data/seg-$v%05d-${nonce()}"
    packed.write.mode("errorifexists").options(LocalFs.options)
      .parquet(s"$path/$segRel")
    // compaction does NOT retry a lost claim: a concurrent append
    // means the snapshot this binpack was computed from is stale —
    // the caller's next maintenance run re-plans against fresh sizes
    if (!tryPublish(f, root, v, big.map(_._1) :+ segRel))
      sys.error(s"Versioned.compact: lost the claim for v$v to a " +
        "concurrent commit - rerun compaction (staged segment is an " +
        "orphan for vacuum)")
    writeHint(f, root, v)
    v
  }

  /** The scheduled-maintenance composition a 100 TB lake actually
    * runs (Delta's `OPTIMIZE` + `VACUUM` pass as one call): binpack
    * the small-segment debris ([[compact]] at `smallerThanBytes`),
    * then retire history past the retention window ([[vacuum]] at
    * `keepLast`/`minAgeMs`). Interleaving safety is inherited from
    * the parts, not re-derived: compact's plan and claim come from
    * ONE manifest read, so a commit landing anywhere inside the pass
    * makes compact LOSE its CAS claim and fail loudly (the abort
    * signal — rerun maintenance; the concurrent commit is never
    * dropped), and vacuum's `minAgeMs` floor protects both pinned
    * readers and any commit mid-stage. Run with `minAgeMs > 0` in
    * multi-writer mode for exactly that reason. Returns (latest
    * version after compaction, manifests deleted, segments deleted)
    * — the segments count includes the pre-compaction small segments
    * once they age out of retention, plus any torn-commit orphans.
    *
    * Snapshot semantics: maintenance never changes table CONTENT —
    * `read(path)` before ≡ after (oracled as q301) — only its
    * physical layout and retained history. */
  def maintain(spark: SparkSession, path: String,
      smallerThanBytes: Long, keepLast: Int,
      minAgeMs: Long = 0L, numFiles: Option[Int] = None)
      : (Long, Int, Int) = {
    val v = compact(spark, path, numFiles, smallerThanBytes)
    val (m, s) = vacuum(spark, path, keepLast, minAgeMs)
    (v, m, s)
  }

  /** The APPEND DELTA of a version: only the segments `version` added
    * over its predecessor (all of them for the first version) — the
    * incremental-view-maintenance input: refreshing a view by folding
    * `agg(readDelta(v))` per commit costs ∝ delta, never rescanning
    * old segments. Append-only semantics: an overwrite commit's delta
    * is its new segment (the retraction of the dropped segments is
    * NOT represented — IVM over overwrites needs a snapshot diff,
    * [[graft.warehouse.Snapshot.corpusDiff]]'s job).
    *
    * Requires the IMMEDIATE predecessor manifest (version−1; versions
    * are protocol-contiguous) to still be retained, and fails loudly
    * when vacuum retired it — the nearest SURVIVING older manifest
    * would silently fold in every intermediate commit's segments (or
    * the whole snapshot), double-counting the IVM. Folds must run
    * inside the [[vacuum]] retention window; a vacuumed history needs
    * the snapshot-diff path instead. */
  def readDelta(spark: SparkSession, path: String, version: Long)
      : DataFrame = {
    val (f, root) = fs(spark, path)
    require(existsManifest(f, root, version),
      s"Versioned.readDelta: version $version not in the retained " +
        s"manifests at $path")
    val cur = readManifest(f, root, version)
    val added =
      if (version == 1L) cur
      else {
        require(existsManifest(f, root, version - 1L),
          s"Versioned.readDelta: predecessor v${version - 1} of " +
            s"$version was vacuumed at $path - the append delta is " +
            "unrecoverable; run IVM folds within the vacuum retention " +
            "window or diff snapshots (Snapshot.corpusDiff)")
        cur.filterNot(readManifest(f, root, version - 1L).toSet)
      }
    require(added.nonEmpty,
      s"Versioned.readDelta: version $version added no segments")
    PinnedParquet.read(spark, added.map(rel => s"$path/$rel"): _*)
  }

  /** Snapshot read — the given version, or the latest when
    * unspecified. Fails with a named error on an unknown version
    * instead of an empty scan. O(1) manifest-dir operations. */
  def read(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    val (f, root) = fs(spark, path)
    val segs = readManifest(f, root, resolve(f, root, version, "read", path))
      .map(rel => s"$path/$rel")
    PinnedParquet.read(spark, segs: _*)
  }
}
