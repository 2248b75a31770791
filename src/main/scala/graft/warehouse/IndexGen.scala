package graft.warehouse

import org.apache.spark.sql.SparkSession

/** Atomic GENERATION pointer for a multi-table index directory — the
  * [[Versioned]] manifest idea at its smallest useful size, built for
  * [[graft.analytics.Similarity]]'s persisted IVF index: an index is
  * a TRIO of tables (codebook / cells / cellstats) that must be read
  * consistently, and a retrain must swap all three at once.
  * Dir-by-dir delete+rename (the pre-r19 swap) has a window where a
  * reader pairs the NEW codebook with the OLD cells — silent recall
  * loss with no error; this pointer closes it.
  *
  * Layout under `path/`:
  *   - `gen-<nonce>/…` — one immutable generation dir per retrain,
  *     holding the full trio; writer-unique nonce, NEVER rewritten;
  *   - `_gens/g<NNNNN>.ptr` — one pointer file per generation
  *     version, its content the generation's relative dir name.
  *     Publication is [[Versioned]]'s CAS: stage to a writer-unique
  *     tmp, rename onto the (contended) pointer name, read back to
  *     verify the claim; the loser retries against the re-read
  *     latest. A reader resolves the MAX pointer once per call and
  *     then reads a frozen trio — it can never observe a mixed one.
  *
  * An index that has never been retrained has no `_gens/` at all and
  * lives flat at `path/` (the legacy layout every build starts in);
  * resolution falls through to it. The flat dirs are never deleted —
  * after the first retrain they are stale-but-unreferenced debris, a
  * deliberate trade for never breaking a reader that resolved before
  * the first pointer existed. [[retire]] bounds generation debris:
  * keep the last `keepLast` (current + previous, so an in-flight
  * reader of the prior generation finishes its scan — the
  * [[Versioned.vacuum]] retention idea), delete older pointer files
  * and their generation dirs. A retrain that crashes before
  * publishing leaves an unpointed `gen-*` orphan no reader ever
  * resolves; sweep those manually past a safety age if space matters.
  */
object IndexGen {

  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (graft.util.LocalFs.fileSystem(spark, p), p)
  }

  private def gensDir(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_gens")

  private def ptrPath(root: org.apache.hadoop.fs.Path, v: Long) =
    new org.apache.hadoop.fs.Path(gensDir(root), f"g$v%05d.ptr")

  private def listGens(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[Long] = {
    val dir = gensDir(root)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      // %05d is a zero-padding MINIMUM (the Versioned v-file rule):
      // accept >5 digits or generation 100000 becomes unreachable
      .collect { case n if n.matches("g\\d{5,}\\.ptr") =>
        n.stripPrefix("g").stripSuffix(".ptr").toLong }
      .sorted
  }

  private def readPtr(f: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, v: Long): String = {
    val in = f.open(ptrPath(root, v))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** (version, relative generation dir) of the CURRENT generation;
    * None for an index never retrained (flat legacy layout). One
    * listing of the pointer dir, bounded by [[retire]]'s window. */
  def current(spark: SparkSession, path: String): Option[(Long, String)] = {
    val (f, root) = fs(spark, path)
    listGens(f, root).lastOption.map(v => (v, readPtr(f, root, v)))
  }

  /** CAS-claim the next generation version for `relDir` (an already
    * fully-written generation dir). Returns the claimed version;
    * loses a concurrent claim → retries against the re-read latest,
    * failing loudly after `maxRetries`. */
  def publish(spark: SparkSession, path: String, relDir: String,
      maxRetries: Int = 5): Long = {
    val (f, root) = fs(spark, path)
    if (!f.exists(gensDir(root))) f.mkdirs(gensDir(root)): Unit
    var attempt = 0
    while (true) {
      val v = listGens(f, root).lastOption.getOrElse(0L) + 1L
      val tmp = new org.apache.hadoop.fs.Path(gensDir(root),
        f".g$v%05d-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = f.create(tmp, true)
      try out.write((relDir + "\n").getBytes("UTF-8")) finally out.close()
      val renamed =
        try f.rename(tmp, ptrPath(root, v))
        catch { case _: java.io.IOException => false }
      if (!renamed) f.delete(tmp, false): Unit
      // read-back closes the local-FS window where two renames race
      // an exists check (the Versioned.tryPublish rule)
      val won = renamed &&
        (try readPtr(f, root, v) == relDir
         catch { case _: java.io.IOException => false })
      if (won) return v
      attempt += 1
      if (attempt > maxRetries)
        sys.error(s"IndexGen.publish: lost $maxRetries CAS retries at " +
          s"$path - the staged generation dir $relDir is an orphan")
      Thread.sleep(20L * attempt)
    }
    sys.error("unreachable")
  }

  /** Retire generations past the last `keepLast`: delete their
    * pointer files and generation dirs. Keep `keepLast >= 2` when
    * readers run concurrently with retrains — the previous generation
    * must outlive any reader that resolved it just before the new
    * publish. Never touches the flat legacy layout (it has no
    * pointer). Returns the number of generations retired. */
  def retire(spark: SparkSession, path: String, keepLast: Int): Int = {
    require(keepLast >= 1, "IndexGen.retire: keepLast must be >= 1")
    val (f, root) = fs(spark, path)
    val vs = listGens(f, root)
    val drop = vs.dropRight(keepLast)
    drop.foreach { v =>
      val rel = try Some(readPtr(f, root, v))
        catch { case _: java.io.IOException => None }
      f.delete(ptrPath(root, v), false): Unit
      rel.foreach { r =>
        f.delete(new org.apache.hadoop.fs.Path(root, r), true): Unit
      }
    }
    drop.size
  }

  /** Sweep UNPOINTED `gen-*` dirs — debris from retrains that crashed
    * (or lost their CAS) after staging but before publishing. The
    * [[graft.warehouse.Versioned.vacuum]] age rule applies unchanged:
    * only dirs older than `minAgeMs` go, so a retrain mid-stage (its
    * pointer not yet published) can never lose its build to a
    * concurrent sweep. Returns the number of dirs removed. */
  def vacuumOrphans(spark: SparkSession, path: String,
      minAgeMs: Long): Int = {
    require(minAgeMs > 0L,
      "IndexGen.vacuumOrphans: minAgeMs must be > 0 (an unguarded " +
        "sweep would delete a retrain mid-stage)")
    val (f, root) = fs(spark, path)
    if (!f.exists(root)) return 0
    val pointed = listGens(f, root).flatMap { v =>
      try Some(readPtr(f, root, v))
      catch { case _: java.io.IOException => None }
    }.toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    val orphans = f.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("gen-") &&
        !pointed.contains(st.getPath.getName) &&
        st.getModificationTime < cutoff)
    orphans.foreach(st => f.delete(st.getPath, true): Unit)
    orphans.size
  }
}
