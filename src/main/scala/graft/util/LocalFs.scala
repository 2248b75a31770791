package graft.util

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The `file:` filesystem of the lake tier: Hadoop's checksummed
  * [[org.apache.hadoop.fs.LocalFileSystem]] (same `.crc` sidecars,
  * same bytes on disk) over a raw filesystem that sets permissions
  * in-process.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process for every file, `.crc` sidecar and
  * directory it creates, and a partitioned write's tasks spend most of
  * their time in those forks. Here the same nine mode bits go through
  * `Files.setPosixFilePermissions`, with or without the native
  * library; Hadoop's own path runs only for what NIO cannot do: a
  * permission with the sticky bit, or a platform whose files have no
  * POSIX attribute view.
  *
  * A rename never replaces an existing file, as on HDFS. That is the
  * rule of the `file:` filesystem Spark's bundled Hive registers
  * (`ProxyLocalFileSystem`, itself a `LocalFileSystem`), which a
  * session resolves `file:` to when that registration wins, and
  * [[graft.warehouse.Versioned]] claims a version by renaming its
  * manifest into place: a rename that overwrote would let two writers
  * both claim it.
  *
  * It is switched on per write, not per session: `Writer` and
  * `Versioned` pass [[options]] to every path-based write (Spark copies
  * write options into the job's Hadoop conf, so tasks, the output
  * committer and `_SUCCESS` all see it) and take every `FileSystem`
  * handle from [[fileSystem]]. The options name only the `file`
  * scheme, so HDFS and object-store paths behave as before. Instances
  * are uncached, and uncached instances are never closed, so nothing
  * may call `deleteOnExit` on them.
  */
class LocalFs extends LocalFileSystem(new LocalFs.NioRawLocalFs) {
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

object LocalFs {

  /** Hadoop options that route the `file` scheme through [[LocalFs]].
    * Uncached, so a session's cached stock `file:` instance is left as
    * it is. */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Permission-set counters — test-visibility instrumentation: sets
    * done through NIO, and sets handed to Hadoop's own path. */
  private[graft] val nioSets = new AtomicLong
  private[graft] val fallbacks = new AtomicLong

  /** The filesystem of `path` under the session's Hadoop conf with
    * [[options]] applied — the conf a write carrying them runs under. */
  def fileSystem(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sessionState.newHadoopConfWithOptions(options))

  private lazy val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  private[util] class NioRawLocalFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit || !posix) {
        fallbacks.incrementAndGet(): Unit
        super.setPermission(p, permission)
      } else {
        // `rwxr-x---`; not `permission.toString`, which the create
        // path's `FsCreateModes` overrides with masked and unmasked
        val mode = permission.getUserAction.SYMBOL +
          permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(mode)): Unit
        nioSets.incrementAndGet(): Unit
      }
  }
}
