package graft.util

import java.nio.file.{Files, Path, Paths}

/** Per-JVM scratch-directory root, deleted on JVM exit.
  *
  * Every path that holds run-local intermediate state (persisted
  * indexes, fact tables, streaming state, iteration checkpoints)
  * roots here: `<tmpdir>/graft_<token>/...`. The token is random per
  * JVM so two drivers on the same machine (a Verify and a Bench
  * running concurrently on one sf dir) never race on a shared /tmp
  * table one of them deletes or overwrites mid-run — and the single
  * shutdown hook reclaims the whole tree, so repeated bench/verify
  * runs cannot accumulate unbounded scratch data on a shared /tmp
  * (each run cleans up after itself; before this, every run leaked
  * its full index/state footprint).
  *
  * On a real cluster this is DRIVER-local scratch only by contract:
  * paths handed to Spark writers must resolve on every executor, so
  * cluster deployments point `java.io.tmpdir`-relative scratch at a
  * shared filesystem via their own conventions; the JVM-exit cleanup
  * then runs on the driver against that shared root.
  */
object Scratch {

  private val token: String =
    java.util.UUID.randomUUID().toString.take(8)

  /** The per-JVM root; created lazily so JVMs that never touch
    * scratch never create (or hook deletion of) anything. */
  lazy val root: String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), s"graft_$token")
    Files.createDirectories(p)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p),
      "graft-scratch-cleanup"))
    p.toString
  }

  /** A stable scratch path for (tag): same string every call with the
    * same tag, unique per JVM, reclaimed on exit. */
  def path(tag: String): String = s"$root/$tag"

  /** Best-effort recursive delete (IOExceptions swallowed) — THE one
    * local tree-delete in the codebase (the scratch root's exit hook,
    * PipelineMain's layout migration). */
  private[graft] def deleteTree(p: Path): Unit =
    try {
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala.toSeq.reverseIterator
          .foreach(f => try Files.deleteIfExists(f) catch {
            case _: java.io.IOException => ()
          })
      }
    } catch { case _: java.io.IOException => () }
}
