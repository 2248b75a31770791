package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** THE lineage cut: every operator that materializes an index, a
  * result or a round of iteration state goes through here, so the
  * checkpoint mode (`spark.graft.materialize`) and the checkpoint dir
  * are decided in one place. */
object Lineage {

  /** Materialize a result and CUT ITS LINEAGE via a checkpoint.
    * Lineage truncation is the point: unpersisting an internal index
    * after `persist+count` INVALIDATES every dependent cache entry
    * (Spark rebuilds dependents lazily), silently forcing a full
    * recompute on the next access — measured as a 2-3× slowdown on
    * q19/q20/q61 before this was understood. A checkpointed frame is a
    * LogicalRDD with no dependency to invalidate.
    *
    * WHICH checkpoint matters for cost. A reliable
    * `Dataset.checkpoint(eager = true)` executes the plan TWICE — the
    * eager count is one job, and the checkpoint write is a SECOND job
    * that recomputes the RDD from lineage (Spark's own scaladoc says
    * "strongly recommended that this RDD is persisted" for exactly
    * this reason) — and then every consumer re-reads the partitions
    * from checkpoint files on disk. `localCheckpoint(eager = true)`
    * marks the RDD MEMORY_AND_DISK-persisted and materializes it in
    * the ONE eager job; consumers read the stored blocks. Measured on
    * the r19 bench this halves the materialization cost of every
    * iterative operator (graph loops, LSH candidate frames, star
    * contraction).
    *
    * Mode (`spark.graft.materialize` = auto|local|reliable, default
    * auto): `auto` uses the local checkpoint in local mode — a lost
    * block there means the JVM died, so reliability buys nothing —
    * and the reliable one on a cluster, where executor loss must not
    * kill a long job and the checkpoint doubles as a shared-FS
    * artifact. Cluster deployments that prefer speed over
    * fault-tolerance can pin `local` explicitly.
    *
    * Reliable-path dir handling: in local mode an unset dir defaults
    * to `Scratch.path("checkpoints")`, reclaimed with the scratch root
    * at JVM exit (checkpoint files are otherwise never reclaimed
    * unless `spark.cleaner.referenceTracking.cleanCheckpoints` is on).
    * On a real cluster a driver-local default would scatter partition
    * files across executors' disks and fail on read — so there we
    * FAIL FAST and require an explicit shared `setCheckpointDir`. */
  private[graft] def materialize(df: DataFrame): DataFrame =
    if (useLocalCheckpoint(df.sparkSession)) df.localCheckpoint(eager = true)
    else {
      ensureCheckpointDir(df.sparkSession.sparkContext)
      df.checkpoint(eager = true)
    }

  /** Eager checkpoint that RETURNS the materialization count and
    * content fingerprint, via
    * [[org.apache.spark.sql.graft.CheckpointBridge]] — iterative loops
    * (the star-contraction CC, kCore, bfsHops) need them every round,
    * and the stock `checkpoint(eager=true)` discards its internal
    * count, forcing a second full action per round to recover it.
    * Follows the [[materialize]] mode: the local-checkpoint form
    * computes the frame ONCE (the stats aggregate doubles as the
    * persisting job) where the reliable form pays a second
    * recompute-and-write job. (Other materializers measured SLOWER in
    * the CC loop: a parquet scratch round-trip loses the distinct's
    * output partitioning that the checkpointed LogicalRDD preserves for
    * the next round's aggregations, +50% across q61/q78/q97/q99;
    * persist-then-reliable-checkpoint and batching two contraction
    * rounds per barrier both added more job/stage latency than they
    * saved.) */
  private[graft] def materializeWithStats(
      df: DataFrame): (DataFrame, Long, Long) = {
    val local = useLocalCheckpoint(df.sparkSession)
    if (!local) ensureCheckpointDir(df.sparkSession.sparkContext)
    org.apache.spark.sql.graft.CheckpointBridge.checkpointWithStats(df,
      local)
  }

  /** Resolve `spark.graft.materialize` (see [[materialize]]). */
  private[graft] def useLocalCheckpoint(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.materialize", "auto") match {
      case "local" => true
      case "reliable" => false
      case "auto" => spark.sparkContext.isLocal
      case other => sys.error("spark.graft.materialize must be " +
        s"auto|local|reliable, got '$other'")
    }

  /** The checkpoint dir currently in force (as Spark reports it — a
    * UUID leaf under the directory passed to `setCheckpointDir`),
    * setting the local-mode scratch default if none is set — shared by
    * [[materialize]] and callers that scope per-batch checkpoint
    * subdirectories
    * ([[graft.streaming.CorpusStreams.assignBatch]]). */
  private[graft] def ensureCheckpointDir(
      sc: org.apache.spark.SparkContext): String =
    sc.getCheckpointDir.getOrElse {
      if (!sc.isLocal)
        sys.error("graft: reliable checkpointing on a cluster needs " +
          "an explicit shared checkpoint dir — call " +
          "sparkContext.setCheckpointDir(<shared path>) first")
      sc.setCheckpointDir(Scratch.path("checkpoints"))
      sc.getCheckpointDir.get
    }
}
