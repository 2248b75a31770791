package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.util.Lineage

/** Structured Streaming surface (SURVEY §2.8). The reference's
  * "near-real-time" is a daily batch pull with a 24 h freshness SLA;
  * this module provides the true streaming upgrade path for the same
  * contracts: windowed rollups (the streaming form of q11), stateful
  * spike detection (the streaming form of anomaly WN1/q06),
  * sessionization, and streaming freshness.
  *
  * Scale posture: every operator keys its state by a fine-grained
  * column (event_type, user_id), so state distributes across
  * executors; watermarks bound state size; no global ordering is ever
  * required.
  */
object EventStreams {

  /** Event record matching the corpus events table (minus the
    * free-form props). */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** A spike alert: consecutive per-user values differing by more than
    * the threshold (streaming WN1). */
  case class Spike(user_id: Long, event_id: Long, value: Double,
      prev_value: Double, delta: Double)

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** File-based streaming read of an events directory (parquet parts
    * appear as micro-batches). */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Tumbling-window rollup with watermark — the streaming form of
    * q11_hourly_rollup: per (window, event_type) counts and exact
    * decimal sums. */
  def hourlyRollup(events: DataFrame, watermark: String = "2 hours",
      window_ : String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Tumbling-window DISTINCT-USER estimate per event type via the
    * HyperLogLog aggregate — the streaming "unique visitors per hour"
    * rollup. Exact streaming COUNT(DISTINCT) would need unbounded
    * per-window key state; the sketch keeps 2^b bytes per
    * (window, type) group and merges by register max, so late
    * (pre-watermark) events fold in correctly. Deterministic given
    * the same delivered event set. */
  def hourlyDistinctUsers(events: DataFrame,
      watermark: String = "2 hours", window_ : String = "1 hour",
      b: Int = 8): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(graft.analytics.Sketches.hllDistinct(
        graft.analytics.Dedup.h60(col("user_id").cast("string")), b)
        .as("approx_users"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("approx_users"))

  /** Sliding-window mean value per event type. */
  def slidingAvg(events: DataFrame, watermark: String = "2 hours",
      window_ : String = "1 hour", slide: String = "15 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg((sum(col("value").cast(DecimalType(18, 2))).cast("double") /
        count(lit(1)).cast("double")).as("avg_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("avg_value"))

  /** Session windows per user with an inactivity gap. */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Stateful spike detection — the streaming WN1: per-user last-value
    * state via `flatMapGroupsWithState`; emits an alert whenever
    * |value − previous| exceeds `threshold`. State is one double per
    * user, so it is O(|users|) across the cluster and needs no
    * watermark to stay bounded.
    */
  def spikes(events: Dataset[Event], threshold: Double): Dataset[Spike] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), Spike](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event],
            state: GroupState[(Long, Double)]) =>
          // order within the micro-batch by event time, then id
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var prev = state.getOption
          val out = Seq.newBuilder[Spike]
          for (e <- sorted) {
            prev.foreach { case (_, pv) =>
              if (math.abs(e.value - pv) > threshold)
                out += Spike(userId, e.event_id, e.value, pv, e.value - pv)
            }
            prev = Some((e.event_id, e.value))
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming freshness monitor: max event time per type, compared
    * against the processing-time SLA downstream (A3's streaming
    * form). */
  def freshness(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(max(col("ts")).as("latest_ts"),
        count(lit(1)).as("n_events"))

  /** Streaming exact dedup by id — the streaming form of the
    * idempotency-key gate (S15): duplicates arriving within the
    * watermark horizon are dropped; state is bounded by the watermark.
    */
  def dedupeStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: the static dimension is read once
    * per micro-batch and broadcast — the streaming form of the
    * hash→surrogate lookup (J5). No state, no watermark needed for
    * stream-static inner joins.
    */
  def enrich(events: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    events.join(broadcast(dim), Seq(key))

  /** Stream-stream interval correlation: join two event streams on a
    * key where the right event lands within [left.ts, left.ts +
    * within]. Both sides carry watermarks of the same horizon, so the
    * join state is bounded — Spark drops buffered rows once the
    * watermark passes the interval, the standard shape for
    * click→conversion attribution at unbounded scale. Right-side
    * columns come back `r_`-prefixed.
    */
  def correlate(left: DataFrame, right: DataFrame, key: String,
      tsCol: String = "ts", within: String = "15 minutes"): DataFrame = {
    val l = left.withWatermark(tsCol, within)
    val r = right.toDF(right.columns.map("r_" + _): _*)
      .withWatermark(s"r_$tsCol", within)
    l.join(r, expr(
      s"$key = r_$key AND r_$tsCol >= $tsCol AND " +
        s"r_$tsCol <= $tsCol + INTERVAL $within"))
  }

  /** Streaming upsert into a warehouse table: each micro-batch is
    * merged into the accumulated state with the same ON CONFLICT
    * rewrite the batch loader uses ([[graft.warehouse.Merge.upsert]])
    * — the foreachBatch pattern that turns any batch sink into a
    * streaming one with exactly-once-per-batch semantics (checkpointed
    * batch ids make retried batches idempotent: the merge keys dedupe
    * them).
    *
    * `getTarget`/`setTarget` abstract the table storage. This variant
    * is the in-memory test harness — the per-batch
    * [[graft.util.Lineage.materialize]] truncates the otherwise
    * batch-over-batch-growing plan lineage, with the engine's
    * checkpoint mode (a local checkpoint in local mode, a reliable one
    * on a cluster). Production streams should use
    * [[mergeStreamToPath]], where the lake table itself is the
    * cross-batch state.
    */
  def mergeStream(events: DataFrame, keys: Seq[String],
      updateCols: Seq[String],
      getTarget: () => DataFrame,
      setTarget: DataFrame => Unit,
      tiebreak: Seq[org.apache.spark.sql.Column]) =
    events.writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val merged = graft.warehouse.Merge.upsert(
          getTarget(), batch.toDF(), keys, updateCols, tiebreak)
        setTarget(Lineage.materialize(merged))
      }

  /** Durable streaming upsert: each micro-batch merges into a
    * partitioned lake table via
    * [[graft.warehouse.Merge.upsertPartitioned]] — only the partitions
    * the batch touches are read and rewritten, and the table on
    * storage IS the cross-batch state, so there is no in-memory
    * lineage to truncate and executor loss costs nothing but a batch
    * retry (whose merge keys make it idempotent).
    */
  def mergeStreamToPath(events: DataFrame, path: String,
      keys: Seq[String], updateCols: Seq[String],
      tiebreak: Seq[org.apache.spark.sql.Column],
      partitionCols: Seq[String]) =
    events.writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        graft.warehouse.Merge.upsertPartitioned(batch.sparkSession,
          path, batch.toDF(), keys, updateCols, tiebreak, partitionCols)
      }

  /** Stream → versioned-lake sink: every micro-batch commits as one
    * [[graft.warehouse.Versioned]] append, so downstream readers get
    * SNAPSHOT-ISOLATED, time-travelable views of the ingest (a reader
    * resolved at version v never sees half of batch v+1 — the
    * exactly-once read contract a plain parquet append sink lacks).
    * Empty micro-batches commit nothing (no empty versions). Combined
    * with checkpointing, a replayed batch lands as a NEW version;
    * readers pinned to pre-crash versions are unaffected, and a
    * dedup-on-read (or [[graft.warehouse.Idempotency]] keys) restores
    * exactly-once semantics on the data itself.
    */
  def versionedSink(events: DataFrame, path: String) =
    events.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          graft.warehouse.Versioned.commit(batch.toDF(), path): Unit
      }

  /** [[versionedSink]] with INLINE MAINTENANCE — the complete
    * operational loop for a micro-batch lake sink: one commit per
    * non-empty batch creates exactly the small-segment debris
    * [[graft.warehouse.Versioned.compact]] exists to cure, so every
    * `compactEvery`-th commit binpacks the segments smaller than
    * `smallerThanBytes` into one (large segments carried by
    * reference, never rewritten) and retires history past
    * `keepVersions` with a vacuum. Live-segment count is thus
    * bounded by ≈ compactEvery + the number of big segments,
    * regardless of how long the stream runs — the property a plain
    * per-batch committer loses after a weekend. Maintenance runs in
    * the foreachBatch callback (the stream's own cadence); a
    * concurrent writer racing the compaction claim simply wins the
    * version and compaction re-runs on a later batch (its loss is
    * loud but caught, never data loss).
    */
  def versionedSinkCompacting(events: DataFrame, path: String,
      compactEvery: Int = 8, smallerThanBytes: Long = 128L << 20,
      keepVersions: Int = 64) = {
    require(compactEvery >= 1, "compactEvery must be >= 1")
    require(keepVersions >= 1, "keepVersions must be >= 1")
    events.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val v = graft.warehouse.Versioned.commit(batch.toDF(), path)
          if (v % compactEvery == 0) {
            try graft.warehouse.Versioned.compact(spark, path,
              smallerThanBytes = smallerThanBytes): Unit
            catch { case e: RuntimeException =>
              // a concurrent commit won the claim: skip this cycle
              System.err.println(
                s"versionedSinkCompacting: compaction skipped: " +
                  e.getMessage)
            }
            graft.warehouse.Versioned.vacuum(spark, path,
              keepLast = keepVersions): Unit
          }
        }
      }
  }
}
