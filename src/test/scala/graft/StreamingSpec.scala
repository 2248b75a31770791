package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{CorpusStreams, EventStreams}
import graft.streaming.EventStreams.{Event, Spike}
import graft.util.Lineage

/** Structured Streaming semantics over an in-memory source: windowed
  * rollups, stateful spike detection, sessionization (SURVEY §2.8).
  */
class StreamingSpec extends SparkSpec {

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  def events: Seq[Event] = Seq(
    Event(1, ts("2026-01-01 10:05:00"), 7, "click", 10.0),
    Event(2, ts("2026-01-01 10:20:00"), 7, "click", 12.0),
    Event(3, ts("2026-01-01 10:40:00"), 7, "view", 300.0),
    Event(4, ts("2026-01-01 11:10:00"), 7, "click", 11.0),
    Event(5, ts("2026-01-01 10:30:00"), 9, "click", 50.0),
    Event(6, ts("2026-01-01 12:45:00"), 9, "click", 55.0))

  test("streaming hourly rollup matches batch semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = EventStreams.hourlyRollup(mem.toDF())
      .writeStream.format("memory").queryName("rollup")
      .outputMode(OutputMode.Complete).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("rollup")
      .orderBy("window_start", "event_type")
      .select("event_type", "n_events", "total_value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      ("click", 3L, 72.0),   // 10-11h: 10+12+50
      ("view", 1L, 300.0),
      ("click", 1L, 11.0),   // 11-12h
      ("click", 1L, 55.0)))  // 12-13h
  }

  test("streaming windowed HLL distinct users matches the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val many = (0 until 200).map(i =>
      Event(100 + i, ts("2026-01-01 10:05:00"), i % 60, "click", 1.0)) ++
      events
    // split across two micro-batches so register merge is exercised
    val (b1, b2) = many.splitAt(120)
    mem.addData(b1: _*)
    val q = EventStreams.hourlyDistinctUsers(mem.toDF())
      .writeStream.format("memory").queryName("hlluv")
      .outputMode(OutputMode.Complete).start()
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("hlluv")
      .orderBy("window_start", "event_type")
      .select("event_type", "approx_users")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    // batch counterpart over the same rows must be IDENTICAL (the
    // sketch is merge-order-insensitive)
    val batch = many.toDF()
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour"),
        col("event_type"))
      .agg(graft.analytics.Sketches.hllDistinct(
        graft.analytics.Dedup.h60(col("user_id").cast("string")))
        .as("approx_users"))
      .orderBy(col("window.start"), col("event_type"))
      .select("event_type", "approx_users")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == batch.toSeq)
    // the 10-11h click window saw 60 distinct small ids (+users 7, 9)
    val clickEst = got.head._2
    assert(math.abs(clickEst - 62) < 12, s"estimate $clickEst not ~62")
  }

  test("stateful spike detection fires across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.spikes(mem.toDS(), threshold = 150.0)
      .writeStream.format("memory").queryName("spikes")
      .outputMode(OutputMode.Append).start()
    mem.addData(events.take(3): _*)   // batch 1: user 7 → 10,12,300
    q.processAllAvailable()
    mem.addData(events.drop(3): _*)   // batch 2: user 7 → 11 (Δ-289)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("spikes").orderBy("event_id")
      .collect().map(r => (r.getAs[Long]("event_id"),
        r.getAs[Double]("delta")))
    // 12→300 fires in batch 1; 300→11 fires in batch 2 via kept state
    assert(got.toSeq == Seq((3L, 288.0), (4L, -289.0)))
  }

  test("streaming dedup drops within-watermark duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupeStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    mem.addData(events.head, events.head, events(1))   // dup in batch
    q.processAllAvailable()
    mem.addData(events.head)                           // dup across batches
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup").count() == 2)
  }

  test("stream-static enrichment join broadcasts the dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((7L, "gold"), (9L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = EventStreams.enrich(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enriched").groupBy("tier").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("gold" -> 4L, "basic" -> 2L))
  }

  test("foreachBatch streaming merge upserts each micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    var target = Seq((7L, "seed", 0.0)).toDF("user_id", "tag", "value")
    val mem = MemoryStream[Event]
    val q = EventStreams.mergeStream(
      mem.toDF().selectExpr("user_id", "event_type AS tag", "value"),
      keys = Seq("user_id"), updateCols = Seq("value"),
      getTarget = () => target, setTarget = df => target = df,
      tiebreak = Seq(col("value").desc)).start()
    mem.addData(events.take(2): _*)   // user 7: values 10, 12
    q.processAllAvailable()
    mem.addData(events(4))            // user 9: value 50 (insert)
    q.processAllAvailable()
    q.stop()
    val got = target.orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // user 7: tag kept from target ('seed'), value updated (last-writer
    // 12.0 by desc tiebreak); user 9 inserted whole
    assert(got.toSeq == Seq((7L, "seed", 12.0), (9L, "click", 50.0)))
  }

  test("foreachBatch path merge accumulates in the lake table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft_smerge") + "/t"
    val mem = MemoryStream[Event]
    val q = EventStreams.mergeStreamToPath(
      mem.toDF().selectExpr("user_id", "event_type AS tag", "value")
        .withColumn("part_mod", (col("user_id") % 2).cast("int")),
      dir, keys = Seq("user_id"), updateCols = Seq("value"),
      tiebreak = Seq(col("value").desc),
      partitionCols = Seq("part_mod")).start()
    mem.addData(events.take(2): _*)   // user 7: values 10, 12
    q.processAllAvailable()
    mem.addData(events(4))            // user 9: value 50 (insert)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(dir).orderBy("user_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("value")))
    // batch 1 creates the table (user 7 deduped to 12.0 by tiebreak);
    // batch 2 merges user 9 into the existing table
    assert(got.toSeq == Seq((7L, 12.0), (9L, 50.0)))
  }

  test("versioned sink commits one snapshot per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft_vsink") + "/t"
    val mem = MemoryStream[Event]
    val q = EventStreams.versionedSink(
      mem.toDF().selectExpr("event_id", "user_id", "value"), dir).start()
    mem.addData(events.take(2): _*)
    q.processAllAvailable() // batch 0 → v1
    mem.addData(events(4))
    q.processAllAvailable() // batch 1 → v2
    q.processAllAvailable() // empty batch → no version
    q.stop()
    val vs = graft.warehouse.Versioned.versions(spark, dir)
    assert(vs === Seq(1L, 2L))
    // snapshot isolation: v1 = first batch only; latest = both
    assert(graft.warehouse.Versioned.read(spark, dir, Some(1L))
      .select("event_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    assert(graft.warehouse.Versioned.read(spark, dir)
      .select("event_id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 5L))
  }

  test("compacting versioned sink bounds live segments and keeps data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft_vsinkc") + "/t"
    val mem = MemoryStream[Event]
    // compact every 3rd commit, retire history immediately: after 6
    // one-row batches the manifest must list far fewer than 6
    // segments and the latest snapshot must still hold every row
    val q = EventStreams.versionedSinkCompacting(
      mem.toDF().selectExpr("event_id", "user_id", "value"), dir,
      compactEvery = 3, smallerThanBytes = Long.MaxValue - 1,
      keepVersions = 1).start()
    events.take(6).foreach { e =>
      mem.addData(e)
      q.processAllAvailable()
    }
    q.stop()
    // commits v1-v3 → compact v4 + vacuum [4]; v5, v6 → compact v7 +
    // vacuum [7]; v8 — history stays bounded at every point
    val vs = graft.warehouse.Versioned.versions(spark, dir)
    assert(vs.size <= 2, s"history not bounded: $vs")
    val segs = graft.warehouse.Versioned.segments(spark, dir)
    assert(segs.size <= 3, s"live segments not bounded: $segs")
    assert(graft.warehouse.Versioned.read(spark, dir)
      .select("event_id").as[Long].collect().sorted.toSeq
      === events.take(6).map(_.event_id).sorted.toSeq)
  }

  test("stream-stream interval join correlates within the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val q = EventStreams.correlate(
        clicks.toDF().filter(col("event_type") === "click"),
        views.toDF().filter(col("event_type") === "view"),
        key = "user_id", within = "25 minutes")
      .selectExpr("event_id", "r_event_id")
      .writeStream.format("memory").queryName("corr")
      .outputMode(OutputMode.Append).start()
    clicks.addData(events: _*)
    views.addData(events: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("corr").orderBy("event_id", "r_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // user 7's view at 10:40 falls within 25 min of the 10:20 click
    // only (10:05 is 35 min earlier; 11:10 is after the view)
    assert(got.toSeq == Seq((2L, 3L)))
  }

  test("sessionization groups by inactivity gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = EventStreams.sessionize(mem.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Complete).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sessions").orderBy("user_id", "session_start")
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("n_events")))
    // user 7: 10:05/10:20/10:40/11:10 chain into one session (the
    // 11:10 event lands exactly on the 10:40+30min boundary, which
    // session_window treats as within-gap); user 9: two sessions
    assert(got.toSeq == Seq((7L, 4L), (9L, 1L), (9L, 1L)))
  }

  test("streaming incremental dedup folds each batch into durable " +
      "signature-sized state, append-only and replay-idempotent") {
    import spark.implicits._
    val dir = tmpDir("graft-deworm")
    val textA = "the quick brown fox jumps over the lazy dog today"
    val textB = "completely different words about soil and weather data"
    val textC = "a third text with nothing shared between the others"

    def state() = CorpusStreams.assignments(spark, dir)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

    // batch 1: 10 and 11 are near-dups; 12 distinct; 13 too short
    CorpusStreams.assignBatch(Seq(
      (10L, textA), (11L, textA + " extra"), (12L, textB), (13L, "hi"))
      .toDF("doc_id", "text"), dir)
    assert(state() == Seq((10L, 10L), (11L, 10L), (12L, 12L),
      (13L, 13L)))

    // batch 2: 20 duplicates batch-1's textA cluster (matched against
    // stored signatures, old docs never rescanned); 21 is new; 22+23
    // duplicate each other only -> fresh in-batch cluster
    CorpusStreams.assignBatch(Seq(
      (20L, textA), (21L, textC), (22L, textC + " shifted a bit"),
      (23L, textC + " shifted a bit more"))
      .toDF("doc_id", "text"), dir)
    val s2 = state()
    assert(s2.contains((20L, 10L)), s"20 should join cluster 10: $s2")
    assert(s2.contains((10L, 10L)) && s2.contains((11L, 10L)))
    // 21/22/23 share most shingles of textC -> one cluster rep 21
    assert(s2.contains((22L, 21L)) && s2.contains((23L, 21L)))

    // batch 3 replays doc 20 (at-least-once source) plus one new doc:
    // the replay is dropped, not reclustered
    CorpusStreams.assignBatch(Seq(
      (20L, textA), (30L, textB + " appended"))
      .toDF("doc_id", "text"), dir)
    val s3 = state()
    assert(s3.count(_._1 == 20L) === 1, "replayed doc assigned once")
    assert(s3.contains((30L, 12L)), s"30 should join textB cluster: $s3")
  }

  test("crash between state appends is replay-safe: signatures land " +
      "before assignments, so a half-written batch re-runs whole") {
    import spark.implicits._
    val dir = tmpDir("graft-decrash")
    val textA = "the quick brown fox jumps over the lazy dog today"
    CorpusStreams.assignBatch(
      Seq((100L, textA)).toDF("doc_id", "text"), dir)
    // simulate a crash after batch 2's signature append but before its
    // assignment append — with a new id SMALLER than the existing rep,
    // the adversarial case: if the orphan signature were allowed to
    // act as an "old" doc, id 5 would enter its own component
    // unshifted and steal the min from rep 100
    val b2 = Seq((5L, textA + " tail")).toDF("doc_id", "text")
    graft.analytics.Dedup.minHashSignature(b2, "doc_id", "text", 3, 32)
      .write.mode("append").parquet(s"$dir/signatures")
    // the replay still processes doc 5 (the gate is the assignment
    // table), its orphan signature is excluded from the OLD side (the
    // assignment table is the membership authority), and it joins the
    // existing cluster exactly as the no-crash run would
    CorpusStreams.assignBatch(b2, dir)
    val got = CorpusStreams.assignments(spark, dir).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((5L, 100L), (100L, 100L)))
  }

  test("compactState collapses per-batch append debris without " +
      "changing the state; a mid-swap crash recovers on next use") {
    import spark.implicits._
    val dir = tmpDir("graft-decompact")
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta",
      "one two three four five six seven",
      "red orange yellow green blue indigo violet")
    for ((t, i) <- texts.zipWithIndex)
      CorpusStreams.assignBatch(
        Seq((i.toLong, t)).toDF("doc_id", "text"), dir)
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
    }
    val before = CorpusStreams.assignments(spark, dir)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(parquetFiles(s"$dir/assignments") >= 3)
    CorpusStreams.compactState(spark, dir)
    assert(parquetFiles(s"$dir/assignments") === 1)
    assert(parquetFiles(s"$dir/signatures") === 1)
    val after = CorpusStreams.assignments(spark, dir)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(after.toSeq === before.toSeq)
    // simulate a crash between compactState's two renames: the
    // assignments dir is parked aside, target missing
    val fsPath = new org.apache.hadoop.fs.Path(s"$dir/assignments")
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = new org.apache.hadoop.fs.Path(dir,
      ".assignments__old__deadbeef")
    require(fs.rename(fsPath, aside))
    // the next batch restores the parked state first — doc 0 is a
    // replay and must be dropped, not re-ingested as new
    CorpusStreams.assignBatch(
      Seq((0L, texts(0)), (9L, "nine ten eleven twelve thirteen fourteen"))
        .toDF("doc_id", "text"), dir)
    val got = CorpusStreams.assignments(spark, dir)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.count(_._1 == 0L) === 1)
    assert(got.map(_._1).toSeq === Seq(0L, 1L, 2L, 9L))
  }

  test("ivfIngestStream appends new vectors to a frozen-codebook " +
      "index, idempotently under replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft-ivfstream")
    // seed index from an initial 16-dim batch corpus (deterministic
    // jitter keeps every vector distinct)
    val rnd = new scala.util.Random(7)
    val seed = (0L until 40L).map(i =>
      (i, Seq.tabulate(16)(d =>
        (if ((i % 4).toInt == d % 4) 1.0f else 0.1f) +
          (rnd.nextFloat() - 0.5f) * 0.05f)))
    graft.analytics.Similarity.buildIvfIndex(
      seed.toDF("vec_id", "embedding"), dir, k = 4, dim = 16,
      iterations = 1)
    assert(spark.read.parquet(s"$dir/cells").count() === 40L)
    // a direction present nowhere in the seed corpus
    val unique = Seq.tabulate(16)(d => if (d < 2) 1.0f else -1.0f)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = CorpusStreams.ivfIngestStream(
      mem.toDF().toDF("vec_id", "embedding"), dir).start()
    mem.addData((100L, unique), (101L, seed(1)._2))
    q.processAllAvailable()
    mem.addData((100L, unique), (102L, seed(2)._2)) // 100 replayed
    q.processAllAvailable()
    q.stop()
    val cells = spark.read.parquet(s"$dir/cells")
    assert(cells.count() === 43L, "3 distinct new vectors appended once")
    assert(cells.filter(col("neighbor_id") === 100L).count() === 1L)
    // the ingested unique vector is immediately findable by a query
    // landing in its cell
    val top = graft.analytics.Similarity.ivfTopKIndexed(spark, dir,
        Seq((999L, unique)).toDF("vec_id", "embedding"),
        k = 1, nprobe = 1)
      .collect()(0)
    assert(top.getLong(1) === 100L && top.getDouble(2) > 0.9999)
  }

  test("ivfIngestStream drops zero and non-finite vectors at ingest " +
      "(a NaN cosine would rank #1 in every descending top-k)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft-ivfgate")
    val seed = (0L until 20L).map(i =>
      (i, Seq.tabulate(16)(d => if ((i % 4).toInt == d % 4) 1.0f else 0.1f)))
    graft.analytics.Similarity.buildIvfIndex(
      seed.toDF("vec_id", "embedding"), dir, k = 4, dim = 16,
      iterations = 1)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = CorpusStreams.ivfIngestStream(
      mem.toDF().toDF("vec_id", "embedding"), dir).start()
    mem.addData(
      (200L, Seq.fill(16)(0.0f)),                       // zero vector
      (201L, Float.NaN +: Seq.fill(15)(1.0f)),          // NaN
      (202L, Float.PositiveInfinity +: Seq.fill(15)(1.0f)), // Inf
      (203L, Seq.tabulate(16)(d => if (d < 2) 1.0f else -1.0f))) // fine
    q.processAllAvailable()
    q.stop()
    val ingested = spark.read.parquet(s"$dir/cells")
      .filter(col("neighbor_id") >= 200L)
      .select("neighbor_id").collect().map(_.getLong(0)).sorted
    assert(ingested.toSeq === Seq(203L))
  }

  test("compactState purges replay-duplicate signature rows") {
    import spark.implicits._
    val dir = tmpDir("graft-sigdup")
    CorpusStreams.assignBatch(
      Seq((0L, "alpha beta gamma delta epsilon zeta"))
        .toDF("doc_id", "text"), dir)
    val sp = s"$dir/signatures"
    // simulate the residue of a crash-replayed batch: the identical
    // signature row appended a second time
    val dup = spark.read.parquet(sp)
    dup.write.mode("append").parquet(sp)
    assert(spark.read.parquet(sp).count() === 2L)
    CorpusStreams.compactState(spark, dir)
    assert(spark.read.parquet(sp).count() === 1L)
    assert(CorpusStreams.assignments(spark, dir).count() === 1L)
  }

  test("assignBatch reclaims only its own checkpoint scope: a " +
      "checkpointed frame held across the batch survives") {
    import spark.implicits._
    val sc = spark.sparkContext
    val base = Lineage.ensureCheckpointDir(sc)
    // a concurrent holder's checkpoint, taken BEFORE the batch runs
    val held = Seq(1, 2, 3).toDF("v").checkpoint(eager = true)
    val dir = tmpDir("graft-ckptscope")
    CorpusStreams.assignBatch(
      Seq((0L, "alpha beta gamma delta epsilon zeta"))
        .toDF("doc_id", "text"), dir)
    // session scope restored to the same root (setCheckpointDir mints
    // a fresh UUID leaf, so compare parents), the batch's private
    // sibling dir gone
    val root = new org.apache.hadoop.fs.Path(base).getParent
    assert(sc.getCheckpointDir.exists(d =>
        new org.apache.hadoop.fs.Path(d).getParent == root),
      s"checkpoint dir ${sc.getCheckpointDir} escaped root $root")
    val rootFiles = Option(new java.io.File(
      new java.net.URI(root.toString).getPath).listFiles())
      .toSeq.flatten.map(_.getName)
    assert(!rootFiles.exists(_.startsWith("batch-")),
      s"batch scope left behind in $rootFiles")
    // the held frame's checkpoint files were not reclaimed
    assert(held.collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 3))
  }

  test("a malformed batch fails before the checkpoint-dir redirect, " +
      "leaving the session scope untouched") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = Lineage.ensureCheckpointDir(sc)
    val dir = tmpDir("graft-badbatch")
    intercept[Exception] {
      // no `text` column — analysis must fail while the session scope
      // is still in force
      CorpusStreams.assignBatch(
        Seq((0L, 1)).toDF("doc_id", "not_text"), dir)
    }
    assert(sc.getCheckpointDir === Some(before),
      s"checkpoint dir moved: ${sc.getCheckpointDir} != $before")
  }

  test("dedupAssignStream drives assignBatch through foreachBatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft-destream")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = CorpusStreams.dedupAssignStream(docs, dir).start()
    mem.addData((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta eta"))
    q.processAllAvailable()
    mem.addData((3L, "alpha beta gamma delta epsilon zeta theta"))
    q.processAllAvailable()
    q.stop()
    val got = CorpusStreams.assignments(spark, dir)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }
}
