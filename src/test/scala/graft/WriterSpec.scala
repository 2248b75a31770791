package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.warehouse.{Merge, SkewJoin, Writer}

/** Physical-layout utilities: monthly partitioned writes with pruning,
  * salted joins equal to their plain form. */
class WriterSpec extends SparkSpec {
  import spark.implicits._

  test("W7 monthly partitioned write prunes at read time") {
    val dir = tmpDir("graft_part")
    val fact = Seq(
      (20240115, 1L, 5.0), (20240220, 2L, 6.0), (20250115, 3L, 7.0))
      .toDF("date_key", "location_key", "temp")
    Writer.writeMonthlyPartitioned(fact, "date_key", dir)
    // layout: part_year=YYYY/part_month=M directories
    val years = new java.io.File(dir).list().filter(_.startsWith("part_year="))
    assert(years.toSet == Set("part_year=2024", "part_year=2025"))

    var read: org.apache.spark.sql.DataFrame = null
    assert(jobsLaunchedBy { read = Writer.readPartitioned(spark, dir) } == 0)
    val pruned = read
      .filter(col("part_year") === 2024 && col("part_month") === 1)
    assert(pruned.count() == 1)
    // the partition filter must reach the scan, not a post-filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("part_year"))
  }

  test("compactionPlan: exclusive-prefix fill groups within one " +
      "file of target") {
    val files = Seq(
      // part "a": 5 files of 10 -> groups of ~25: prefix 0,10,20
      // land in bin 0; 30,40 in bin 1
      ("a", 1L, 10L), ("a", 2L, 10L), ("a", 3L, 10L),
      ("a", 4L, 10L), ("a", 5L, 10L),
      // part "b": one oversized file then a tiny one
      ("b", 1L, 60L), ("b", 2L, 5L)).toDF("p", "f", "bytes")
    val got = Writer.compactionPlan(files, "p", "f", "bytes", 25L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq === Seq(
      ("a", 0L, 3L, 30L, 1L, 3L),
      ("a", 1L, 2L, 20L, 4L, 5L),
      ("b", 0L, 1L, 60L, 1L, 1L),
      ("b", 2L, 1L, 5L, 2L, 2L)))
    // every file accounted for, per partition
    assert(got.filter(_._1 == "a").map(_._3).sum === 5L)
  }

  test("zoneMapAudit: closed-range pruning rule on hand-built zones") {
    // partitions: p1 values 0..9 (10 rows), p2 values 100..104
    // (5 rows), p3 value 50 only (2 rows)
    val rows = (0L to 9L).map(v => ("p1", v)) ++
      (100L to 104L).map(v => ("p2", v)) ++ Seq(("p3", 50L), ("p3", 50L))
    val got = Writer.zoneMapAudit(rows.toDF("p", "v"), "p", "v",
        Seq((0L, 9L), (10L, 49L), (50L, 100L), (200L, 300L)))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (0L, 9L, 3L, 2L, 7L),       // skips p2+p3
      (10L, 49L, 3L, 3L, 17L),    // nothing overlaps: all skipped
      (50L, 100L, 3L, 1L, 10L),   // p1 maxes at 9 < 50 -> skipped
      (200L, 300L, 3L, 3L, 17L)))
  }

  test("compactionPlan is partitioning-invariant and keyed by " +
      "stable file order") {
    val inv = (1 to 300).map(i =>
      (s"p${i % 7}", i.toLong, (i % 13 + 1) * 100L))
    val a = Writer.compactionPlan(inv.toDF("p", "f", "b"),
      "p", "f", "b", 1000L).collect().map(_.toSeq).toSeq
    val b = Writer.compactionPlan(inv.reverse.toDF("p", "f", "b")
        .repartition(11), "p", "f", "b", 1000L)
      .collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("bucketed tables join with zero exchanges") {
    val a = (1 to 1000).map(i => (i.toLong, i * 2)).toDF("k", "v")
    val b = (1 to 1000).map(i => (i.toLong, s"n$i")).toDF("k", "name")
    Writer.writeBucketed(a, "graft_bkt_a", Seq("k"), 4)
    Writer.writeBucketed(b, "graft_bkt_b", Seq("k"), 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_bkt_a")
        .join(spark.table("graft_bkt_b"), "k")
      assert(j.count() == 1000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    }
  }

  test("dynamic partition overwrite replaces only touched partitions") {
    val dir = tmpDir("graft_dyn")
    val day1 = Seq((20240101, 1L, 5.0), (20240102, 2L, 6.0))
      .toDF("date_key", "location_key", "temp")
      .withColumn("part_day", col("date_key"))
    Writer.overwritePartitions(day1, dir, Seq("part_day"))
    // reload day 2 only, with corrected data
    val day2fix = Seq((20240102, 2L, 99.0))
      .toDF("date_key", "location_key", "temp")
      .withColumn("part_day", col("date_key"))
    Writer.overwritePartitions(day2fix, dir, Seq("part_day"))
    val got = spark.read.parquet(dir).orderBy("date_key")
      .select("date_key", "temp").collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    assert(got.toSeq == Seq((20240101, 5.0), (20240102, 99.0)))
  }

  test("partition-scoped merge leaves untouched partitions byte-identical") {
    val dir = tmpDir("graft_pmerge")
    val target = Seq(
      (1L, 20240105, 5.0, "A"), (2L, 20240120, 6.0, "A"),
      (3L, 20240210, 7.0, "B"), (4L, 20240305, 8.0, "C"))
      .toDF("k", "date_key", "v", "status")
      .withColumn("part_month", (col("date_key") / 100 % 100).cast("int"))
    target.write.mode("overwrite").partitionBy("part_month").parquet(dir)
    def files(sub: String): Map[String, Seq[Byte]] =
      new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val before1 = files("part_month=1")
    val before3 = files("part_month=3")
    // the batch touches only month 2: update k=3 (v only), insert k=30
    val inc = Seq((3L, 20240210, 70.0, "IGNORED"), (30L, 20240215, 9.0, "N"))
      .toDF("k", "date_key", "v", "status")
      .withColumn("part_month", (col("date_key") / 100 % 100).cast("int"))
    def upsert(at: String, batch: org.apache.spark.sql.DataFrame): Int =
      jobsLaunchedBy(Merge.upsertPartitioned(spark, at, batch,
        keys = Seq("k"), updateCols = Seq("v"),
        tiebreak = Seq(col("status").desc), partitionCols = Seq("part_month")))
    // one single-stage collect of the touched months, then the merge
    // write: one exchange per side and the write itself
    assert(upsert(dir, inc) == 4)
    // untouched partitions: same files, same bytes
    assert(files("part_month=1") == before1)
    assert(files("part_month=3") == before3)
    // merged content: partial update on k=3 (status kept), insert k=30
    val got = spark.read.parquet(dir).orderBy("k")
      .select("k", "v", "status").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 5.0, "A"), (2L, 6.0, "A"),
      (3L, 70.0, "B"), (4L, 8.0, "C"), (30L, 9.0, "N")))
    // an empty batch on an existing target: every partition keeps its bytes
    val months = Seq("part_month=1", "part_month=2", "part_month=3")
    val beforeEmpty = months.map(files)
    upsert(dir, inc.filter(lit(false)))
    assert(months.map(files) == beforeEmpty)
    // first-load path: nonexistent target is written whole
    val fresh = tmpDir("graft_pmerge_f") + "/t"
    // a first load collects nothing: the dedup exchange and the write
    assert(upsert(fresh, inc) == 2)
    assert(spark.read.parquet(fresh).count() == 2)
    // empty first batch: no-op — must NOT create a data-less directory
    // that would poison later reads
    val none = tmpDir("graft_pmerge_e") + "/t"
    upsert(none, inc.filter(lit(false)))
    assert(!new java.io.File(none).exists())
    // and a later real batch still initializes the table
    upsert(none, inc)
    assert(spark.read.parquet(none).count() == 2)
  }

  test("atomic swap behaves as dynamic partition overwrite") {
    val dir = tmpDir("graft_atomdyn") + "/t"
    val day1 = Seq((20240101, 1L, 5.0), (20240102, 2L, 6.0))
      .toDF("date_key", "location_key", "temp")
      .withColumn("part_day", col("date_key"))
    Writer.overwritePartitionsAtomic(day1, dir, Seq("part_day"))
    val day2fix = Seq((20240102, 2L, 99.0))
      .toDF("date_key", "location_key", "temp")
      .withColumn("part_day", col("date_key"))
    Writer.overwritePartitionsAtomic(day2fix, dir, Seq("part_day"))
    val got = spark.read.parquet(dir).orderBy("date_key")
      .select("date_key", "temp").collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    assert(got.toSeq == Seq((20240101, 5.0), (20240102, 99.0)))
    // no staging/trash debris left beside the target after success
    val parent = new java.io.File(dir).getParentFile
    assert(parent.listFiles().map(_.getName).toSeq == Seq("t"))
  }

  test("atomic swap: an empty frame leaves no directory at a fresh path") {
    val base = tmpDir("graft_atomempty")
    val dir = base + "/t"
    val schema = Seq((20240101, 1L, 5.0))
      .toDF("date_key", "location_key", "temp")
      .withColumn("part_day", col("date_key"))
    Writer.overwritePartitionsAtomic(schema.limit(0), dir, Seq("part_day"))
    assert(new java.io.File(base).list().isEmpty,
      "an empty write left a data-less target or staging debris")
    Writer.overwritePartitionsAtomic(schema, dir, Seq("part_day"))
    val got = spark.read.parquet(dir).select("date_key", "temp").collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    assert(got.toSeq == Seq((20240101, 5.0)))
  }

  test("atomic swap: a batch failing mid-write leaves the target " +
      "byte-identical and readable") {
    val dir = tmpDir("graft_atomfail") + "/t"
    val init = Seq((1L, 20240105, 5.0, "A"), (2L, 20240210, 6.0, "B"))
      .toDF("k", "date_key", "v", "status")
      .withColumn("part_month", (col("date_key") / 100 % 100).cast("int"))
    Merge.upsertPartitioned(spark, dir, init, keys = Seq("k"),
      updateCols = Seq("v"), tiebreak = Seq(col("status").desc),
      partitionCols = Seq("part_month"))
    def snapshot(): Map[String, Seq[Byte]] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).map(f =>
        f.getPath -> java.nio.file.Files.readAllBytes(f.toPath).toSeq)
        .toMap
    }
    val before = snapshot()
    // the batch fails inside the write job (per-row raise_error), after
    // the partition-tuple collect and the target scan have succeeded —
    // the dangerous window for a non-staged writer
    val bad = Seq((1L, 20240106, 50.0, "A"), (9L, 20240215, 9.0, "X"))
      .toDF("k", "date_key", "v", "status")
      .withColumn("part_month", (col("date_key") / 100 % 100).cast("int"))
      .withColumn("v", when(col("k") === 9L,
        raise_error(lit("boom"))).otherwise(col("v")))
    intercept[Exception] {
      Merge.upsertPartitioned(spark, dir, bad, keys = Seq("k"),
        updateCols = Seq("v"), tiebreak = Seq(col("status").desc),
        partitionCols = Seq("part_month"))
    }
    assert(snapshot() == before, "target bytes changed by a failed write")
    val got = spark.read.parquet(dir).orderBy("k")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((1L, 5.0), (2L, 6.0)))
    // failed-before-swap staging is cleaned up; nothing visible beside
    // the target
    val parent = new java.io.File(dir).getParentFile
    assert(parent.listFiles().map(_.getName).toSeq == Seq("t"))
  }

  test("atomic swap: a partition parked by a crashed swap is restored " +
      "before the next merge reads the target") {
    val base = tmpDir("graft_atomrec")
    val dir = base + "/t"
    val init = Seq((1L, 20240105, 5.0, "A"), (2L, 20240210, 6.0, "B"))
      .toDF("k", "date_key", "v", "status")
      .withColumn("part_month", (col("date_key") / 100 % 100).cast("int"))
    Merge.upsertPartitioned(spark, dir, init, keys = Seq("k"),
      updateCols = Seq("v"), tiebreak = Seq(col("status").desc),
      partitionCols = Seq("part_month"))
    // simulate the narrowest crash window: partition month=1 went
    // aside to the trash dir but its replacement never landed
    val trash = new java.io.File(base, ".t__old__crashed")
    trash.mkdirs()
    assert(new java.io.File(dir, "part_month=1")
      .renameTo(new java.io.File(trash, "part_month=1")))
    assert(!new java.io.File(dir, "part_month=1").exists())
    // the next merge (touching only month 2) must first restore the
    // parked partition, then merge against the COMPLETE old state
    val inc = Seq((2L, 20240211, 60.0, "B"))
      .toDF("k", "date_key", "v", "status")
      .withColumn("part_month", (col("date_key") / 100 % 100).cast("int"))
    Merge.upsertPartitioned(spark, dir, inc, keys = Seq("k"),
      updateCols = Seq("v"), tiebreak = Seq(col("status").desc),
      partitionCols = Seq("part_month"))
    val got = spark.read.parquet(dir).orderBy("k")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((1L, 5.0), (2L, 60.0)))
    // debris is cleared
    assert(new java.io.File(base).listFiles().map(_.getName).toSeq ==
      Seq("t"))
  }

  test("debris recovery never touches a sibling table's debris") {
    val base = tmpDir("graft_atomsib")
    val dir = base + "/t"
    val init = Seq((1L, 20240105, 5.0, "A"))
      .toDF("k", "date_key", "v", "status")
      .withColumn("part_month", (col("date_key") / 100 % 100).cast("int"))
    Merge.upsertPartitioned(spark, dir, init, keys = Seq("k"),
      updateCols = Seq("v"), tiebreak = Seq(col("status").desc),
      partitionCols = Seq("part_month"))
    // a sibling table t__archive crashed mid-swap: its trash dir name
    // extends the target's — a prefix match would steal its partition
    // and delete its only recovery copy
    val foreign =
      new java.io.File(base, ".t__archive__old__abc123/part_month=9")
    foreign.mkdirs()
    new java.io.File(foreign, "part-0.parquet").createNewFile()
    val inc = Seq((1L, 20240106, 50.0, "A"))
      .toDF("k", "date_key", "v", "status")
      .withColumn("part_month", (col("date_key") / 100 % 100).cast("int"))
    Merge.upsertPartitioned(spark, dir, inc, keys = Seq("k"),
      updateCols = Seq("v"), tiebreak = Seq(col("status").desc),
      partitionCols = Seq("part_month"))
    assert(foreign.exists(), "sibling table's debris was deleted")
    assert(!new java.io.File(dir, "part_month=9").exists(),
      "sibling table's partition was restored into the wrong table")
  }

  test("atomic swap handles underscore-prefixed partition columns") {
    val dir = tmpDir("graft_atomus") + "/t"
    val df = Seq((1L, 5.0), (2L, 6.0)).toDF("k", "v")
      .withColumn("_day", col("k") + 100)
    Writer.overwritePartitionsAtomic(df, dir, Seq("_day"))
    val got = spark.read.parquet(dir)
    assert(got.count() == 2)
    assert(got.columns.contains("_day"))
  }

  test("compaction merges small files, leaves other partitions alone") {
    val dir = tmpDir("graft_compact")
    // month 1 written as many small files; month 2 as one
    val m1 = (1 to 100).map(i => (i.toLong, 1, i * 1.0))
      .toDF("k", "part_month", "v").repartition(8)
    val m2 = Seq((200L, 2, 5.0)).toDF("k", "part_month", "v")
    m1.unionByName(m2).write.mode("overwrite")
      .partitionBy("part_month").parquet(dir)
    def files(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files("part_month=1").length > 1)
    val m2Before = files("part_month=2")
      .map(f => f.getName ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    Writer.compactPartitions(spark, dir, Seq("part_month"),
      col("part_month") === 1)
    assert(files("part_month=1").length == 1)
    // untouched partition byte-identical
    assert(files("part_month=2").map(f => f.getName ->
      java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap == m2Before)
    // data intact
    val got = spark.read.parquet(dir)
    assert(got.count() == 101)
    assert(got.filter(col("part_month") === 1)
      .agg(sum(col("v"))).collect()(0).getDouble(0) == 5050.0)
  }

  test("partition-scoped merge handles null partition values") {
    val dir = tmpDir("graft_pmerge_n") + "/t"
    val target = Seq((1L, Some(1), 5.0), (2L, None, 6.0), (3L, Some(2), 7.0))
      .toDF("k", "part_m", "v")
    Merge.upsertPartitioned(spark, dir, target, keys = Seq("k"),
      updateCols = Seq("v"), tiebreak = Seq(col("v").desc),
      partitionCols = Seq("part_m"))
    // batch touches ONLY the null partition (the <=> comparison must
    // match it; a plain === would silently never match)
    val inc = Seq((2L, None: Option[Int], 60.0), (20L, None: Option[Int], 8.0))
      .toDF("k", "part_m", "v")
    Merge.upsertPartitioned(spark, dir, inc, keys = Seq("k"),
      updateCols = Seq("v"), tiebreak = Seq(col("v").desc),
      partitionCols = Seq("part_m"))
    val got = spark.read.parquet(dir).orderBy("k").select("k", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == Seq((1L, 5.0), (2L, 60.0), (3L, 7.0), (20L, 8.0)))
  }

  test("z-order key interleaves bits; layout clusters both dims") {
    // interleave(3, 5): a=0b011, b=0b101 → z = 0b100111 = 39
    val z = eval(Writer.zorderKey(lit(3L), lit(5L), bits = 4))
    assert(z == 39L)
    // locality: sorting by z groups a 2x2 tile together
    val df = (for (a <- 0 until 8; b <- 0 until 8) yield (a, b))
      .toDF("a", "b")
      .withColumn("z", Writer.zorderKey(col("a"), col("b"), 3))
    val tile = df.filter(col("a") < 2 && col("b") < 2)
      .agg(max("z")).collect()(0).getLong(0)
    assert(tile == 3L) // the 2x2 origin tile owns the 4 smallest keys
  }

  test("salted join equals plain join row-for-row") {
    // skewed left: one hot key
    val left = (1 to 500).map(i => (if (i % 5 == 0) 1L else i.toLong, i))
      .toDF("k", "v")
    val right = Seq((1L, "hot"), (2L, "a"), (7L, "b")).toDF("k", "name")
    val plain = left.join(right, Seq("k")).orderBy("k", "v", "name")
    val salted = SkewJoin.saltedInnerJoin(left, right, Seq("k"), 8)
      .select(plain.columns.map(col): _*).orderBy("k", "v", "name")
    assert(salted.collect().toSeq == plain.collect().toSeq)
  }

  test("JSONL export round-trips rows and shards deterministically") {
    val dir = tmpDir("graft-jsonl")
    val docs = Seq(
      (0L, "alpha beta", "en"),
      (1L, "gamma \"quoted\" text", "en"),
      (2L, null.asInstanceOf[String], "de"),
      (9L, "tab\there", "fr")).toDF("doc_id", "text", "lang")
    val back = Writer.exportJsonlSharded(docs, "doc_id", dir, shards = 4)
    val got = back.orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got === Seq(
      (0L, "alpha beta", "en", 0L),
      (1L, "gamma \"quoted\" text", "en", 1L),
      (2L, null, "de", 2L),
      (9L, "tab\there", "fr", 1L)))
    // shards materialize as partition directories
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(shardDirs.toSeq === Seq("shard=0", "shard=1", "shard=2"))
  }

  test("readEvolved: added columns surface as nulls on old batches") {
    val dir = tmpDir("graft_evolve")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$dir/batch=1")
    Seq((3L, "c", 9.5)).toDF("id", "v", "score")
      .write.parquet(s"$dir/batch=2")
    val all = Writer.readEvolved(spark, dir).orderBy("id")
    assert(all.columns.toSet === Set("id", "v", "score", "batch"))
    val rows = all.collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows(0).isNullAt(rows(0).fieldIndex("score")))
    assert(rows(2).getDouble(rows(2).fieldIndex("score")) === 9.5)
    // plain read (no mergeSchema) picks ONE footer and can silently
    // drop the evolved column — the failure mode readEvolved closes
    val plain = spark.read.parquet(dir)
    assert(plain.columns.length <= all.columns.length)
  }

  test("zorderKey: hand-computed bit interleave") {
    def m(a: Long, b: Long): Long =
      spark.range(1).select(Writer.zorderKey(lit(a), lit(b)).as("z"))
        .collect()(0).getLong(0)
    assert(m(0L, 0L) === 0L)
    assert(m(1L, 0L) === 1L)  // a's bit 0 → position 0
    assert(m(0L, 1L) === 2L)  // b's bit 0 → position 1
    // a=3 (bits 0,1 → pos 0,2), b=5 (bits 0,2 → pos 1,5): 1+4+2+32
    assert(m(3L, 5L) === 39L)
    assert(m(65535L, 65535L) === 0xFFFFFFFFL)
    // inputs wider than 16 bits are masked, not wrapped into garbage
    assert(m(65536L, 0L) === 0L)
  }

  test("writeZOrdered: files carry narrow min/max envelopes in BOTH dims") {
    // 256×256 uniform grid in row-major order: linear layouts cluster
    // one dimension and span the other end to end
    val grid = spark.range(65536).select(
      (col("id") % 256).as("x"), (col("id") / 256).cast("long").as("y"))
    val dir = tmpDir("graft_zorder")
    Writer.writeZOrdered(grid, "x", "y", s"$dir/z", partitions = 16)
    grid.repartitionByRange(16, col("y"), col("x"))
      .sortWithinPartitions("y", "x")
      .write.parquet(s"$dir/linear")
    def meanEnvelope(p: String): (Double, Double) = {
      val r = spark.read.parquet(p)
        .groupBy(input_file_name().as("f"))
        .agg((max("x") - min("x")).as("ex"), (max("y") - min("y")).as("ey"))
        .agg(avg("ex"), avg("ey")).collect()(0)
      (r.getDouble(0), r.getDouble(1))
    }
    val (zx, zy) = meanEnvelope(s"$dir/z")
    val (lx, ly) = meanEnvelope(s"$dir/linear")
    // z-order: each of 16 files ≈ a 2-D block — both envelopes well
    // under the full 255 extent (ideal alignment would give ~64–128)
    assert(zx < 160 && zy < 160, s"z-order envelopes too wide: $zx × $zy")
    // linear layout: y is clustered but x spans the full width, so a
    // filter on x alone can skip nothing
    assert(lx > 240, s"baseline x envelope unexpectedly narrow: $lx")
    assert(ly < 32)
  }

  test("tokenBalancedShards: two-phase equals the naive global prefix") {
    import graft.warehouse.Writer
    val docs = (1L to 40L).map(i => (i, 1L + i % 7)).toDF("doc_id", "toks")
    val got = Writer.tokenBalancedShards(docs, "doc_id", "toks",
        shardTokens = 13L, buckets = 4)
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    // naive replay: order by (bucket, md5(id), id), exclusive cumsum
    def h30(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d, 16) % graft.analytics.Dedup.P
    }
    def md5(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes)
      .map("%02x".format(_)).mkString
    val ordered = (1L to 40L).sortBy(i =>
      (h30(i.toString) % 4, md5(i.toString), i))
    var pre = 0L
    val want = ordered.map { i =>
      val s = pre / 13L; pre += 1L + i % 7; i -> s
    }.toMap
    assert(got === want)
  }

  test("tokenBalancedShards: shards are token-balanced, id%S is not") {
    import graft.warehouse.Writer
    // long docs on even ids: id-mod sharding piles tokens on shard 0
    val docs = (1L to 100L).map(i =>
      (i, if (i % 2 == 0) 100L else 1L)).toDF("doc_id", "toks")
    val shards = Writer.tokenBalancedShards(docs, "doc_id", "toks",
        shardTokens = 1000L, buckets = 4)
      .groupBy("shard").agg(sum("toks").as("t"))
      .select("t").as[Long].collect().sorted
    // every full shard carries ~shardTokens; only the single
    // remainder shard may be light (sorted ascending -> drop head)
    assert(shards.max <= 1100L, s"overfull: ${shards.mkString(",")}")
    assert(shards.sorted.tail.forall(_ >= 900L),
      s"unbalanced: ${shards.mkString(",")}")
  }

  test("tokenBalancedShardsAppend: append-only, fills the tail shard") {
    import graft.warehouse.Writer
    val old = (1L to 10L).map((_, 7L)).toDF("doc_id", "toks")
    val nw = (11L to 14L).map((_, 7L)).toDF("doc_id", "toks")
    val oldA = Writer.tokenBalancedShards(old, "doc_id", "toks", 20L, 4)
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    // appending must not move any existing assignment (same call is
    // deterministic) and new docs start at base = 70 -> shard 3 first
    val newA = Writer.tokenBalancedShardsAppend(nw, "doc_id", "toks",
        20L, 4, baseTokens = 70L)
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    assert(oldA.values.max === 3L) // 70 tokens / 20 -> shards 0..3
    // first new doc (in hash order) lands in the partial shard 3
    assert(newA.values.min === 3L)
    assert(newA.values.max >= 4L) // batch spills into fresh shards
    // re-running the old assignment after the append is byte-stable
    val oldA2 = Writer.tokenBalancedShards(old, "doc_id", "toks", 20L, 4)
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    assert(oldA === oldA2)
  }
}
