package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loader-contract spec: `Tables.load` must dispatch on the schema it
  * actually read (the driver regenerated `/root/testdata` mid-run once,
  * flipping `events.ts` from TIMESTAMP(NANOS) to `timestamp[us]`, which
  * silently broke 22 queries in round 10) and must fail with one
  * diagnosable error naming table/column/type when the corpus drifts to
  * a shape the engine cannot normalize.
  */
class TablesSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private val eventCols =
    Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  /** Write `df` in the corpus layout: one parquet FILE at
    * `$dir/$name.parquet` (the single part file of a `coalesce(1)`
    * write, moved there), replacing any file already at that path. */
  private def writeCorpusFile(df: DataFrame, dir: String,
      name: String): Unit = {
    val staged = s"${tmpDir(s"graft-stage-$name")}/out"
    df.coalesce(1).write.parquet(staged)
    val parts = new java.io.File(staged).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    assert(parts.length == 1, parts.toSeq)
    Files.move(parts(0).toPath, Paths.get(s"$dir/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("events loads from the driver corpus with ts as session-UTC TimestampType") {
    val ev = Tables.load(spark, sfDir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.count() > 0)
  }

  test("events with raw nanos longs (pre-regeneration encoding) converts to the same instants") {
    import spark.implicits._
    val dir = tmpDir("graft-nanos-events")
    // 2021-03-02T01:02:03.123456789 UTC as epoch nanos; micros floor-truncates
    val nanos = 1614646923123456789L
    Seq((1L, nanos, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = Tables.load(spark, dir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    val got = ev.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .as[String].head()
    assert(got == "2021-03-02 01:02:03.123456")
  }

  test("events with an un-normalizable ts type fails with a named, single error") {
    import spark.implicits._
    val dir = tmpDir("graft-bad-events")
    Seq((1L, "2021-03-02", 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables.load(spark, dir, "events")
    }
    assert(e.getMessage.contains("events.ts"))
    assert(e.getMessage.contains("StringType"))
  }

  test("nanosAsLong left set by loadEvents does not disturb later reads") {
    import spark.implicits._
    // the loader's documented contract: the legacy conf stays set on
    // the session (the lazy events scan re-consults it at execution
    // time) and is a NO-OP for every non-nanos file — prove both by
    // reading a normal micros-timestamp parquet after an events load
    Tables.load(spark, sfDir, "events").count()
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val dir = tmpDir("graft-post-events-read")
    val t = java.sql.Timestamp.valueOf("2022-05-01 10:20:30.123456")
    Seq((1L, t)).toDF("id", "when")
      .write.mode("overwrite").parquet(s"$dir/plain.parquet")
    val back = spark.read.parquet(s"$dir/plain.parquet")
    // an ordinary timestamp column still reads as a timestamp (NOT
    // raw longs) with the same instant
    assert(back.schema("when").dataType.isInstanceOf[TimestampType] ||
      back.schema("when").dataType.isInstanceOf[TimestampNTZType])
    assert(back.select(col("when").cast(TimestampType)).as[java.sql.Timestamp]
      .head() == t)
  }

  test("a table missing an expected column fails naming the table and column") {
    import spark.implicits._
    val df = Seq((1, "EUROPE")).toDF("r_regionkey", "r_wrong_name")
    val e = intercept[IllegalArgumentException] {
      Tables.assertSchema("region", df)
    }
    assert(e.getMessage.contains("'region'"))
    assert(e.getMessage.contains("'r_name'"))
  }

  test("a table with a drifted column type fails naming the found type") {
    import spark.implicits._
    val df = Seq(("1", "EUROPE")).toDF("r_regionkey", "r_name")
    val e = intercept[IllegalArgumentException] {
      Tables.assertSchema("region", df)
    }
    assert(e.getMessage.contains("'r_regionkey'"))
    assert(e.getMessage.contains("string"))
  }

  test("every driver corpus table passes the schema assertion") {
    Tables.names.foreach { t =>
      val df = Tables.load(spark, sfDir, t)
      assert(df.columns.nonEmpty, t)
    }
  }

  test("a second load of an unchanged corpus file launches no job and " +
      "returns an equal schema") {
    import spark.implicits._
    val dir = tmpDir("graft-cached-region")
    writeCorpusFile(Seq((1L, "EUROPE"), (2L, "ASIA"))
      .toDF("r_regionkey", "r_name"), dir, "region")
    var first: DataFrame = null
    val inferJobs = jobsLaunchedBy { first = Tables.load(spark, dir, "region") }
    // positive control: the first load infers through exactly one job
    assert(inferJobs === 1)
    var second: DataFrame = null
    val cachedJobs = jobsLaunchedBy {
      second = Tables.load(spark, dir, "region")
    }
    assert(cachedJobs === 0, s"cached load launched $cachedJobs jobs")
    assert(second.schema === first.schema)
    assert(second.orderBy("r_regionkey").collect().toSeq ===
      first.orderBy("r_regionkey").collect().toSeq)
  }

  test("events.parquet rewritten in place from raw nanos longs to " +
      "timestamp[us] is re-inferred and keeps its instants") {
    import spark.implicits._
    val dir = tmpDir("graft-rewritten-events")
    val micros = 1614646923123456L // 2021-03-02T01:02:03.123456 UTC
    def instants(ev: DataFrame): Seq[Long] =
      ev.select(unix_micros(col("ts"))).as[Long].collect().toSeq
    writeCorpusFile(Seq((1L, micros * 1000L + 789L, 7L, "click", 1.0, "{}"))
      .toDF(eventCols: _*), dir, "events")
    val before = Tables.load(spark, dir, "events")
    assert(before.schema("ts").dataType == TimestampType)
    assert(instants(before) === Seq(micros))
    // the regeneration that once broke 22 queries: the same instant as
    // parquet timestamp[us] without a zone (read as TIMESTAMP_NTZ)
    writeCorpusFile(Seq((1L, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts",
        timestamp_micros(lit(micros)).cast(TimestampNTZType))
      .select(eventCols.map(col): _*), dir, "events")
    var after: DataFrame = null
    val jobs = jobsLaunchedBy { after = Tables.load(spark, dir, "events") }
    assert(jobs >= 1, "the rewritten file was served a cached schema")
    assert(after.schema("ts").dataType == TimestampType)
    assert(instants(after) === Seq(micros))
  }

  test("a corpus file rewritten with a drifted column type still fails " +
      "the named schema assertion") {
    import spark.implicits._
    val dir = tmpDir("graft-drifted-region")
    writeCorpusFile(Seq((1L, "EUROPE")).toDF("r_regionkey", "r_name"),
      dir, "region")
    Tables.load(spark, dir, "region")
    writeCorpusFile(Seq(("1", "EUROPE")).toDF("r_regionkey", "r_name"),
      dir, "region")
    val e = intercept[IllegalArgumentException] {
      Tables.load(spark, dir, "region")
    }
    assert(e.getMessage.contains("'region'"))
    assert(e.getMessage.contains("'r_regionkey'"))
    assert(e.getMessage.contains("string"))
  }

  test("a directory path is inferred on every load, as before the " +
      "schema cache") {
    import spark.implicits._
    val dir = tmpDir("graft-dir-region")
    val rows = Seq((1L, "EUROPE"), (2L, "ASIA")).toDF("r_regionkey", "r_name")
    rows.write.parquet(s"$dir/region.parquet")
    val first = Tables.load(spark, dir, "region")
    var second: DataFrame = null
    val jobs = jobsLaunchedBy { second = Tables.load(spark, dir, "region") }
    // a directory's mtime does not track its files, so it is never cached
    assert(jobs >= 1)
    assert(second.schema === first.schema)
    assert(second.orderBy("r_regionkey").collect().toSeq ===
      rows.orderBy("r_regionkey").collect().toSeq)
  }
}
