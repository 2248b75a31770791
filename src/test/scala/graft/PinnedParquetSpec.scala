package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}

import graft.util.PinnedParquet
import graft.warehouse.{Versioned, Writer}

/** A footer-pinned read has the schema and rows of the inferred read
  * it replaces, and fails where that read fails. */
class PinnedParquetSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertParity(paths: String*): Unit = {
    var pinned: DataFrame = null
    assert(jobsLaunchedBy { pinned = PinnedParquet.read(spark, paths: _*) } == 0)
    val inferred = spark.read.parquet(paths: _*)
    assert(pinned.schema == inferred.schema)
    assert(rows(pinned) == rows(inferred))
  }

  test("a Versioned lake whose later commit adds a column") {
    val lake = tmpDir("pin_lake") + "/t"
    Versioned.commit(Seq((1L, "a")).toDF("id", "v"), lake): Unit
    Versioned.commit(Seq((2L, "b", 2.5)).toDF("id", "v", "x"), lake): Unit
    val segs = Versioned.segments(spark, lake).map(rel => s"$lake/$rel")
    // the first data file decides, whatever order the paths come in
    assertParity(segs: _*)
    assertParity(segs.reverse: _*)
    assert(Versioned.read(spark, lake).schema ==
      spark.read.parquet(segs: _*).schema)
  }

  test("a partitioned fact with a null partition value") {
    val dir = tmpDir("pin_part") + "/t"
    Seq((1L, Some(1), 5.0), (2L, None, 6.0), (3L, Some(2), 7.0))
      .toDF("k", "part_m", "v")
      .write.partitionBy("part_m").parquet(dir)
    assertParity(dir)
    assert(PinnedParquet.read(spark, dir).schema.fieldNames.toSeq ==
      Seq("k", "v", "part_m"))
  }

  test("timestamp_ntz, decimal(18,2) and date columns") {
    val dir = tmpDir("pin_types") + "/t"
    spark.sql("SELECT CAST(id AS BIGINT) AS id, " +
        "TIMESTAMP_NTZ'2024-01-02 03:04:05' + make_interval(0, 0, 0, 0, " +
        "CAST(id AS INT)) AS ts, CAST(id * 1.25 AS DECIMAL(18,2)) AS amt, " +
        "date_add(DATE'2024-01-31', CAST(id AS INT)) AS d FROM range(3)")
      .write.parquet(dir)
    assertParity(dir)
    assert(PinnedParquet.read(spark, dir).schema.map(_.dataType.simpleString)
      == Seq("bigint", "timestamp_ntz", "decimal(18,2)", "date"))
  }

  test("a directory holding only _SUCCESS fails as the inferred read does") {
    val dir = tmpDir("pin_empty") + "/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "_SUCCESS"))
    val today = intercept[AnalysisException](spark.read.parquet(dir))
    val pinned = intercept[AnalysisException](PinnedParquet.read(spark, dir))
    val partitioned =
      intercept[AnalysisException](Writer.readPartitioned(spark, dir))
    assert(today.getCondition != null)
    assert(Seq(pinned, partitioned).map(_.getCondition) ==
      Seq(today.getCondition, today.getCondition))
  }
}
