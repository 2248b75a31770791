package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs, plus single-value evaluation
  * helpers. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session
  import org.apache.spark.sql.functions._

  /** A spec-scoped temp directory under the per-JVM
    * [[graft.util.Scratch]] root, so the root's exit hook reclaims it
    * with everything else the test JVM wrote. */
  def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.util.Scratch.root), tag).toString

  /** Evaluate a Column over a single empty row. */
  def eval(c: Column): Any =
    spark.range(1).select(c.as("v")).collect()(0).get(0)

  /** Evaluate a Column over one row with a string input column `s`. */
  def evalStr(input: String, f: Column => Column): Any = {
    import spark.implicits._
    Seq(input).toDF("s").select(f(col("s")).as("v")).collect()(0).get(0)
  }

  /** Evaluate a Column over one row with a double input column `x`. */
  def evalNum(input: java.lang.Double, f: Column => Column): Any = {
    import spark.implicits._
    Seq(Option(input).map(_.doubleValue)).toDF("x")
      .select(f(col("x")).as("v")).collect()(0).get(0)
  }
}

object SparkSpec {
  /** Pinned at `local[4]` so specs see the same partitioning on any
    * machine. */
  lazy val session: SparkSession = graft.util.Session.build(cores = 4)
}
