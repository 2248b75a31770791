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

  /** Spark jobs launched by `body`. The body runs under a fresh
    * local property tag (inherited by any thread it starts), then a
    * sentinel job runs under a second tag. The listener bus delivers
    * job starts in order, so once the sentinel is observed BY ITS TAG
    * every job the body started has been delivered; the count is the
    * body-tagged jobs seen before it. Jobs of other threads carry no
    * tag and are not counted. */
  def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobCount"
    val tag = java.util.UUID.randomUUID().toString
    val sentinel = s"$tag/sentinel"
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(key)).orNull match {
          case `sentinel` => seen.countDown()
          case `tag` if seen.getCount > 0 => counted.incrementAndGet(): Unit
          case _ => ()
        }
    }
    val prior = sc.getLocalProperty(key)
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(key, tag)
      body
      sc.setLocalProperty(key, sentinel)
      sc.parallelize(Seq(1), 1).count(): Unit
      assert(seen.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "sentinel job never observed")
      counted.get()
    } finally {
      sc.setLocalProperty(key, prior)
      sc.removeSparkListener(l)
    }
  }

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
