package graftbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.warehouse.{Merge, Versioned}

/** The daily load as direct `graft.warehouse` calls on fresh paths.
  *
  * Per pass: `events` is committed to a `Versioned` lake in
  * [[LakeIngest.Batches]] micro-batches (batch of a row =
  * `(event_id * 7919 + seed) % Batches`, integer arithmetic DuckDB
  * computes identically), with `maintain` after every
  * [[LakeIngest.MaintainEvery]]th commit, a time-travel read of
  * version latest-2 at commit 3 mod 4 and a snapshot read after the
  * last maintain. After every odd commit and every maintain, `orders`
  * goes into a monthly-partitioned fact: one first load of the keys
  * not divisible by 3, then one `Merge.upsertPartitioned` batch per
  * month of one year (chosen by the seed). Every call is one
  * operation: 4 commits, 1 maintain, 2 reads, 3 upserts. The two
  * monthly upserts rank 8th and 9th of every 10 operations by
  * latency, so the p75 falls inside their cluster, not on its edge,
  * and the median inside the commits'.
  *
  * The checking pass records what `perfbench/check.py` compares with
  * DuckDB: every read's per-`event_type` count and exact-decimal sum
  * with the number of batches it should cover, the manifests retained
  * after each maintain, and the files of every partition an upsert did
  * not touch, hashed before and after it.
  */
final class LakeIngest(run: PerfBench.Run, data: String, seed: Long)
    extends Workload {
  import LakeIngest._

  private val spark = run.spark
  private val factYear = 1996 + java.lang.Math.floorMod(seed, 5L).toInt
  private var passNo = 0
  private val facts = ArrayBuffer.empty[String]

  /** Parquet bytes committed, and stored after each pass's last
    * maintain, summed over the unchecked passes of a traced run. */
  var committedBytes = 0L
  var storedBytes = 0L

  private def events: DataFrame = Tables.load(spark, data, "events")
    .select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
  private def batchOf: org.apache.spark.sql.Column =
    (col("event_id") * 7919L + seed) % Batches.toLong

  private def fact: DataFrame = Tables.load(spark, data, "orders").select(
    col("o_orderkey"),
    date_format(col("o_orderdate"), "yyyyMMdd").cast("int").as("date_key"),
    year(col("o_orderdate")).as("part_year"),
    month(col("o_orderdate")).as("part_month"),
    col("o_totalprice"), col("o_orderstatus"))

  def pass(check: Boolean, fail: (String, Throwable) => Unit): Unit = {
    passNo += 1
    val root = run.out.resolve(if (check) "check" else "work")
      .resolve(s"pass-$passNo")
    val lake = root.resolve("events_lake").toString
    val factPath = root.resolve("orders_fact").toString
    // version -> number of batches its snapshot holds
    val batchesAt = scala.collection.mutable.Map.empty[Long, Int]
    var latest = 0L
    var committed = 0
    def op(name: String, call: String)(body: => Unit): Unit =
      try run.span(name, "op")(run.span(name, call)(body))
      catch { case e: Exception => fail(name, e) }

    def read(name: String, version: Option[Long]): Unit = op(name,
        "Versioned.read") {
      val rows = Versioned.read(spark, lake, version)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).as("total"))
        .collect()
      if (check) facts += Json.obj(
        "kind" -> Json.str("read"), "op" -> Json.str(name),
        "batches" -> Json.num(batchesAt(version.getOrElse(latest))),
        "rows" -> Json.arr(rows.toSeq.sortBy(_.getString(0)).map(r =>
          Json.arr(Seq(Json.str(r.getString(0)), Json.num(r.getLong(1)),
            Json.str(r.getDecimal(2).toPlainString))))))
    }

    val upserts: Seq[(String, Option[Int], DataFrame)] =
      ("upsert_first_load", None,
        fact.where(col("o_orderkey") % 3L =!= 0L)) +:
      (1 to Months).map { m =>
        ("upsert_month", Some(m), fact
          .where(col("part_year") === factYear && col("part_month") === m)
          .select(col("o_orderkey"), col("date_key"), col("part_year"),
            col("part_month"), (col("o_totalprice") + 100.0).as("o_totalprice"),
            lit("RELOADED").as("o_orderstatus")))
      }
    val upsertIter = upserts.iterator

    def upsert(): Unit = if (upsertIter.hasNext) {
      val (name, month, batch) = upsertIter.next()
      val before: Map[String, String] =
        if (check) partitionHashes(factPath) else Map.empty
      op(name, "Merge.upsertPartitioned") {
        Merge.upsertPartitioned(spark, factPath, batch,
          keys = Seq("o_orderkey"),
          updateCols = Seq("o_totalprice", "o_orderstatus"),
          tiebreak = Seq(col("date_key").desc),
          partitionCols = Seq("part_year", "part_month"))
      }
      if (check) {
        val touched = month.map(m => s"part_year=$factYear/part_month=$m")
        val after = partitionHashes(factPath)
        val changed = before.keys.filterNot(touched.contains)
          .count(p => !after.get(p).contains(before(p)))
        facts += Json.obj("kind" -> Json.str("upsert"), "op" -> Json.str(name),
          "untouched_changed" -> Json.num(changed),
          "untouched" -> Json.num(before.keys.count(p => !touched.contains(p))))
      }
    }

    for (c <- 1 to Batches) {
      val dataDir = root.resolve("events_lake").resolve("data")
      val bytesBefore = if (run.trace) parquetBytes(dataDir) else 0L
      op("commit", "Versioned.commit") {
        latest = Versioned.commit(
          events.where(batchOf === (c - 1).toLong), lake)
        committed += 1
        batchesAt(latest) = committed
      }
      if (run.trace && !check)
        committedBytes += parquetBytes(dataDir) - bytesBefore
      if (c % 2 == 1) upsert()
      if (c % MaintainEvery == 3) read("read_time_travel", Some(latest - 2))
      if (c % MaintainEvery == 0) {
        op("maintain", "Versioned.maintain") {
          latest = Versioned.maintain(spark, lake,
            smallerThanBytes = SmallSegmentBytes, keepLast = KeepLast)._1
          batchesAt(latest) = committed
        }
        if (check) facts += Json.obj("kind" -> Json.str("maintain"),
          "op" -> Json.str("maintain"),
          "manifests" -> Json.num(manifests(root.resolve("events_lake"))),
          "keep_last" -> Json.num(KeepLast))
        upsert()
      }
    }
    read("read_snapshot", None)
    if (run.trace && !check)
      storedBytes += parquetBytes(root.resolve("events_lake").resolve("data"))
    if (check) facts += Json.obj("kind" -> Json.str("fact"),
      "op" -> Json.str("upsert_month"), "path" -> Json.str(factPath),
      "year" -> Json.num(factYear), "months" -> Json.num(Months))
  }

  override def cleanup(check: Boolean): Unit =
    if (!check) deleteTree(run.out.resolve("work"))

  override def checkFacts: String = Json.obj(
    "seed" -> Json.num(seed), "batches" -> Json.num(Batches),
    "facts" -> Json.arr(facts.toSeq))
}

object LakeIngest {
  val Batches = 4
  val MaintainEvery = 4
  val KeepLast = 3
  val Months = 2
  /** Compaction threshold: every micro-batch segment (about 2,500
    * rows at sf 0.01) falls below it. */
  val SmallSegmentBytes: Long = 256L * 1024

  private def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def parquetBytes(dir: Path): Long =
    files(dir).filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum

  /** Manifests retained in a `Versioned` lake, counted on disk. */
  def manifests(lake: Path): Int =
    files(lake.resolve("_versions"))
      .count(_.getFileName.toString.matches("v\\d+\\.list"))

  /** partition dir -> digest of its (file name, content) pairs. */
  def partitionHashes(factPath: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(factPath)
    files(root).filterNot(_.getFileName.toString.startsWith("."))
      .filterNot(p => root.relativize(p).toString.startsWith("_"))
      .groupBy(p => root.relativize(p.getParent).toString)
      .map { case (part, fs) =>
        val md = MessageDigest.getInstance("SHA-256")
        fs.sortBy(_.getFileName.toString).foreach { f =>
          md.update(f.getFileName.toString.getBytes("UTF-8"))
          md.update(Files.readAllBytes(f))
        }
        part -> md.digest().map("%02x".format(_)).mkString
      }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}
