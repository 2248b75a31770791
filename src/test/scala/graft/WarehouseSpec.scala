package graft

import org.apache.spark.sql.functions._
import graft.warehouse.{AuditLog, DateDim, Idempotency, Merge, Scd2}

/** Merge/SCD2/date-dim/audit semantics (SURVEY §2.1 S10–S15, §2.4 W6,
  * §2.5 J6). */
class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  test("mergeAggStates: merge of split aggregates equals the full " +
      "recompute, including one-sided keys") {
    val rows = Seq(("a", 1.0, 10L), ("a", 2.5, 20L), ("b", 4.0, 5L),
      ("c", 7.0, 9L), ("a", 0.5, 30L))
    def aggOf(xs: Seq[(String, Double, Long)]) =
      xs.toDF("k", "v", "t").groupBy("k")
        .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum"),
          max(col("t")).as("mx"))
    // split so key b is only pre-side and c only delta-side
    val merged = Merge.mergeAggStates(
        aggOf(rows.take(3)), aggOf(rows.drop(3)), Seq("k"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    val full = aggOf(rows)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(merged === full)
    assert(merged("b") === ((1L, 4.0, 5L)) &&
      merged("c") === ((1L, 7.0, 9L)))
  }

  test("J6 upsert: partial update, insert, passthrough") {
    val target = Seq((Some(1), "alice", 10.0), (Some(2), "bob", 20.0),
        (None, "nobody", 0.0))
      .toDF("id", "name", "bal")
    val incoming = Seq((Some(2), "BOB2", 99.0), (Some(3), "carol", 30.0),
        (None, "NOBODY2", 1.0))
      .toDF("id", "name", "bal")
    val out = Merge.upsert(target, incoming, Seq("id"), Seq("bal"),
      Seq(col("name").desc)).orderBy("id")
      .collect().map(r => (Option(r.get(0)), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      (None, "nobody", 1.0),  // null key matches null key: one row
      (Some(1), "alice", 10.0),   // untouched
      (Some(2), "bob", 99.0),     // bal updated, name kept (partial update)
      (Some(3), "carol", 30.0)))  // inserted whole
    // two-column key: a null field matches only a row whose same field
    // is null and whose other field is equal
    val t2 = Seq((Some(1), Some("a"), 1.0), (Some(1), None, 2.0),
        (None, Some("a"), 3.0))
      .toDF("k1", "k2", "bal")
    val i2 = Seq((Some(1), None: Option[String], 20.0),
        (None, Some("b"), 40.0))
      .toDF("k1", "k2", "bal")
    val out2 = Merge.upsert(t2, i2, Seq("k1", "k2"), Seq("bal"),
      Seq(col("bal").desc)).collect()
      .map(r => ((Option(r.get(0)), Option(r.get(1))), r.getDouble(2)))
    assert(out2.toMap == Map(
      (Some(1), Some("a")) -> 1.0, (Some(1), None) -> 20.0,
      (None, Some("a")) -> 3.0, (None, Some("b")) -> 40.0))
    assert(out2.length == 4)
  }

  test("J6 upsert: in-batch duplicates collapse last-writer first") {
    val target = Seq((Some(1), "a", 1.0), (None, "n", 2.0))
      .toDF("id", "name", "bal")
    val incoming = Seq((Some(1), "x", 5.0), (Some(1), "z", 7.0),
        (None, "p", 8.0), (None, "q", 9.0))
      .toDF("id", "name", "bal")
    val out = Merge.upsert(target, incoming, Seq("id"), Seq("bal"),
      Seq(col("name").desc)).collect()
      .map(r => Option(r.get(0)) -> r.getDouble(2))
    assert(out.length == 2)
    assert(out.toMap == Map(
      Some(1) -> 7.0, // 'z' row wins the tiebreak
      None -> 9.0))   // so does 'q' among the null-key duplicates
  }

  test("J6 upsert: the dedup window and the join share one exchange " +
      "per side") {
    // a parquet target's key is nullable, the batch's is not
    val dir = tmpDir("j6_plan") + "/t"
    Seq((1, "a", 1.0), (2, "b", 2.0)).toDF("id", "name", "bal")
      .write.parquet(dir)
    val target = spark.read.parquet(dir)
    val incoming = Seq((1, "x", 5.0), (1, "z", 7.0), (3, "c", 3.0))
      .toDF("id", "name", "bal")
    val out = Merge.upsert(target, incoming, Seq("id"), Seq("bal"),
      Seq(col("name").desc))
    out.collect(): Unit
    val aqe = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    val joins = aqe.collect(out.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.size == 1)
    Seq(joins.head.left, joins.head.right).foreach { side =>
      val exchanges = aqe.collect(side) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size == 1, s"exchanges under one side:\n$side")
    }
  }

  test("S15 insertIfAbsent drops conflicting keys") {
    val target = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val incoming = Seq((2, "X"), (3, "c")).toDF("id", "v")
    val out = Merge.insertIfAbsent(target, incoming, Seq("id"))
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSeq == Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("S10 SCD2 lookup-or-insert: existing rows win, novel appended") {
    val existing = Seq(("h1", 1.0, 2.0, "2026-01-01", true))
      .toDF("location_hash", "latitude", "longitude", "effective_date",
        "is_current")
    val incoming = Seq(("h1", 1.0, 2.0), ("h2", 3.0, 4.0))
      .toDF("location_hash", "latitude", "longitude")
    val out = Scd2.lookupOrInsert(existing, incoming, "location_hash",
      "location_key", lit("2026-03-01")).orderBy("location_hash")
    assert(out.count() == 2)
    val rows = out.collect()
    assert(!rows(0).getAs[Boolean]("is_new"))
    assert(rows(1).getAs[Boolean]("is_new"))
  }

  test("SCD2 expireAndInsert closes changed rows, keeps history") {
    val existing = Seq(
      (1L, "a1", "hA", 100L, "2026-01-01", "9999-12-31", true),
      (2L, "b1", "hB", 200L, "2026-01-01", "9999-12-31", true),
      // a pre-existing closed version must pass through untouched
      (2L, "b0", "hB0", 199L, "2025-01-01", "2026-01-01", false))
      .toDF("nk", "attr", "row_hash", "dim_key",
        "effective_date", "expiration_date", "is_current")
    val incoming = Seq(
      (1L, "a1", "hA"),   // unchanged
      (2L, "b2", "hC"),   // changed -> close + new version
      (3L, "c1", "hD"))   // novel key
      .toDF("nk", "attr", "row_hash")
    val out = Scd2.expireAndInsert(existing, incoming, Seq("nk"),
        "row_hash", "dim_key", lit("2026-03-01"))
      .orderBy("nk", "effective_date").collect()
      .map(r => (r.getAs[Long]("nk"), r.getAs[String]("attr"),
        r.getAs[String]("expiration_date"), r.getAs[Boolean]("is_current")))
    assert(out.toSeq == Seq(
      (1L, "a1", "9999-12-31", true),          // untouched
      (2L, "b0", "2026-01-01", false),         // history passthrough
      (2L, "b1", "2026-03-01", false),         // closed out
      (2L, "b2", "9999-12-31", true),          // new version
      (3L, "c1", "9999-12-31", true)))         // novel insert
    // version keys reproducible and distinct per (hash, effective)
    val k1 = eval(Scd2.versionKey(lit("hC"), lit("2026-03-01")))
    val k2 = eval(Scd2.versionKey(lit("hC"), lit("2026-04-01")))
    assert(k1 != k2 && k1 == eval(Scd2.versionKey(lit("hC"), lit("2026-03-01"))))
    // in-batch duplicates collapse deterministically (greatest
    // whole-row struct wins) — same winner on every run
    val dupIncoming = Seq((2L, "b2", "hC"), (2L, "b9", "hZ"))
      .toDF("nk", "attr", "row_hash")
    val winner = Scd2.expireAndInsert(existing, dupIncoming, Seq("nk"),
        "row_hash", "dim_key", lit("2026-03-01"))
      .filter(col("is_current") && col("nk") === 2L)
      .collect().map(_.getAs[String]("attr"))
    assert(winner.toSeq == Seq("b9")) // greatest (attr, hash) struct
  }

  test("surrogate keys are deterministic 60-bit hash prefixes") {
    val k1 = eval(Scd2.surrogateKey(lit("00ff" * 8)))
    assert(k1 == java.lang.Long.parseLong("00ff00ff00ff00f", 16))
  }

  test("wide surrogate key splits the hash into two 60-bit halves") {
    val h = "0123456789abcdef0123456789abcdef"
    val wide = eval(Scd2.surrogateKeyWide(lit(h)))
      .asInstanceOf[org.apache.spark.sql.Row]
    assert(wide.getLong(0) == java.lang.Long.parseLong(h.substring(0, 15), 16))
    assert(wide.getLong(1) == java.lang.Long.parseLong(h.substring(15, 30), 16))
    assert(wide.getLong(0) == eval(Scd2.surrogateKey(lit(h))))
  }

  test("W6 date dim: 4018 rows, correct attributes") {
    val dd = DateDim.build(spark).cache()
    assert(dd.count() == 4018)
    val jan1 = dd.filter(col("date_key") === 20200101).collect()(0)
    assert(jan1.getAs[Int]("day_of_week") == 3)   // Wed, DOW Sunday=0
    assert(jan1.getAs[String]("day_name") == "Wednesday")
    assert(jan1.getAs[Int]("quarter") == 1)
    assert(!jan1.getAs[Boolean]("is_weekend"))
    assert(jan1.getAs[String]("season_northern") == "Winter")
    assert(jan1.getAs[String]("season_southern") == "Summer")
    val jul4 = dd.filter(col("date_key") === 20260704).collect()(0)
    assert(jul4.getAs[Boolean]("is_weekend")) // Saturday
    assert(jul4.getAs[String]("season_northern") == "Summer")
  }

  test("S14 audit latest-wins view") {
    val log = Seq(
      ("b1", "weather", "RUNNING", "2026-01-01 10:00:00", 0L),
      ("b1", "weather", "SUCCESS", "2026-01-01 10:05:00", 42L),
      ("b2", "soil", "RUNNING", "2026-01-01 11:00:00", 0L))
      .toDF("batch_id", "pipeline_name", "status", "event_time",
        "records_processed")
    val latest = AuditLog.latest(log).orderBy("batch_id").collect()
    assert(latest.length == 2)
    assert(latest(0).getAs[String]("status") == "SUCCESS")
    assert(latest(0).getAs[Long]("records_processed") == 42L)
    assert(latest(1).getAs[String]("status") == "RUNNING")
  }

  test("S15 idempotency: only novel keys pass") {
    val keys = Seq("weather:1", "weather:2").map(k =>
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(k.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      .toDF("key_hash")
    val batch = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "payload")
    val novel = Idempotency.novelRows(batch, keys, lit("weather"),
      col("id"))
    assert(novel.select("id").collect().map(_.getLong(0)).toSeq == Seq(3L))
  }
}
