package graft

import org.apache.spark.sql.functions._
import graft.analytics.Spatial

/** The co-location contract of the spatial tier: a station table
  * persisted with [[Spatial.bucketStations]] joins ring probes with
  * ONE shuffle exchange total — the probe side — because the bucketed
  * scan's hash partitioning on (cell_lat, cell_lon) already satisfies
  * the join's clustering requirement. At 100 TB the station/
  * observation side is the big one; bucketing amortizes its shuffle
  * to zero across every query that probes it. */
class SpatialBucketSpec extends SparkSpec {
  import spark.implicits._

  private val Cell = 10000000L

  private def pts(rows: (Long, Long, Long)*) =
    rows.toDF("pid", "plat", "plon")

  private val stations = Seq(
    (1L, 1000000L, 1000000L), (2L, 2000000L, 0L),
    (3L, -1000000L, 0L), (4L, 0L, -179800000L),
    (5L, 45000000L, 45000000L), (6L, 45500000L, 44500000L))
    .toDF("sid", "slat", "slon")

  private val points = pts((1L, 0L, 0L), (2L, 0L, 179800000L),
    (3L, 44800000L, 44800000L), (4L, -80000000L, 0L))

  test("bucketed nearest equals inline nearest, value for value") {
    Spatial.bucketStations(stations, "sid", "slat", "slon", Cell,
      buckets = 4, table = "geo_stations_eq")
    val inline = Spatial.nearestStation(points, "pid", "plat", "plon",
      stations, "sid", "slat", "slon", Cell)
      .orderBy("pid").collect().toSeq
    val bucketed = Spatial.nearestStationBucketed(spark, points,
      "pid", "plat", "plon", "geo_stations_eq", Cell)
      .orderBy("pid").collect().toSeq
    assert(bucketed === inline)
  }

  test("bucketed IDW with payload columns equals the inline estimate") {
    val withV = stations.withColumn("vc", col("sid") * 100L)
    Spatial.bucketStations(withV, "sid", "slat", "slon", Cell,
      buckets = 4, table = "geo_stations_v", payloadCols = Seq("vc"))
    val inline = Spatial.idwEstimate(points, "pid", "plat", "plon",
      withV, "sid", "slat", "slon", col("vc"), Cell)
      .orderBy("pid").collect().toSeq
    val bucketed = Spatial.idwEstimateBucketed(spark, points, "pid",
      "plat", "plon", "geo_stations_v", Cell, col("vc"))
      .orderBy("pid").collect().toSeq
    assert(bucketed === inline)
  }

  test("ring probe against the bucketed table shuffles ONE side only") {
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // disable broadcast so the ring join plans as SMJ/shuffle-hash —
    // the shape the 100 TB station side would force anyway
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Spatial.bucketStations(stations, "sid", "slat", "slon", Cell,
        buckets = 4, table = "geo_stations_x")
      val cand = Spatial.ringCandidatesBucketed(spark, points, "pid",
        "plat", "plon", "geo_stations_x", Cell)
      val plan = cand.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(plan).size
      assert(exchanges === 1, s"expected the probe-side exchange " +
        s"only, got $exchanges:\n${plan.take(2000)}")
      // and the result is the same candidate set as the inline path
      val inline = Spatial.ringCandidates(points, "pid", "plat",
        "plon", stations, "sid", "slat", "slon", Cell)
        .select("_pid", "_sid", "_d2")
        .orderBy("_pid", "_sid").collect().toSeq
      val viaBucket = cand.select("_pid", "_sid", "_d2")
        .orderBy("_pid", "_sid").collect().toSeq
      assert(viaBucket === inline)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    }
  }

  test("inline ring probe (unbucketed) shuffles both sides under SMJ") {
    // the contrast case: without the bucketed layout the same join
    // exchanges BOTH inputs — this is the shuffle bucketing removes
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cand = Spatial.ringCandidates(points, "pid", "plat", "plon",
        stations, "sid", "slat", "slon", Cell)
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(cand.queryExecution.executedPlan.toString).size
      assert(exchanges === 2)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    }
  }

  test("bucketed kNN and kNN-IDW equal their inline forms") {
    val withV = stations.withColumn("vc", col("sid") * 100L)
    Spatial.bucketStations(withV, "sid", "slat", "slon", Cell,
      buckets = 4, table = "geo_stations_knn", payloadCols = Seq("vc"))
    val knnInline = Spatial.kNearestStations(points, "pid", "plat",
        "plon", withV, "sid", "slat", "slon", Cell, kNearest = 2)
      .orderBy("pid", "rank").collect().toSeq
    val knnBucketed = Spatial.kNearestStationsBucketed(spark, points,
        "pid", "plat", "plon", "geo_stations_knn", kNearest = 2)
      .orderBy("pid", "rank").collect().toSeq
    assert(knnBucketed === knnInline)
    assert(knnInline.nonEmpty)
    val idwInline = Spatial.idwEstimateKnn(points, "pid", "plat",
        "plon", withV, "sid", "slat", "slon", col("vc"), Cell,
        kNearest = 2)
      .orderBy("pid").collect().toSeq
    val idwBucketed = Spatial.idwEstimateKnnBucketed(spark, points,
        "pid", "plat", "plon", "geo_stations_knn", col("vc"),
        kNearest = 2)
      .orderBy("pid").collect().toSeq
    assert(idwBucketed === idwInline)
  }

  test("bucketed radius query equals the inline one, incl. the polar " +
      "cap; a width below the pre-gate fails loudly") {
    // stations straddling the 800 km gate at mid-latitudes AND an
    // over-the-pole pair (the cap path); 10-degree cells cover the
    // 9.36e6-micro pre-gate
    val sts2 = Seq((1L, 1000000L, 1000000L), (2L, 8000000L, 0L),
      (3L, 86500000L, -180000000L), (4L, 45000000L, 45000000L))
      .toDF("sid", "slat", "slon")
    val pts2 = pts((1L, 0L, 0L), (2L, 86500000L, 0L),
      (3L, 44000000L, 44000000L))
    Spatial.bucketStations(sts2, "sid", "slat", "slon", Cell,
      buckets = 4, table = "geo_stations_rad")
    val inline = Spatial.stationsWithinMeters(pts2, "pid", "plat",
        "plon", sts2, "sid", "slat", "slon", radiusMeters = 800000.0)
      .orderBy("pid", "station").collect().toSeq
    val bucketed = Spatial.stationsWithinMetersBucketed(spark, pts2,
        "pid", "plat", "plon", "geo_stations_rad",
        radiusMeters = 800000.0)
      .orderBy("pid", "station").collect().toSeq
    assert(bucketed === inline)
    assert(inline.nonEmpty) // not vacuous: the cap pair is in there
    assert(inline.exists(r => r.getLong(0) == 2L && r.getLong(1) == 3L))
    // a table bucketed finer than the pre-gate refuses the radius
    Spatial.bucketStations(sts2, "sid", "slat", "slon", 1000000L,
      buckets = 4, table = "geo_stations_fine")
    val e = intercept[IllegalArgumentException] {
      Spatial.stationsWithinMetersBucketed(spark, pts2, "pid", "plat",
        "plon", "geo_stations_fine", radiusMeters = 800000.0)
    }
    assert(e.getMessage.contains("rebucket"))
  }

  test("persisted station stats: width + count live in the catalog, " +
      "reading them launches NO job, auto probe matches explicit") {
    val w = Spatial.bucketStationsAuto(stations, "sid", "slat", "slon",
      buckets = 4, table = "geo_stations_meta")
    assert(w === Spatial.autoCellMicro(6L))
    var meta: (Long, Long) = null
    val jobs = jobsLaunchedBy {
      meta = Spatial.bucketedStationMeta(spark, "geo_stations_meta")
    }
    assert(jobs === 0, s"metadata read launched $jobs jobs")
    assert(meta === ((w, 6L)))
    // the auto probe (width from the catalog) equals the explicit one
    val auto = Spatial.nearestStationBucketedAuto(spark, points,
      "pid", "plat", "plon", "geo_stations_meta")
      .orderBy("pid").collect().toSeq
    val explicit = Spatial.nearestStationBucketed(spark, points,
      "pid", "plat", "plon", "geo_stations_meta", w)
      .orderBy("pid").collect().toSeq
    assert(auto === explicit)
    // a legacy table without the properties fails loudly
    stations.write.mode("overwrite").format("parquet")
      .saveAsTable("geo_stations_legacy")
    val e = intercept[IllegalArgumentException] {
      Spatial.bucketedStationMeta(spark, "geo_stations_legacy")
    }
    assert(e.getMessage.contains("graft.cell_micro"))
  }

  test("auto-width station count is memoized per corpus dir: the " +
      "second rung selection launches no job") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val first = graft.operators.GeoQueries.stationCount(spark, dir)
    assert(first > 0L)
    var second = 0L
    val jobs = jobsLaunchedBy {
      second = graft.operators.GeoQueries.stationCount(spark, dir)
    }
    assert(second === first)
    assert(jobs === 0, s"memoized count launched $jobs jobs")
  }

  test("hot-PROBE auto-routing: a 1M-point load concentrated in one " +
      "cell routes to the inline AQE-splittable path, values " +
      "identical; a spread load keeps the bucketed plan") {
    import spark.implicits._
    // the 1M-hot-probe shape of the AQE rehearsal below: 100k spread
    // + 900k inside ONE 10-degree cell (share 0.9 > 0.25, hot cell
    // 900k > the 100k floor)
    val spread = spark.range(0, 100000).select(
      col("id").as("pid"),
      ((col("id") * 2654435761L) % 170000001L - 85000000L).as("plat"),
      ((col("id") * 1103515245L + 12345L) % 360000000L - 180000000L)
        .as("plon"))
    val hot = spark.range(100000, 1000000).select(
      col("id").as("pid"),
      (col("id") % 90000L).as("plat"),
      (col("id") % 70000L).as("plon"))
    val ptsM = spread.unionByName(hot)
    Spatial.bucketStations(stations, "sid", "slat", "slon", Cell,
      buckets = 4, table = "geo_stations_hot")
    // detector reads the load's shape
    val (total, mx) = Spatial.probeHotCellStats(ptsM, "plat", "plon",
      Cell)
    assert(total === 1000000L && mx >= 900000L)
    // hot load → inline route; results equal the bucketed plan's
    // (aggregate compare: count/sums are a strong value fingerprint
    // at this size)
    val (routed, wentInline) = Spatial.nearestStationBucketedRouted(
      spark, ptsM, "pid", "plat", "plon", "geo_stations_hot")
    assert(wentInline, "0.9 hot share must route inline")
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), sum("station"), sum("d2"), sum("n_cand"))
        .collect()(0).toSeq
    assert(fp(routed) === fp(Spatial.nearestStationBucketed(spark,
      ptsM, "pid", "plat", "plon", "geo_stations_hot", Cell)))
    // and the inline route's join is genuinely AQE-splittable: with
    // skew thresholds at test-scale bytes the split fires
    val keep = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // enough partitions that the median stays small next to the
      // hot-cell keys (the rehearsal's setting — at the test default
      // the hot explosion inflates every partition and the 5x-median
      // skew factor never trips)
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "262144")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "262144")
      val (routedSmj, inl) = Spatial.nearestStationBucketedRouted(
        spark, ptsM, "pid", "plat", "plon", "geo_stations_hot")
      assert(inl)
      // execute THIS dataset's query so AQE finalizes, then read the
      // adaptive plan (a noop write runs a separate QueryExecution);
      // aggregate a JOINED column — a bare count(1) lets Catalyst
      // eliminate the left join entirely
      val q = routedSmj.agg(count(col("d2")).as("n"))
      assert(q.collect()(0).getLong(0) >= 900000L)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"expected an AQE skew split in:\n${plan.take(3000)}")
    } finally keep.foreach { case (k, v) => spark.conf.set(k, v) }
    // a spread load stays on the one-sided-shuffle bucketed plan
    val (viaBucket, inline2) = Spatial.nearestStationBucketedRouted(
      spark, spread, "pid", "plat", "plon", "geo_stations_hot")
    assert(!inline2, "spread load must keep the bucketed plan")
    assert(viaBucket.count() === 100000L)
    // a SMALL fully-concentrated load also stays bucketed (floor):
    // a straggler partition of 4 rows is not worth re-shuffling the
    // station side
    val tiny = pts((1L, 0L, 0L), (2L, 10L, 10L), (3L, 20L, 20L),
      (4L, 30L, 30L))
    assert(!Spatial.nearestStationBucketedRouted(spark, tiny, "pid",
      "plat", "plon", "geo_stations_hot")._2)
  }

  test("hot-cell skew rehearsal: 1M probe points in one metro cell " +
      "— AQE splits the skewed probe partition, values identical") {
    import spark.implicits._
    // a real point/station distribution is zipf-dense: one metro cell
    // can hold 10^3x the median. Model it: 100k points spread over
    // the globe (the small-median baseline) + 900k points inside ONE
    // 10-degree cell, whose ~15 probe keys each carry 900k rows while
    // the median shuffle partition stays tiny
    val spread = spark.range(0, 100000).select(
      col("id").as("pid"),
      ((col("id") * 2654435761L) % 170000001L - 85000000L).as("plat"),
      ((col("id") * 1103515245L + 12345L) % 360000000L - 180000000L)
        .as("plon"))
    val hot = spark.range(100000, 1000000).select(
      col("id").as("pid"),
      (col("id") % 90000L).as("plat"),
      (col("id") % 70000L).as("plon"))
    val ptsM = spread.unionByName(hot)
    val sts = Seq((1L, 50000L, 30000L), (2L, 40000L, -20000L),
      (3L, 45000000L, 45000000L), (4L, -45000000L, -45000000L))
      .toDF("sid", "slat", "slon")
    def agg() = Spatial.ringCandidates(ptsM, "pid", "plat", "plon",
        sts, "sid", "slat", "slon", Cell)
      .agg(count(lit(1)).as("n"), sum("_d2").as("s"))
    val keep = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.get(k))
    try {
      // force the SMJ shape the 100 TB station side would force;
      // enough partitions that the median stays small next to the
      // hot-cell keys; skew thresholds low enough for test-scale bytes
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "262144")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "262144")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val base = agg().collect()(0)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      val q = agg()
      val split = q.collect()(0)
      // value-identical under the skew split
      assert((split.getLong(0), split.getLong(1))
        === ((base.getLong(0), base.getLong(1))))
      assert(split.getLong(0) >= 1800000L) // 2 in-ring stations x 900k
      // and the split actually fired on the probe join
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"expected an AQE skew split in:\n${plan.take(3000)}")
    } finally keep.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
