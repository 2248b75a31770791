package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables
import graft.analytics.{Agro, Spatial}

/** Spatial + agro-climatic tier (q263–q268): grid-bucketed nearest-
  * station join, inverse-distance interpolation, ring-smoothed density,
  * growing degree days, dry-spell islands, and monthly climate normals
  * — the queries a consumer of the reference's agro-climatic star
  * schema (`db/init/01-schema.sql` location/weather tables) runs on
  * top of it. The corpus has no coordinate columns, so both engines
  * derive deterministic synthetic micro-degree coordinates from the
  * integer keys (multiplicative-hash mod range — BIGINT-exact in Spark
  * and DuckDB alike): customers are the query points ("fields"),
  * suppliers the stations.
  *
  * Every computation is integer/decimal-exact until one final double
  * division (see [[graft.analytics.Spatial]] / [[graft.analytics.Agro]]
  * scaladoc for the per-operator determinism argument).
  */
object GeoQueries {

  /** 10° REPORTING grid (17×36 over the globe) for the census/cluster
    * queries whose output is keyed by cell (q265/q270/q277–q280) and
    * for q275's suitability map. The metric queries (nearest station,
    * IDW, as-of, ε-dedup) do NOT pin this width — they derive theirs
    * from [[graft.analytics.Spatial.autoCellMicro]] /
    * [[graft.analytics.Spatial.epsCellMicro]]; a pinned probe width
    * is the tier's own documented bug class (O(points·stations) as
    * density grows). */
  private val CellMicro = 10000000L

  // deterministic synthetic coordinates (micro-degrees) from keys;
  // multiplications stay < 2^63 for every corpus scale
  private def latOf(key: String, mult: Long, add: Long) =
    (col(key) * lit(mult) + lit(add)) % lit(170000001L) - lit(85000000L)
  private def lonOf(key: String, mult: Long, add: Long) =
    (col(key) * lit(mult) + lit(add)) % lit(360000000L) - lit(180000000L)

  private def points(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "customer").select(col("c_custkey"),
      latOf("c_custkey", 2654435761L, 0L).as("plat"),
      lonOf("c_custkey", 1103515245L, 12345L).as("plon"))

  private def stations(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "supplier").select(col("s_suppkey"),
      col("s_acctbal"),
      latOf("s_suppkey", 2246822519L, 97L).as("slat"),
      lonOf("s_suppkey", 2654435761L, 31L).as("slon"))

  /** The station count every auto-width rung selection needs, computed
    * ONCE per (session-lifetime, corpus dir) and memoized — the corpus
    * is immutable per dir, so re-running a full station scan per query
    * just to pick a rung was pure waste (the r17 brief's finding). The
    * persisted-layout analogue is [[graft.analytics.Spatial
    * .bucketedStationMeta]], a catalog read. Zero-job-on-reuse pinned
    * in SpatialBucketSpec. */
  private val stationCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[graft] def stationCount(s: org.apache.spark.sql.SparkSession,
      dir: String): Long =
    stationCountCache.computeIfAbsent(dir,
      _ => stations(s, dir).count()).longValue()

  /** Shared oracle CTEs: the same key→coordinate derivation as
    * [[points]]/[[stations]], the CosQ fixed-point cos table embedded
    * verbatim (shared-coefficients idiom — both engines read the SAME
    * integers), and the auto cell width mirroring
    * [[graft.analytics.Spatial.autoCellMicro]]'s rung ladder as a
    * CASE over count(*) (thresholds are ceil(8·cells(w)/9) per rung,
    * inlined as literals and pinned by SpatialSpec). `//` and Spark's
    * non-negative-div idiom agree because every dividend here is
    * shifted non-negative.
    */
  private def duckBase = s"""
    ct(q) AS (SELECT ${graft.analytics.Spatial.cosQSqlList}::BIGINT[]),
    pts AS (
      SELECT c_custkey,
        (c_custkey * 2654435761) % 170000001 - 85000000 AS plat,
        (c_custkey * 1103515245 + 12345) % 360000000 - 180000000 AS plon
      FROM customer),
    st AS (
      SELECT s_suppkey, s_acctbal,
        (s_suppkey * 2246822519 + 97) % 170000001 - 85000000 AS slat,
        (s_suppkey * 2654435761 + 31) % 360000000 - 180000000 AS slon
      FROM supplier),
    wp AS (
      SELECT w, 360000000 // w AS nlon FROM (
        SELECT CASE WHEN c >= 5760000 THEN 100000
                    WHEN c >= 1440000 THEN 200000
                    WHEN c >= 230400 THEN 500000
                    WHEN c >= 57600 THEN 1000000
                    WHEN c >= 14400 THEN 2000000
                    WHEN c >= 6400 THEN 3000000
                    WHEN c >= 3600 THEN 4000000
                    WHEN c >= 2304 THEN 5000000
                    ELSE 10000000 END AS w
        FROM (SELECT count(*) AS c FROM supplier)))"""

  /** Auto-width ring probe + exact scaled-d² candidates — mirrors
    * [[graft.analytics.Spatial.ringCandidates]] (bandShift 0) in
    * DuckDB SQL: per-point lon half-width k from the coverage bound,
    * full-circle collapse when 2k+1 ≥ nlon (each column probed
    * exactly once), and the midpoint-band cos-scaled metric of
    * [[graft.analytics.Spatial.dist2]]. */
  private val duckCand = """
    stc AS (
      SELECT st.*, (slat + 90000000) // wp.w AS cl,
        (slon + 180000000) // wp.w AS cn
      FROM st, wp),
    pk AS (
      SELECT p.c_custkey, p.plat, p.plon, wp.nlon,
        (p.plat + 90000000) // wp.w AS cl0,
        (p.plon + 180000000) // wp.w AS cn0,
        least((((wp.w + 1) * CAST(1048576 AS BIGINT) - 1)
            // greatest(list_extract((SELECT q FROM ct),
                least(90, (abs(p.plat) + wp.w) // 1000000) + 1), 1)
            + wp.w - 1) // wp.w,
          wp.nlon) AS k
      FROM pts p, wp),
    probe0 AS (
      SELECT c_custkey, plat, plon, cl0, cn0, nlon,
        unnest(CASE WHEN 2 * k + 1 >= nlon THEN range(0, nlon)
                    ELSE range(-k, k + 1) END) AS dj
      FROM pk),
    probe AS (
      SELECT p.c_custkey, p.plat, p.plon, p.cl0 + i.i AS cl,
        (p.cn0 + p.dj + p.nlon) % p.nlon AS cn
      FROM probe0 p, (SELECT unnest([-1, 0, 1]) AS i) i),
    cand AS (
      SELECT c_custkey, s_suppkey, s_acctbal,
        dlat * dlat + dle * dle AS d2
      FROM (
        SELECT pr.c_custkey, s.s_suppkey, s.s_acctbal,
          pr.plat - s.slat AS dlat,
          least(abs(pr.plon - s.slon),
              360000000 - abs(pr.plon - s.slon))
            * list_extract((SELECT q FROM ct),
                least(90, abs(pr.plat + s.slat) // 2000000) + 1)
            // 1048576 AS dle
        FROM probe pr JOIN stc s ON pr.cl = s.cl AND pr.cn = s.cn))"""



  /** q285/q299 shared oracle — kNN is layout-independent. */
  private def knnOracleSql: String = s"""
      WITH $duckBase, $duckCand,
      ranked AS (
        SELECT c_custkey, s_suppkey, d2,
          row_number() OVER (PARTITION BY c_custkey
            ORDER BY d2, s_suppkey) AS rank
        FROM cand)
      SELECT c_custkey, s_suppkey AS station, d2,
        CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= 3
      ORDER BY c_custkey, rank"""

  /** q289/q300 shared oracle — kNN-IDW is layout-independent. */
  private def idwKnnOracleSql: String = s"""
      WITH $duckBase, $duckCand,
      top AS (
        SELECT c_custkey, s_acctbal, d2 FROM (
          SELECT c_custkey, s_acctbal, d2,
            row_number() OVER (PARTITION BY c_custkey
              ORDER BY d2, s_suppkey) AS rn
          FROM cand) t
        WHERE rn <= 4),
      wgt AS (
        SELECT c_custkey,
          1000000000000000000 // (d2 + 1) AS wt,
          CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        FROM top),
      agg AS (
        SELECT c_custkey, CAST(count(*) AS BIGINT) AS n_cand,
          SUM(CAST(wt AS HUGEINT) * vc) AS num,
          SUM(CAST(wt AS HUGEINT)) AS den
        FROM wgt GROUP BY c_custkey)
      SELECT p.c_custkey, CAST(COALESCE(a.n_cand, 0) AS BIGINT) AS n_cand,
        CAST(a.num AS DOUBLE) / CAST(a.den AS DOUBLE) / 100.0 AS est
      FROM pts p LEFT JOIN agg a USING (c_custkey)
      ORDER BY p.c_custkey"""

  /** q286/q298 shared oracle: the radius query is layout-independent,
    * so the bucketed variant hash-checks against the same SQL. */
  private def radiusOracleSql: String = {
    val pre = Spatial.radiusPregateMicro(800000.0)
    s"""
      WITH $duckBase,
      stc10 AS (
        SELECT st.*, (slat + 90000000) // 10000000 AS cl,
          (slon + 180000000) // 10000000 AS cn
        FROM st),
      pk2 AS (
        SELECT c_custkey, plat, plon,
          (plat + 90000000) // 10000000 AS cl0,
          (plon + 180000000) // 10000000 AS cn0,
          least((((10000000 + 1) * CAST(1048576 AS BIGINT) - 1)
              // greatest(list_extract((SELECT q FROM ct),
                  least(90, (abs(plat) + 10000000) // 1000000 + 1) + 1), 1)
              + 10000000 - 1) // 10000000,
            36) AS k
        FROM pts),
      probe02 AS (
        SELECT c_custkey, plat, plon, cl0, cn0,
          unnest(CASE WHEN 2 * k + 1 >= 36 THEN range(0, 36)
                      ELSE range(-k, k + 1) END) AS dj
        FROM pk2),
      probe2 AS (
        SELECT p.c_custkey, p.plat, p.plon, p.cl0 + i.i AS cl,
          (p.cn0 + p.dj + 36) % 36 AS cn
        FROM probe02 p, (SELECT unnest([-1, 0, 1]) AS i) i),
      cand2 AS (
        SELECT c_custkey, s_suppkey, plat, plon, slat, slon,
          dlat * dlat + dle * dle AS d2
        FROM (
          SELECT pr.c_custkey, s.s_suppkey, pr.plat, pr.plon,
            s.slat, s.slon,
            pr.plat - s.slat AS dlat,
            least(abs(pr.plon - s.slon),
                360000000 - abs(pr.plon - s.slon))
              * list_extract((SELECT q FROM ct),
                  least(90, abs(pr.plat + s.slat) // 2000000 + 1) + 1)
              // 1048576 AS dle
          FROM probe2 pr JOIN stc10 s ON pr.cl = s.cl AND pr.cn = s.cn))
      SELECT c_custkey, station, dist_m FROM (
        SELECT c_custkey, s_suppkey AS station,
          round(2 * 6371000.0 * asin(sqrt(
            sin(radians((slat - plat) / 2000000.0))
              * sin(radians((slat - plat) / 2000000.0))
            + cos(radians(plat / 1000000.0))
              * cos(radians(slat / 1000000.0))
              * sin(radians((slon - plon) / 2000000.0))
              * sin(radians((slon - plon) / 2000000.0)))), 3) AS dist_m
        FROM cand2
        -- polar cap: over-the-pole in-radius pairs have both lats
        -- within the pre-gate of a pole; the dlon term is not
        -- admissible there, so gate on dlat alone (haversine refines)
        WHERE CASE WHEN greatest(abs(plat), abs(slat)) + $pre
                     >= 90000000
              THEN (plat - slat) * (plat - slat)
                     <= CAST($pre AS BIGINT) * $pre
              ELSE d2 <= CAST($pre AS BIGINT) * $pre END)
      WHERE dist_m <= 800000.0
      ORDER BY c_custkey, station"""
  }

  val all: Seq[Q] = Seq(

    // Auto-width nearest-station join: the cell width comes from the
    // autoCellMicro rule (cells ∝ stations — a pinned width is this
    // tier's q22-bug class: fixed grid + growing density ⇒
    // O(points·stations) ring joins). The oracle computes the width
    // with the SAME rung ladder as a scalar CASE over count(*) (all
    // rungs covered, so no terminal error branch is needed), and the
    // metric/ring are the cos-scaled, latitude-adaptive forms.
    Q("q271_nearest_station_auto", Some(s"""
      WITH $duckBase, $duckCand,
      best AS (
        SELECT c_custkey, s_suppkey, d2,
          row_number() OVER (PARTITION BY c_custkey
            ORDER BY d2, s_suppkey) AS rn,
          count(*) OVER (PARTITION BY c_custkey) AS n_cand
        FROM cand)
      SELECT p.c_custkey, b.s_suppkey AS station, b.d2,
        CAST(COALESCE(b.n_cand, 0) AS BIGINT) AS n_cand,
        CAST(wp.w AS BIGINT) AS cell_micro
      FROM pts p CROSS JOIN wp
      LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        ON p.c_custkey = b.c_custkey
      ORDER BY p.c_custkey""")) { (s, dir) =>
      Spatial.nearestStationAuto(points(s, dir), "c_custkey", "plat",
        "plon", stations(s, dir), "s_suppkey", "slat", "slon")
        .orderBy("c_custkey")
    },

    // k-nearest stations per field point (k=3) at the AUTO width:
    // the kNN member of the spatial family — same ring candidates,
    // rank by (scaled d², station id) via one per-point window;
    // exact for every true neighbor within one cell width of scaled
    // distance.
    Q("q285_knn_stations", Some(knnOracleSql)) { (s, dir) =>
      val st = stations(s, dir)
      Spatial.kNearestStations(points(s, dir), "c_custkey", "plat",
        "plon", st, "s_suppkey", "slat", "slon",
        Spatial.autoCellMicro(stationCount(s, dir)), kNearest = 3)
        .orderBy("c_custkey", "rank")
    },

    // Bucketed kNN: q285's semantics off the persisted cell-bucketed
    // layout at the table's own width — completes the one-sided-
    // shuffle family (nearest/kNN/radius/IDW). Oracle = q285's SQL
    // verbatim (layout-independent semantics).
    Q("q299_knn_stations_bucketed", Some(knnOracleSql)) { (s, dir) =>
      val w = Spatial.autoCellMicro(stationCount(s, dir))
      Spatial.bucketStations(stations(s, dir), "s_suppkey", "slat",
        "slon", w, buckets = 8, table = "q299_stations",
        nStations = Some(stationCount(s, dir)))
      Spatial.kNearestStationsBucketed(s, points(s, dir), "c_custkey",
        "plat", "plon", "q299_stations", kNearest = 3)
        .orderBy("c_custkey", "rank")
    },

    // Geodesic radius query: every station within 800 km TRUE
    // haversine distance of each field point — filter-and-refine:
    // admissible (bandShift=1) integer ring pre-gate at the
    // radius-covering width (max(auto rung, pre-gate-covering rung)
    // = 10° here at every reachable station count, since the
    // pre-gate rung IS the coarsest), one exact haversine verdict
    // per survivor, mm-rounded.
    Q("q286_stations_within_radius", Some(radiusOracleSql)) { (s, dir) =>
      Spatial.stationsWithinMeters(points(s, dir), "c_custkey",
        "plat", "plon", stations(s, dir), "s_suppkey", "slat", "slon",
        radiusMeters = 800000.0)
        .orderBy("c_custkey", "station")
    },

    // Bucketed radius query: q286's semantics (polar-safe admissible
    // pre-gate + exact haversine verdict) off the persisted
    // cell-bucketed station layout at the table's OWN width — the
    // one-sided-shuffle composition for the radius member of the
    // family. Oracle = q286's SQL verbatim (identical semantics).
    Q("q298_stations_within_radius_bucketed",
        Some(radiusOracleSql)) { (s, dir) =>
      val pregate = Spatial.radiusPregateMicro(800000.0)
      val w = math.max(Spatial.autoCellMicro(stationCount(s, dir)),
        Spatial.epsCellMicro(pregate))
      Spatial.bucketStations(stations(s, dir), "s_suppkey", "slat",
        "slon", w, buckets = 8, table = "q298_stations",
        nStations = Some(stationCount(s, dir)))
      Spatial.stationsWithinMetersBucketed(s, points(s, dir),
        "c_custkey", "plat", "plon", "q298_stations",
        radiusMeters = 800000.0)
        .orderBy("c_custkey", "station")
    },

    // Co-located nearest-station join: the station side persisted as
    // a CELL-BUCKETED table (bucketStations) and probed straight off
    // its bucketed scan — one-sided shuffle (SpatialBucketSpec pins
    // the plan), identical semantics to q263, so the oracle is
    // q263's SQL verbatim. At 100 TB this is the amortization story:
    // the big observation side shuffles ONCE at write time, never
    // per query.
    Q("q287_nearest_station_bucketed", Some(s"""
      WITH $duckBase, $duckCand,
      best AS (
        SELECT c_custkey, s_suppkey, d2,
          row_number() OVER (PARTITION BY c_custkey
            ORDER BY d2, s_suppkey) AS rn,
          count(*) OVER (PARTITION BY c_custkey) AS n_cand
        FROM cand)
      SELECT p.c_custkey, b.s_suppkey AS station, b.d2,
        CAST(COALESCE(b.n_cand, 0) AS BIGINT) AS n_cand
      FROM pts p
      LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (c_custkey)
      ORDER BY p.c_custkey""")) { (s, dir) =>
      val st = stations(s, dir)
      val w = Spatial.autoCellMicro(stationCount(s, dir))
      Spatial.bucketStations(st, "s_suppkey", "slat", "slon", w,
        buckets = 8, table = "q287_stations",
        nStations = Some(stationCount(s, dir)))
      // probe at the table's OWN persisted width (catalog metadata,
      // no station re-scan and no width-mismatch foot-gun)
      Spatial.nearestStationBucketedAuto(s, points(s, dir), "c_custkey",
        "plat", "plon", "q287_stations")
        .orderBy("c_custkey")
    },

    // Station-coverage audit per 10° reporting cell: how many fields
    // have at least one station within 800 km TRUE geodesic distance
    // — the network-gap view an agro warehouse runs before trusting
    // interpolated surfaces. Composes q286's radius machinery; the
    // percentage is one double division of exact longs.
    Q("q295_station_coverage", Some {
      val pre = Spatial.radiusPregateMicro(800000.0)
      s"""
      WITH $duckBase,
      stc10 AS (
        SELECT st.*, (slat + 90000000) // 10000000 AS cl,
          (slon + 180000000) // 10000000 AS cn
        FROM st),
      pk2 AS (
        SELECT c_custkey, plat, plon,
          (plat + 90000000) // 10000000 AS cl0,
          (plon + 180000000) // 10000000 AS cn0,
          least((((10000000 + 1) * CAST(1048576 AS BIGINT) - 1)
              // greatest(list_extract((SELECT q FROM ct),
                  least(90, (abs(plat) + 10000000) // 1000000 + 1) + 1), 1)
              + 10000000 - 1) // 10000000,
            36) AS k
        FROM pts),
      probe02 AS (
        SELECT c_custkey, plat, plon, cl0, cn0,
          unnest(CASE WHEN 2 * k + 1 >= 36 THEN range(0, 36)
                      ELSE range(-k, k + 1) END) AS dj
        FROM pk2),
      probe2 AS (
        SELECT p.c_custkey, p.plat, p.plon, p.cl0 + i.i AS cl,
          (p.cn0 + p.dj + 36) % 36 AS cn
        FROM probe02 p, (SELECT unnest([-1, 0, 1]) AS i) i),
      cand2 AS (
        SELECT c_custkey, plat, plon, slat, slon,
          dlat * dlat + dle * dle AS d2
        FROM (
          SELECT pr.c_custkey, pr.plat, pr.plon, s.slat, s.slon,
            pr.plat - s.slat AS dlat,
            least(abs(pr.plon - s.slon),
                360000000 - abs(pr.plon - s.slon))
              * list_extract((SELECT q FROM ct),
                  least(90, abs(pr.plat + s.slat) // 2000000 + 1) + 1)
              // 1048576 AS dle
          FROM probe2 pr JOIN stc10 s ON pr.cl = s.cl AND pr.cn = s.cn)),
      covered AS (
        SELECT DISTINCT c_custkey FROM (
          SELECT c_custkey,
            round(2 * 6371000.0 * asin(sqrt(
              sin(radians((slat - plat) / 2000000.0))
                * sin(radians((slat - plat) / 2000000.0))
              + cos(radians(plat / 1000000.0))
                * cos(radians(slat / 1000000.0))
                * sin(radians((slon - plon) / 2000000.0))
                * sin(radians((slon - plon) / 2000000.0)))), 3) AS dist_m
          FROM cand2
        -- polar cap: over-the-pole in-radius pairs have both lats
        -- within the pre-gate of a pole; the dlon term is not
        -- admissible there, so gate on dlat alone (haversine refines)
        WHERE CASE WHEN greatest(abs(plat), abs(slat)) + $pre
                     >= 90000000
              THEN (plat - slat) * (plat - slat)
                     <= CAST($pre AS BIGINT) * $pre
              ELSE d2 <= CAST($pre AS BIGINT) * $pre END)
        WHERE dist_m <= 800000.0),
      pc AS (
        SELECT p.c_custkey,
          (p.plat + 90000000) // 10000000 AS cell_lat,
          (p.plon + 180000000) // 10000000 AS cell_lon,
          CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS cov
        FROM pts p LEFT JOIN covered c USING (c_custkey))
      SELECT cell_lat, cell_lon,
        CAST(count(*) AS BIGINT) AS n_fields,
        CAST(SUM(cov) AS BIGINT) AS n_covered,
        CAST(SUM(cov) AS DOUBLE) / CAST(count(*) AS DOUBLE)
          AS coverage_pct
      FROM pc GROUP BY 1, 2
      ORDER BY cell_lat, cell_lon"""
    }) { (s, dir) =>
      val pts = points(s, dir)
      val covered = Spatial.stationsWithinMeters(pts, "c_custkey",
          "plat", "plon", stations(s, dir), "s_suppkey", "slat",
          "slon", radiusMeters = 800000.0)
        .select(col("c_custkey")).distinct()
        .withColumn("_cov", lit(1L))
      val (rcl, rcn) = Spatial.cellOf(col("plat"), col("plon"),
        CellMicro)
      pts.select(col("c_custkey"), rcl.as("cell_lat"),
          rcn.as("cell_lon"))
        .join(covered, Seq("c_custkey"), "left")
        .groupBy("cell_lat", "cell_lon")
        .agg(count(lit(1)).as("n_fields"),
          sum(coalesce(col("_cov"), lit(0L))).as("n_covered"))
        .select(col("cell_lat"), col("cell_lon"), col("n_fields"),
          col("n_covered"),
          (col("n_covered").cast("double") /
            col("n_fields").cast("double")).as("coverage_pct"))
        .orderBy("cell_lat", "cell_lon")
    },

    // Radius-bounded nearest weather station per field point:
    // grid-ring candidates at the AUTO width (cell-keyed equi-join,
    // never points × stations), exact integer cos-scaled d² argmin,
    // ties to the lowest station id, unmatched points preserved with
    // null station / n_cand 0.
    Q("q263_nearest_station", Some(s"""
      WITH $duckBase, $duckCand,
      best AS (
        SELECT c_custkey, s_suppkey, d2,
          row_number() OVER (PARTITION BY c_custkey
            ORDER BY d2, s_suppkey) AS rn,
          count(*) OVER (PARTITION BY c_custkey) AS n_cand
        FROM cand)
      SELECT p.c_custkey, b.s_suppkey AS station, b.d2,
        CAST(COALESCE(b.n_cand, 0) AS BIGINT) AS n_cand
      FROM pts p
      LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (c_custkey)
      ORDER BY p.c_custkey""")) { (s, dir) =>
      val st = stations(s, dir)
      Spatial.nearestStation(points(s, dir), "c_custkey", "plat", "plon",
        st, "s_suppkey", "slat", "slon",
        Spatial.autoCellMicro(stationCount(s, dir)))
        .orderBy("c_custkey")
    },

    // Inverse-distance-weighted interpolation of the station attribute
    // (s_acctbal) at each field point from its ring candidates: integer
    // weights 10^18 div (d2+1), Σw·v and Σw exact (DECIMAL(38) /
    // HUGEINT), one double division at the end — bit-identical across
    // engines and partitionings.
    Q("q264_idw_interpolate", Some(s"""
      WITH $duckBase, $duckCand,
      wgt AS (
        SELECT c_custkey,
          1000000000000000000 // (d2 + 1) AS wt,
          CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        FROM cand),
      agg AS (
        SELECT c_custkey, CAST(count(*) AS BIGINT) AS n_cand,
          SUM(CAST(wt AS HUGEINT) * vc) AS num,
          SUM(CAST(wt AS HUGEINT)) AS den
        FROM wgt GROUP BY c_custkey)
      SELECT p.c_custkey, CAST(COALESCE(a.n_cand, 0) AS BIGINT) AS n_cand,
        CAST(a.num AS DOUBLE) / CAST(a.den AS DOUBLE) / 100.0 AS est
      FROM pts p LEFT JOIN agg a USING (c_custkey)
      ORDER BY p.c_custkey""")) { (s, dir) =>
      val st = stations(s, dir)
      Spatial.idwEstimate(points(s, dir), "c_custkey", "plat", "plon",
        st, "s_suppkey", "slat", "slon",
        (Q.dec(col("s_acctbal")) * 100).cast("long"),
        Spatial.autoCellMicro(stationCount(s, dir)))
        .orderBy("c_custkey")
    },

    // k-nearest IDW (the textbook Shepard form): interpolation from
    // each point's 4 NEAREST ring stations only — bounds per-point
    // work independent of ring density; weights/sums stay the exact
    // integer q264 arithmetic so the estimate hash-matches.
    Q("q289_idw_knn", Some(idwKnnOracleSql)) { (s, dir) =>
      val st = stations(s, dir)
      Spatial.idwEstimateKnn(points(s, dir), "c_custkey", "plat",
        "plon", st, "s_suppkey", "slat", "slon",
        (Q.dec(col("s_acctbal")) * 100).cast("long"),
        Spatial.autoCellMicro(stationCount(s, dir)), kNearest = 4)
        .orderBy("c_custkey")
    },

    // Bucketed kNN-IDW: q289's Shepard interpolation off the
    // persisted layout — valueCents evaluates over the table's
    // payload column, exact-integer weights/sums unchanged. Oracle =
    // q289's SQL verbatim.
    Q("q300_idw_knn_bucketed", Some(idwKnnOracleSql)) { (s, dir) =>
      val w = Spatial.autoCellMicro(stationCount(s, dir))
      Spatial.bucketStations(stations(s, dir), "s_suppkey", "slat",
        "slon", w, buckets = 8, table = "q300_stations",
        payloadCols = Seq("s_acctbal"),
        nStations = Some(stationCount(s, dir)))
      Spatial.idwEstimateKnnBucketed(s, points(s, dir), "c_custkey",
        "plat", "plon", "q300_stations",
        (Q.dec(col("s_acctbal")) * 100).cast("long"), kNearest = 4)
        .orderBy("c_custkey")
    },

    // Per-cell density census with 3×3 ring smoothing: observation
    // hot-spot detection. Points emit one row per neighbor cell (9n,
    // one shuffle); all joins are cell-keyed.
    Q("q265_ring_density", Some(s"""
      WITH $duckBase,
      stc10 AS (
        SELECT st.*, (slat + 90000000) // 10000000 AS cl,
          (slon + 180000000) // 10000000 AS cn
        FROM st),
      pc AS (
        SELECT (plat + 90000000) // 10000000 AS cell_lat,
          (plon + 180000000) // 10000000 AS cell_lon
        FROM pts),
      per_cell AS (
        SELECT cell_lat, cell_lon, CAST(count(*) AS BIGINT) AS n_points
        FROM pc GROUP BY 1, 2),
      contrib AS (
        SELECT pc.cell_lat + i.i AS cell_lat,
          (pc.cell_lon + j.j + 36) % 36 AS cell_lon,
          CAST(count(*) AS BIGINT) AS ring_points
        FROM pc,
          (SELECT unnest([-1, 0, 1]) AS i) i,
          (SELECT unnest([-1, 0, 1]) AS j) j
        GROUP BY 1, 2),
      sc AS (
        SELECT cl AS cell_lat, cn AS cell_lon,
          CAST(count(*) AS BIGINT) AS n_stations
        FROM stc10 GROUP BY 1, 2)
      SELECT p.cell_lat, p.cell_lon, p.n_points,
        CAST(COALESCE(s.n_stations, 0) AS BIGINT) AS n_stations,
        c.ring_points
      FROM per_cell p
      LEFT JOIN contrib c USING (cell_lat, cell_lon)
      LEFT JOIN sc s USING (cell_lat, cell_lon)
      ORDER BY p.cell_lat, p.cell_lon""")) { (s, dir) =>
      Spatial.ringDensity(
        points(s, dir), "plat", "plon",
        stations(s, dir), "slat", "slon", CellMicro)
        .orderBy("cell_lat", "cell_lon")
    },

    // STREAMING geo enrichment — the round-17 capstone composition:
    // events arrive in four micro-batches (the q100 fold idiom), each
    // batch is enriched with its nearest station via the CELL-BUCKETED
    // station table (the stream-static join against the amortized
    // layout — the station side never reshuffles per batch) and
    // committed to the versioned lake; the final snapshot aggregates
    // per station. Enrichment is stateless per event, so the fold
    // provably equals the batch oracle (one ring CTE over all events;
    // unmatched events keep station −1).
    Q("q290_stream_geo_enrich", Some(s"""
      WITH ct(q) AS (SELECT ${graft.analytics.Spatial.cosQSqlList}::BIGINT[]),
      wp AS (
        SELECT w, 360000000 // w AS nlon FROM (
          SELECT CASE WHEN c >= 5760000 THEN 100000
                      WHEN c >= 1440000 THEN 200000
                      WHEN c >= 230400 THEN 500000
                      WHEN c >= 57600 THEN 1000000
                      WHEN c >= 14400 THEN 2000000
                      WHEN c >= 6400 THEN 3000000
                      WHEN c >= 3600 THEN 4000000
                      WHEN c >= 2304 THEN 5000000
                      ELSE 10000000 END AS w
          FROM (SELECT count(*) AS c FROM supplier))),
      epts AS (
        SELECT event_id,
          (event_id * 2654435761) % 170000001 - 85000000 AS plat,
          (event_id * 1103515245 + 12345) % 360000000 - 180000000
            AS plon,
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        FROM events
        WHERE event_id IS NOT NULL AND value IS NOT NULL),
      st AS (
        SELECT s_suppkey,
          (s_suppkey * 2246822519 + 97) % 170000001 - 85000000 AS slat,
          (s_suppkey * 2654435761 + 31) % 360000000 - 180000000 AS slon
        FROM supplier),
      stc AS (
        SELECT st.*, (slat + 90000000) // wp.w AS cl,
          (slon + 180000000) // wp.w AS cn
        FROM st, wp),
      pk AS (
        SELECT p.event_id, p.plat, p.plon, wp.nlon,
          (p.plat + 90000000) // wp.w AS cl0,
          (p.plon + 180000000) // wp.w AS cn0,
          least((((wp.w + 1) * CAST(1048576 AS BIGINT) - 1)
              // greatest(list_extract((SELECT q FROM ct),
                  least(90, (abs(p.plat) + wp.w) // 1000000) + 1), 1)
              + wp.w - 1) // wp.w,
            wp.nlon) AS k
        FROM epts p, wp),
      probe0 AS (
        SELECT event_id, plat, plon, cl0, cn0, nlon,
          unnest(CASE WHEN 2 * k + 1 >= nlon THEN range(0, nlon)
                      ELSE range(-k, k + 1) END) AS dj
        FROM pk),
      probe AS (
        SELECT p.event_id, p.plat, p.plon, p.cl0 + i.i AS cl,
          (p.cn0 + p.dj + p.nlon) % p.nlon AS cn
        FROM probe0 p, (SELECT unnest([-1, 0, 1]) AS i) i),
      ecand AS (
        SELECT event_id, s_suppkey, dlat * dlat + dle * dle AS d2
        FROM (
          SELECT pr.event_id, s.s_suppkey,
            pr.plat - s.slat AS dlat,
            least(abs(pr.plon - s.slon),
                360000000 - abs(pr.plon - s.slon))
              * list_extract((SELECT q FROM ct),
                  least(90, abs(pr.plat + s.slat) // 2000000) + 1)
              // 1048576 AS dle
          FROM probe pr JOIN stc s ON pr.cl = s.cl AND pr.cn = s.cn)),
      best AS (
        SELECT event_id, s_suppkey FROM (
          SELECT event_id, s_suppkey,
            row_number() OVER (PARTITION BY event_id
              ORDER BY d2, s_suppkey) AS rn
          FROM ecand) t
        WHERE rn = 1)
      SELECT COALESCE(b.s_suppkey, -1) AS station,
        CAST(count(*) AS BIGINT) AS n_events,
        CAST(SUM(e.vc) AS BIGINT) AS total_cents
      FROM epts e LEFT JOIN best b USING (event_id)
      GROUP BY 1 ORDER BY station""")) { (s, dir) =>
      import graft.warehouse.Versioned
      val path = Q.scratchPath("q290", dir)
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(hp, true): Unit
      val st = stations(s, dir)
      val w = Spatial.autoCellMicro(stationCount(s, dir))
      Spatial.bucketStations(st, "s_suppkey", "slat", "slon", w,
        buckets = 8, table = "q290_stations")
      val ev = Tables.load(s, dir, "events")
        .where(col("event_id").isNotNull && col("value").isNotNull)
        .select(col("event_id"),
          latOf("event_id", 2654435761L, 0L).as("plat"),
          lonOf("event_id", 1103515245L, 12345L).as("plon"),
          (Q.dec(col("value")) * 100).cast("long").as("vc"),
          (col("event_id") % 4L).as("bi"))
      // enrichment is stateless per event, so the four batches'
      // enrichment JOBS are independent — compute them concurrently
      // (guide §2.6, overlap independent batch work: later batches'
      // tasks back-fill the cores a finishing batch leaves idle) and
      // keep the lake protocol exactly as before: commits are issued
      // serially, in batch order, from this one writer thread.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val enrichedF = (0L until 4L).map { b =>
          scala.concurrent.Future {
            val batch = ev.filter(col("bi") === b)
            graft.util.Lineage.materialize(
              Spatial.nearestStationBucketed(s,
                  batch.select("event_id", "plat", "plon"),
                  "event_id", "plat", "plon", "q290_stations", w)
                .join(batch.select("event_id", "vc"), Seq("event_id"))
                .select(col("event_id"),
                  coalesce(col("station"), lit(-1L)).as("station"),
                  col("vc")))
          }
        }
        for (f <- enrichedF)
          Versioned.commit(scala.concurrent.Await.result(f,
            scala.concurrent.duration.Duration.Inf), path): Unit
      } finally pool.shutdown()
      Versioned.read(s, path)
        .groupBy("station")
        .agg(count(lit(1)).as("n_events"),
          sum(col("vc")).as("total_cents"))
        .orderBy("station")
    },

    // Spatio-temporal enrichment — the composed consumer query of this
    // tier: each order gets its customer's nearest station (grid-ring
    // NN) and that station's latest daily shipment reading at or
    // before the order date (as-of join, union-and-carry-forward — one
    // shuffle, no range explosion). Readings are exact cents; orders
    // whose field has no in-range station drop (radius-bounded
    // semantics); orders before their station's first reading keep
    // null as-of columns.
    Q("q272_station_asof", Some(s"""
      WITH $duckBase, $duckCand,
      best AS (
        SELECT c_custkey, s_suppkey, d2,
          row_number() OVER (PARTITION BY c_custkey
            ORDER BY d2, s_suppkey) AS rn
        FROM cand),
      nearest AS (
        SELECT c_custkey, s_suppkey AS station FROM best WHERE rn = 1),
      rd AS (
        SELECT l_suppkey AS station, CAST(l_shipdate AS DATE) AS rday,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
            AS reading_cents
        FROM lineitem GROUP BY 1, 2),
      o AS (
        SELECT o_orderkey, n.station, CAST(o_orderdate AS DATE) AS day
        FROM orders JOIN nearest n ON o_custkey = n.c_custkey),
      j AS (
        SELECT o.o_orderkey, r.rday, r.reading_cents,
          row_number() OVER (PARTITION BY o.o_orderkey
            ORDER BY r.rday DESC) AS rn
        FROM o JOIN rd r ON o.station = r.station AND r.rday <= o.day)
      SELECT o.o_orderkey, o.station, strftime(o.day, '%Y-%m-%d') AS day,
        strftime(j.rday, '%Y-%m-%d') AS asof_day,
        j.reading_cents AS asof_reading_cents
      FROM o LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
        USING (o_orderkey)
      ORDER BY o.o_orderkey""")) { (s, dir) =>
      import graft.analytics.AsOfJoin
      val st = stations(s, dir)
      val near = Spatial.nearestStation(points(s, dir), "c_custkey",
          "plat", "plon", st, "s_suppkey", "slat", "slon",
          Spatial.autoCellMicro(stationCount(s, dir)))
        .where(col("station").isNotNull)
        .select(col("c_custkey"), col("station"))
      val rd = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("station"),
          to_date(col("l_shipdate")).as("day"))
        .agg((sum(Q.dec(col("l_quantity"))) * 100).cast("long")
          .as("reading_cents"))
        .select(col("station"), col("day"), col("day").as("rday"),
          col("reading_cents"))
      val left = Tables.load(s, dir, "orders")
        .join(near, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("station"),
          to_date(col("o_orderdate")).as("day"))
      AsOfJoin.lastPrior(left, rd, Seq("station"), "day",
          Seq("rday", "reading_cents"))
        .select(col("o_orderkey"), col("station"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          date_format(col("asof_rday"), "yyyy-MM-dd").as("asof_day"),
          col("asof_reading_cents"))
        .orderBy("o_orderkey")
    },

    // Suitability surface — the domain flagship composition: soil pH
    // at each field point is IDW-interpolated from its ring stations
    // (synthetic per-station pH in exact centi-units, 3.00–9.00), then
    // every point is scored against the broadcast crop pH bands
    // (reference `db/init/01-schema.sql` soil_ph_preference_min/max
    // semantics) and the verdicts aggregate per grid cell — the
    // "which crops fit where" map. Integer weights/sums end in ONE
    // double division per point, so the band comparisons see
    // bit-identical values in both engines.
    Q("q275_suitability_surface", Some(s"""
      WITH $duckBase, $duckCand,
      wgt AS (
        SELECT c_custkey,
          1000000000000000000 // (d2 + 1) AS wt,
          300 + ((CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
            % 601) + 601) % 601 AS vc
        FROM cand),
      est AS (
        SELECT c_custkey,
          CAST(SUM(CAST(wt AS HUGEINT) * vc) AS DOUBLE)
            / CAST(SUM(CAST(wt AS HUGEINT)) AS DOUBLE) / 100.0 AS ph
        FROM wgt GROUP BY c_custkey),
      crops(crop, lo, hi) AS (VALUES
        ('maize', 5.5, 7.0), ('rice', 5.0, 6.5), ('wheat', 6.0, 7.5)),
      pc AS (
        SELECT p.c_custkey,
          (p.plat + 90000000) // 10000000 AS cell_lat,
          (p.plon + 180000000) // 10000000 AS cell_lon, e.ph
        FROM pts p JOIN est e USING (c_custkey))
      SELECT pc.cell_lat, pc.cell_lon, c.crop,
        CAST(count(*) AS BIGINT) AS n_fields,
        CAST(SUM(CASE WHEN pc.ph BETWEEN c.lo AND c.hi
          THEN 1 ELSE 0 END) AS BIGINT) AS n_compatible
      FROM pc CROSS JOIN crops c
      GROUP BY 1, 2, 3
      ORDER BY cell_lat, cell_lon, crop""")) { (s, dir) =>
      val st = stations(s, dir)
      val ph = Spatial.idwEstimate(points(s, dir), "c_custkey", "plat",
          "plon", st, "s_suppkey", "slat", "slon",
          lit(300L) + pmod((Q.dec(col("s_acctbal")) * 100).cast("long"),
            lit(601L)), Spatial.autoCellMicro(stationCount(s, dir)))
        .where(col("est").isNotNull)
        .select(col("c_custkey"), col("est").as("ph"))
      val (pcl, pcn) = Spatial.cellOf(col("plat"), col("plon"), CellMicro)
      val crops = s.createDataFrame(Seq(
        ("maize", 5.5, 7.0), ("rice", 5.0, 6.5), ("wheat", 6.0, 7.5)))
        .toDF("crop", "lo", "hi")
      points(s, dir)
        .select(col("c_custkey"), pcl.as("cell_lat"), pcn.as("cell_lon"))
        .join(ph, Seq("c_custkey"))
        .crossJoin(broadcast(crops))
        .groupBy("cell_lat", "cell_lon", "crop")
        .agg(count(lit(1)).as("n_fields"),
          sum(when(col("ph").between(col("lo"), col("hi")), 1L)
            .otherwise(0L)).as("n_compatible"))
        .orderBy("cell_lat", "cell_lon", "crop")
    },

    // Grid-density spatial clustering (GriDBSCAN family): dense cells
    // (≥2 points) merge across 8-neighborhoods (lon wrap) via
    // connected components over the CELL graph — node count is dense
    // cells, not points; sparse-cell points are noise (null cluster).
    // Oracle reaches the same min-cell-id fixpoint by recursive CTE;
    // Spark by large-star/small-star contraction.
    Q("q270_grid_clusters", Some(s"""
      WITH RECURSIVE pts AS (
        SELECT c_custkey,
          (c_custkey * 2654435761) % 170000001 - 85000000 AS plat,
          (c_custkey * 1103515245 + 12345) % 360000000 - 180000000 AS plon
        FROM customer),
      pc AS (
        SELECT c_custkey, (plat + 90000000) // 10000000 AS cell_lat,
          (plon + 180000000) // 10000000 AS cell_lon
        FROM pts),
      dense AS (
        SELECT cell_lat, cell_lon,
          cell_lat * 36 + cell_lon AS cid
        FROM pc GROUP BY 1, 2 HAVING count(*) >= 2),
      edges AS (
        SELECT DISTINCT a.cid AS src, b.cid AS dst
        FROM dense a,
          (SELECT unnest([-1, 0, 1]) AS i) i,
          (SELECT unnest([-1, 0, 1]) AS j) j,
          dense b
        WHERE b.cell_lat = a.cell_lat + i.i
          AND b.cell_lon = (a.cell_lon + j.j + 36) % 36
          AND a.cid <> b.cid),
      reach(id, r) AS (
        SELECT cid, cid FROM dense
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
      cl AS (
        SELECT id AS cid, MIN(r) AS cluster FROM reach GROUP BY id)
      SELECT p.c_custkey, p.cell_lat, p.cell_lon, cl.cluster
      FROM pc p
      LEFT JOIN dense d USING (cell_lat, cell_lon)
      LEFT JOIN cl ON d.cid = cl.cid
      ORDER BY p.c_custkey""")) { (s, dir) =>
      Spatial.gridClusters(points(s, dir), "c_custkey", "plat", "plon",
        CellMicro, minPts = 2L)
        .orderBy("c_custkey")
    },

    // Growing degree days (base 10 °C) + frost / heat-stress censuses
    // per location over the synthetic daily series (per-event
    // temperature in exact cents: value-cents % 5000 − 1000 ∈
    // [−10.00, 39.99] °C; daily tmax/tmin are integer max/min). The
    // doubled GDD accumulates in cents and divides by 200 once.
    Q("q266_gdd", Some("""
      WITH e AS (
        SELECT user_id AS loc, CAST(ts AS DATE) AS day,
          (CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 5000)
            - 1000 AS t_c
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      d AS (
        SELECT loc, day, max(t_c) AS tmax_c, min(t_c) AS tmin_c
        FROM e GROUP BY 1, 2)
      SELECT loc, CAST(count(*) AS BIGINT) AS n_days,
        CAST(SUM(greatest(0, tmax_c + tmin_c - 2000)) AS DOUBLE) / 200.0
          AS gdd,
        CAST(SUM(CASE WHEN tmin_c < 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS frost_days,
        CAST(SUM(CASE WHEN tmax_c > 3000 THEN 1 ELSE 0 END) AS BIGINT)
          AS heat_days
      FROM d GROUP BY loc ORDER BY loc""")) { (s, dir) =>
      Agro.gdd(dailyTemps(s, dir), "loc", "tmax_c", "tmin_c")
        .orderBy("loc")
    },

    // Dry-spell islands per location: consecutive observed-dry calendar
    // days (missing day breaks the run) — longest run, run count, and
    // spells of ≥3 days. Dry flag is a deterministic hash of the
    // exact daily cents sum (40% dry rate).
    Q("q267_dry_spells", Some("""
      WITH e AS (
        SELECT user_id AS loc, CAST(ts AS DATE) AS day,
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      d AS (
        SELECT loc, day, CAST(SUM(c) AS BIGINT) % 10 < 4 AS is_dry
        FROM e GROUP BY 1, 2),
      dry AS (
        SELECT loc, day,
          day - CAST(row_number() OVER (PARTITION BY loc ORDER BY day)
            AS INTEGER) AS grp
        FROM d WHERE is_dry),
      runs AS (
        SELECT loc, grp, CAST(count(*) AS BIGINT) AS len
        FROM dry GROUP BY 1, 2),
      agg AS (
        SELECT loc, CAST(SUM(len) AS BIGINT) AS dry_days,
          CAST(count(*) AS BIGINT) AS n_runs, max(len) AS max_run,
          CAST(SUM(CASE WHEN len >= 3 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_spells
        FROM runs GROUP BY loc)
      SELECT l.loc, CAST(COALESCE(a.dry_days, 0) AS BIGINT) AS dry_days,
        CAST(COALESCE(a.n_runs, 0) AS BIGINT) AS n_runs, a.max_run,
        CAST(COALESCE(a.n_spells, 0) AS BIGINT) AS n_spells
      FROM (SELECT DISTINCT loc FROM d) l
      LEFT JOIN agg a USING (loc)
      ORDER BY l.loc""")) { (s, dir) =>
      val daily = dailyCents(s, dir)
        .select(col("loc"), col("day"),
          (col("c") % 10L < 4L).as("is_dry"))
      Agro.drySpells(daily, "loc", "day", "is_dry", spellMinDays = 3)
        .orderBy("loc")
    },

    // Local hot-spot census (Getis–Ord Gi* family, integer form): a
    // cell is hot when its 3×3-ring mean account balance exceeds
    // 3/2 × the global mean — compared CROSS-MULTIPLIED on exact
    // integer sums (positive multipliers only, so negative balances
    // keep their direction); no float boundary anywhere.
    Q("q279_hot_spots", Some(s"""
      WITH pts AS (
        SELECT c_custkey,
          (c_custkey * 2654435761) % 170000001 - 85000000 AS plat,
          (c_custkey * 1103515245 + 12345) % 360000000 - 180000000 AS plon,
          CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM customer),
      pc AS (
        SELECT (plat + 90000000) // 10000000 AS cell_lat,
          (plon + 180000000) // 10000000 AS cell_lon, v
        FROM pts),
      per_cell AS (
        SELECT cell_lat, cell_lon, CAST(count(*) AS BIGINT) AS n,
          CAST(SUM(v) AS BIGINT) AS sum_cents
        FROM pc GROUP BY 1, 2),
      ring AS (
        SELECT p.cell_lat + i.i AS cell_lat,
          (p.cell_lon + j.j + 36) % 36 AS cell_lon,
          CAST(SUM(p.n) AS BIGINT) AS ring_n,
          CAST(SUM(p.sum_cents) AS BIGINT) AS ring_sum
        FROM per_cell p,
          (SELECT unnest([-1, 0, 1]) AS i) i,
          (SELECT unnest([-1, 0, 1]) AS j) j
        GROUP BY 1, 2),
      g AS (
        SELECT CAST(SUM(n) AS BIGINT) AS g_n,
          CAST(SUM(sum_cents) AS BIGINT) AS g_sum
        FROM per_cell)
      SELECT p.cell_lat, p.cell_lon, p.n, p.sum_cents,
        r.ring_n, r.ring_sum,
        CAST(r.ring_sum AS HUGEINT) * g.g_n * 2
          > 3 * CAST(g.g_sum AS HUGEINT) * r.ring_n AS is_hot
      FROM per_cell p
      JOIN ring r USING (cell_lat, cell_lon)
      CROSS JOIN g
      ORDER BY p.cell_lat, p.cell_lon""")) { (s, dir) =>
      val pts = Tables.load(s, dir, "customer").select(
        latOf("c_custkey", 2654435761L, 0L).as("plat"),
        lonOf("c_custkey", 1103515245L, 12345L).as("plon"),
        col("c_acctbal"))
      Spatial.hotSpots(pts, "plat", "plon",
        (Q.dec(col("c_acctbal")) * 100).cast("long"), CellMicro,
        num = 3L, den = 2L)
        .orderBy("cell_lat", "cell_lon")
    },

    // Origin–destination matrix over the event stream: consecutive
    // events per user (ordered by ts, event_id) become cell→cell
    // moves; one lag window + one keyed aggregation — the standard
    // mobility-warehouse artifact. Event positions derive from
    // event_id (same multiplicative-hash family as the point tables).
    Q("q278_od_matrix", Some("""
      WITH e AS (
        SELECT user_id, ts, event_id,
          ((event_id * 2654435761) % 170000001 - 85000000 + 90000000)
            // 10000000 AS cl,
          ((event_id * 1103515245 + 12345) % 360000000 - 180000000
            + 180000000) // 10000000 AS cn
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_id IS NOT NULL),
      mv AS (
        SELECT user_id, cl AS to_lat, cn AS to_lon,
          lag(cl) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS from_lat,
          lag(cn) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS from_lon
        FROM e)
      SELECT from_lat, from_lon, to_lat, to_lon,
        CAST(count(*) AS BIGINT) AS n_moves,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM mv WHERE from_lat IS NOT NULL
      GROUP BY 1, 2, 3, 4
      ORDER BY from_lat, from_lon, to_lat, to_lon""")) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.load(s, dir, "events")
        .where(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_id").isNotNull)
      val (cl, cn) = Spatial.cellOf(
        latOf("event_id", 2654435761L, 0L),
        lonOf("event_id", 1103515245L, 12345L), CellMicro)
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      e.select(col("user_id"), cl.as("to_lat"), cn.as("to_lon"),
          col("ts"), col("event_id"))
        .withColumn("from_lat", lag(col("to_lat"), 1).over(w))
        .withColumn("from_lon", lag(col("to_lon"), 1).over(w))
        .where(col("from_lat").isNotNull)
        .groupBy("from_lat", "from_lon", "to_lat", "to_lon")
        .agg(count(lit(1)).as("n_moves"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("from_lat", "from_lon", "to_lat", "to_lon")
    },

    // ε-near-duplicate location resolution: the reference dedups
    // locations by EXACT coordinate hash, so GPS-jittered
    // re-submissions of the same field duplicate the dimension; this
    // collapses every pair within 1 km TRUE geodesic distance —
    // filter-and-refine: integer ring candidates at the EPS-MATCHED
    // cell width (epsCellMicro: the finest ladder rung covering the
    // pre-gate — 0.1° cells here, vs 10° cells the ring candidate
    // volume drops ~10⁴×), admissible (bandShift=1) scaled pre-gate,
    // exact haversine verdict on survivors, connected components,
    // min-id representative. Input = customers plus a planted
    // jittered copy of every 10th one (key + 100000, ≤0.0005°
    // offset ≈ ≤70 m); the lattice spacing of the synthetic coords
    // guarantees the planted pairs are the only ones.
    Q("q281_geo_dedup", Some(s"""
      WITH RECURSIVE
      ct(q) AS (SELECT ${graft.analytics.Spatial.cosQSqlList}::BIGINT[]),
      base AS (
        SELECT c_custkey,
          (c_custkey * 2654435761) % 170000001 - 85000000 AS plat,
          (c_custkey * 1103515245 + 12345) % 360000000 - 180000000 AS plon
        FROM customer),
      pp AS (
        SELECT c_custkey AS pid, plat, plon FROM base
        UNION ALL
        SELECT c_custkey + 100000, plat + (c_custkey % 1000) - 500,
          ((plon + 180000000 + (c_custkey % 700) - 350 + 360000000)
            % 360000000) - 180000000
        FROM base WHERE c_custkey % 10 = 0),
      pk AS (
        SELECT pid, plat, plon,
          (plat + 90000000) // 100000 AS cl0,
          (plon + 180000000) // 100000 AS cn0,
          least((((100000 + 1) * CAST(1048576 AS BIGINT) - 1)
              // greatest(list_extract((SELECT q FROM ct),
                  least(90, (abs(plat) + 100000) // 1000000 + 1) + 1), 1)
              + 100000 - 1) // 100000,
            3600) AS k
        FROM pp),
      probe0 AS (
        SELECT pid, plat, plon, cl0, cn0,
          unnest(CASE WHEN 2 * k + 1 >= 3600 THEN range(0, 3600)
                      ELSE range(-k, k + 1) END) AS dj
        FROM pk),
      probe AS (
        SELECT p.pid, p.plat, p.plon, p.cl0 + i.i AS cl,
          (p.cn0 + p.dj + 3600) % 3600 AS cn
        FROM probe0 p, (SELECT unnest([-1, 0, 1]) AS i) i),
      pc AS (
        SELECT pid, plat, plon,
          (plat + 90000000) // 100000 AS cl,
          (plon + 180000000) // 100000 AS cn
        FROM pp),
      cpair AS (
        SELECT id_a, id_b, plat_a, plon_a, plat_b, plon_b,
          dlat * dlat + dle * dle AS d2
        FROM (
          SELECT a.pid AS id_a, b.pid AS id_b, a.plat AS plat_a,
            a.plon AS plon_a, b.plat AS plat_b, b.plon AS plon_b,
            a.plat - b.plat AS dlat,
            least(abs(a.plon - b.plon),
                360000000 - abs(a.plon - b.plon))
              * list_extract((SELECT q FROM ct),
                  least(90, abs(a.plat + b.plat) // 2000000 + 1) + 1)
              // 1048576 AS dle
          FROM probe a JOIN pc b ON a.cl = b.cl AND a.cn = b.cn
            AND a.pid < b.pid)),
      pairs AS MATERIALIZED (
        SELECT DISTINCT id_a, id_b FROM (
          SELECT id_a, id_b,
            round(2 * 6371000.0 * asin(sqrt(
              sin(radians((plat_b - plat_a) / 2000000.0))
                * sin(radians((plat_b - plat_a) / 2000000.0))
              + cos(radians(plat_a / 1000000.0))
                * cos(radians(plat_b / 1000000.0))
                * sin(radians((plon_b - plon_a) / 2000000.0))
                * sin(radians((plon_b - plon_a) / 2000000.0)))), 3)
              AS dist_m
          FROM cpair WHERE d2 <= 144000000)
        WHERE dist_m <= 1000.0),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src)
      SELECT CAST(id AS BIGINT) AS pid,
        CAST(MIN(r) AS BIGINT) AS cluster_rep
      FROM reach GROUP BY id ORDER BY pid""")) { (s, dir) =>
      import graft.analytics.Dedup
      val base = points(s, dir)
      val jittered = base.where(col("c_custkey") % 10L === 0L)
        .select((col("c_custkey") + 100000L).as("c_custkey"),
          (col("plat") + col("c_custkey") % 1000L - 500L).as("plat"),
          ((col("plon") + lit(180000000L) + col("c_custkey") % 700L
            - lit(350L) + lit(360000000L)) % lit(360000000L)
            - lit(180000000L)).as("plon"))
      val pts = base.select(col("c_custkey").as("c_custkey"),
          col("plat"), col("plon"))
        .unionByName(jittered)
        .withColumnRenamed("c_custkey", "pid")
      val pairs = Spatial.nearDupPointsVerified(pts, "pid", "plat",
          "plon", pregateMicro = 12000L, epsMeters = 1000.0)
        .select("id_a", "id_b")
      Dedup.connectedComponentsStar(pairs, "id_a", "id_b",
          materializeResult = false)
        .select(col("doc_id").as("pid"), col("cluster_rep"))
        .orderBy("pid")
    },

    // Spatial trend surface: Mann–Kendall + Theil–Sen per GRID CELL
    // over the user-located daily series — "which regions are
    // drifting" as one query; the q230 machinery keyed by row-major
    // cell id instead of event type.
    Q("q280_cell_trend", Some("""
      WITH d AS (
        SELECT (((user_id * 2654435761) % 170000001 - 85000000
              + 90000000) // 10000000) * 36
            + ((user_id * 1103515245 + 12345) % 360000000 - 180000000
              + 180000000) // 10000000 AS g,
          CAST(ts AS DATE) AS day,
          CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
            AS yc
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
          AND user_id IS NOT NULL
        GROUP BY 1, 2),
      p AS (
        SELECT a.g,
          CASE WHEN b.yc > a.yc THEN 1
               WHEN b.yc < a.yc THEN -1 ELSE 0 END AS sgn,
          (CAST(b.yc - a.yc AS DOUBLE) / 100.0)
            / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
        FROM d a JOIN d b ON a.g = b.g AND a.day < b.day),
      sa AS (
        SELECT g, CAST(SUM(sgn) AS BIGINT) AS s,
          CAST(count(*) AS BIGINT) AS n_pairs
        FROM p GROUP BY g),
      nd AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY g),
      tt AS (
        SELECT g, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tc
        FROM (SELECT g, yc, CAST(count(*) AS BIGINT) AS t
              FROM d GROUP BY g, yc)
        GROUP BY g),
      sen AS (
        SELECT g, SUM(slope) / count(*) AS sen_slope FROM (
          SELECT g, slope,
            row_number() OVER (PARTITION BY g ORDER BY slope) AS rn,
            count(*) OVER (PARTITION BY g) AS m
          FROM p)
        WHERE rn = CAST(floor(CAST(m + 1 AS DOUBLE) / 2.0) AS BIGINT)
           OR rn = CAST(floor(CAST(m + 2 AS DOUBLE) / 2.0) AS BIGINT)
        GROUP BY g),
      v AS (
        SELECT nd.g, nd.n, sa.n_pairs, sa.s, sen.sen_slope,
          CAST(nd.n * (nd.n - 1) * (2 * nd.n + 5) - tt.tc AS DOUBLE)
            / 18.0 AS var_s
        FROM nd JOIN tt ON nd.g = tt.g JOIN sa ON nd.g = sa.g
          JOIN sen ON nd.g = sen.g)
      SELECT g, n AS n_days, n_pairs, s, var_s,
        CASE WHEN var_s <= 0 THEN NULL
             WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
             WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
             ELSE 0.0 END AS z,
        sen_slope
      FROM v ORDER BY g""")) { (s, dir) =>
      val (cl, cn) = Spatial.cellOf(
        latOf("user_id", 2654435761L, 0L),
        lonOf("user_id", 1103515245L, 12345L), CellMicro)
      val daily = Tables.load(s, dir, "events")
        .where(col("ts").isNotNull && col("value").isNotNull &&
          col("user_id").isNotNull)
        .groupBy((cl * lit(36L) + cn).as("g"),
          to_date(col("ts")).as("day"))
        .agg((sum(Q.dec(col("value"))) * 100).cast("long").as("yc"))
      graft.analytics.TimeSeries.mannKendall(daily, "g", "day", "yc")
        .orderBy("g")
    },

    // Spatial block split (Roberts et al. 2017): train/val/test
    // assigned per CELL, so spatially-autocorrelated neighbors cannot
    // straddle splits — the geospatial analogue of the dedup tier's
    // cluster-aware clusterSplit (q245). Map-only; assignment hashes
    // the row-major cell id (portable md5 idiom, q225's form).
    Q("q277_spatial_block_split", Some(s"""
      WITH pts AS (
        SELECT c_custkey,
          (c_custkey * 2654435761) % 170000001 - 85000000 AS plat,
          (c_custkey * 1103515245 + 12345) % 360000000 - 180000000 AS plon
        FROM customer),
      pc AS (
        SELECT c_custkey,
          (plat + 90000000) // 10000000 AS cell_lat,
          (plon + 180000000) // 10000000 AS cell_lon
        FROM pts),
      sp AS (
        SELECT c_custkey, cell_lat, cell_lon,
          CASE WHEN b < 60 THEN 'train' WHEN b < 80 THEN 'val'
               ELSE 'test' END AS split
        FROM (
          SELECT *,
            (CAST('0x' || substr(md5(CAST(cell_lat * 36 + cell_lon
              AS VARCHAR)), 1, 8) AS BIGINT)
              % ${graft.analytics.Dedup.P}) % 100 AS b
          FROM pc))
      SELECT split, CAST(count(*) AS BIGINT) AS n_points,
        CAST(count(DISTINCT cell_lat * 36 + cell_lon) AS BIGINT)
          AS n_cells
      FROM sp GROUP BY split ORDER BY split""")) { (s, dir) =>
      Spatial.blockSplit(points(s, dir), "c_custkey", "plat", "plon",
          CellMicro)
        .groupBy("split")
        .agg(count(lit(1)).as("n_points"),
          count_distinct(col("cell_lat") * lit(36L) + col("cell_lon"))
            .as("n_cells"))
        .orderBy("split")
    },

    // Cumulative water-balance deficit: the clamped recurrence
    // D_t = max(0, D_{t-1} + ET0 - precip) via the Lindley rewrite
    // D_t = S_t - min(0, running-min S) — two windows over one sort
    // per location instead of a sequential fold. ET0/precip derive
    // from the exact daily cents (c % 700 / c % 2000).
    Q("q276_water_balance", Some("""
      WITH e AS (
        SELECT user_id AS loc, CAST(ts AS DATE) AS day,
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      d AS (
        SELECT loc, day, CAST(SUM(c) AS BIGINT) AS cd
        FROM e GROUP BY 1, 2),
      n AS (
        SELECT loc, day, (cd % 700) - (cd % 2000) AS net FROM d),
      s AS (
        SELECT loc, day,
          CAST(SUM(net) OVER (PARTITION BY loc ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS s
        FROM n),
      dd AS (
        SELECT loc, day,
          s - least(0, min(s) OVER (PARTITION BY loc ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            AS deficit
        FROM s)
      SELECT loc, CAST(count(*) AS BIGINT) AS n_days,
        max(deficit) AS max_deficit,
        max_by(deficit, day) AS final_deficit,
        CAST(SUM(CASE WHEN deficit > 500 THEN 1 ELSE 0 END) AS BIGINT)
          AS days_over
      FROM dd GROUP BY loc ORDER BY loc""")) { (s, dir) =>
      val daily = dailyCents(s, dir)
        .select(col("loc"), col("day"),
          (col("c") % 700L - col("c") % 2000L).as("net"))
      Agro.waterBalance(daily, "loc", "day", "net",
        thresholdCents = 500L)
        .orderBy("loc")
    },

    // Multi-year monthly climate normals + anomaly census over the
    // orders-derived monthly series (1995–2001): normal = across-year
    // mean (exact Σ cents / n), anomaly = deviation > 50% of the
    // normal, compared cross-multiplied in integers.
    Q("q268_monthly_normals", Some("""
      WITH m AS (
        SELECT o_custkey % 25 AS loc,
          CAST(year(o_orderdate) AS BIGINT) AS y,
          CAST(month(o_orderdate) AS BIGINT) AS month,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
            AS v_c
        FROM orders GROUP BY 1, 2, 3),
      s AS (
        SELECT loc, month, CAST(count(*) AS BIGINT) AS n_years,
          CAST(SUM(v_c) AS BIGINT) AS sum_c
        FROM m GROUP BY 1, 2)
      SELECT m.loc, m.month, s.n_years,
        CAST(s.sum_c AS DOUBLE) / CAST(s.n_years AS DOUBLE) / 100.0
          AS normal,
        CAST(SUM(CASE WHEN abs(m.v_c * s.n_years - s.sum_c) * 100
          > 50 * abs(s.sum_c) THEN 1 ELSE 0 END) AS BIGINT) AS n_anom
      FROM m JOIN s ON m.loc = s.loc AND m.month = s.month
      GROUP BY m.loc, m.month, s.n_years, s.sum_c
      ORDER BY m.loc, m.month""")) { (s, dir) =>
      val monthly = Tables.load(s, dir, "orders")
        .groupBy((col("o_custkey") % 25L).as("loc"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("month"))
        .agg((sum(Q.dec(col("o_totalprice"))) * 100).cast("long")
          .as("v_c"))
      Agro.monthlyNormals(monthly, "loc", "y", "month", "v_c",
        relThresholdPct = 50L)
        .orderBy("loc", "month")
    },

    // Standardized monthly anomaly (SPI-family z-score on the
    // calendar-month climatology): z = (v − mean)/sd per (loc, y,
    // month), reduced to ONE double division of exact integers —
    // (n·v − S)/√(n·Q − S²) with S, Q exact HUGEINT/DECIMAL(38)
    // cent sums (Q overflows BIGINT at warehouse scale) — so the
    // doubles hash-match under any partitioning. Zero-variance
    // months yield null z.
    Q("q291_monthly_zscore", Some("""
      WITH m AS (
        SELECT o_custkey % 25 AS loc,
          CAST(year(o_orderdate) AS BIGINT) AS y,
          CAST(month(o_orderdate) AS BIGINT) AS month,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
            AS v_c
        FROM orders GROUP BY 1, 2, 3),
      s AS (
        SELECT loc, month, CAST(count(*) AS BIGINT) AS n_years,
          SUM(CAST(v_c AS HUGEINT)) AS sm,
          SUM(CAST(v_c AS HUGEINT) * v_c) AS q2
        FROM m GROUP BY 1, 2)
      SELECT m.loc, m.y, m.month, m.v_c AS v_cents, s.n_years,
        CASE WHEN s.n_years * s.q2 - s.sm * s.sm > 0 THEN
          CAST(s.n_years * m.v_c - s.sm AS DOUBLE)
            / sqrt(CAST(s.n_years * s.q2 - s.sm * s.sm AS DOUBLE))
        END AS z
      FROM m JOIN s USING (loc, month)
      ORDER BY m.loc, m.y, m.month""")) { (s, dir) =>
      val monthly = Tables.load(s, dir, "orders")
        .groupBy((col("o_custkey") % 25L).as("loc"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("month"))
        .agg((sum(Q.dec(col("o_totalprice"))) * 100).cast("long")
          .as("v_c"))
      Agro.monthlyZScores(monthly, "loc", "y", "month", "v_c")
        .orderBy("loc", "y", "month")
    },

    // Growing-season onset: first calendar day whose cumulative GDD
    // reaches 50 °C·day per (location, year) — the planting-date rule
    // on the q266 synthetic daily series; one window sum + a
    // conditional min, exact doubled-cents until the final /200.
    Q("q292_season_onset", Some("""
      WITH e AS (
        SELECT user_id AS loc, CAST(ts AS DATE) AS day,
          (CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 5000)
            - 1000 AS t_c
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      d AS (
        SELECT loc, day, max(t_c) AS tmax_c, min(t_c) AS tmin_c
        FROM e GROUP BY 1, 2),
      c AS (
        SELECT loc, CAST(year(day) AS BIGINT) AS y, day,
          SUM(greatest(0, tmax_c + tmin_c - 2000)) OVER (
            PARTITION BY loc, year(day) ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM d)
      SELECT loc, y,
        strftime(min(CASE WHEN cum >= 10000 THEN day END),
          '%Y-%m-%d') AS onset_day,
        CAST(max(cum) AS DOUBLE) / 200.0 AS season_gdd,
        CAST(count(*) AS BIGINT) AS n_days
      FROM c GROUP BY 1, 2 ORDER BY loc, y""")) { (s, dir) =>
      Agro.seasonOnset(dailyTemps(s, dir), "loc", "day",
        "tmax_c", "tmin_c", thresholdDoubledCents = 10000L)
        .orderBy("loc", "y")
    },

    // Last spring frost per (location, year): the latest Jan–Jun day
    // with tmin < 0 °C — with q292's onset, the safe planting-window
    // bracket. One conditional-max aggregation; frost-free springs
    // keep a null date.
    Q("q294_last_frost", Some("""
      WITH e AS (
        SELECT user_id AS loc, CAST(ts AS DATE) AS day,
          (CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 5000)
            - 1000 AS t_c
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      d AS (
        SELECT loc, day, min(t_c) AS tmin_c
        FROM e GROUP BY 1, 2)
      SELECT loc, CAST(year(day) AS BIGINT) AS y,
        strftime(max(CASE WHEN month(day) <= 6 AND tmin_c < 0
          THEN day END), '%Y-%m-%d') AS last_frost,
        CAST(SUM(CASE WHEN month(day) <= 6 AND tmin_c < 0
          THEN 1 ELSE 0 END) AS BIGINT) AS n_frost_days
      FROM d GROUP BY 1, 2 ORDER BY loc, y""")) { (s, dir) =>
      Agro.lastSpringFrost(
        dailyTemps(s, dir).select(col("loc"), col("day"),
          col("tmin_c")),
        "loc", "day", "tmin_c")
        .orderBy("loc", "y")
    },

    // Frost-free season per (location, year): last Jan–Jun frost,
    // first Jul–Dec frost, and the day count strictly between — the
    // growing-window metric driving planting calendars. Years
    // missing either frost keep a null window (open, not zero).
    Q("q296_frost_free_season", Some("""
      WITH e AS (
        SELECT user_id AS loc, CAST(ts AS DATE) AS day,
          (CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 5000)
            - 1000 AS t_c
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      d AS (
        SELECT loc, day, min(t_c) AS tmin_c
        FROM e GROUP BY 1, 2),
      a AS (
        SELECT loc, CAST(year(day) AS BIGINT) AS y,
          max(CASE WHEN month(day) <= 6 AND tmin_c < 0
            THEN day END) AS ls,
          min(CASE WHEN month(day) > 6 AND tmin_c < 0
            THEN day END) AS fa
        FROM d GROUP BY 1, 2)
      SELECT loc, y, strftime(ls, '%Y-%m-%d') AS last_spring_frost,
        strftime(fa, '%Y-%m-%d') AS first_autumn_frost,
        CAST(date_diff('day', ls, fa) - 1 AS BIGINT) AS season_days
      FROM a ORDER BY loc, y""")) { (s, dir) =>
      Agro.frostFreeSeason(
        dailyTemps(s, dir).select(col("loc"), col("day"),
          col("tmin_c")),
        "loc", "day", "tmin_c")
        .orderBy("loc", "y")
    },

    // Heat-wave islands: consecutive observed days with tmax > 30 °C
    // per location — the SAME islands machinery as q267's dry spells
    // (Agro.drySpells is generic over the run flag), with waves =
    // runs of ≥ 3 days. Missing calendar days break a run.
    Q("q293_heat_waves", Some("""
      WITH e AS (
        SELECT user_id AS loc, CAST(ts AS DATE) AS day,
          (CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 5000)
            - 1000 AS t_c
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL),
      d AS (
        SELECT loc, day, max(t_c) > 3000 AS is_hot
        FROM e GROUP BY 1, 2),
      hot AS (
        SELECT loc, day,
          day - CAST(row_number() OVER (PARTITION BY loc ORDER BY day)
            AS INTEGER) AS grp
        FROM d WHERE is_hot),
      runs AS (
        SELECT loc, grp, CAST(count(*) AS BIGINT) AS len
        FROM hot GROUP BY 1, 2),
      agg AS (
        SELECT loc, CAST(SUM(len) AS BIGINT) AS dry_days,
          CAST(count(*) AS BIGINT) AS n_runs, max(len) AS max_run,
          CAST(SUM(CASE WHEN len >= 3 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_spells
        FROM runs GROUP BY loc)
      SELECT l.loc, CAST(COALESCE(a.dry_days, 0) AS BIGINT) AS dry_days,
        CAST(COALESCE(a.n_runs, 0) AS BIGINT) AS n_runs, a.max_run,
        CAST(COALESCE(a.n_spells, 0) AS BIGINT) AS n_spells
      FROM (SELECT DISTINCT loc FROM d) l
      LEFT JOIN agg a USING (loc)
      ORDER BY l.loc""")) { (s, dir) =>
      val daily = dailyTemps(s, dir)
        .select(col("loc"), col("day"),
          (col("tmax_c") > 3000L).as("is_hot"))
      Agro.drySpells(daily, "loc", "day", "is_hot", spellMinDays = 3)
        .orderBy("loc")
    }
  )

  /** Synthetic daily series shared by q266/q267: per (location, day)
    * exact cents sum and derived temperatures. */
  private def dailyCents(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    Tables.load(s, dir, "events")
      .where(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id").as("loc"), to_date(col("ts")).as("day"),
        (Q.dec(col("value")) * 100).cast("long").as("_c"))
      .groupBy("loc", "day").agg(sum(col("_c")).as("c"))

  private def dailyTemps(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    Tables.load(s, dir, "events")
      .where(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id").as("loc"), to_date(col("ts")).as("day"),
        ((Q.dec(col("value")) * 100).cast("long") % 5000L - 1000L)
          .as("t_c"))
      .groupBy("loc", "day")
      .agg(max(col("t_c")).as("tmax_c"), min(col("t_c")).as("tmin_c"))
}
