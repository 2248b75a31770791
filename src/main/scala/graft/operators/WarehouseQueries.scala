package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.CleanFunctions
import graft.warehouse.{DateDim, Idempotency, Merge, Scd2}

/** Warehouse-layer queries: the ON CONFLICT merge rewrite, SCD2
  * lookup-or-insert, generated date dimension, and idempotency keys
  * (SURVEY §2.1 S10–S15, §2.4 W6, §2.5 J6), exercised on corpus tables
  * with full DuckDB oracles.
  */
object WarehouseQueries {

  val all: Seq[Q] = Seq(

    // ON CONFLICT (c_custkey) DO UPDATE SET (c_acctbal, c_mktsegment):
    // incoming batch = latest order per customer (10% mapped to novel
    // keys to exercise the insert path). Matched rows keep c_name /
    // c_nationkey from the target — the partial-update contract.
    Q("q32_merge_upsert", Some("""
      WITH latest AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders),
      inc AS (
        SELECT CASE WHEN o_custkey % 10 = 0 THEN o_custkey + 1000000
                    ELSE o_custkey END AS c_custkey,
          'upd-' || o_orderkey AS c_name,
          CAST(o_custkey % 25 AS INT) AS c_nationkey,
          o_totalprice AS c_acctbal,
          'RELOADED' AS c_mktsegment
        FROM latest WHERE rn = 1)
      SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
        CASE WHEN t.c_custkey IS NOT NULL THEN t.c_name ELSE s.c_name END AS c_name,
        CASE WHEN t.c_custkey IS NOT NULL THEN t.c_nationkey ELSE s.c_nationkey END AS c_nationkey,
        CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
        CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment
      FROM customer t FULL OUTER JOIN inc s ON t.c_custkey = s.c_custkey
      ORDER BY c_custkey""")) { (s, dir) =>
      val customer = Tables.load(s, dir, "customer")
      val orders = Tables.load(s, dir, "orders")
      val incoming = orders
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("o_custkey")
            .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)))
        .filter(col("rn") === 1)
        .select(
          when(col("o_custkey") % 10 === 0, col("o_custkey") + 1000000)
            .otherwise(col("o_custkey")).as("c_custkey"),
          concat(lit("upd-"), col("o_orderkey")).as("c_name"),
          (col("o_custkey") % 25).cast("int").as("c_nationkey"),
          col("o_totalprice").as("c_acctbal"),
          lit("RELOADED").as("c_mktsegment"))
      Merge.upsert(customer, incoming, keys = Seq("c_custkey"),
          updateCols = Seq("c_acctbal", "c_mktsegment"),
          tiebreak = Seq(col("c_name").desc))
        .orderBy("c_custkey")
    },

    // SCD2 lookup-or-insert: current dim rows win, novel hashes are
    // appended with content-derived surrogate keys and the SCD2
    // envelope (degenerate SCD2 exactly as the reference loader:
    // nothing ever expires).
    Q("q33_scd2_locations", Some("""
      WITH shaped AS (
        SELECT DISTINCT
          md5(printf('%.6f,%.6f', c_acctbal, CAST(c_nationkey AS DOUBLE))) AS location_hash,
          c_acctbal AS latitude, CAST(c_nationkey AS DOUBLE) AS longitude
        FROM customer),
      existing AS (
        SELECT DISTINCT
          md5(printf('%.6f,%.6f', c_acctbal, CAST(c_nationkey AS DOUBLE))) AS location_hash,
          c_acctbal AS latitude, CAST(c_nationkey AS DOUBLE) AS longitude
        FROM customer WHERE c_custkey <= 500),
      novel AS (
        SELECT * FROM shaped
        WHERE location_hash NOT IN (SELECT location_hash FROM existing))
      SELECT location_hash,
        CAST('0x' || substr(location_hash, 1, 15) AS BIGINT) AS location_key,
        latitude, longitude, effective_date, is_current, is_new
      FROM (
        SELECT location_hash, latitude, longitude,
          '2026-01-01' AS effective_date, TRUE AS is_current,
          FALSE AS is_new
        FROM existing
        UNION ALL
        SELECT location_hash, latitude, longitude,
          '2026-03-01' AS effective_date, TRUE AS is_current, TRUE AS is_new
        FROM novel)
      ORDER BY location_hash""")) { (s, dir) =>
      val customer = Tables.load(s, dir, "customer")
      def shaped(df: org.apache.spark.sql.DataFrame) = df.select(
        CleanFunctions.locationHash(col("c_acctbal"), col("c_nationkey"))
          .as("location_hash"),
        col("c_acctbal").as("latitude"),
        col("c_nationkey").cast("double").as("longitude"))
      val existing = shaped(customer.filter(col("c_custkey") <= 500))
        .dropDuplicates("location_hash")
        .withColumn("effective_date", lit("2026-01-01"))
        .withColumn("is_current", lit(true))
      val incoming = shaped(customer)
      Scd2.lookupOrInsert(existing, incoming, "location_hash",
          "location_key", lit("2026-03-01"))
        .withColumn("location_key",
          Scd2.surrogateKey(col("location_hash")))
        .select("location_hash", "location_key", "latitude", "longitude",
          "effective_date", "is_current", "is_new")
        .orderBy("location_hash")
    },

    // Partition-scoped incremental merge: orders written as a
    // (part_year, part_month)-partitioned fact; a batch touching only
    // 1998-03 is merged through Merge.upsertPartitioned (prune target
    // to touched partitions → upsert → dynamic partition overwrite).
    // The oracle mirrors the semantics: full-outer merge within the
    // touched partition, byte-passthrough everywhere else. The spec
    // (WriterSpec) proves untouched partitions keep identical bytes.
    Q("q55_partition_merge", Some("""
      WITH target AS (
        SELECT o_orderkey,
          CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS date_key,
          CAST(year(o_orderdate) AS INT) AS part_year,
          CAST(month(o_orderdate) AS INT) AS part_month,
          o_totalprice, o_orderstatus
        FROM orders),
      inc AS (
        SELECT CASE WHEN o_orderkey % 10 = 0 THEN o_orderkey + 10000000
                    ELSE o_orderkey END AS o_orderkey,
          date_key,
          o_totalprice + CAST(100.0 AS DOUBLE) AS o_totalprice,
          'RELOADED' AS o_orderstatus
        FROM target WHERE part_year = 1998 AND part_month = 3),
      touched AS (
        SELECT * FROM target WHERE part_year = 1998 AND part_month = 3),
      merged AS (
        SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
          CASE WHEN t.o_orderkey IS NOT NULL THEN t.date_key
               ELSE s.date_key END AS date_key,
          CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
               ELSE t.o_totalprice END AS o_totalprice,
          CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
               ELSE t.o_orderstatus END AS o_orderstatus
        FROM touched t FULL OUTER JOIN inc s ON t.o_orderkey = s.o_orderkey)
      SELECT o_orderkey, date_key, o_totalprice, o_orderstatus FROM merged
      UNION ALL
      SELECT o_orderkey, date_key, o_totalprice, o_orderstatus FROM target
      WHERE NOT (part_year = 1998 AND part_month = 3)
      ORDER BY o_orderkey""")) { (s, dir) =>
      val base = Tables.load(s, dir, "orders").select(
        col("o_orderkey"),
        CleanFunctions.dateKey(col("o_orderdate")).as("date_key"),
        year(col("o_orderdate")).as("part_year"),
        month(col("o_orderdate")).as("part_month"),
        col("o_totalprice"), col("o_orderstatus"))
      val path = Q.scratchPath("q55", dir)
      base.write.mode("overwrite")
        .partitionBy("part_year", "part_month").parquet(path)
      val inc = base
        .filter(col("part_year") === 1998 && col("part_month") === 3)
        .select(
          when(col("o_orderkey") % 10 === 0, col("o_orderkey") + 10000000)
            .otherwise(col("o_orderkey")).as("o_orderkey"),
          col("date_key"), col("part_year"), col("part_month"),
          (col("o_totalprice") + 100.0).as("o_totalprice"),
          lit("RELOADED").as("o_orderstatus"))
      Merge.upsertPartitioned(s, path, inc, keys = Seq("o_orderkey"),
        updateCols = Seq("o_totalprice", "o_orderstatus"),
        tiebreak = Seq(col("date_key").desc),
        partitionCols = Seq("part_year", "part_month"))
      s.read.parquet(path)
        .select("o_orderkey", "date_key", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    },

    // Streaming lake-merge ≡ batch fold (the q99 recipe applied to the
    // last durable streaming sink): the events table arrives as 3
    // micro-batches (event_id % 3, in order) through
    // Merge.upsertPartitioned — the EXACT foreachBatch body of
    // EventStreams.mergeStreamToPath; the stream wrapper adds only the
    // trigger and is driven end-to-end by StreamingSpec — and the
    // MATERIALIZED lake table must equal the oracle's windowed replay
    // of the same fold: per (user, batch) a tiebreak winner, per user
    // the FIRST batch's winner for insert-time columns (partial-update
    // contract: matched rows keep target values) and the LAST batch's
    // winner for the update columns. Partition col derives from the
    // merge key (user_id % 8), the upsertPartitioned contract.
    Q("q100_stream_merge_fold", Some("""
      WITH b AS (
        SELECT user_id, CAST(user_id % 8 AS INT) AS part, event_type,
          value, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s, event_id,
          CAST(event_id % 3 AS INT) AS bi
        FROM events),
      w1 AS (
        SELECT * FROM b
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, bi
          ORDER BY ts_s DESC, event_id DESC) = 1),
      ins AS (
        SELECT * FROM w1
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY bi ASC) = 1),
      upd AS (
        SELECT * FROM w1
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY bi DESC) = 1)
      SELECT i.user_id, i.part, i.event_type,
        u.value, u.ts_s, u.event_id
      FROM ins i JOIN upd u USING (user_id)
      ORDER BY user_id""")) { (s, dir) =>
      val path = Q.scratchPath("q100", dir)
      // the fold accumulates INTO the table — start from empty or a
      // re-run (bench medians the query) would fold onto old state
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(hp, true)
      val ev = Tables.load(s, dir, "events").select(
        col("user_id"), (col("user_id") % 8).cast("int").as("part"),
        col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
        col("event_id"),
        (col("event_id") % 3).cast("int").as("bi"))
      for (b <- 0 until 3)
        Merge.upsertPartitioned(s, path,
          ev.filter(col("bi") === b).drop("bi"),
          keys = Seq("user_id"),
          updateCols = Seq("value", "ts_s", "event_id"),
          tiebreak = Seq(col("ts_s").desc, col("event_id").desc),
          partitionCols = Seq("part"))
      s.read.parquet(path)
        .select("user_id", "part", "event_type", "value", "ts_s",
          "event_id")
        .orderBy("user_id")
    },

    // W6 generated date dimension, 2020-01-01..2030-12-31 (4018 rows),
    // EXTRACT(DOW) convention (Sunday = 0).
    Q("q34_date_dim", Some("""
      SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_key,
        strftime(d, '%Y-%m-%d') AS full_date,
        CAST(dayofweek(d) AS INT) AS day_of_week,
        dayname(d) AS day_name,
        CAST(day(d) AS INT) AS day_of_month,
        CAST(dayofyear(d) AS INT) AS day_of_year,
        CAST(weekofyear(d) AS INT) AS week_of_year,
        CAST(month(d) AS INT) AS month_number,
        monthname(d) AS month_name,
        CAST(quarter(d) AS INT) AS quarter,
        CAST(year(d) AS INT) AS year,
        dayofweek(d) IN (0, 6) AS is_weekend,
        CASE WHEN month(d) IN (3,4,5) THEN 'Spring'
             WHEN month(d) IN (6,7,8) THEN 'Summer'
             WHEN month(d) IN (9,10,11) THEN 'Autumn'
             ELSE 'Winter' END AS season_northern,
        CASE WHEN month(d) IN (9,10,11) THEN 'Spring'
             WHEN month(d) IN (12,1,2) THEN 'Summer'
             WHEN month(d) IN (3,4,5) THEN 'Autumn'
             ELSE 'Winter' END AS season_southern,
        FALSE AS is_growing_season
      FROM (SELECT CAST(unnest(generate_series(DATE '2020-01-01',
              DATE '2030-12-31', INTERVAL 1 DAY)) AS DATE) AS d)
      ORDER BY date_key""")) { (s, _) =>
      DateDim.build(s)
        .withColumn("full_date", date_format(col("full_date"), "yyyy-MM-dd"))
        .orderBy("date_key")
    },

    // True SCD2 close-out (the expire extension of q33's degenerate
    // lookupOrInsert): dim v1 = latest order value per customer before
    // 1998; incoming = latest overall. Customers whose value changed
    // get their current row closed (expiration_date set, is_current
    // flipped) plus a new version row with a (hash, effective_date)
    // version key; unchanged rows pass through; novel keys insert.
    Q("q57_scd2_expire", Some("""
      WITH latest_all AS (
        SELECT o_custkey, o_totalprice AS totalprice,
          md5(printf('%.2f', o_totalprice)) AS row_hash,
          ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders),
      inc AS (
        SELECT o_custkey, totalprice, row_hash
        FROM latest_all WHERE rn = 1),
      latest_before AS (
        SELECT o_custkey, o_totalprice AS totalprice,
          md5(printf('%.2f', o_totalprice)) AS row_hash,
          ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
      existing AS (
        SELECT o_custkey, totalprice, row_hash,
          CAST('0x' || substr(md5(row_hash || '2026-01-01'), 1, 15)
            AS BIGINT) AS version_key,
          '2026-01-01' AS effective_date,
          '9999-12-31' AS expiration_date, TRUE AS is_current
        FROM latest_before WHERE rn = 1),
      merged AS (
        SELECT e.o_custkey, e.totalprice, e.row_hash, e.version_key,
          e.effective_date,
          CASE WHEN i.row_hash IS NOT NULL AND i.row_hash <> e.row_hash
               THEN '2026-03-01' ELSE e.expiration_date
            END AS expiration_date,
          CASE WHEN i.row_hash IS NOT NULL AND i.row_hash <> e.row_hash
               THEN FALSE ELSE e.is_current END AS is_current
        FROM existing e LEFT JOIN inc i USING (o_custkey)
        UNION ALL
        SELECT i.o_custkey, i.totalprice, i.row_hash,
          CAST('0x' || substr(md5(i.row_hash || '2026-03-01'), 1, 15)
            AS BIGINT),
          '2026-03-01', '9999-12-31', TRUE
        FROM inc i LEFT JOIN existing e USING (o_custkey)
        WHERE e.row_hash IS NULL OR i.row_hash <> e.row_hash)
      SELECT o_custkey, totalprice, row_hash, version_key,
        effective_date, expiration_date, is_current
      FROM merged ORDER BY o_custkey, is_current""")) { (s, dir) =>
      val orders = Tables.load(s, dir, "orders")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      def latest(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_custkey"),
          col("o_totalprice").as("totalprice"),
          md5(format_string("%.2f", col("o_totalprice"))).as("row_hash"))
      val existing = latest(orders.filter(
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")))
        .withColumn("version_key",
          Scd2.versionKey(col("row_hash"), lit("2026-01-01")))
        .withColumn("effective_date", lit("2026-01-01"))
        .withColumn("expiration_date", lit("9999-12-31"))
        .withColumn("is_current", lit(true))
      Scd2.expireAndInsert(existing, latest(orders), Seq("o_custkey"),
          "row_hash", "version_key", lit("2026-03-01"))
        .select("o_custkey", "totalprice", "row_hash", "version_key",
          "effective_date", "expiration_date", "is_current")
        .orderBy("o_custkey", "is_current")
    },

    // S15 idempotency keys: sha256(type:key) insert-if-new — the batch
    // rewrite of ON CONFLICT DO NOTHING RETURNING.
    Q("q35_idempotency", Some("""
      WITH existing AS (
        SELECT sha256(event_type || ':' || CAST(event_id AS VARCHAR)) AS key_hash
        FROM events WHERE event_id < 4000),
      batch AS (SELECT * FROM events WHERE event_id >= 3000)
      SELECT event_id,
        sha256(event_type || ':' || CAST(event_id AS VARCHAR)) AS key_hash
      FROM batch
      WHERE sha256(event_type || ':' || CAST(event_id AS VARCHAR))
        NOT IN (SELECT key_hash FROM existing)
      ORDER BY event_id""")) { (s, dir) =>
      val events = Tables.load(s, dir, "events")
      val keyTable = events.filter(col("event_id") < 4000)
        .select(Idempotency.keyHash(col("event_type"), col("event_id"))
          .as("key_hash"))
      Idempotency.novelRows(events.filter(col("event_id") >= 3000),
          keyTable, col("event_type"), col("event_id"))
        .select("event_id", "key_hash")
        .orderBy("event_id")
    },

    // Manifest-versioned lake with time travel: three commits (append
    // ≤1996, append 1997–1998, OVERWRITE with ≥1999), then per-year
    // aggregates read from snapshot v2 (the two appends) AND snapshot
    // v3 — proving old versions stay readable after an overwrite and
    // the overwrite hides nothing it shouldn't. Commits run once per
    // JVM (build-once scratch, the q98 idiom); reads resolve the
    // manifest, never list data/. Oracle recomputes both year slices
    // straight from orders.
    Q("q273_time_travel", Some("""
      WITH y AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
          CAST(o_totalprice AS DECIMAL(18,2)) AS p
        FROM orders),
      v2 AS (
        SELECT 'v2' AS snapshot, yr, CAST(count(*) AS BIGINT) AS n,
          CAST(SUM(p) * 100 AS BIGINT) AS total_cents
        FROM y WHERE yr <= 1998 GROUP BY yr),
      v3 AS (
        SELECT 'v3' AS snapshot, yr, CAST(count(*) AS BIGINT) AS n,
          CAST(SUM(p) * 100 AS BIGINT) AS total_cents
        FROM y WHERE yr >= 1999 GROUP BY yr)
      SELECT * FROM (SELECT * FROM v2 UNION ALL SELECT * FROM v3)
      ORDER BY snapshot, yr""")) { (s, dir) =>
      import graft.warehouse.Versioned
      val path = Q.scratchPath("timetravel", dir)
      if (Versioned.latestVersion(s, path).isEmpty) {
        val y = Tables.load(s, dir, "orders")
          .select(year(col("o_orderdate")).cast("long").as("yr"),
            Q.dec(col("o_totalprice")).as("p"))
        Versioned.commit(y.where(col("yr") <= 1996L), path): Unit
        Versioned.commit(
          y.where(col("yr") >= 1997L && col("yr") <= 1998L), path): Unit
        Versioned.commit(y.where(col("yr") >= 1999L), path,
          overwrite = true): Unit
      }
      def agg(v: Long, tag: String) =
        Versioned.read(s, path, Some(v))
          .groupBy("yr")
          .agg(count(lit(1)).as("n"),
            (sum(col("p")) * 100).cast("long").as("total_cents"))
          .select(lit(tag).as("snapshot"), col("yr"), col("n"),
            col("total_cents"))
      agg(2L, "v2").unionByName(agg(3L, "v3"))
        .orderBy("snapshot", "yr")
    },

    // Incremental view maintenance over the versioned lake: a per-year
    // (cnt, sum, mx) aggregate VIEW folded commit-by-commit through
    // mergeAggStates, where each commit's input is Versioned.readDelta
    // — the segments that commit ADDED, read back from the lake
    // itself, so the refresh provably scans delta bytes, never the
    // old segments. The fold is audited against a direct aggregate of
    // the final snapshot — `consistent` goes false (and the hash goes
    // loud) on any divergence. The IVM pattern: refresh cost ∝ delta,
    // not table.
    Q("q274_incremental_view", Some("""
      WITH y AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders)
      SELECT yr, CAST(count(*) AS BIGINT) AS cnt,
        CAST(SUM(c) AS BIGINT) AS sum, CAST(MAX(c) AS BIGINT) AS mx,
        TRUE AS consistent
      FROM y GROUP BY yr ORDER BY yr""")) { (s, dir) =>
      import graft.warehouse.Versioned
      val path = Q.scratchPath("ivm", dir)
      val y = Tables.load(s, dir, "orders")
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          (Q.dec(col("o_totalprice")) * 100).cast("long").as("c"))
      if (Versioned.latestVersion(s, path).isEmpty) Seq(
        y.where(col("yr") <= 1996L),
        y.where(col("yr") >= 1997L && col("yr") <= 1998L),
        y.where(col("yr") >= 1999L))
        .foreach(sl => Versioned.commit(sl, path): Unit)
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("yr").agg(count(lit(1)).as("cnt"),
          sum(col("c")).as("sum"), max(col("c")).as("mx"))
      // the view: fold each committed version's APPEND DELTA (read
      // from the lake's own manifests) into the running state
      val view = Versioned.versions(s, path)
        .map(v => agg(Versioned.readDelta(s, path, v)))
        .reduce(Merge.mergeAggStates(_, _, Seq("yr")))
      val table = agg(Versioned.read(s, path))
        .select(col("yr"), col("cnt").as("t_cnt"),
          col("sum").as("t_sum"), col("mx").as("t_mx"))
      view.join(table, Seq("yr"), "full_outer")
        .select(col("yr"), col("cnt"), col("sum"), col("mx"),
          coalesce(col("cnt") === col("t_cnt") &&
            col("sum") === col("t_sum") && col("mx") === col("t_mx"),
            lit(false)).as("consistent"))
        .orderBy("yr")
    },

    // Segment-selective compaction (the OPTIMIZE binpack): four
    // append commits (one fat ≤1995 slice, three small year slices),
    // then compact with the threshold at the fat segment's size —
    // only the three small segments are read and packed into one;
    // the fat segment is carried BY REFERENCE (VersionedSpec pins
    // byte-identity via FileStatus). The query reads the compacted
    // snapshot back, audits it against the pre-compact version, and
    // exposes the structural outcome (2 live segments) — all
    // hash-checked against a direct recompute from orders.
    Q("q282_versioned_compact", Some("""
      WITH y AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders)
      SELECT yr, CAST(count(*) AS BIGINT) AS cnt,
        CAST(SUM(c) AS BIGINT) AS total_cents,
        CAST(2 AS BIGINT) AS n_segments, TRUE AS consistent
      FROM y GROUP BY yr ORDER BY yr""")) { (s, dir) =>
      import graft.warehouse.Versioned
      val path = Q.scratchPath("compactsel", dir)
      val y = Tables.load(s, dir, "orders")
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          (Q.dec(col("o_totalprice")) * 100).cast("long").as("c"))
      if (Versioned.latestVersion(s, path).isEmpty) {
        Seq(y.where(col("yr") <= 1995L), y.where(col("yr") === 1996L),
          y.where(col("yr") === 1997L), y.where(col("yr") >= 1998L))
          .foreach(sl => Versioned.commit(sl, path): Unit)
        val maxBytes = Versioned.segmentBytes(s, path).map(_._2).max
        Versioned.compact(s, path, smallerThanBytes = maxBytes): Unit
      }
      val nSegs = Versioned.segments(s, path).size.toLong
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("yr").agg(count(lit(1)).as("cnt"),
          sum(col("c")).as("total_cents"))
      val pre = agg(Versioned.read(s, path, Some(4L)))
        .select(col("yr"), col("cnt").as("p_cnt"),
          col("total_cents").as("p_tc"))
      agg(Versioned.read(s, path))
        .join(pre, Seq("yr"), "full_outer")
        .select(col("yr"), col("cnt"), col("total_cents"),
          lit(nSegs).as("n_segments"),
          coalesce(col("cnt") === col("p_cnt") &&
            col("total_cents") === col("p_tc"), lit(false))
            .as("consistent"))
        .orderBy("yr")
    },

    // The compacting versioned sink's micro-batch loop
    // (EventStreams.versionedSinkCompacting), folded explicitly (the
    // q100 idiom): six event batches commit to the lake, every 3rd
    // commit binpacks + vacuums (keepLast=1), and the final snapshot
    // must still hold EVERY event — compaction and retention never
    // lose data — with history and live-segment counts bounded
    // (2 versions, 2 segments — deterministic from the cadence).
    // Oracle recomputes the per-user aggregate straight from events.
    Q("q288_stream_compacting_lake", Some("""
      WITH e AS (
        SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
          AND event_id IS NOT NULL)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        CAST(SUM(v) * 100 AS BIGINT) AS total_cents,
        CAST(2 AS BIGINT) AS n_versions,
        CAST(2 AS BIGINT) AS n_segments
      FROM e GROUP BY user_id ORDER BY user_id""")) { (s, dir) =>
      import graft.warehouse.Versioned
      val path = Q.scratchPath("q288", dir)
      // the fold accumulates INTO the lake — start fresh or a bench
      // re-run would fold onto old state
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(hp, true): Unit
      val ev = Tables.load(s, dir, "events")
        .where(col("user_id").isNotNull && col("value").isNotNull &&
          col("event_id").isNotNull)
        .select(col("user_id"), Q.dec(col("value")).as("v"),
          (col("event_id") % 6L).as("bi"))
      for (b <- 0L until 6L) {
        val v = Versioned.commit(ev.filter(col("bi") === b).drop("bi"),
          path)
        if (v % 3 == 0) {
          Versioned.compact(s, path,
            smallerThanBytes = Long.MaxValue - 1): Unit
          Versioned.vacuum(s, path, keepLast = 1): Unit
        }
      }
      val nv = Versioned.versions(s, path).size.toLong
      val ns = Versioned.segments(s, path).size.toLong
      Versioned.read(s, path)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          (sum(col("v")) * 100).cast("long").as("total_cents"))
        .select(col("user_id"), col("n_events"), col("total_cents"),
          lit(nv).as("n_versions"), lit(ns).as("n_segments"))
        .orderBy("user_id")
    },

    // The scheduled-maintenance composition (Versioned.maintain =
    // OPTIMIZE binpack + VACUUM as one pass): four append commits
    // (one fat ≤1995 slice, three small year slices), one maintain
    // call at the fat segment's size with keepLast=1 — the three
    // small segments pack into one, history past the window retires,
    // and table CONTENT is untouched: the snapshot read after
    // maintenance hash-matches a direct recompute from orders. The
    // structural outcome (1 retained version, 2 live segments —
    // fat-by-reference + packed) is deterministic from the cadence
    // and exposed as literals the oracle pins.
    Q("q301_versioned_maintain", Some("""
      WITH y AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders)
      SELECT yr, CAST(count(*) AS BIGINT) AS cnt,
        CAST(SUM(c) AS BIGINT) AS total_cents,
        CAST(1 AS BIGINT) AS n_versions,
        CAST(2 AS BIGINT) AS n_segments
      FROM y GROUP BY yr ORDER BY yr""")) { (s, dir) =>
      import graft.warehouse.Versioned
      val path = Q.scratchPath("q301maint", dir)
      val y = Tables.load(s, dir, "orders")
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          (Q.dec(col("o_totalprice")) * 100).cast("long").as("c"))
      if (Versioned.latestVersion(s, path).isEmpty) {
        Seq(y.where(col("yr") <= 1995L), y.where(col("yr") === 1996L),
          y.where(col("yr") === 1997L), y.where(col("yr") >= 1998L))
          .foreach(sl => Versioned.commit(sl, path): Unit)
        val maxBytes = Versioned.segmentBytes(s, path).map(_._2).max
        Versioned.maintain(s, path, smallerThanBytes = maxBytes,
          keepLast = 1): Unit
      }
      val nv = Versioned.versions(s, path).size.toLong
      val ns = Versioned.segments(s, path).size.toLong
      Versioned.read(s, path)
        .groupBy("yr")
        .agg(count(lit(1)).as("cnt"), sum(col("c")).as("total_cents"))
        .select(col("yr"), col("cnt"), col("total_cents"),
          lit(nv).as("n_versions"), lit(ns).as("n_segments"))
        .orderBy("yr")
    }
  )
}
