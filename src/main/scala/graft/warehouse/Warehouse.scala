package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode,
  SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.util.PinnedParquet

/** Warehouse-shaping operators (SURVEY §2.1 S10–S15, §2.4, §2.5 J6):
  * the Spark rewrites of the reference's PostgreSQL `ON CONFLICT`
  * upserts, SCD lookup-or-insert, generated date dimension, and
  * audit/idempotency bookkeeping.
  *
  * Scale posture: every operation is a key-partitioned join or
  * map-side projection — the hash→surrogate lookup that the reference
  * keeps in a Python dict (`etl/orchestrator.py:65,113`) is a join
  * here, so nothing ever collects to the driver.
  */
object Merge {

  /** Incremental aggregate-view maintenance: merge a materialized
    * per-key aggregate STATE with the aggregate of a new delta batch
    * so the view never rescans the base table — the standard
    * count/sum/max rollup shape (all three merge associatively;
    * avg/ratios derive from count+sum downstream). Both inputs carry
    * (keys…, cnt, sum, mx); the merge is ONE full-outer join keyed on
    * `keys` with null-safe addition and greatest — a key present on
    * either side survives with exact totals. At scale, keep the state
    * bucketed on `keys` and the merge shuffles only the (small) delta
    * aggregate.
    *
    * The defining contract (spec'd and oracle-checked by q197):
    * merge(agg(base), agg(delta)) ≡ agg(base ∪ delta), bit-exact,
    * because cnt/sum are DECIMAL-exact and max is order-free.
    */
  def mergeAggStates(state: DataFrame, delta: DataFrame,
      keys: Seq[String]): DataFrame = {
    val valCols = Seq("cnt", "sum", "mx")
    require((valCols.toSet -- state.columns.toSet).isEmpty &&
      (valCols.toSet -- delta.columns.toSet).isEmpty,
      "both sides must carry cnt/sum/mx aggregate columns")
    val a = state.select(keys.map(col) ++
      valCols.map(c => col(c).as(s"a_$c")): _*)
    val b = delta.select(keys.map(col) ++
      valCols.map(c => col(c).as(s"b_$c")): _*)
    a.join(b, keys, "full_outer")
      .select(keys.map(col) ++ Seq(
        // coalesce(a+b, a, b): typed zero-free null-safe addition —
        // a+b is null only when a side is absent, where the other
        // side IS the total
        coalesce(col("a_cnt") + col("b_cnt"), col("a_cnt"),
          col("b_cnt")).as("cnt"),
        coalesce(col("a_sum") + col("b_sum"), col("a_sum"),
          col("b_sum")).as("sum"),
        greatest(col("a_mx"), col("b_mx")).as("mx")): _*)
  }

  /** `INSERT ... ON CONFLICT (keys) DO UPDATE SET (updateCols)`
    * rewrite (`etl/load/postgres_loader.py:77-80,118-123,154-159`):
    *
    *   - the incoming batch is deduplicated per key first
    *     (last-writer-wins by `tiebreak` — Postgres would error on
    *     in-batch conflicts, so any deterministic choice is a superset
    *     of reference behavior);
    *   - matched rows take `updateCols` from incoming and keep every
    *     other column from the target (partial update);
    *   - unmatched incoming rows are inserted whole;
    *   - unmatched target rows pass through.
    *
    * One shuffle per side, both keyed on the non-null `struct(keys)`:
    * the in-batch dedup window and the full-outer join share the
    * batch's exchange. Struct equality matches null fields, so a null
    * key merges with a null key exactly as `<=>` would, and the key
    * travels only inside the struct. At scale the target side can be
    * bucketed on the same keys to make the merge shuffle-free on one
    * side.
    */
  def upsert(target: DataFrame, incoming: DataFrame, keys: Seq[String],
      updateCols: Seq[String], tiebreak: Seq[Column]): DataFrame = {
    val dataCols = target.columns.toSeq.filterNot(keys.contains)
    // both sides' keys typed as nullable fields: a nullability mismatch
    // would make the join cast one side's key and shuffle it again
    def key(df: DataFrame): Column = struct(keys.map(col): _*).cast(
      StructType(df.select(keys.map(col): _*).schema
        .map(_.copy(nullable = true))))
    val s = firstPerKey(incoming.withColumn(Key, key(incoming)), Seq(Key),
        tiebreak)
      .select(col(Key) +: dataCols.map(c => col(c).as(s"__s_$c")) :+
        lit(true).as("__s"): _*)
    val t = target.select(key(target).as(Key) +: dataCols.map(col) :+
      lit(true).as("__t"): _*)
    // a full-outer USING join coalesces the two sides' keys into one
    val out = keys.map(k => col(Key).getField(k).as(k)) ++
      dataCols.map { c =>
        if (updateCols.contains(c))
          when(col("__s").isNotNull, col(s"__s_$c")).otherwise(col(c)).as(c)
        else
          when(col("__t").isNotNull, col(c)).otherwise(col(s"__s_$c")).as(c)
      }
    t.join(s, Seq(Key), "full_outer").select(out: _*)
  }

  /** The merge key column of [[upsert]]: `struct(keys)`. */
  private val Key = "__k"

  /** The in-batch half of [[upsert]]: one row per key, the first by
    * `tiebreak`. */
  private def firstPerKey(incoming: DataFrame, keys: Seq[String],
      tiebreak: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tiebreak: _*)
    incoming.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Insert-only variant (`ON CONFLICT DO NOTHING`): incoming rows
    * whose keys already exist are dropped. */
  def insertIfAbsent(target: DataFrame, incoming: DataFrame,
      keys: Seq[String]): DataFrame =
    target.unionByName(
      incoming.join(target.select(keys.map(col): _*), keys, "left_anti"))

  /** Partition-scoped incremental merge — the at-scale composition of
    * [[upsert]] with dynamic partition overwrite for a path-backed,
    * partitioned fact. Only the partitions present in `incoming` are
    * read (static pruning on the collected partition tuples), merged,
    * and rewritten; every other partition is untouched bytes. This is
    * the lake form of the reference's idempotent daily load into the
    * monthly RANGE-partitioned `fact_weather`
    * (`db/init/01-schema.sql:160-181`): a daily batch touches one or
    * two monthly partitions however large the fact grows.
    *
    * Contract (same as Hive dynamic overwrite / Delta replaceWhere):
    * the merge keys must functionally determine the partition — true
    * for any fact whose partition columns derive from a key (here
    * date_key → part_year/part_month). A key that changed partitions
    * between loads would leave its old copy in an unread partition.
    *
    * A first load (no data at `path`) collects nothing: it dedups the
    * batch per key and stages it whole. A later batch collects its
    * distinct partition *tuples* (bounded by touched-partition count,
    * never data) in one single-stage job: each task drops its own
    * duplicates and the driver drops the rest, with no exchange. The
    * target is then read with its schema pinned from one footer
    * ([[graft.util.PinnedParquet]]), so no inference job runs either.
    * Writes go through [[Writer.overwritePartitionsAtomic]]: the merged
    * result is staged to a hidden sibling directory first (so the
    * target scan and the write never overlap on the same path), then
    * swapped in partition-by-partition with metadata renames — a crash
    * during the write job leaves the target byte-identical, and a
    * crash during the swap leaves every partition fully old or fully
    * new, never torn.
    */
  def upsertPartitioned(spark: SparkSession, path: String,
      incoming: DataFrame, keys: Seq[String], updateCols: Seq[String],
      tiebreak: Seq[Column], partitionCols: Seq[String]): Unit = {
    // restore any partition a previously crashed swap parked in a
    // trash dir BEFORE reading the target — the scan's file index is
    // built at read time, and the hasData probe below must not mistake
    // a mid-swap-emptied table for a first load
    Writer.recoverPartitions(spark, path, partitionCols)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = graft.util.LocalFs.fileSystem(spark, p)
    // a directory holding no data files (e.g. the debris of a crashed
    // commit: _SUCCESS / _temporary only) counts as absent
    val hasData = fs.exists(p) && fs.listStatus(p)
      .exists(s => !s.getPath.getName.startsWith("_"))
    if (!hasData) {
      // first load: per-key dedup only, all partitions staged fresh
      // then swapped in; an empty batch stages no partition and
      // creates no directory that would poison later reads
      Writer.overwritePartitionsAtomic(firstPerKey(incoming, keys, tiebreak),
        path, partitionCols, recoverFirst = false)
      return
    }
    val tuples = incoming.select(partitionCols.map(col): _*)
    val partRows = tuples
      .mapPartitions(_.toSet.iterator)(Encoders.row(tuples.schema))
      .collect().distinct
    // an empty batch leaves the target untouched
    if (partRows.isEmpty) return
    val touched = partRows.map(r => partitionCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(r.get(i)) }.reduce(_ && _))
      .reduce(_ || _)
    val target = PinnedParquet.read(spark, path).filter(touched)
    val merged = upsert(target, incoming, keys, updateCols, tiebreak)
    Writer.overwritePartitionsAtomic(merged, path, partitionCols,
      recoverFirst = false)
  }
}

/** SCD Type-2-ready dimension maintenance (`dim_location`,
  * `db/init/01-schema.sql:12-26`; loader `postgres_loader.py:19-63`).
  * The reference's loader only ever *adds* current rows (never expires
  * — SURVEY §7 "degenerate SCD2"); `lookupOrInsert` reproduces that:
  * existing current rows win, novel hashes are appended with the SCD2
  * envelope. Surrogate keys are content-derived (60-bit prefix of the
  * row hash) so re-runs are reproducible — the reference's SERIAL keys
  * are insertion-ordered and unreproducible, which SURVEY §7 calls out
  * as a correctness hazard at scale.
  */
object Scd2 {

  /** Deterministic surrogate key from a 32-hex natural hash — the
    * first 60 bits (15 hex chars) as a long. Birthday bound: collision
    * probability ≈ n²/2⁶¹, i.e. ~0.0004% at 10⁷ rows, 0.04% at 10⁸,
    * 4% at 10⁹ — fine for the reference's location dimension (counts
    * distinct coordinates), but a dimension headed past ~10⁸ rows
    * should use [[surrogateKeyWide]] (120-bit, collision-free in any
    * practical dim) or the full hash string itself. */
  def surrogateKey(hash: Column): Column =
    conv(substring(hash, 1, 15), 16, 10).cast("long")

  /** 120-bit surrogate as struct(hi, lo) of two 60-bit longs — for
    * dimensions where 60-bit birthday collisions become plausible
    * (≳10⁸ rows). Same reproducibility contract as [[surrogateKey]]. */
  def surrogateKeyWide(hash: Column): Column =
    struct(conv(substring(hash, 1, 15), 16, 10).cast("long").as("hi"),
      conv(substring(hash, 16, 15), 16, 10).cast("long").as("lo"))

  /** Version-unique surrogate: 60-bit prefix of md5(hash ∥ effective
    * date), so distinct versions of one natural key — including
    * A→B→A attribute cycles — get distinct, reproducible keys. */
  def versionKey(hash: Column, effective: Column): Column =
    surrogateKey(md5(concat(hash, effective.cast("string"))))

  /** Append rows for hashes not present among current dim rows.
    * `incoming` must carry `hashCol`; novel rows get the SCD2 envelope
    * (current, effective now) and are aligned to `existing`'s schema.
    * Returns the updated dimension with `is_new` marking this batch's
    * inserts.
    */
  def lookupOrInsert(existing0: DataFrame, incoming: DataFrame,
      hashCol: String, keyCol: String, effectiveDate: Column): DataFrame = {
    // tolerate a dimension produced by a previous lookupOrInsert round
    val existing =
      if (existing0.columns.contains("is_new")) existing0.drop("is_new")
      else existing0
    val novel = incoming
      .dropDuplicates(hashCol)
      .join(existing.filter(col("is_current")).select(hashCol),
        Seq(hashCol), "left_anti")
      .withColumn(keyCol, surrogateKey(col(hashCol)))
      .withColumn("effective_date", effectiveDate)
      .withColumn("expiration_date", lit("9999-12-31").cast("date"))
      .withColumn("is_current", lit(true))
    existing.withColumn("is_new", lit(false)).unionByName(
      novel.select(existing.columns.map(col): _*)
        .withColumn("is_new", lit(true)))
  }

  /** True SCD2 maintenance — the close-out extension of
    * [[lookupOrInsert]] (which mirrors the reference's never-expire
    * loader). Per natural key: an unchanged current row passes
    * through; a changed one is *closed* (`expiration_date` :=
    * effective date, `is_current` := false) and a new current version
    * appended; novel keys insert fresh. Historical rows pass through
    * untouched. One shuffle keyed on the natural key (the full-outer
    * join); new versions get [[versionKey]] surrogates so re-runs are
    * reproducible.
    *
    * `incoming` carries the natural key, the tracked attributes, and
    * `hashCol` (the attribute hash that defines "changed"), and is
    * expected to be unique per natural key; in-batch duplicates are
    * collapsed deterministically (greatest whole-row struct wins), so
    * re-runs of the same batch always mint the same versions.
    */
  def expireAndInsert(existing0: DataFrame, incoming: DataFrame,
      naturalKey: Seq[String], hashCol: String, keyCol: String,
      effectiveDate: Column): DataFrame = {
    val existing =
      if (existing0.columns.contains("is_new")) existing0.drop("is_new")
      else existing0
    val cols = existing.columns.toSeq
    val expType = existing.schema("expiration_date").dataType
    val effType = existing.schema("effective_date").dataType
    val current = existing.filter(col("is_current"))
    val history = existing.filter(!col("is_current"))
    val dedupW = Window.partitionBy(naturalKey.map(col): _*)
      .orderBy(struct(incoming.columns
        .filterNot(naturalKey.contains).map(col): _*).desc)
    val inc = incoming
      .withColumn("__rn", row_number().over(dedupW))
      .filter(col("__rn") === 1).drop("__rn")
      .select(incoming.columns.map(c => col(c).as(s"__i_$c")): _*)
    val cond = naturalKey.map(k => col(k) <=> col(s"__i_$k")).reduce(_ && _)
    val j = current.join(inc, cond, "full_outer")
    val changed = col(hashCol).isNotNull &&
      col(s"__i_$hashCol").isNotNull &&
      col(s"__i_$hashCol") =!= col(hashCol)
    val kept = j.filter(col(hashCol).isNotNull).select(cols.map {
      case "expiration_date" =>
        when(changed, effectiveDate.cast(expType))
          .otherwise(col("expiration_date")).as("expiration_date")
      case "is_current" =>
        when(changed, lit(false)).otherwise(col("is_current"))
          .as("is_current")
      case c => col(c)
    }: _*)
    val incSet = incoming.columns.toSet
    val fresh = j.filter(col(s"__i_$hashCol").isNotNull &&
        (col(hashCol).isNull || changed))
      .select(cols.map {
        case c if c == keyCol =>
          versionKey(col(s"__i_$hashCol"), effectiveDate).as(c)
        case "effective_date" =>
          effectiveDate.cast(effType).as("effective_date")
        case "expiration_date" =>
          lit("9999-12-31").cast(expType).as("expiration_date")
        case "is_current" => lit(true).as("is_current")
        case c if incSet.contains(c) => col(s"__i_$c").as(c)
        case c => lit(null).cast(existing.schema(c).dataType).as(c)
      }: _*)
    history.unionByName(kept).unionByName(fresh)
  }
}

/** Generated date dimension (W6, `db/init/01-schema.sql:86-131`):
  * calendar attributes for every day in [start, end]. `day_of_week`
  * follows the reference's `EXTRACT(DOW)` convention (Sunday = 0);
  * names are unpadded English (`TO_CHAR('Day')` space-pads to 9 chars
  * — deliberately not reproduced).
  */
object DateDim {

  def build(spark: SparkSession, start: String = "2020-01-01",
      end: String = "2030-12-31"): DataFrame = {
    val d = col("full_date")
    val m = month(d)
    spark.range(0, java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse(start),
        java.time.LocalDate.parse(end)) + 1)
      .select(date_add(lit(start).cast("date"),
        col("id").cast("int")).as("full_date"))
      .select(
        graft.functions.CleanFunctions.dateKey(d).as("date_key"),
        d,
        (dayofweek(d) - 1).as("day_of_week"),
        date_format(d, "EEEE").as("day_name"),
        dayofmonth(d).as("day_of_month"),
        dayofyear(d).as("day_of_year"),
        weekofyear(d).as("week_of_year"),
        m.as("month_number"),
        date_format(d, "MMMM").as("month_name"),
        quarter(d).as("quarter"),
        year(d).as("year"),
        (dayofweek(d) === 1 || dayofweek(d) === 7).as("is_weekend"),
        when(m.isin(3, 4, 5), "Spring").when(m.isin(6, 7, 8), "Summer")
          .when(m.isin(9, 10, 11), "Autumn").otherwise("Winter")
          .as("season_northern"),
        when(m.isin(9, 10, 11), "Spring").when(m.isin(12, 1, 2), "Summer")
          .when(m.isin(3, 4, 5), "Autumn").otherwise("Winter")
          .as("season_southern"),
        lit(false).as("is_growing_season"))
  }
}

/** Snapshot governance between corpus versions — the diff an
  * incremental pipeline runs between crawls. */
object Snapshot {

  /** Diff two corpus versions keyed on `idCol` with content identity
    * `hashCol`: per row, status ∈ added (only in `nw`) / removed
    * (only in `old`) / changed (hash moved) / unchanged. Any OTHER
    * column present in both frames is carried through coalesced
    * old-first. One full-outer hash join on the id — a plain
    * exchange at any size.
    */
  def corpusDiff(old: DataFrame, nw: DataFrame, idCol: String,
      hashCol: String): DataFrame = {
    val extras = old.columns.toSeq
      .filter(c => c != idCol && c != hashCol && nw.columns.contains(c))
    // presence is an explicit marker per side, NOT hash nullness — a
    // row whose content hash is legitimately null (md5 of null text)
    // must still count as present, and the hash comparison below is
    // null-safe so a one-sided-null pair reads "changed", not
    // "unchanged" via =!='s null propagation
    val oo = old.select(col(idCol) +: col(hashCol).as("__oh") +:
      lit(1).as("__op") +: extras.map(c => col(c).as(s"__o_$c")): _*)
    val nn = nw.select(col(idCol) +: col(hashCol).as("__nh") +:
      lit(1).as("__np") +: extras.map(c => col(c).as(s"__n_$c")): _*)
    oo.join(nn, Seq(idCol), "full_outer")
      .select(col(idCol) +:
        extras.map(c =>
          coalesce(col(s"__o_$c"), col(s"__n_$c")).as(c)) :+
        when(col("__op").isNull, lit("added"))
          .when(col("__np").isNull, lit("removed"))
          .when(!(col("__oh") <=> col("__nh")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"): _*)
  }
}

/** Audit-log bookkeeping (S14, `etl_audit_log`
  * `db/init/01-schema.sql:227-243`; writers `etl/orchestrator.py:
  * 168-176`, `postgres_loader.py:178-190`). The reference UPDATEs the
  * RUNNING row in place; in an append-only lake the same contract is
  * append + latest-wins view (`row_number` over batch_id by
  * event_time).
  */
object AuditLog {

  /** One lifecycle row. `status`: RUNNING | SUCCESS | FAILED. */
  def entry(batchId: Column, pipelineName: Column, status: Column,
      eventTime: Column, recordsProcessed: Column,
      errorMessage: Column): Column =
    struct(batchId.as("batch_id"), pipelineName.as("pipeline_name"),
      status.as("status"), eventTime.as("event_time"),
      recordsProcessed.as("records_processed"),
      errorMessage.as("error_message"))

  /** Latest entry per batch — the queryable state of the audit table.
    * Equal-timestamp ties rank terminal states over RUNNING explicitly
    * (alphabetical status order would rank RUNNING above FAILED and
    * report a dead batch as in-flight).
    */
  def latest(log: DataFrame): DataFrame = {
    val terminalRank = when(col("status") === "SUCCESS", 3)
      .when(col("status") === "FAILED", 2).otherwise(1)
    val w = Window.partitionBy("batch_id")
      .orderBy(col("event_time").desc, terminalRank.desc)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}

/** Idempotency keys (S15, `etl/utils/database.py:49-63`):
  * `sha256("{entity_type}:{entity_key}")`, insert-if-new. The batch
  * analogue of the reference's row-at-a-time
  * `ON CONFLICT DO NOTHING RETURNING`: the returned frame is the set
  * of *novel* rows (True results), and appending them to the key table
  * completes the transaction.
  */
object Idempotency {

  def keyHash(entityType: Column, entityKey: Column): Column =
    sha2(concat(entityType, lit(":"), entityKey.cast("string")), 256)

  /** Rows of `batch` whose key hash is not yet in `keyTable`
    * (column `key_hash`). */
  def novelRows(batch: DataFrame, keyTable: DataFrame,
      entityType: Column, entityKey: Column): DataFrame =
    batch.withColumn("key_hash", keyHash(entityType, entityKey))
      .join(keyTable.select("key_hash"), Seq("key_hash"), "left_anti")
}
