package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loaders for the driver-provided corpus
  * (`/root/testdata/sf*`, see TESTDATA.md). Column pruning and filter
  * pushdown happen automatically because these are plain declarative
  * parquet scans — at 100 TB each of these becomes a partitioned,
  * statistics-pruned distributed scan with no code change.
  *
  * Schema inference reads the parquet footer through a Spark job, so
  * an uncached load costs one job before the query does any work.
  * A corpus table is one file, and its inferred schema is kept for the
  * life of the JVM, keyed by the qualified path, the file's length and
  * modification time (one `getFileStatus` per load), and the session's
  * explicitly set `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*`
  * values (the settings Spark's schema converter reads, including the
  * `nanosAsLong` that [[loadEvents]] turns on). A later load with the
  * same key reads with that schema pinned and launches no job.
  * A regenerated file changes length or mtime and is inferred again,
  * so [[assertSchema]] and the `events.ts` dispatch always see the file
  * on disk — with one exception, the contract of this cache: a rewrite
  * that keeps BOTH the length and the modification time of the old
  * file is served the old schema. A directory path is inferred on
  * every load, since a directory's mtime does not track its files.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df =
      if (name == "events") loadEvents(spark, dir)
      else readParquet(spark, s"$dir/$name.parquet")
    assertSchema(name, df)
    if (SpreadTables(name)) spreadSmallScan(spark, df) else df
  }

  private final case class SchemaKey(path: String, length: Long,
      mtime: Long, parquetConf: Map[String, String])

  /** Inferred schemas of single parquet files, JVM-wide (see the
    * object doc for the key). One small entry per file version. */
  private val inferred = new ConcurrentHashMap[SchemaKey, StructType]()

  /** `spark.read.parquet(path)`, minus the inference job when `path`
    * is a file whose schema is cached under the same key. A directory
    * or a missing path reads exactly as `spark.read.parquet` does. */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    status.filter(_.isFile) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val key = SchemaKey(st.getPath.toString, st.getLen,
          st.getModificationTime, spark.conf.getAll.filter { case (k, _) =>
            k.startsWith("spark.sql.parquet.") ||
            k.startsWith("spark.sql.legacy.parquet.")
          })
        Option(inferred.get(key)) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            inferred.put(key, df.schema)
            df
        }
    }
  }

  /** Tables whose consumers do heavy PER-ROW work on the scan side
    * (regex cascades, shingle explodes, hash signatures, vector
    * kernels) — the ones where a single-split scan serializes real
    * compute. The relational tables (lineitem/orders/events/…) are
    * deliberately NOT spread: their tiny star/rollup queries pay the
    * extra exchange without heavy map work to parallelize — measured
    * +0.1–0.5 s per query across the 20-query tail vs −0.2 s gains,
    * a net loss, while the documents family measured −13 % to −81 %
    * per query. `embeddings` was measured both ways and stays
    * UNSPREAD: its per-row map work is trivial (the expensive kernels
    * are pair-bound and already parallel behind join exchanges), and
    * spreading the 2k-row frame added an exchange to every candidate
    * chain (q256 +1.4 s, q255/q58/q103 +0.3 s each; only q251 gained). */
  private val SpreadTables = Set("documents")

  /** Widen a scan that parquet physically caps at fewer splits than
    * the cluster has cores. Parquet files split only at ROW-GROUP
    * boundaries, and every table in this corpus ships as one file with
    * ONE row group — so without this, every scan-side map stage in the
    * engine (regex cascades, shingle explodes, hash signatures) ran as
    * a single task regardless of `spark.sql.files.*` (measured: q30's
    * whole map-only extraction on 1 of 32 cores; the q19 shingle
    * explode emitted 1.1M index rows from one task). A round-robin
    * repartition after the scan moves the heavy per-row work onto
    * every core; the serial parquet decode of the single row group is
    * unavoidable, but it is the cheap part.
    *
    * Scale posture (guide §2.5 "input skew … repartition immediately
    * after the read"): the spread fires only when the scan has fewer
    * splits than `defaultParallelism` AND the relation is at least
    * [[SpreadScanMinBytes]] (256 KB) — at any realistic warehouse
    * scale the scan already has more splits than cores and this is a
    * planning-time no-op, and trivially small dimensions (nation,
    * region) skip the pointless exchange. Filters
    * and column pruning push through a Repartition node, so
    * PushedFilters/ReadSchema at the scan are unchanged (checked in
    * the r19 plan audit); round-robin repartition is
    * deterministic under retry (sortBeforeRepartition is on) and every
    * engine result is partitioning-insensitive by the oracle
    * determinism contract. */
  private def spreadSmallScan(spark: SparkSession,
      df: DataFrame): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= par) df
    else if (df.queryExecution.optimizedPlan.stats.sizeInBytes <
        BigInt(SpreadScanMinBytes)) df
    else df.repartition(par)
  }

  private val SpreadScanMinBytes = 262144L

  /** Accepted logical shapes per corpus table: column → admissible Spark
    * types. The driver owns `/root/testdata` and has regenerated it
    * mid-run with changed physical encodings once already (events.ts:
    * TIMESTAMP(NANOS) → timestamp[us], 2026-08-13); this turns any future
    * drift into one diagnosable error naming the table, column, and found
    * type instead of dozens of opaque downstream analysis failures.
    * The check itself runs no Spark job: it reads the schema the load
    * already resolved — inferred by one footer job on a cache miss,
    * pinned from the schema cache on a hit (see the object doc).
    */
  private val expectedSchemas: Map[String, Seq[(String, DataType => Boolean)]] = {
    val integral: DataType => Boolean =
      t => t == LongType || t == IntegerType || t == ShortType
    val str: DataType => Boolean = _ == StringType
    val dbl: DataType => Boolean = t => t == DoubleType || t == FloatType
    // Either timestamp flavor, a date, or raw nanos longs (pre-regeneration
    // encoding) — loadEvents normalizes all of these to TimestampType.
    val temporal: DataType => Boolean = {
      case _: TimestampType | _: TimestampNTZType | _: DateType | LongType => true
      case _ => false
    }
    val floatVec: DataType => Boolean = {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    Map(
      "region" -> Seq("r_regionkey" -> integral, "r_name" -> str),
      "nation" -> Seq("n_nationkey" -> integral, "n_name" -> str, "n_regionkey" -> integral),
      "customer" -> Seq("c_custkey" -> integral, "c_name" -> str, "c_nationkey" -> integral,
        "c_acctbal" -> dbl, "c_mktsegment" -> str),
      "supplier" -> Seq("s_suppkey" -> integral, "s_name" -> str, "s_nationkey" -> integral,
        "s_acctbal" -> dbl),
      "part" -> Seq("p_partkey" -> integral, "p_name" -> str, "p_brand" -> str,
        "p_type" -> str, "p_size" -> integral, "p_retailprice" -> dbl),
      "orders" -> Seq("o_orderkey" -> integral, "o_custkey" -> integral, "o_orderstatus" -> str,
        "o_totalprice" -> dbl, "o_orderdate" -> temporal, "o_orderpriority" -> str),
      "lineitem" -> Seq("l_orderkey" -> integral, "l_partkey" -> integral, "l_suppkey" -> integral,
        "l_linenumber" -> integral, "l_quantity" -> dbl, "l_extendedprice" -> dbl,
        "l_discount" -> dbl, "l_tax" -> dbl, "l_returnflag" -> str, "l_linestatus" -> str,
        "l_shipdate" -> temporal),
      "events" -> Seq("event_id" -> integral, "ts" -> temporal, "user_id" -> integral,
        "event_type" -> str, "value" -> dbl, "props" -> str),
      "documents" -> Seq("doc_id" -> integral, "text" -> str, "lang" -> str,
        "source" -> str, "n_chars" -> integral),
      "embeddings" -> Seq("vec_id" -> integral, "embedding" -> floatVec, "label" -> integral)
    )
  }

  private[graft] def assertSchema(name: String, df: DataFrame): Unit =
    expectedSchemas.get(name).foreach { expected =>
      val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
      expected.foreach { case (colName, accepts) =>
        byName.get(colName) match {
          case None =>
            throw new IllegalArgumentException(
              s"graft.Tables: table '$name' is missing expected column '$colName' " +
                s"(found: ${df.schema.fieldNames.mkString(", ")}). " +
                "The testdata corpus layout may have changed — see TESTDATA.md.")
          case Some(t) if !accepts(t) =>
            throw new IllegalArgumentException(
              s"graft.Tables: table '$name' column '$colName' has unsupported type " +
                s"${t.simpleString}. The testdata corpus encoding may have changed — " +
                "update graft.Tables.expectedSchemas / the loader dispatch.")
          case _ => ()
        }
      }
    }

  /** `events.ts` has shipped in two physical encodings across corpus
    * regenerations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects — read as raw nanos via the legacy conf and
    * floor-truncate to micros) and plain parquet `timestamp[us]` (which
    * Spark reads as TIMESTAMP_NTZ). Dispatch on the schema actually
    * read, so either corpus resolves to the same logical column: a
    * session-UTC `TimestampType` holding the same instants DuckDB sees
    * when it reads the same file. Anything else is a loud, named error
    * (see [[assertSchema]]) rather than 22 downstream analysis failures.
    *
    * The legacy conf is deliberately left set on the session (not
    * save/restored): it is consulted again when the lazy scan executes,
    * so restoring it right after this call would break the very read it
    * enabled. It is a no-op for non-nanos files.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readParquet(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) surfaced as raw nanos longs
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => // parquet timestamp[us], no tz
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType => raw
      case other =>
        throw new IllegalArgumentException(
          s"graft.Tables: events.ts read as unsupported type $other " +
            "(expected LongType [nanos], TimestampNTZType, or TimestampType)")
    }
  }

  /** Register every table as a temp view so `spark.sql` works against
    * the same names the DuckDB oracle uses.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
