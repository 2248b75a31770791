package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** A named engine query plus (optionally) the ANSI-SQL oracle the driver
  * runs in DuckDB over the same parquet tables.
  *
  * Determinism contract (driver hash-matches values after sorting columns
  * by name):
  *   - every query ends in an ORDER BY over a unique key, mirrored in the
  *     oracle SQL;
  *   - floating-point aggregation goes through exact DECIMAL arithmetic
  *     (the corpus doubles carry <=2 decimals, so DECIMAL(18,2+) casts are
  *     exact) and is cast back to DOUBLE only at the end — the resulting
  *     doubles are bit-identical in Spark and DuckDB regardless of
  *     partitioning / summation order;
  *   - scalar double math stays unrounded (IEEE ops are deterministic and
  *     identical in both engines); integer outputs are cast to BIGINT on
  *     both sides;
  *   - timestamps are emitted as formatted strings or DATEs, never raw
  *     TIMESTAMP columns (Spark writes instant-semantics parquet
  *     timestamps, DuckDB is naive — string form sidesteps the mismatch).
  */
final case class Q(
    name: String,
    oracle: Option[String])(
    val fn: (SparkSession, String) => DataFrame)

object Q {
  /** Scratch dir for a query that must persist intermediate state
    * (indexes, fact tables) — unique per (tag, JVM, sf dir), rooted
    * under the per-JVM [[graft.util.Scratch]] tree so it is reclaimed
    * on JVM exit instead of accumulating across runs. */
  def scratchPath(tag: String, dir: String): String =
    graft.util.Scratch.path(
      tag + "_" + Integer.toHexString(dir.hashCode))

  /** Exact decimal view of a corpus double (values have <=2 decimals). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Exact decimal sum rendered back as a deterministic double. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")
}
