package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** A plain power-of-two Bloom filter over 64-bit key hashes, built
  * distributed (per-partition word arrays OR-merged on the driver) and
  * probed by the native [[BloomMightContain]] expression.
  *
  * Probes use Kirsch–Mitzenmacher double hashing: the k indexes are
  * `h + i·h2` where `h2` is a splitmix64 finalizer of `h` forced odd
  * (odd ⇒ `h2` generates all of Z/2^m, so the k probes never collapse
  * onto one slot). The caller hashes keys with Spark's `xxhash64`, so
  * insert and probe agree on the hash for every input type and the
  * filter itself only ever sees longs.
  *
  * Why this exists: pre-filtering the big side of a selective join cuts
  * the shuffle to (selectivity + fpp) of the input BEFORE the exchange
  * — the classic semi-join reduction that Spark's runtime row-level
  * filtering applies under AQE, here available deterministically as an
  * operator (`analytics.JoinOps.bloomReduceJoin`) with the membership
  * probe compiled into whole-stage codegen instead of a Scala UDF.
  */
final class BloomSet(val words: Array[Long], val k: Int)
    extends Serializable {
  require(words.nonEmpty && (words.length & (words.length - 1)) == 0,
    s"bloom word count must be a power of two, got ${words.length}")
  require(k >= 1 && k <= 32, s"bloom probe count out of range: $k")
  /** Mask over BIT indexes (64 · words, itself a power of two). */
  val mask: Long = words.length.toLong * 64L - 1L
}

object BloomSet {

  /** (wordCount, k) for `n` expected items at false-positive rate
    * `fpp`; wordCount is rounded up to a power of two so probe
    * indexing is a mask, not a modulo. */
  def params(n: Long, fpp: Double): (Int, Int) = {
    require(n > 0, "bloom expected item count must be positive")
    require(fpp > 0 && fpp < 1, s"bloom fpp must be in (0,1): $fpp")
    val ln2 = math.log(2)
    val mBits = math.max(64L, math.ceil(-n * math.log(fpp) / (ln2 * ln2)).toLong)
    var words = 1L
    while (words * 64L < mBits) words <<= 1
    require(words <= (1L << 30),
      s"bloom of $n items at fpp=$fpp needs ${words * 8L} bytes — " +
        "past the broadcast budget; raise fpp or pre-aggregate keys")
    val k = math.max(1, math.round(ln2 * words * 64.0 / n).toInt)
    (words.toInt, math.min(k, 32))
  }

  /** Second hash for double hashing: splitmix64 finalizer, forced odd. */
  @inline def mix(h: Long): Long = {
    var z = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)) | 1L
  }

  /** Set the k probe bits of `h` in `words` (build side). */
  def insert(words: Array[Long], k: Int, h: Long): Unit = {
    val mask = words.length.toLong * 64L - 1L
    val h2 = mix(h)
    var i = 0
    var idx = h
    while (i < k) {
      val bit = idx & mask
      words((bit >>> 6).toInt) |= 1L << (bit & 63L)
      i += 1
      idx += h2
    }
  }

  /** Membership probe — static so codegen stays one call site inside
    * the fused stage (same rationale as [[SignBuckets.compute]]). */
  def contains(set: BloomSet, h: Long): Boolean = {
    val words = set.words
    val mask = set.mask
    val h2 = mix(h)
    var i = 0
    var idx = h
    while (i < set.k) {
      val bit = idx & mask
      if ((words((bit >>> 6).toInt) & (1L << (bit & 63L))) == 0L) return false
      i += 1
      idx += h2
    }
    true
  }
}

/** `bloom_might_contain(xxhash64(key))` as a codegen'd boolean
  * expression over a broadcast [[BloomSet]]. Input is the LONG key
  * hash (callers compose with `xxhash64`, which folds into the same
  * codegen stage); a null hash yields `false` — a null key matches no
  * row of an equi-join, so filtering it is exactly the semi-join
  * semantics the reduction preserves. The filter bits ride the
  * broadcast, NOT the serialized expression: tasks deserialize a
  * reference, and the word array is fetched once per executor.
  */
case class BloomMightContain(child: Expression, bloom: Broadcast[BloomSet])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain needs a BIGINT key hash, got ${other.sql}")
    }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) false
    else BloomSet.contains(bloom.value, v.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bloomBc", bloom,
      classOf[Broadcast[_]].getName)
    val setVar = ctx.addMutableState("graft.expressions.BloomSet",
      "bloomSet",
      v => s"$v = (graft.expressions.BloomSet) $bcRef.value();")
    val c = child.genCode(ctx)
    ev.copy(code = c.code + code"""
      boolean ${ev.value} = false;
      if (!${c.isNull}) {
        ${ev.value} = graft.expressions.BloomSet.contains(
          $setVar, ${c.value});
      }
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): BloomMightContain = copy(child = newChild)
}
