package graft.functions

import org.apache.spark.sql.{Column, Encoders}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Distributed Bloom filter over 64-bit keys (SURVEY.md §2.12 D3 scale
  * machinery — the decontamination / anti-join pre-filter).
  *
  * At 100 TB the exact "is this shingle in the blocklist?" set can be too
  * large to broadcast, turning every membership probe into a full shuffle
  * of the corpus's shingle stream. A Bloom filter keeps the broadcast O(m)
  * bits regardless of corpus size (~10 bits/key for ~1% FPR), and its
  * one-sided error (NO false negatives) means a bloom pre-filter followed
  * by an exact join on the survivors returns exactly the exact-join answer
  * while shuffling only `matches + FPR × corpus` rows instead of the whole
  * corpus — the standard semi-join pushdown for contains-style predicates.
  *
  * Build shape: a typed [[Aggregator]] — fixed-size `Array[Long]` partial
  * bitsets built map-side, OR-merged associatively (one small reduce, no
  * driver-side collect of keys). Probe shape: the [[BloomContains]]
  * expression against the broadcast single-row bits array.
  *
  * Bit placement is classic double hashing (Kirsch–Mitzenmacher):
  * `pos_i = h + i·h₂ mod m` with `h₂ = splitmix64(h) | 1` (odd, so the
  * probe sequence walks the full power-of-two table) and `k = 3` probes.
  */
object BloomHash {
  final val NumProbes = 3

  /** Second hash for double hashing — odd so it is invertible mod 2^m. */
  @inline def h2(h: Long): Long = TextHash.mix(h) | 1L

  /** Set key `h`'s probe bits in `bits` (len must be a power of two). */
  def set(bits: Array[Long], h: Long): Unit = {
    val mask = (bits.length.toLong << 6) - 1
    var i = 0
    while (i < NumProbes) {
      val pos = (h + i * h2(h)) & mask
      bits((pos >>> 6).toInt) |= (1L << (pos & 63))
      i += 1
    }
  }

  /** Probe key `h` against an [[ArrayData]] bits row (no copy). */
  def mightContain(bits: ArrayData, h: Long): Boolean = {
    val mask = (bits.numElements().toLong << 6) - 1
    var i = 0
    while (i < NumProbes) {
      val pos = (h + i * h2(h)) & mask
      if ((bits.getLong((pos >>> 6).toInt) & (1L << (pos & 63))) == 0L)
        return false
      i += 1
    }
    true
  }
}

/** `agg(bloomAgg(col))` over LongType keys → one `array<bigint>` row of
  * `numBits` bits. Partials are fixed-size regardless of input cardinality;
  * merge is bitwise OR — associative and commutative, so the result is
  * partitioning-independent (deterministic).
  */
class BloomBuild(numBits: Int)
    extends Aggregator[Long, Array[Long], Array[Long]] {
  require(numBits >= 64 && Integer.bitCount(numBits) == 1,
    s"bloom numBits must be a power of two >= 64, got $numBits")

  override def zero: Array[Long] = new Array[Long](numBits >>> 6)

  override def reduce(b: Array[Long], h: Long): Array[Long] = {
    BloomHash.set(b, h); b
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) |= b2(i); i += 1 }
    b1
  }

  override def finish(b: Array[Long]): Array[Long] = b

  override def bufferEncoder: ExpressionEncoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: ExpressionEncoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
}

/** `bloom_contains(bits, key)` — membership probe. Same per-row compiled-
  * kernel convention as the [[TextHash]] expressions: one virtual eval call,
  * all probe arithmetic JIT-compiled, reading the (broadcast) bits array
  * in place.
  */
case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_contains"
  override def checkInputDataTypes(): TypeCheckResult =
    TextTypeCheck.expect(
      (left.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }) && right.dataType == LongType,
      prettyName, "(array<bigint>, bigint)",
      if (left.dataType.isInstanceOf[ArrayType]) right.dataType else left.dataType)

  override def nullSafeEval(bits: Any, h: Any): Any =
    BloomHash.mightContain(bits.asInstanceOf[ArrayData], h.asInstanceOf[Long])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-level API for the bloom filter: a typed-aggregate build, and the
  * [[BloomContains]] probe built from [[Kernel]].
  */
object BloomKernels {
  /** Aggregate a LongType key column into one bloom-bits array. */
  def bloomAgg(c: Column, numBits: Int = 1 << 19): Column =
    udaf(new BloomBuild(numBits), Encoders.scalaLong).apply(c)

  def contains(bits: Column, key: Column): Column =
    Kernel.bloomContains(bits, key)
}
