package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Exact scale-20 decimal arithmetic on an Int128 (two-long) accumulator —
  * the engine of the r20 covariance kernel (the r19 "not yet optimized"
  * item 1).
  *
  * Contract: [[addScaled]] adds to the accumulator EXACTLY the unscaled
  * value of Spark's `cast(d AS DECIMAL(38,20))` — i.e.
  * `BigDecimal(java.lang.Double.toString(d)).setScale(20, HALF_UP)` — and
  * skips the addend exactly when that cast overflows decimal(38) and
  * yields NULL under non-ANSI semantics (|d| ≥ 10¹⁸, NaN, ±Inf), which a
  * decimal `sum` would likewise skip. [[toDouble]] collapses the exact
  * total the way `CAST(sum AS DOUBLE)` does (`Decimal.toDouble` =
  * `BigDecimal.doubleValue`). A sum built this way is therefore
  * digit-identical to `sum(cast(d as decimal(38,20))).cast("double")` —
  * [[Deterministic.dsumFine]] — for any addend order (the decimal sum is
  * order-independent), as long as the true total stays inside 128 bits
  * (|Σ| < 1.7·10¹⁸ in double units; the covariance use is unit-scale).
  *
  * Why not just run the decimal sum: `Double.toString` is unavoidable
  * (the shortest-roundtrip decimal DEFINES the cast's value) but
  * everything after it — BigDecimal parse, setScale shift, scale-aligned
  * BigDecimal.add, Decimal precision checks — allocates per addend. Here
  * the toString output (≤ 17 significant digits — always long-sized) is
  * parsed in place and shifted/rounded with long/Int128 arithmetic; the
  * only BigDecimal in the pipeline runs once per SLOT at finish. A
  * BigDecimal slow path backs the rare magnitude corners, and
  * Dec20Spec pins fast-path ≡ BigDecimal across magnitude decades and
  * adversarial values.
  */
object Dec20 {

  private val Pow10 = Array.iterate(1L, 19)(_ * 10) // 10^0 .. 10^18

  /** Unsigned 64×64 → high 64 bits (JDK 17 has only the signed
    * `Math.multiplyHigh`; the unsigned variant arrived in 18).
    */
  private def umulHigh(x: Long, y: Long): Long =
    Math.multiplyHigh(x, y) + ((x >> 63) & y) + ((y >> 63) & x)

  /** acc(2·slot) += hi, acc(2·slot+1) += lo, signed 128-bit. */
  private def add128(acc: Array[Long], slot: Int, hi: Long, lo: Long): Unit = {
    val i = 2 * slot
    val oldLo = acc(i + 1)
    val newLo = oldLo + lo
    // unsigned carry out of the low word
    val carry = ((oldLo & lo) | ((oldLo | lo) & ~newLo)) >>> 63
    acc(i + 1) = newLo
    acc(i) = acc(i) + hi + carry
  }

  /** Slow path: the definitional BigDecimal arithmetic. */
  private def addSlow(d: Double, acc: Array[Long], slot: Int): Unit = {
    val u = new java.math.BigDecimal(java.lang.Double.toString(d))
      .setScale(20, java.math.RoundingMode.HALF_UP)
      .unscaledValue()
    add128(acc, slot, u.shiftRight(64).longValueExact(), u.longValue())
  }

  /** Add cast(d as decimal(38,20))'s unscaled value into slot (no-op when
    * the cast would be NULL: overflow/NaN/Inf — sum-skip parity).
    */
  def addScaled(d: Double, acc: Array[Long], slot: Int): Unit = {
    if (!(Math.abs(d) < 1.0e18)) return // decimal(38,20) overflow → NULL → skipped
    if (d == 0.0) return                // ±0 contributes nothing
    val s = java.lang.Double.toString(d)
    // parse [-]ddd.ddd[E[-]dd] — toString always contains '.', significant
    // digits ≤ 17 so the digit accumulator can never overflow a long
    var i = 0
    val neg = s.charAt(0) == '-'
    if (neg) i = 1
    var digits = 0L
    var frac = 0
    var exp = 0
    var seenDot = false
    var ok = true
    val n = s.length
    var broke = false
    while (i < n && !broke) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9') {
        digits = digits * 10 + (c - '0')
        if (seenDot) frac += 1
      } else if (c == '.') seenDot = true
      else if (c == 'E') {
        var j = i + 1
        var eneg = false
        if (s.charAt(j) == '-') { eneg = true; j += 1 }
        var e = 0
        while (j < n) { e = e * 10 + (s.charAt(j) - '0'); j += 1 }
        exp = if (eneg) -e else e
        broke = true
      } else ok = false
      i += 1
    }
    if (!ok) { addSlow(d, acc, slot); return }
    val k = 20 - (frac - exp) // unscaled20 = digits · 10^k
    if (k >= 0) {
      if (k > 36) { addSlow(d, acc, slot); return } // can't occur under the 1e18 guard
      var hi = 0L
      var lo = digits
      if (k <= 18) {
        hi = Math.multiplyHigh(lo, Pow10(k)) // both operands ≥ 0: signed == unsigned
        lo = lo * Pow10(k)
      } else {
        // two-step ×10^18 then ×10^(k−18); the final |value| < 10^38 < 2^127
        // bounds every intermediate, so the high words never overflow
        hi = Math.multiplyHigh(lo, Pow10(18))
        lo = lo * Pow10(18)
        val m = Pow10(k - 18)
        val newLo = lo * m
        hi = hi * m + umulHigh(lo, m)
        lo = newLo
      }
      if (neg) { lo = -lo; hi = ~hi + (if (lo == 0L) 1L else 0L) }
      add128(acc, slot, hi, lo)
    } else {
      // scale > 20: HALF_UP round digits / 10^(−k); −k ≥ 19 rounds to 0
      // (|digits| < 10^18 < half of 10^19)
      if (-k > 18) return
      val div = Pow10(-k)
      var q = digits / div
      val r = digits % div
      if (2 * r >= div) q += 1
      if (neg) q = -q
      add128(acc, slot, q >> 63, q)
    }
  }

  /** Exact total → double, the `CAST(decimal(38,20) AS DOUBLE)` collapse. */
  def toDouble(acc: Array[Long], slot: Int): Double = {
    val hi = acc(2 * slot)
    val lo = acc(2 * slot + 1)
    val bytes = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      bytes(i) = (hi >>> (56 - 8 * i)).toByte
      bytes(i + 8) = (lo >>> (56 - 8 * i)).toByte
      i += 1
    }
    new java.math.BigDecimal(new java.math.BigInteger(bytes), 20).doubleValue
  }
}

/** Per-partition state of [[VecOuterTriSum]]: Int128 accumulators for the
  * d·(d+1)/2 upper-triangle slots, 2 longs per slot, slot(i,j) laid out
  * row-major over j ≥ i. Mutated in place between serializations (the
  * [[TopK]] wide-buffer convention — ObjectHashAggregate holds the JVM
  * object; the product encoder writes the long array across the one
  * partial/final exchange).
  */
final case class TriSumBuf(dim: Int, acc: Array[Long])

/** `agg(VecOuterTriSum.triSum(dim)(embedding))` → array of (i, j, sxy)
  * structs over the upper triangle (j ≥ i), where sxy is EXACTLY
  * `sum(cast(x_i·x_j as decimal(38,20))).cast("double")` over every input
  * row — the [[Deterministic.dsumFine]] covariance moment, computed
  * without the d²-row Generate fan-out, without the d²-group decimal hash
  * aggregate, and without the corpus-scale exchange they implied: per
  * input row the d(d+1)/2 products accumulate into a flat Int128 buffer
  * ([[Dec20]]), the exchange carries ONE buffer per partition, and the
  * only BigDecimals run once per slot at finish. The float→double widening
  * and the x_i·x_j product are the identical IEEE ops the exploded form
  * evaluated, so the addend stream per slot is identical addend-for-addend
  * and the exact decimal sum is order-independent — value equality is
  * pinned by Dec20Spec against the exploded dsumFine form at gate scale.
  */
class VecOuterTriSumAgg(dim: Int)
    extends Aggregator[Seq[Float], TriSumBuf, Seq[(Int, Int, Double)]] {

  override def zero: TriSumBuf =
    TriSumBuf(dim, new Array[Long](dim * (dim + 1)))

  override def reduce(b: TriSumBuf, emb: Seq[Float]): TriSumBuf = {
    require(emb.length == dim,
      s"vec_outer_tri_sum expects $dim-dim embeddings, got ${emb.length}")
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) { x(i) = emb(i).toDouble; i += 1 }
    var slot = 0
    i = 0
    while (i < dim) {
      val xi = x(i)
      var j = i
      while (j < dim) {
        Dec20.addScaled(xi * x(j), b.acc, slot)
        slot += 1
        j += 1
      }
      i += 1
    }
    b
  }

  override def merge(b1: TriSumBuf, b2: TriSumBuf): TriSumBuf = {
    if (b2.acc.length != b1.acc.length)
      return if (b1.acc.length == 0) b2 else b1 // one side never saw a row
    val a1 = b1.acc
    val a2 = b2.acc
    var s = 0
    val nSlots = a1.length / 2
    while (s < nSlots) {
      val oldLo = a1(2 * s + 1)
      val lo = a2(2 * s + 1)
      val newLo = oldLo + lo
      val carry = ((oldLo & lo) | ((oldLo | lo) & ~newLo)) >>> 63
      a1(2 * s + 1) = newLo
      a1(2 * s) = a1(2 * s) + a2(2 * s) + carry
      s += 1
    }
    b1
  }

  override def finish(b: TriSumBuf): Seq[(Int, Int, Double)] = {
    val out = Seq.newBuilder[(Int, Int, Double)]
    var slot = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        out += ((i, j, Dec20.toDouble(b.acc, slot)))
        slot += 1
        j += 1
      }
      i += 1
    }
    out.result()
  }

  override def bufferEncoder: Encoder[TriSumBuf] = Encoders.product[TriSumBuf]

  override def outputEncoder: Encoder[Seq[(Int, Int, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Int, Int, Double)]]()
}

object VecOuterTriSum {
  /** Column form over embedding: array<float>. */
  def triSum(dim: Int)(emb: Column): Column =
    udaf(new VecOuterTriSumAgg(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())(emb)
}
