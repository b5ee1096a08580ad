package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType}

/** Input validation shared by the SQL-exposed kernels. Spark 4 hides
  * `AbstractDataType` (so `ExpectsInputTypes` is unavailable to external
  * expressions); overriding `checkInputDataTypes` gives the same
  * analysis-time failure — without it, `bvec_dot(array<int>, ...)` would
  * pass analysis and silently read garbage through `ArrayData.getByte`.
  */
private[functions] object VecTypeCheck {
  def arrayOf(elem: DataType, fn: String,
              types: (String, DataType)*): TypeCheckResult = {
    val bad = types.collectFirst {
      case (name, t) if !t.isInstanceOf[ArrayType] ||
        t.asInstanceOf[ArrayType].elementType != elem =>
        s"$fn expects $name: array<${elem.catalogString}>, got ${t.catalogString}"
    }
    bad.map(TypeCheckResult.TypeCheckFailure).getOrElse(TypeCheckResult.TypeCheckSuccess)
  }
}

/** Custom Catalyst expressions for the embedding-similarity hot path.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) are
  * CodegenFallback — every candidate pair pays interpreted lambda dispatch
  * and a boxed intermediate array. These kernels generate a tight primitive
  * float loop inside WholeStageCodegen instead (~10× on the LSH candidate
  * re-rank at sf0.1). Semantics are identical: elements widen float→double
  * before multiply, accumulation is sequential left-to-right, so results
  * stay bit-compatible with the DuckDB oracle formulation.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "fvec_dot"
  override def checkInputDataTypes(): TypeCheckResult =
    VecTypeCheck.arrayOf(FloatType, prettyName,
      "left" -> left.dataType, "right" -> right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}_acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}_acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2 norm of an array<float>, same codegen treatment as [[FloatVecDot]]. */
case class FloatVecNorm(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "fvec_norm"
  override def checkInputDataTypes(): TypeCheckResult =
    VecTypeCheck.arrayOf(FloatType, prettyName, "input" -> child.dataType)

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) { val v = x.getFloat(i).toDouble; s += v * v; i += 1 }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double ${ev.value}_acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = (double) $a.getFloat($i);
         |  ${ev.value}_acc += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt(${ev.value}_acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Dot product over `array<double>` — for computed vectors (k-means
  * centroids) that the float kernel can't take. Same sequential
  * accumulation as [[FloatVecDot]], so scores stay oracle-comparable with
  * the `list_sum` formulation.
  */
case class DoubleVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dvec_dot"
  override def checkInputDataTypes(): TypeCheckResult =
    VecTypeCheck.arrayOf(DoubleType, prettyName,
      "left" -> left.dataType, "right" -> right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}_acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}_acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer dot product over int8-quantized vectors (`array<tinyint>`): the
  * scan/shuffle side of scalar-quantized similarity search carries 1 byte
  * per dimension instead of 4, and the candidate scoring loop is pure
  * integer multiply-add. Returns long (64 dims × 127² fits easily).
  */
case class ByteVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "bvec_dot"
  override def checkInputDataTypes(): TypeCheckResult =
    VecTypeCheck.arrayOf(ByteType, prettyName,
      "left" -> left.dataType, "right" -> right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getByte(i).toLong * y.getByte(i).toLong; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long ${ev.value}_acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}_acc += (long) $a.getByte($i) * (long) $b.getByte($i);
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The seed-42 ±1 hyperplane sign sequence as flat bytes — the SINGLE
  * random draw behind every LSH geometry in the engine
  * ([[graft.operators.Similarity]]'s `planesFor` interpolates the same
  * sequence into oracle SQL and fixed-geometry plan literals; Round15Spec
  * pins the two derivations byte-for-byte). `Random(42)` draws
  * sequentially, so `signsFor(n)` is always a PREFIX of `signsFor(m)` for
  * n ≤ m — geometries can grow without moving any pinned bucket.
  */
object LshPlanes {
  def signsFor(nPlanes: Int): Array[Byte] = {
    val rnd = new scala.util.Random(42)
    Array.fill(nPlanes * 64)(if (rnd.nextBoolean()) 1.toByte else -1.toByte)
  }
}

/** ALL of a vector's adaptive-LSH band buckets in one compact kernel:
  * bucket[b] = Σ_{j<abits} [dot(emb, plane_{b·abits+j}) ≥ 0] · 2^j over
  * the seed-42 ±1 planes ([[LshPlanes]]).
  *
  * Why a single kernel instead of per-plane [[FloatVecDot]] columns
  * (r15, measured): the expression-built encode — a bands×maxBits-entry
  * sign array of when-gated dot kernels feeding conditional bucket
  * packing — generates ~bands·maxBits inlined 64-float loops in ONE
  * projection method. At the r13 4×12 width that stayed JIT-compiled; at
  * the r15 8×16 width (128 loops) the generated `project_doConsume`
  * crosses the JVM's huge-method limit, silently never JIT-compiles, and
  * runs BYTECODE-INTERPRETED — the 2 M-vector encode measured >40 min
  * where this kernel's single ~30-line loop nest (JIT-friendly at any
  * bands×bits, loop bounds runtime values) does the identical arithmetic
  * in seconds. Bit-compatibility: each plane dot is the same sequential
  * float→double multiply-accumulate as [[FloatVecDot]] against a ±1.0
  * coefficient, so every bucket equals the old expression form and the
  * DuckDB replay exactly.
  *
  * Children: (embedding array<float>, abits long — the in-plan chooser
  * scalar). `bands`/`maxBits` are plan constants of the operator; abits
  * is clamped to maxBits defensively (the chooser already guarantees it).
  */
case class LshAutoBuckets(left: Expression, right: Expression,
                          bands: Int, maxBits: Int)
    extends BinaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "lsh_abuckets"
  override def checkInputDataTypes(): TypeCheckResult = {
    val emb = VecTypeCheck.arrayOf(FloatType, prettyName, "emb" -> left.dataType)
    if (emb != TypeCheckResult.TypeCheckSuccess) emb
    else if (right.dataType != org.apache.spark.sql.types.LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects abits: bigint, got ${right.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess
  }

  // one flat 8 KB sign table per plan instance; rides plan serialization
  private lazy val signs: Array[Byte] = LshPlanes.signsFor(bands * maxBits)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val ab = math.min(b.asInstanceOf[Long].toInt, maxBits)
    // the sign table is strided at 64 floats per plane; a narrower vector
    // would silently zero-pad and a wider one silently PREFIX-bucket —
    // both produce plausible-looking but wrong buckets, so reject loudly
    if (x.numElements() != 64)
      throw new IllegalArgumentException(
        s"lsh_abuckets expects 64-dim embeddings, got ${x.numElements()}")
    val n = 64
    val out = new Array[Long](bands)
    var bnd = 0
    while (bnd < bands) {
      var bk = 0L
      var j = 0
      while (j < ab) {
        val off = (bnd * ab + j) << 6
        var acc = 0.0
        var i = 0
        while (i < n) { acc += x.getFloat(i).toDouble * signs(off + i).toDouble; i += 1 }
        if (acc >= 0.0) bk |= (1L << j)
        j += 1
      }
      out(bnd) = bk
      bnd += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.addReferenceObj("lshSigns", signs, "byte[]")
      val ab = ctx.freshName("ab")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val bnd = ctx.freshName("bnd")
      val bk = ctx.freshName("bk")
      val j = ctx.freshName("j")
      val off = ctx.freshName("off")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $ab = (int) java.lang.Math.min($b, (long) $maxBits);
         |if ($a.numElements() != 64) {
         |  throw new IllegalArgumentException(
         |    "lsh_abuckets expects 64-dim embeddings, got " + $a.numElements());
         |}
         |int $n = 64;
         |long[] $out = new long[$bands];
         |for (int $bnd = 0; $bnd < $bands; $bnd++) {
         |  long $bk = 0L;
         |  for (int $j = 0; $j < $ab; $j++) {
         |    int $off = ($bnd * $ab + $j) << 6;
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $acc += (double) $a.getFloat($i) * (double) $s[$off + $i];
         |    }
         |    if ($acc >= 0.0) $bk |= (1L << $j);
         |  }
         |  $out[$bnd] = $bk;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One band's LSH bits ordered by |hyperplane dot| ASCENDING — the
  * query-directed multi-probe order (Lv et al., VLDB 2007 §4): a sign bit
  * whose dot sits near the hyperplane is the one a true neighbor most
  * likely landed on the other side of, so probe sequences should flip
  * LOW-MARGIN bits first. Children: (embedding array<float>, abits long —
  * the in-plan chooser scalar, band int — the exploded band id);
  * `bands`/`maxBits` are plan constants sizing the shared seed-42 sign
  * table ([[LshPlanes]] — same table, same (band·abits + j) stride as
  * [[LshAutoBuckets]], so position j here IS bucket bit j there).
  *
  * Determinism contract: each plane dot is the identical sequential
  * float→double multiply-accumulate as [[LshAutoBuckets]], the order key
  * is (|dot| asc, bit asc) — total, so the output permutation replays
  * exactly in the oracle's ROW_NUMBER OVER (ORDER BY abs(d), bit).
  *
  * Same kernel-vs-expression rationale as [[LshAutoBuckets]]: a per-plane
  * expression form would re-blow the generated projection past the JIT
  * huge-method limit; this loop nest is constant-bytecode at any
  * geometry. Per-row cost: abits × 64 MACs + an ≤16-element insertion
  * sort — and it only ever runs on PANEL rows (the probe expansion is
  * query-side), never the corpus.
  */
case class LshAutoFlipOrder(first: Expression, second: Expression,
                            third: Expression, bands: Int, maxBits: Int)
    extends TernaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "lsh_afliporder"
  override def checkInputDataTypes(): TypeCheckResult = {
    val emb = VecTypeCheck.arrayOf(FloatType, prettyName, "emb" -> first.dataType)
    if (emb != TypeCheckResult.TypeCheckSuccess) emb
    else if (second.dataType != org.apache.spark.sql.types.LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects abits: bigint, got ${second.dataType.catalogString}")
    else if (third.dataType != org.apache.spark.sql.types.IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects band: int, got ${third.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val signs: Array[Byte] = LshPlanes.signsFor(bands * maxBits)

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val ab = math.min(b.asInstanceOf[Long].toInt, maxBits)
    val band = c.asInstanceOf[Int]
    if (x.numElements() != 64)
      throw new IllegalArgumentException(
        s"lsh_afliporder expects 64-dim embeddings, got ${x.numElements()}")
    val m = new Array[Double](ab)
    var j = 0
    while (j < ab) {
      val off = (band * ab + j) << 6
      var acc = 0.0
      var i = 0
      while (i < 64) { acc += x.getFloat(i).toDouble * signs(off + i).toDouble; i += 1 }
      m(j) = math.abs(acc)
      j += 1
    }
    val idx = Array.tabulate(ab)(identity)
    // insertion sort on (margin asc, bit asc) — bit asc is free: equal
    // margins keep the ascending-index initial order (stable insert)
    var p = 1
    while (p < ab) {
      val v = idx(p); val mv = m(v)
      var q = p - 1
      while (q >= 0 && m(idx(q)) > mv) { idx(q + 1) = idx(q); q -= 1 }
      idx(q + 1) = v
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(idx)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val s = ctx.addReferenceObj("lshSigns", signs, "byte[]")
      val ab = ctx.freshName("ab")
      val m = ctx.freshName("m")
      val idx = ctx.freshName("idx")
      val j = ctx.freshName("j")
      val off = ctx.freshName("off")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val q = ctx.freshName("q")
      val v = ctx.freshName("v")
      val mv = ctx.freshName("mv")
      s"""
         |int $ab = (int) java.lang.Math.min($b, (long) $maxBits);
         |if ($a.numElements() != 64) {
         |  throw new IllegalArgumentException(
         |    "lsh_afliporder expects 64-dim embeddings, got " + $a.numElements());
         |}
         |double[] $m = new double[$ab];
         |for (int $j = 0; $j < $ab; $j++) {
         |  int $off = ($c * $ab + $j) << 6;
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < 64; $i++) {
         |    $acc += (double) $a.getFloat($i) * (double) $s[$off + $i];
         |  }
         |  $m[$j] = java.lang.Math.abs($acc);
         |}
         |int[] $idx = new int[$ab];
         |for (int $j = 0; $j < $ab; $j++) $idx[$j] = $j;
         |for (int $p = 1; $p < $ab; $p++) {
         |  int $v = $idx[$p];
         |  double $mv = $m[$v];
         |  int $q = $p - 1;
         |  while ($q >= 0 && $m[$idx[$q]] > $mv) { $idx[$q + 1] = $idx[$q]; $q--; }
         |  $idx[$q + 1] = $v;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($idx);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** One band's multi-probe sequence under a PROBE BUDGET — the full Lv et
  * al. (VLDB 2007 §4.1) query-directed ranking the r18 radius split
  * approximated: every radius-≤2 probe (abits single-bit flips plus
  * C(abits, 2) pair flips) is scored by its success estimate — the sum of
  * squared hyperplane margins of the flipped bits (a neighbor lands across
  * hyperplane j with probability falling in the margin |dot_j|, so low
  * margin-mass probe sets are the likeliest residences) — and the `budget`
  * best fire, regardless of radius. A near-axis pair (two tiny margins)
  * outranks a confident single; the fixed radius split can't express that
  * frontier point, which is exactly the coarseness the r18 verdict named
  * (item 3).
  *
  * Children: (embedding array<float>, abits long, band int);
  * `bands`/`maxBits` size the shared seed-42 sign table ([[LshPlanes]],
  * the [[LshAutoBuckets]] stride), `budget` is the per-band probe count
  * (plan constant). Returns up to `budget` XOR masks ordered by
  * (score asc, mask asc) — apply each to the band's exact bucket; the
  * exact probe itself (mask 0) is NOT emitted, callers prepend it, so the
  * candidate set is a strict superset of exact collision at any budget.
  *
  * Determinism contract: margins are the identical sequential
  * float→double MACs as [[LshAutoBuckets]]/[[LshAutoFlipOrder]]; scores
  * are m_i² (singles) and m_i² + m_j², i < j in BIT order (pairs) — IEEE
  * double products/sums in a fixed association order, so DuckDB's
  * ma*ma + mb*mb replays them bit-for-bit and the (score, mask) rank is a
  * total order both engines derive identically. Constant bytecode at any
  * geometry (≤ 20 + 190 candidates at the MaxAutoBits cap), panel-side
  * only — the corpus never runs this.
  */
case class LshProbeSeq(first: Expression, second: Expression,
                       third: Expression, bands: Int, maxBits: Int,
                       budget: Int)
    extends TernaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "lsh_aprobeseq"
  override def checkInputDataTypes(): TypeCheckResult = {
    val emb = VecTypeCheck.arrayOf(FloatType, prettyName, "emb" -> first.dataType)
    if (emb != TypeCheckResult.TypeCheckSuccess) emb
    else if (second.dataType != org.apache.spark.sql.types.LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects abits: bigint, got ${second.dataType.catalogString}")
    else if (third.dataType != org.apache.spark.sql.types.IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects band: int, got ${third.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val signs: Array[Byte] = LshPlanes.signsFor(bands * maxBits)

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val ab = math.min(b.asInstanceOf[Long].toInt, maxBits)
    val band = c.asInstanceOf[Int]
    if (x.numElements() != 64)
      throw new IllegalArgumentException(
        s"lsh_aprobeseq expects 64-dim embeddings, got ${x.numElements()}")
    val m = new Array[Double](ab)
    var j = 0
    while (j < ab) {
      val off = (band * ab + j) << 6
      var acc = 0.0
      var i = 0
      while (i < 64) { acc += x.getFloat(i).toDouble * signs(off + i).toDouble; i += 1 }
      m(j) = math.abs(acc)
      j += 1
    }
    val nCand = ab + ab * (ab - 1) / 2
    val masks = new Array[Long](nCand)
    val scores = new Array[Double](nCand)
    var k = 0
    j = 0
    while (j < ab) {
      masks(k) = 1L << j; scores(k) = m(j) * m(j); k += 1; j += 1
    }
    var i = 0
    while (i < ab) {
      j = i + 1
      while (j < ab) {
        masks(k) = (1L << i) | (1L << j)
        scores(k) = m(i) * m(i) + m(j) * m(j)
        k += 1; j += 1
      }
      i += 1
    }
    val idx = Array.tabulate(nCand)(identity)
    // insertion sort on (score asc, mask asc) — masks are distinct, so the
    // key is total and the permutation replays in the oracle's ROW_NUMBER
    var p = 1
    while (p < nCand) {
      val v = idx(p); val sv = scores(v); val kv = masks(v)
      var q = p - 1
      while (q >= 0 && (scores(idx(q)) > sv ||
          (scores(idx(q)) == sv && masks(idx(q)) > kv))) {
        idx(q + 1) = idx(q); q -= 1
      }
      idx(q + 1) = v
      p += 1
    }
    val take = math.min(budget, nCand)
    val out = new Array[Long](take)
    p = 0
    while (p < take) { out(p) = masks(idx(p)); p += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val s = ctx.addReferenceObj("lshSigns", signs, "byte[]")
      val ab = ctx.freshName("ab")
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val off = ctx.freshName("off")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val nCand = ctx.freshName("nCand")
      val masks = ctx.freshName("masks")
      val scores = ctx.freshName("scores")
      val k = ctx.freshName("k")
      val idx = ctx.freshName("idx")
      val p = ctx.freshName("p")
      val q = ctx.freshName("q")
      val v = ctx.freshName("v")
      val sv = ctx.freshName("sv")
      val kv = ctx.freshName("kv")
      val take = ctx.freshName("take")
      val out = ctx.freshName("out")
      s"""
         |int $ab = (int) java.lang.Math.min($b, (long) $maxBits);
         |if ($a.numElements() != 64) {
         |  throw new IllegalArgumentException(
         |    "lsh_aprobeseq expects 64-dim embeddings, got " + $a.numElements());
         |}
         |double[] $m = new double[$ab];
         |for (int $j = 0; $j < $ab; $j++) {
         |  int $off = ($c * $ab + $j) << 6;
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < 64; $i++) {
         |    $acc += (double) $a.getFloat($i) * (double) $s[$off + $i];
         |  }
         |  $m[$j] = java.lang.Math.abs($acc);
         |}
         |int $nCand = $ab + $ab * ($ab - 1) / 2;
         |long[] $masks = new long[$nCand];
         |double[] $scores = new double[$nCand];
         |int $k = 0;
         |for (int $j = 0; $j < $ab; $j++) {
         |  $masks[$k] = 1L << $j; $scores[$k] = $m[$j] * $m[$j]; $k++;
         |}
         |for (int $i = 0; $i < $ab; $i++) {
         |  for (int $j = $i + 1; $j < $ab; $j++) {
         |    $masks[$k] = (1L << $i) | (1L << $j);
         |    $scores[$k] = $m[$i] * $m[$i] + $m[$j] * $m[$j];
         |    $k++;
         |  }
         |}
         |int[] $idx = new int[$nCand];
         |for (int $j = 0; $j < $nCand; $j++) $idx[$j] = $j;
         |for (int $p = 1; $p < $nCand; $p++) {
         |  int $v = $idx[$p];
         |  double $sv = $scores[$v];
         |  long $kv = $masks[$v];
         |  int $q = $p - 1;
         |  while ($q >= 0 && ($scores[$idx[$q]] > $sv ||
         |      ($scores[$idx[$q]] == $sv && $masks[$idx[$q]] > $kv))) {
         |    $idx[$q + 1] = $idx[$q]; $q--;
         |  }
         |  $idx[$q + 1] = $v;
         |}
         |int $take = java.lang.Math.min($budget, $nCand);
         |long[] $out = new long[$take];
         |for (int $p = 0; $p < $take; $p++) $out[$p] = $masks[$idx[$p]];
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** The round-9 tie convention of the encode argmin, callable from
  * generated code (Scala objects expose static forwarders, so codegen
  * emits `graft.functions.PqEncode.round9(x)`). MUST stay the exact
  * scala.math.BigDecimal(x) path [[TopK]] uses — `new java.math.
  * BigDecimal(double)` is the raw binary expansion and rounds differently.
  */
object PqEncode {
  def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
}

/** ALL of a vector's PQ codes in one compact kernel: code[sub] =
  * argmin_{c < pqK} |res[sub·subDim ..)| − cb[sub][c]|² with the argmin's
  * (round(−d2, 9) desc, code asc) tie convention — value-identical to the
  * dataflow encode it replaces (slice → broadcast-codebook join → per-code
  * d2 → bounded-state TopK at k = 1), including the fast-reject margin:
  * a candidate with −d2 < best's r9 − 1e-9 provably cannot win even after
  * rounding (the [[TopK]] 1e-9-grid argument at k = 1), so BigDecimal runs
  * only on the ~ln(pqK) improving candidates per subspace.
  *
  * Why a kernel (r17 verdict item 5 — the named 20 M knob): the dataflow
  * form materializes N·PqM·pqK joined rows, each paying a generated-code
  * virtual dispatch around one 16-dim dot, plus an ObjectHashAggregate
  * over N·PqM groups with its partial/final machinery — at the 20 M
  * trained-256 build that is ~2·10¹² MACs hidden under ~2·10¹⁰ rows of
  * row-at-a-time overhead. Here the same MACs run in ONE tight loop nest
  * per vector (constant bytecode, JIT/SIMD-friendly fixed-width inner
  * loops), no join rows, no aggregate. The codebook arrives as a plan
  * constant (PqM·pqK·subDim doubles — 16 K entries at the trained-256
  * geometry, collected once from the memoized Lloyd chain) with cb_sq
  * taken from the SAME codebook frame the dataflow joined, so d2 =
  * x_sq − 2·dot + cb_sq is the identical double arithmetic in the
  * identical order.
  *
  * Fields are IndexedSeq, not Array (r18 ADVICE): case-class equality on
  * Array is reference-based, so two semantically identical instances would
  * never compare equal and Catalyst canonicalization / semanticEquals /
  * exchange-reuse could not unify plans that rebuild the codebook — an
  * invisible plan-reuse loss. ArraySeq compares by value; the runtime
  * loops still read a private unwrapped double[].
  */
case class PqEncodeCodes(child: Expression, cbFlat: IndexedSeq[Double],
                         cbSq: IndexedSeq[Double], pqM: Int, pqK: Int, subDim: Int)
    extends UnaryExpression {

  // unwrap once (no copy when the caller passed an unsafeWrapArray'd
  // double[]) — eval and addReferenceObj both want the primitive array
  @transient private lazy val cbFlatArr: Array[Double] = cbFlat match {
    case w: scala.collection.immutable.ArraySeq.ofDouble => w.unsafeArray
    case other => other.toArray
  }
  @transient private lazy val cbSqArr: Array[Double] = cbSq match {
    case w: scala.collection.immutable.ArraySeq.ofDouble => w.unsafeArray
    case other => other.toArray
  }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override def checkInputDataTypes(): TypeCheckResult =
    VecTypeCheck.arrayOf(DoubleType, prettyName, "res" -> child.dataType)

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (x.numElements() != pqM * subDim)
      throw new IllegalArgumentException(
        s"pq_encode expects ${pqM * subDim}-dim residuals, got ${x.numElements()}")
    val out = new Array[Long](pqM)
    var sub = 0
    while (sub < pqM) {
      val base = sub * subDim
      var xSq = 0.0
      var i = 0
      while (i < subDim) {
        val v = x.getDouble(base + i); xSq += v * v; i += 1
      }
      var bestCode = -1L
      var bestR9 = Double.NegativeInfinity
      var code = 0
      while (code < pqK) {
        val off = (sub * pqK + code) * subDim
        var dotV = 0.0
        i = 0
        while (i < subDim) { dotV += x.getDouble(base + i) * cbFlatArr(off + i); i += 1 }
        val s = -(xSq - 2.0 * dotV + cbSqArr(sub * pqK + code))
        if (s >= bestR9 - 1e-9) {
          val r9 = PqEncode.round9(s)
          if (r9 > bestR9) { bestR9 = r9; bestCode = code.toLong }
        }
        code += 1
      }
      out(sub) = bestCode
      sub += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cb = ctx.addReferenceObj("pqCbFlat", cbFlatArr, "double[]")
      val sq = ctx.addReferenceObj("pqCbSq", cbSqArr, "double[]")
      val out = ctx.freshName("out")
      val sub = ctx.freshName("sub")
      val base = ctx.freshName("base")
      val xSq = ctx.freshName("xSq")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val bestCode = ctx.freshName("bestCode")
      val bestR9 = ctx.freshName("bestR9")
      val code = ctx.freshName("code")
      val off = ctx.freshName("off")
      val dotV = ctx.freshName("dotV")
      val s = ctx.freshName("s")
      val r9 = ctx.freshName("r9")
      s"""
         |if ($a.numElements() != ${pqM * subDim}) {
         |  throw new IllegalArgumentException(
         |    "pq_encode expects ${pqM * subDim}-dim residuals, got " + $a.numElements());
         |}
         |long[] $out = new long[$pqM];
         |for (int $sub = 0; $sub < $pqM; $sub++) {
         |  int $base = $sub * $subDim;
         |  double $xSq = 0.0;
         |  for (int $i = 0; $i < $subDim; $i++) {
         |    double $v = $a.getDouble($base + $i); $xSq += $v * $v;
         |  }
         |  long $bestCode = -1L;
         |  double $bestR9 = Double.NEGATIVE_INFINITY;
         |  for (int $code = 0; $code < $pqK; $code++) {
         |    int $off = ($sub * $pqK + $code) * $subDim;
         |    double $dotV = 0.0;
         |    for (int $i = 0; $i < $subDim; $i++) {
         |      $dotV += $a.getDouble($base + $i) * $cb[$off + $i];
         |    }
         |    double $s = -($xSq - 2.0 * $dotV + $sq[$sub * $pqK + $code]);
         |    if ($s >= $bestR9 - 1e-9) {
         |      double $r9 = graft.functions.PqEncode.round9($s);
         |      if ($r9 > $bestR9) { $bestR9 = $r9; $bestCode = (long) $code; }
         |    }
         |  }
         |  $out[$sub] = $bestCode;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The packed ADC layout's reconstruction norm² in one kernel: rsq =
  * Σ_{sub < pqM} recon_sq(cent_id, sub, code[sub]) with EXACTLY the
  * grouped `dsumFine` arithmetic it replaces — each double is rounded to
  * a scale-20 HALF_UP decimal through the same `Double.toString` path
  * Spark's double→Decimal(38,20) cast takes (precomputed ONCE per slot at
  * plan build; the doubles are plan constants so the rounds are too),
  * then summed with exact BigDecimal adds and collapsed with
  * `BigDecimal.doubleValue` (= `Decimal.toDouble` at this precision) —
  * digit-identical to `sum(cast(recon_sq as decimal(38,20))).cast(double)`.
  *
  * Why (r19 pack fusion): the pack stage joined N·PqM exploded code rows
  * against the broadcast recon table and re-grouped them per vector
  * (sort_array collect_list + decimal-sum ObjectHashAggregate — a full-
  * corpus shuffle). With codes kept as the encode kernel's array, cs is a
  * `transform` and rsq is this kernel: the corpus-side build pipeline
  * becomes a single shuffle-free map pass.
  */
case class PqPackRsq(centId: Expression, codes: Expression,
                     recFlat: IndexedSeq[Double], pqM: Int, pqK: Int)
    extends BinaryExpression {

  override def left: Expression = centId
  override def right: Expression = codes

  @transient private lazy val recDec: Array[java.math.BigDecimal] = {
    val arr = new Array[java.math.BigDecimal](recFlat.length)
    var i = 0
    while (i < recFlat.length) {
      arr(i) = new java.math.BigDecimal(java.lang.Double.toString(recFlat(i)))
        .setScale(20, java.math.RoundingMode.HALF_UP)
      i += 1
    }
    arr
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_pack_rsq"
  override def checkInputDataTypes(): TypeCheckResult =
    if (centId.dataType != org.apache.spark.sql.types.LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects cent_id: bigint, got ${centId.dataType.catalogString}")
    else if (codes.dataType != ArrayType(org.apache.spark.sql.types.LongType, false))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects codes: array<bigint> (containsNull=false), " +
          s"got ${codes.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(a: Any, b: Any): Any = {
    val cent = a.asInstanceOf[Long].toInt
    val cs = b.asInstanceOf[ArrayData]
    if (cs.numElements() != pqM)
      throw new IllegalArgumentException(
        s"pq_pack_rsq expects $pqM codes, got ${cs.numElements()}")
    var acc = java.math.BigDecimal.ZERO
    var sub = 0
    while (sub < pqM) {
      val idx = (cent * pqM + sub) * pqK + cs.getLong(sub).toInt
      if (idx < 0 || idx >= recDec.length)
        throw new IllegalArgumentException(
          s"pq_pack_rsq slot (cent=$cent, sub=$sub, code=${cs.getLong(sub)}) " +
            s"outside the ${recDec.length}-entry recon table")
      acc = acc.add(recDec(idx))
      sub += 1
    }
    acc.doubleValue
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val rec = ctx.addReferenceObj("pqRecDec", recDec, "java.math.BigDecimal[]")
      val cent = ctx.freshName("cent")
      val acc = ctx.freshName("acc")
      val sub = ctx.freshName("sub")
      val idx = ctx.freshName("idx")
      s"""
         |if ($b.numElements() != $pqM) {
         |  throw new IllegalArgumentException(
         |    "pq_pack_rsq expects $pqM codes, got " + $b.numElements());
         |}
         |int $cent = (int) $a;
         |java.math.BigDecimal $acc = java.math.BigDecimal.ZERO;
         |for (int $sub = 0; $sub < $pqM; $sub++) {
         |  int $idx = ($cent * $pqM + $sub) * $pqK + (int) $b.getLong($sub);
         |  if ($idx < 0 || $idx >= $rec.length) {
         |    throw new IllegalArgumentException(
         |      "pq_pack_rsq slot (cent=" + $cent + ", sub=" + $sub +
         |        ", code=" + $b.getLong($sub) + ") outside the " +
         |        $rec.length + "-entry recon table");
         |  }
         |  $acc = $acc.add($rec[$idx]);
         |}
         |${ev.value} = $acc.doubleValue();
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(centId = newLeft, codes = newRight)
}

/** A vector's nearest coarse cell in one kernel: argmax_{c < ivfK}
  * cos(x, cent[c]) with the (round(cos, 9) desc, cent_id asc) tie
  * convention — value-identical to the dataflow coarse assign it replaces
  * (crossJoin × ivfK cents → per-cell cos → bounded-state TopK at k = 1),
  * including the [[TopK]] 1e-9 fast-reject margin at k = 1: a candidate
  * with cos < best's r9 − 1e-9 provably cannot win after rounding, so
  * BigDecimal runs only on improving candidates.
  *
  * Why a kernel (r19 — the stage probe named encode the 20 M trained
  * build's dominant term at 435 s, and the PQ code kernel is only ~80 s
  * of it): the dataflow assign materializes N·ivfK joined rows, shuffles
  * all N embeddings for an ObjectHashAggregate GROUPED ON THE EMBEDDING
  * ARRAY (the group key hashes 64 floats per row), then joins the corpus
  * AGAIN to recover the winning centroid — at 20 M that is 160 M
  * crossJoin rows + a 20 M-row × 64-float shuffle for what is
  * arithmetically ivfK·dim MACs per vector. Here the same cos arithmetic
  * runs per row in one loop nest (dot and norm accumulate in the exact
  * [[FloatVecDot]]/[[FloatVecNorm]] order; cent norms arrive as the SAME
  * doubles the dataflow's cents frame computed, collected once), the
  * plan stays a shuffle-free scan, and the residual join against the
  * broadcast cents frame is the only remaining step.
  *
  * IndexedSeq fields for value equality (the [[PqEncodeCodes]] r18-ADVICE
  * convention), unwrapped once for the runtime loops.
  */
case class IvfAssignCell(child: Expression, centFlat: IndexedSeq[Float],
                         centNrm: IndexedSeq[Double], ivfK: Int, dim: Int)
    extends UnaryExpression {

  @transient private lazy val centFlatArr: Array[Float] = centFlat match {
    case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
    case other => other.toArray
  }
  @transient private lazy val centNrmArr: Array[Double] = centNrm match {
    case w: scala.collection.immutable.ArraySeq.ofDouble => w.unsafeArray
    case other => other.toArray
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "ivf_assign"
  override def checkInputDataTypes(): TypeCheckResult =
    VecTypeCheck.arrayOf(FloatType, prettyName, "emb" -> child.dataType)

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (x.numElements() != dim)
      throw new IllegalArgumentException(
        s"ivf_assign expects $dim-dim embeddings, got ${x.numElements()}")
    var nSq = 0.0
    var i = 0
    while (i < dim) { val v = x.getFloat(i).toDouble; nSq += v * v; i += 1 }
    val nrm = math.sqrt(nSq)
    var bestCent = -1L
    var bestR9 = Double.NegativeInfinity
    var c = 0
    while (c < ivfK) {
      val off = c * dim
      var dotV = 0.0
      i = 0
      while (i < dim) {
        dotV += x.getFloat(i).toDouble * centFlatArr(off + i).toDouble; i += 1
      }
      val s = dotV / (nrm * centNrmArr(c))
      if (s >= bestR9 - 1e-9) {
        val r9 = PqEncode.round9(s)
        if (r9 > bestR9) { bestR9 = r9; bestCent = c.toLong }
      }
      c += 1
    }
    bestCent
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cf = ctx.addReferenceObj("ivfCentFlat", centFlatArr, "float[]")
      val cn = ctx.addReferenceObj("ivfCentNrm", centNrmArr, "double[]")
      val nSq = ctx.freshName("nSq")
      val nrm = ctx.freshName("nrm")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val bestCent = ctx.freshName("bestCent")
      val bestR9 = ctx.freshName("bestR9")
      val c = ctx.freshName("c")
      val off = ctx.freshName("off")
      val dotV = ctx.freshName("dotV")
      val s = ctx.freshName("s")
      val r9 = ctx.freshName("r9")
      s"""
         |if ($a.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "ivf_assign expects $dim-dim embeddings, got " + $a.numElements());
         |}
         |double $nSq = 0.0;
         |for (int $i = 0; $i < $dim; $i++) {
         |  double $v = (double) $a.getFloat($i); $nSq += $v * $v;
         |}
         |double $nrm = java.lang.Math.sqrt($nSq);
         |long $bestCent = -1L;
         |double $bestR9 = Double.NEGATIVE_INFINITY;
         |for (int $c = 0; $c < $ivfK; $c++) {
         |  int $off = $c * $dim;
         |  double $dotV = 0.0;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    $dotV += (double) $a.getFloat($i) * (double) $cf[$off + $i];
         |  }
         |  double $s = $dotV / ($nrm * $cn[$c]);
         |  if ($s >= $bestR9 - 1e-9) {
         |    double $r9 = graft.functions.PqEncode.round9($s);
         |    if ($r9 > $bestR9) { $bestR9 = $r9; $bestCent = (long) $c; }
         |  }
         |}
         |${ev.value} = $bestCent;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The coarse-cell residual in one codegen expression: res[i] =
  * (double) emb[i] − (double) cent[cent_id·dim + i] — value-identical to
  * the `zip_with(emb, c_emb, (x, c) => x.cast(double) − c.cast(double))`
  * it replaces (float→double widening is exact, the subtraction is the
  * same IEEE op on the same operands: `centFlat` is collected from the
  * SAME cents frame the dataflow broadcast-joined).
  *
  * Why (r19 "not yet optimized" item 2): after the r19 assign/encode/pack
  * fusions this `zip_with` was the ONE remaining higher-order
  * (CodegenFallback) expression on the PQ build path — every corpus row
  * paid an interpreted lambda dispatch per element plus a broadcast-hash
  * join against the cents frame purely to fetch the centroid the assign
  * kernel had already identified. With the centroids as a plan constant
  * the residual is a fixed-width primitive loop inside WholeStageCodegen
  * and the join disappears: the corpus-side encode pipeline is a single
  * shuffle-free, join-free map pass.
  *
  * The element type declares containsNull = true to stay byte-compatible
  * with the `zip_with` form's schema (its lambda is nullable), although
  * the kernel never emits nulls. IndexedSeq field for value equality (the
  * [[PqEncodeCodes]] r18-ADVICE convention), unwrapped once.
  */
case class IvfResidual(emb: Expression, centId: Expression,
                       centFlat: IndexedSeq[Float], dim: Int)
    extends BinaryExpression {

  override def left: Expression = emb
  override def right: Expression = centId

  @transient private lazy val centFlatArr: Array[Float] = centFlat match {
    case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
    case other => other.toArray
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "ivf_residual"
  override def checkInputDataTypes(): TypeCheckResult =
    if (centId.dataType != org.apache.spark.sql.types.LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects cent_id: bigint, got ${centId.dataType.catalogString}")
    else VecTypeCheck.arrayOf(FloatType, prettyName, "emb" -> emb.dataType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val cent = b.asInstanceOf[Long].toInt
    if (x.numElements() != dim)
      throw new IllegalArgumentException(
        s"ivf_residual expects $dim-dim embeddings, got ${x.numElements()}")
    if (cent < 0 || (cent + 1) * dim > centFlatArr.length)
      throw new IllegalArgumentException(
        s"ivf_residual cent_id $cent outside the ${centFlatArr.length / dim}-cell table")
    val out = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      out(i) = x.getFloat(i).toDouble - centFlatArr(cent * dim + i).toDouble
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cf = ctx.addReferenceObj("ivfResCentFlat", centFlatArr, "float[]")
      val cent = ctx.freshName("cent")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      s"""
         |if ($a.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "ivf_residual expects $dim-dim embeddings, got " + $a.numElements());
         |}
         |int $cent = (int) $b;
         |if ($cent < 0 || ($cent + 1) * $dim > $cf.length) {
         |  throw new IllegalArgumentException(
         |    "ivf_residual cent_id " + $cent + " outside the " +
         |      ($cf.length / $dim) + "-cell table");
         |}
         |double[] $out = new double[$dim];
         |for (int $i = 0; $i < $dim; $i++) {
         |  $out[$i] = (double) $a.getFloat($i) - (double) $cf[$cent * $dim + $i];
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(emb = newLeft, centId = newRight)
}

/** Column-level API for the vector kernels (built from [[Kernel]]). */
object VectorKernels {
  import org.apache.spark.sql.functions.lit

  def fdot(a: Column, b: Column): Column = Kernel.fvecDot(a, b)
  def fnorm(a: Column): Column = Kernel.fvecNorm(a)
  def bdot(a: Column, b: Column): Column = Kernel.bvecDot(a, b)
  def ddot(a: Column, b: Column): Column = Kernel.dvecDot(a, b)
  def abuckets(emb: Column, abits: Column, bands: Int, maxBits: Int): Column =
    Kernel.lshABuckets(emb, abits, lit(bands), lit(maxBits))
  def afliporder(emb: Column, abits: Column, band: Column,
                 bands: Int, maxBits: Int): Column =
    Kernel.lshAFlipOrder(emb, abits, band, lit(bands), lit(maxBits))
  def aprobeseq(emb: Column, abits: Column, band: Column,
                bands: Int, maxBits: Int, budget: Int): Column =
    Kernel.lshAProbeSeq(emb, abits, band, lit(bands), lit(maxBits), lit(budget))
}
