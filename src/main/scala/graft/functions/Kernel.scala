package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Expression

/** One custom Catalyst kernel: its SQL name and the builder that turns
  * argument expressions into the kernel expression. The same builder
  * serves both surfaces — the Column API applies it directly to the
  * argument columns, and [[graft.GraftExtensions]] injects it as a SQL
  * function — so the two cannot drift apart, and building a query never
  * writes to a session's function registry.
  */
final case class Kernel(name: String, className: String,
                        build: Seq[Expression] => Expression) {
  def apply(cols: Column*): Column =
    GraftBridge.column(build(cols.map(GraftBridge.expr)))
}

/** The kernel table: every graft kernel, once. */
object Kernel {
  private def of[E <: Expression](name: String)(build: Seq[Expression] => E)(
      implicit ct: ClassTag[E]): Kernel =
    Kernel(name, ct.runtimeClass.getName, build)

  /** A plan-constant argument: a foldable integral expression, evaluated
    * once when the kernel is built. Anything else (a column, a string)
    * fails with a clear message instead of a ClassCastException in eval.
    */
  private def intArg(fn: String, args: Seq[Expression], i: Int): Int =
    (if (args.length > i && args(i).foldable) args(i).eval() else null) match {
      case v: Int => v
      case v: Long if v.isValidInt => v.toInt
      case _ => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an integer literal")
    }

  val fvecDot = of("fvec_dot")(e => FloatVecDot(e(0), e(1)))
  val fvecNorm = of("fvec_norm")(e => FloatVecNorm(e(0)))
  val bvecDot = of("bvec_dot")(e => ByteVecDot(e(0), e(1)))
  val dvecDot = of("dvec_dot")(e => DoubleVecDot(e(0), e(1)))
  val lshABuckets = of("lsh_abuckets")(e => LshAutoBuckets(e(0), e(1),
    intArg("lsh_abuckets", e, 2), intArg("lsh_abuckets", e, 3)))
  val lshAFlipOrder = of("lsh_afliporder")(e => LshAutoFlipOrder(e(0), e(1), e(2),
    intArg("lsh_afliporder", e, 3), intArg("lsh_afliporder", e, 4)))
  val lshAProbeSeq = of("lsh_aprobeseq")(e => LshProbeSeq(e(0), e(1), e(2),
    intArg("lsh_aprobeseq", e, 3), intArg("lsh_aprobeseq", e, 4),
    intArg("lsh_aprobeseq", e, 5)))
  val shingleHash64 = of("shingle_hash64")(e => ShingleHash64(e(0), 3))
  val minhashBands = of("minhash_bands")(e => MinHashBands(e(0), 32, 8))
  val simhash64 = of("simhash64")(e => SimHash64(e(0)))
  val shingleExplode = of("shingle_explode")(e => ShingleExplode(e(0), 3))
  val trigramCodes = of("trigram_codes")(e => TrigramCodes(e(0)))
  val pairExplode = of("pair_explode")(e =>
    PairExplode(e(0), e(1), intArg("pair_explode", e, 2)))
  val bloomContains = of("bloom_contains")(e => BloomContains(e(0), e(1)))
  val zvalue = of("zvalue")(e => ZValue(e(0), e(1)))

  val all: Seq[Kernel] = Seq(fvecDot, fvecNorm, bvecDot, dvecDot,
    lshABuckets, lshAFlipOrder, lshAProbeSeq, shingleHash64, minhashBands,
    simhash64, shingleExplode, trigramCodes, pairExplode, bloomContains, zvalue)
}
