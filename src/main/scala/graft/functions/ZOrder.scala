package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** `zvalue(a, b)` — Morton/Z-order interleave of the low 32 bits of two
  * non-negative longs: bit i of `a` lands at position 2i, bit i of `b` at
  * 2i+1. Sorting by the z-value clusters rows so that BOTH dimensions end
  * up with tight per-file min/max ranges — the multi-dimensional
  * generalization of the 1-D range-clustered layout
  * ([[graft.sources.Sources.rangeClusteredParquet]]), which gives one
  * column perfect clustering and the other none. Parquet row-group/file
  * stats then prune point or range predicates on EITHER column at scan
  * time. Negative inputs fail the job (data-skipping keys are surrogate
  * ids by construction; silently masking a sign bit would interleave
  * garbage).
  */
case class ZValue(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "zvalue"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (bigint, bigint), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def nullSafeEval(a: Any, b: Any): Any =
    ZValue.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ZValue.interleave($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZValue {
  /** Morton-interleave the low 32 bits of two non-negative longs. */
  def interleave(a: Long, b: Long): Long = {
    if (a < 0 || b < 0)
      throw new IllegalArgumentException(
        s"zvalue: inputs must be non-negative, got ($a, $b)")
    spread(a) | (spread(b) << 1)
  }

  /** Spread the low 32 bits of `v` to the even bit positions (standard
    * Morton magic-number bit spreading).
    */
  private def spread(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  def zvalue(a: Column, b: Column): Column = Kernel.zvalue(a, b)
}
