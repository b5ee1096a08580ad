package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Grouped top-k as a first-class operator (SURVEY.md §2.6): the
  * `row_number().over(window) <= k` formulation must SORT every partition's
  * full data (and spill it) before discarding all but k rows per group. This
  * operator keeps a bounded heap per group instead — O(n log k) time,
  * O(groups × k) memory, no sort, no spill — and runs in two phases:
  *
  *   partial TopK (per input partition)  →  exchange on group keys  →  final TopK
  *
  * so the shuffle carries at most groups × k rows per upstream partition,
  * the same map-side-combine shape as a partial aggregation. At 100 TB this
  * is the difference between shuffling the fact table and shuffling k rows
  * per (group × partition).
  *
  * The logical node is planned by [[TopKStrategy]]. A session built with
  * `graft.GraftExtensions` has it from the start; otherwise
  * [[TopK.perGroup]] appends it to the session's
  * `spark.experimental.extraStrategies` once, on first use.
  */
final case class TopKPerGroupNode(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(g, o, k, child) =>
      TopKPerGroupExec(g, o, k, partial = false,
        TopKPerGroupExec(g, o, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

final case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  /** The final pass needs each group wholly in one partition; the partial
    * pass runs wherever the data already is (map-side combine).
    */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val gExprs = groupExprs
    val ord = order
    val kk = k
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(gExprs, schema)
      val rowOrd = new LazilyGeneratedOrdering(ord, schema)
      // min-heap on REVERSED order: head = worst of the current best-k
      val heapOrd = rowOrd.reverse
      val heaps = new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      while (iter.hasNext) {
        val row = iter.next().asInstanceOf[UnsafeRow]
        val key = keyProj(row)
        var q = heaps.get(key)
        if (q == null) {
          q = new java.util.PriorityQueue[UnsafeRow](kk + 1, heapOrd)
          heaps.put(key.copy(), q)
        }
        if (q.size < kk) q.add(row.copy())
        else if (rowOrd.compare(row, q.peek()) < 0) { q.poll(); q.add(row.copy()) }
      }
      import scala.jdk.CollectionConverters._
      heaps.values.iterator.asScala.flatMap { q =>
        val arr = q.toArray(new Array[UnsafeRow](q.size))
        java.util.Arrays.sort(arr, rowOrd)
        arr.iterator
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** User-facing API. */
object TopK {

  /** Top `k` rows per group of `groupCols`, "top" defined by `orderCols`
    * (Columns, optionally `.desc`; plain columns sort ascending). Include a
    * unique tiebreak column for deterministic results.
    */
  def perGroup(df: DataFrame, groupCols: Seq[String],
               orderCols: Seq[Column], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    // resolve the sort expressions through the analyzer (a Column converts
    // to an unresolved placeholder that only standard nodes resolve): build
    // a throwaway sortWithinPartitions plan and lift its SortOrders
    val analyzed = df.sortWithinPartitions(orderCols: _*).queryExecution.analyzed
    val (order, child) = analyzed match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => (s.order, s.child)
      case other => throw new IllegalStateException(s"unexpected plan: $other")
    }
    val resolver = spark.sessionState.conf.resolver
    val g = groupCols.map(n => child.output.find(a => resolver(a.name, n))
      .getOrElse(throw new IllegalArgumentException(s"no column $n in ${child.output}")))
    GraftBridge.ofRows(spark, TopKPerGroupNode(g, order, k, child))
  }
}
