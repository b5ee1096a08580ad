package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.Kernel

/** SQL-extension entry point: `--conf spark.sql.extensions=graft.GraftExtensions`
  * makes every kernel of the [[Kernel]] table a SQL function in any session
  * of the cluster, built by the same builder the Column API uses.
  *
  * {{{
  *   SELECT fvec_dot(a.embedding, b.embedding) FROM ...
  *   SELECT minhash_bands(shingle_hash64(text)) FROM documents
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // custom physical operator: grouped top-k via bounded heaps, plus the
    // optimizer rewrite that turns row_number()<=k windows into it
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.RewriteWindowTopK)
    Kernel.all.foreach(k => ext.injectFunction((
      FunctionIdentifier(k.name), new ExpressionInfo(k.className, k.name), k.build)))
  }
}
