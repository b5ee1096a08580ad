package graft

import operators.Similarity
import org.apache.spark.sql.functions._

/** Round-20 pins (optimization round 2), closing r19 "not yet optimized"
  * items:
  *  1. the packed trigram key ([[graft.functions.TrigramPack]]) — a
  *     bijection that preserves trigram EQUALITY and ORDER, so
  *     `text_langid_trigram`'s counts, profile tie-breaks and joins are
  *     value-identical to the string form (item 3);
  *  2. the fused coarse-cell residual ([[graft.functions.IvfResidual]]) —
  *     beyond Round19Spec's value-identity pin, the kernel residual
  *     subtree must now be JOIN-free as well as shuffle-free (item 2).
  */
class Round20Spec extends SparkSuite {

  private val Sf01 = "/root/testdata/sf0.01"

  /** The reference pack, independently on java Strings. */
  private def packAll(text: String): Seq[Long] = {
    val cps = text.codePoints().toArray
    (0 until math.max(0, cps.length - 2)).map { j =>
      (cps(j).toLong << 42) | (cps(j + 1).toLong << 21) | cps(j + 2).toLong
    }
  }

  test("trigram_codes equals the substr trigram stream and preserves string order") {
    for (dir <- Seq(sfDir, Sf01)) {
      val docs = Tables.load(spark, dir, "documents")
        .filter(length(col("text")) >= 3)
      // (a) per-doc multiset identity under the pack bijection: the kernel
      // stream must be exactly the packed substr stream, row for row
      val viaKernel = docs.select(col("doc_id"),
          explode(graft.functions.TextKernels.trigramCodes(col("text"))).as("g"))
        .groupBy("doc_id", "g").count()
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val viaSubstr = docs.select(col("doc_id"),
          explode(transform(sequence(lit(1), length(col("text")) - 2),
            i => col("text").substr(i, lit(3)))).as("g"))
        .collect()
        .groupBy(r => (r.getLong(0), packAll(r.getString(1)).head))
        .view.mapValues(_.length.toLong).toMap
      assert(viaKernel == viaSubstr,
        s"$dir: packed trigram stream diverged from the substr stream " +
          s"(${viaKernel.size} kernel keys vs ${viaSubstr.size} substr keys)")
      // (b) ORDER preservation: Spark's own string sort of the distinct
      // trigrams must agree with the numeric sort of their packed keys —
      // the langid profile's (cp desc, g asc) tie-break depends on it
      val ordered = docs.limit(200)
        .select(explode(transform(sequence(lit(1), length(col("text")) - 2),
          i => col("text").substr(i, lit(3)))).as("g"))
        .distinct().orderBy("g")
        .collect().map(r => packAll(r.getString(0)).head)
      assert(ordered.sameElements(ordered.sorted),
        s"$dir: packed keys are not monotone in Spark string order")
      Caches.release(spark); spark.catalog.clearCache()
    }
  }

  test("trigram_codes handles supplementary code points like substr does") {
    import spark.implicits._
    // 4-byte UTF-8 (one code point each on both paths): 𝕏 = U+1D54F
    val rows = Seq("ab𝕏cd", "𝕏𝕏𝕏", "naïve", "中文混écrit", "ab").toDF("text")
    val viaKernel = rows.filter(length(col("text")) >= 3)
      .select(col("text"),
        graft.functions.TextKernels.trigramCodes(col("text")).as("gs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    val viaSubstr = rows.filter(length(col("text")) >= 3)
      .select(col("text"),
        transform(sequence(lit(1), length(col("text")) - 2),
          i => col("text").substr(i, lit(3))).as("gs"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).map(packAll(_).head).toList)
      .toMap
    assert(viaKernel == viaSubstr)
    // a sub-3-code-point text yields no trigrams (the declared row filters
    // length >= 3 anyway; the kernel must still be safe on short input)
    val short = rows.select(
      graft.functions.TextKernels.trigramCodes(col("text")).as("gs"))
      .collect().map(_.getSeq[Long](0).length)
    assert(short.contains(0))
  }

  test("kernel residual subtree is join-free as well as shuffle-free") {
    // r19 pinned value identity + zero exchanges; r20 fuses the residual
    // into the map pass, so the broadcast-hash join against the cents
    // frame must be gone too — the corpus encode path is one codegen pass
    val e = Tables.load(spark, sfDir, "embeddings")
    val plan = Similarity.ivfResiduals(e, e).queryExecution.executedPlan
    def flat(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(flat)
    }
    val joins = flat(plan).filter(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BaseJoinExec])
    assert(joins.isEmpty,
      s"kernel residual plan still joins (${joins.map(_.nodeName).mkString(", ")})")
    Caches.release(spark); spark.catalog.clearCache()
  }

  test("mmr greedy steps checkpoint the selection: final plan stays bounded") {
    // each MMR step references the previous selection TWICE (max-sim
    // semi-join + candidate anti-join), so an unchecked union let step 5's
    // plan embed 2^4 copies of the step-1 subtree (a 4.8 k-line final
    // plan). The per-step coalesce(1)+localCheckpoint keeps every step a
    // 1-task leaf — pin the bound so the exponential shape cannot return.
    val df = SparkEntry.queries("sim_mmr_rerank")(spark, sfDir)
    val lines = df.queryExecution.analyzed.numberedTreeString.linesIterator.size
    assert(lines < 150,
      s"sim_mmr_rerank analyzed plan is $lines lines — the per-step " +
        "selection checkpoint (exponential-subtree truncation) regressed")
    Caches.release(spark); spark.catalog.clearCache()
  }

  test("langid trigram count exchange is built once and reused") {
    // the two dt consumers (profile counts, prediction scoring) must share
    // one explode+partial-agg exchange: the prediction branch's left join
    // infers isnotnull(doc_id), and unless the shared frame carries the
    // same filter explicitly the canonical subtrees diverge and the whole
    // corpus-scale explode runs twice (r20 fix; `Probe stages` had read two
    // identical 8.5 MB exchange writes at sf0.1)
    val df = SparkEntry.queries("text_langid_trigram")(spark, sfDir)
    df.collect(): Unit
    val finalPlan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(finalPlan.contains("ReusedExchange"),
      "text_langid_trigram final plan has no ReusedExchange — the dt " +
        "branches' scan filters diverged again and the trigram explode " +
        "is running twice")
    Caches.release(spark); spark.catalog.clearCache()
  }
}
