package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FormattedMode

import graft.operators.Similarity
import graft.functions.{TopK, TopKNeighborsBuf}

/** Round-15 additions: the bounded-state top-k rank path.
  *
  * r14 wrote `functions/TopK.scala` (the O(k)-per-query neighbor
  * Aggregator) after the 2 M-vector probe's dense_rank window spilled
  * >90 GB of sort runs and died — but never wired it in. r15 swaps
  * `rankBanded`'s window tail for the aggregate. These specs are the
  * wiring's proof obligations (VERDICT r14 item 1):
  *
  *  1. VALUE IDENTITY — the production lshTopKAuto output equals the
  *     oracle's own formulation (row_number over DISTINCT candidates by
  *     (round(cos,9) desc, n_id)), rebuilt independently here with
  *     higher-order-function arithmetic instead of the codegen kernels.
  *  2. PLAN SHAPE — no Window and no Sort anywhere in the rank path
  *     (the logical plan has neither node; the only physical sorts allowed
  *     are sort-merge-join inputs BELOW the candidate join, which sort the
  *     linear banded frame, never the quadratic candidate stream).
  *  3. AGGREGATOR SEMANTICS — band-duplicate collapse, n_id tiebreak,
  *     k-bound and cross-partition merge on hand-checked inputs.
  */
class Round15Spec extends SparkSuite {

  import org.apache.spark.sql.DataFrame

  /** The oracle-form reference: DISTINCT bucket-collision candidates,
    * exact cosine via sequential double accumulation (the same order
    * FloatVecDot and DuckDB's list_sum(list_transform(...)) evaluate in),
    * row_number over (round(cos,9) desc, n_id).
    */
  private def windowReference(k: Int): DataFrame = {
    val banded = Similarity.lshBandedAuto(
      Tables.load(spark, sfDir, "embeddings"))
    val a = banded.select(col("vec_id").as("q_id"), col("embedding").as("qe"),
      col("nrm").as("qn"), col("band"), col("bucket"))
    val b = banded.select(col("vec_id").as("n_id"), col("embedding").as("ne"),
      col("nrm").as("nn"), col("band").as("band_b"), col("bucket").as("bucket_b"))
    val seqDot = aggregate(
      zip_with(col("qe"), col("ne"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val cand = a.join(b, col("band") === col("band_b") &&
        col("bucket") === col("bucket_b") && col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), (seqDot / (col("qn") * col("nn"))).as("cos"))
      .distinct()
    val w = Window.partitionBy("q_id")
      .orderBy(round(col("cos"), 9).desc, col("n_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), round(col("cos"), 6).as("cosine"), col("rank"))
  }

  test("lshTopKAuto (aggregate rank path) is value-identical to the window/oracle form") {
    val got = Similarity.lshTopKAuto(
      Tables.load(spark, sfDir, "embeddings"), 5)
    val ref = windowReference(5)
    val missing = ref.except(got).count()
    val extra = got.except(ref).count()
    val n = got.count()
    Caches.release(spark)
    assert(n > 0, "aggregate rank path produced no rows")
    assert(missing == 0 && extra == 0,
      s"aggregate vs window divergence: missing=$missing extra=$extra of $n")
  }

  test("the rank path plans with NO window and NO candidate-stream sort") {
    val df = Similarity.lshTopKAuto(
      Tables.load(spark, sfDir, "embeddings"), 5)
    // logical: the rank is an Aggregate, never a Window/Sort
    val logical = df.queryExecution.optimizedPlan
    assert(!logical.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.exists(_ => true),
      "logical plan still contains a Window")
    assert(!logical.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s }.exists(_ => true),
      "logical plan contains a Sort in the rank path")
    // physical: object-hash aggregate carries the buffers; any SortExec
    // must sit BELOW the candidate join (SMJ input on the linear banded
    // frame) — a sort whose subtree contains a join is sorting the
    // candidate stream, the exact >90 GB spill shape this path removes
    val plan = df.queryExecution.explainString(FormattedMode)
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("WindowGroupLimit") && !plan.contains("Window ("), plan)
    val physical = df.queryExecution.executedPlan
    val sortAboveJoin = physical.collect {
      case s: org.apache.spark.sql.execution.SortExec
        if s.find(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]).isDefined => s
    }
    assert(sortAboveJoin.isEmpty,
      s"SortExec above the candidate join:\n${sortAboveJoin.mkString("\n")}")
    Caches.release(spark)
  }

  test("Sessions raises the ObjectHashAggregate sort fallback for bounded buffers") {
    // without this the 128-key default silently re-sorts the candidate
    // stream per task — the spill class the aggregate exists to remove
    val v = Sessions.scaleDefaults.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
    assert(v.exists(_.toLong >= 1000000L), s"fallback threshold too low: $v")
  }

  test("brute-force exact top-k ranks without any window (bounded-state everywhere)") {
    // r15 extended the TopK discipline beyond the LSH tail: the brute
    // path's only window was the rank over the query × corpus pair
    // stream — the exact-path copy of the spill shape. Its plan must now
    // be window-free end to end.
    val opt = SparkEntry.queries("sim_brute_topk")(spark, sfDir)
      .queryExecution.optimizedPlan
    val ws = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(ws.isEmpty, s"brute top-k grew a window back:\n$ws")
    Caches.release(spark)
  }

  test("TopK buffer: k-bound, (r9 desc, nId asc) order, duplicate collapse") {
    val b0 = TopKNeighborsBuf(3, Nil)
      .add(10L, 0.5).add(11L, 0.9).add(12L, 0.7)
      .add(11L, 0.9) // band duplicate — must be dropped
      .add(13L, 0.8) // evicts 0.5
      .add(14L, 0.1) // below tail — rejected by the fast guard
    assert(b0.buf.map(e => (e.nId, e.cos)) == List((11L, 0.9), (13L, 0.8), (12L, 0.7)))
    // nId tiebreak at identical rounded cosine: smaller id wins
    val b1 = TopKNeighborsBuf(2, Nil).add(7L, 0.5).add(3L, 0.5).add(9L, 0.5)
    assert(b1.buf.map(_.nId) == List(3L, 7L))
    // sub-rounding difference: 0.5 + 4e-10 rounds to the same 9-dp value —
    // treated as a tie (id order), exactly as round(cos,9) ordering does
    val b2 = TopKNeighborsBuf(2, Nil).add(7L, 0.5).add(3L, 0.5 + 4e-10)
    assert(b2.buf.map(_.nId) == List(3L, 7L))
  }

  test("LshPlanes.signsFor draws the identical seed-42 sequence as the oracle planes") {
    // the oracle/plan literals come from Similarity's planesFor
    // (Array.fill(n, 64) of Random(42) booleans — row-major, so the flat
    // byte table is the same draw sequence); the kernel reads
    // LshPlanes.signsFor. Regenerate the planesFor formula here and pin
    // the two byte-for-byte, plus the prefix property a growing geometry
    // relies on.
    val planes = {
      val rnd = new scala.util.Random(42)
      Array.fill(96, 64)(if (rnd.nextBoolean()) 1.toByte else -1.toByte)
    }.flatten
    assert(graft.functions.LshPlanes.signsFor(96).sameElements(planes))
    assert(graft.functions.LshPlanes.signsFor(128).take(96 * 64)
      .sameElements(planes), "signsFor is not prefix-stable")
  }

  test("LshAutoBuckets kernel equals the per-plane dot/sign/pack formulation") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val bands = 8
    val maxBits = 16
    val abits = 5 // exercise a non-floor budget
    val got = e.select(col("vec_id"),
        graft.functions.VectorKernels.abuckets(
          col("embedding"), lit(abits.toLong), bands, maxBits).as("bks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // reference: sequential-accumulation dots against typedlit planes,
    // sign → 2^j packing — the exact r13 expression form
    val signs = graft.functions.LshPlanes.signsFor(bands * maxBits)
    val planes = Array.tabulate(bands * maxBits)(p =>
      Array.tabulate(64)(i => signs(p * 64 + i).toFloat))
    def bucketCol(b: Int) = (0 until abits).map { j =>
      val seqDot = aggregate(
        zip_with(col("embedding"), typedlit(planes(b * abits + j).toSeq),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
      when(seqDot >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val ref = e.select(col("vec_id"),
        array((0 until bands).map(bucketCol): _*).as("bks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got.size == ref.size && got.keySet == ref.keySet)
    val diff = got.count { case (k, v) => ref(k) != v }
    assert(diff == 0, s"$diff of ${got.size} vectors bucket differently")
  }

  test("TopK.neighbors merges across partitions and ranks 1..k") {
    import spark.implicits._
    val rows = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.7), (1L, 13L, 0.6),
      (1L, 10L, 0.9), // duplicate in another partition
      (2L, 20L, 0.1), (2L, 21L, 0.2))
      .toDF("q_id", "n_id", "cos").repartition(5)
    val got = rows.groupBy("q_id")
      .agg(TopK.neighbors(3)(col("n_id"), col("cos")).as("nb"))
      .select(col("q_id"), explode(col("nb")).as("x"))
      .select(col("q_id"), col("x._1").as("n_id"), col("x._2").as("cos"),
        col("x._3").as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(got == Set(
      (1L, 10L, 0.9, 1), (1L, 11L, 0.8, 2), (1L, 12L, 0.7, 3),
      (2L, 21L, 0.2, 1), (2L, 20L, 0.1, 2)))
  }
}
