package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.functions.{TopKNeighborsBuf, TopKNeighborEntry}
import graft.operators.Similarity

/** Round-16 hardening (r15 VERDICT items 4/5 + ADVICE):
  *
  *  1. IVF assignment broadcast — the hint is re-stated at every
  *     `crossJoin(cents)` site, and the plan must show the broadcast join
  *     regardless of size estimation (a SortMergeJoin/CartesianProduct on
  *     the K=8 centroid frame would shuffle the whole corpus for nothing).
  *  2. `LshAutoBuckets` input-width guard — the sign table is strided at
  *     64 floats/plane, so a non-64-dim embedding must fail loudly instead
  *     of silently prefix-bucketing (plausible-but-wrong buckets).
  *  3. Bounded-object-buffer inventory — Sessions raises
  *     `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` to 2 M
  *     globally, which disables the sort-based memory-safety valve for
  *     EVERY typed aggregate. That is sound only while every Aggregator in
  *     the engine carries an O(k)/O(bits)-bounded buffer; this spec
  *     inventories `extends Aggregator` in src/main and fails when a new
  *     one appears without being reviewed against that invariant.
  *  4. Bench's `lsh_build` consumer set — derived from
  *     [[Similarity.lshMemoConsumers]] (single source of truth) and pinned
  *     here against ACTUAL memo access: every listed query must force the
  *     shared list memo, and the LSH-adjacent queries that build their own
  *     geometry must not.
  *  5. TopK fast-reject margin — the guard must agree with a no-fast-path
  *     reference on candidates engineered around the rounding boundary
  *     (ADVICE r15: the 5e-10 margin left a ~2-ulp wrong-reject window at
  *     HALF_UP half-points; widened to 1e-9).
  */
class Round16Spec extends SparkSuite {

  // ---- 1. IVF assignment broadcast ---------------------------------------

  private def fmtPlan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(FormattedMode)

  test("sim_ivf_ann plans its centroid crossJoins as broadcast joins") {
    val plan = fmtPlan("sim_ivf_ann")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast centroid join, got:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"centroid crossJoin degraded to a shuffled cartesian:\n$plan")
  }

  test("sim_ivf_recall plans its centroid crossJoins as broadcast joins") {
    val plan = fmtPlan("sim_ivf_recall")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast centroid join, got:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"centroid crossJoin degraded to a shuffled cartesian:\n$plan")
  }

  test("sim_ivfpq_topk plans centroid/codebook/panel joins as broadcasts") {
    val plan = fmtPlan("sim_ivfpq_topk")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast centroid join, got:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"a small-side crossJoin degraded to a shuffled cartesian:\n$plan")
  }

  test("sim_hamming_topk plans the panel scan as a broadcast, never a cartesian") {
    val plan = fmtPlan("sim_hamming_topk")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast panel join, got:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the panel × corpus scan degraded to a shuffled cartesian:\n$plan")
  }

  // ---- 2. LshAutoBuckets width guard -------------------------------------

  /** `lsh_abuckets` over one constant float vector, through the Column API. */
  private def abuckets(vec: Seq[Int]) =
    spark.range(1).select(graft.functions.VectorKernels.abuckets(
      array(vec.map(v => lit(v.toFloat)): _*), lit(4L), 10, 16).as("b"))

  test("lsh_abuckets rejects non-64-dim embeddings instead of prefix-bucketing") {
    val ex = intercept[Exception](abuckets(1 to 16).collect())
    // the guard throws IllegalArgumentException; Spark may wrap it in a
    // SparkException chain — look for the message anywhere on the chain
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("64-dim")),
      s"expected the 64-dim guard, got: ${messages(ex).mkString(" | ")}")
  }

  test("lsh_abuckets still evaluates 64-dim embeddings") {
    val row = abuckets((1 to 64).map(i => i % 7 - 3)).collect().head
    assert(row.getSeq[Long](0).length == 10)
  }

  // ---- 3. bounded-object-buffer inventory --------------------------------

  test("every typed Aggregator in main carries a reviewed bounded buffer") {
    // The whitelist: file -> why its buffer is bounded. Adding an
    // Aggregator to src/main makes this fail until the new buffer is
    // reviewed against Sessions' raised objectHashAggregate fallback
    // threshold (an UNBOUNDED buffer — collect_list-shaped — must lower
    // the threshold per-query or use a different aggregation path: the
    // object hash map cannot spill).
    val bounded = Map(
      "TopK.scala" -> ("k-entry neighbor list (k<=20 at declared call " +
        "sites) + the wide variant's 2k+1 flat scratch (probe shortlists; " +
        "both O(k))"),
      "Kmv.scala" -> "k minimum hash values (fixed k)",
      "HeavyHitters.scala" -> "SpaceSaving capacity-bounded counter table",
      "BloomKernels.scala" -> "fixed-width bit array",
      "Dec20.scala" -> ("VecOuterTriSumAgg: fixed dim*(dim+1)-long Int128 " +
        "triangle buffer (33 KB at the declared d=64), O(d^2) regardless " +
        "of row count; grouped into O(1) groups at the one call site"))
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"spec must run from the repo root, cwd=${System.getProperty("user.dir")}")
    val found = {
      val it = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala
          .filter(_.toString.endsWith(".scala"))
          .filter(p => new String(java.nio.file.Files.readAllBytes(p))
            .contains("extends Aggregator["))
          .map(_.getFileName.toString).toSet
      } finally it.close()
    }
    assert(found == bounded.keySet,
      s"typed-Aggregator inventory drifted: found $found, reviewed ${bounded.keySet} — " +
        "review the new buffer's boundedness against Sessions.scala's " +
        "objectHashAggregate.sortBased.fallbackThreshold=2000000 before whitelisting")
  }

  // ---- 4. lsh_build consumer set pinned to actual memo access ------------

  test("lshMemoConsumers matches the queries that actually force the list memo") {
    val key = Similarity.lshMemoKey(sfDir)
    def forcesMemo(name: String): Boolean = {
      Caches.dropMemos(spark)
      SparkEntry.queries(name)(spark, sfDir).count()
      val hit = Caches.memoKeys(spark).contains(key)
      Caches.release(spark); spark.catalog.clearCache()
      hit
    }
    Similarity.lshMemoConsumers.foreach(n =>
      assert(forcesMemo(n), s"$n is listed in lshMemoConsumers but did not touch the memo"))
    // geometry-adjacent queries that build their OWN lists/buckets must not
    // be charged the shared build
    Seq("sim_lsh_ann", "sim_ivf_ann", "sim_brute_topk", "sim_lsh_occupancy")
      .foreach(n => assert(!forcesMemo(n),
        s"$n forced the shared list memo but is not in lshMemoConsumers — " +
          "add it or Bench mis-attributes lsh_build"))
    Caches.dropMemos(spark)
  }

  // ---- 5. TopK fast-reject margin agrees with the exact path -------------

  test("TopK fast-reject guard never disagrees with the no-fast-path reference") {
    def round9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // reference insert WITHOUT the fast-reject guard: always exact round9
    def refAdd(b: List[TopKNeighborEntry], k: Int, nId: Long, cos: Double): List[TopKNeighborEntry] = {
      val r9 = round9(cos)
      val (before, after) = b.span(e => e.r9 > r9 || (e.r9 == r9 && e.nId < nId))
      if (after.nonEmpty && after.head.r9 == r9 && after.head.nId == nId) b
      else (before ::: TopKNeighborEntry(r9, nId, cos) :: after).take(k)
    }
    val k = 3
    // tails at HALF_UP half-points and representative cosines; candidates
    // swept across the rounding boundary in sub-grid steps including the
    // exact half-point and its ulp neighborhood
    val tails = Seq(0.123456789, 0.1234567885, 0.5, 0.999999999, -0.123456789)
    for (tail <- tails) {
      var agg = TopKNeighborsBuf(k, Nil)
      var ref = List.empty[TopKNeighborEntry]
      // fill with k entries at the tail value, ids 10/20/30
      for (id <- Seq(10L, 20L, 30L)) {
        agg = agg.add(id, tail); ref = refAdd(ref, k, id, tail)
      }
      var id = 100L
      for (step <- Seq(0.0, 1e-10, 2.5e-10, 4.9e-10, 5e-10, 5.1e-10,
                       7.5e-10, 9.9e-10, 1e-9, 1.1e-9, 2e-9);
           sign <- Seq(-1, 1);
           ulps <- Seq(-2, -1, 0, 1, 2)) {
        var c = tail + sign * step
        var u = ulps
        while (u > 0) { c = Math.nextUp(c); u -= 1 }
        while (u < 0) { c = Math.nextDown(c); u += 1 }
        agg = agg.add(id, c); ref = refAdd(ref, k, id, c)
        assert(agg.buf == ref,
          f"divergence at tail=$tail%.12f step=${sign * step}%g ulps=$ulps: " +
            s"agg=${agg.buf} ref=$ref")
        id += 1
      }
    }
  }

  // ---- 6. Packed-ADC decimal fold exactness ------------------------------

  test("the packed ADC fold is digit-identical to the grouped decimal sum") {
    // ivfPqTopK's ADC scores each pair by folding PqM distance-table
    // lookups with (34,20)-accumulator decimal adds over (33,20) inputs —
    // replacing the grouped dsumFine of the first implementation. The
    // fold is exact only while no add step rounds: (34,20) + (33,20) =
    // (35,20) and the cast back to (34,20) never truncates for |sum| <
    // 10¹⁴. This pins that equivalence on adversarial doubles (mixed
    // magnitudes/signs, values whose 20-digit rounding is nontrivial) —
    // if a future edit narrows the headroom or widens the inputs past the
    // assumption, this fails before the oracle gate does.
    import org.apache.spark.sql.types.DecimalType
    import graft.functions.Deterministic.dsumFine
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { g =>
      val parts = Array.fill(4)(
        (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(7) - 3))
      (g.toLong, parts)
    }
    val df = spark.createDataFrame(
      rows.map { case (g, p) => (g, p.toSeq) }).toDF("g", "parts")
    val dec3420 = DecimalType(34, 20)
    val folded = df.select(col("g"),
      aggregate(col("parts"),
        lit(new java.math.BigDecimal(0)).cast(dec3420),
        (acc, x) => (acc + x.cast(DecimalType(33, 20))).cast(dec3420),
        acc => acc.cast("double")).as("v"))
    val grouped = df.select(col("g"), explode(col("parts")).as("p"))
      .groupBy("g").agg(dsumFine(col("p")).as("v"))
    val mismatches = folded.as("f").join(grouped.as("s"), "g")
      .filter(col("f.v") =!= col("s.v"))
      .count()
    assert(mismatches == 0)
  }

  // ---- 6b. Wide-shortlist TopK agrees with the list form ------------------

  test("neighborsWide is value-identical to the list TopK at wide k") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // coarse scores force heavy exact ties — the (round9 desc, id asc)
    // ordering and the (r9, id) duplicate collapse must match exactly
    val rows = (1 to 20000).map(i =>
      (i.toLong % 7, i.toLong, rnd.nextInt(500) / 250.0 - 1.0))
    val df = rows.toDF("g", "id", "score")
    def run(agg: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column) =
      df.groupBy("g").agg(agg(col("id"), col("score")).as("nb"))
        .select(col("g"), explode(col("nb")).as("x"))
        .select(col("g"), col("x._1"), col("x._2"), col("x._3"))
        .orderBy("g", "x._3").collect().toSeq
    val list = run(graft.functions.TopK.neighbors(200))
    val wide = run(graft.functions.TopK.neighborsWide(200))
    assert(list.size == 7 * 200)
    assert(list == wide,
      s"first diff: ${list.zip(wide).find(p => p._1 != p._2)}")
  }

  // ---- 7. PQ codebook training descends the Lloyd objective --------------

  test("sim_pq_train's trained codebook beats the seed codebook's quantization error") {
    import graft.functions.VectorKernels.ddot
    val raw = Tables.load(spark, sfDir, "embeddings")
    val sl = Similarity.ivfResiduals(raw, raw)
      .select(col("vec_id"), explode(sequence(lit(0), lit(3))).as("sub"), col("res"))
      .select(col("vec_id"), col("sub"),
        slice(col("res"), col("sub") * 16 + 1, lit(16)).as("x"))
    val cb0 = sl.filter(col("vec_id") < 16)
      .select(col("vec_id").as("code"), col("sub"), col("x").as("cb"))
    // seed-codebook objective: mean over (vector, subspace) of the min
    // squared distance to any seed centroid — what the declared row's
    // training starts from
    val seedMse = sl.join(broadcast(cb0), "sub")
      .select(col("vec_id"), col("sub"),
        (ddot(col("x"), col("x")) - lit(2) * ddot(col("x"), col("cb"))
          + ddot(col("cb"), col("cb"))).as("d2"))
      .groupBy("vec_id", "sub").agg(min(col("d2")).as("d"))
      .agg(avg(col("d"))).head.getDouble(0)
    val trained = SparkEntry.queries("sim_pq_train")(spark, sfDir)
    val trainedMse = trained
      .agg((sum(col("mse") * col("n_members")) / sum(col("n_members"))))
      .head.getDouble(0)
    info(f"seed mse=$seedMse%.4f trained mse=$trainedMse%.4f")
    // Lloyd descent: cost(a2, cb1) <= cost(a1, cb1) <= cost(a1, cb0) =
    // the seed objective; the slack absorbs the row's 6-dp mse rounding
    assert(trainedMse <= seedMse + 1e-5,
      s"training did not descend: seed=$seedMse trained=$trainedMse")
  }
}
