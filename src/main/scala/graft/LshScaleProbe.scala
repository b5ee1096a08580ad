package graft

import org.apache.spark.sql.functions._

/** Dev probe behind SURVEY §6's LSH scale measurement: times
  * [[operators.Similarity.lshTopK]] at the oracle-pinned default geometry
  * (4 bands × 4 bits) vs the scale-adjusted one (bits raised by ~log₂ of
  * the corpus growth) on the same directory.
  * `args: sfDir [bands bits] [only] [auto] [plan]` — `only` skips the
  * default pass (at the 100× corpus the 4×4 build spills ~77 GB and dies;
  * probing the next decade's block must not have to pay that first);
  * `auto` times [[operators.Similarity.lshTopKAuto]]'s in-plan chooser
  * instead of a fixed (bands, bits) block; `plan` prints the chooser
  * build's formatted physical plan and exits without timing anything;
  * `recall` measures panel recall@5 of the production adaptive lists
  * against exact ground truth and exits (r15 verdict item 1 — the quality
  * number at the decades where the declared sim_lsh_recall row cannot
  * run).
  *
  * The recall panel is a ~256-query HASH sample (xxhash64(vec_id) mod m),
  * NOT sim_lsh_recall's residue-class sample: on a [[ScaleUp]]-amplified
  * corpus the replica stride 2⁴⁰ is divisible by the power-of-two residue
  * modulus, so `vec_id % m = 3` selects the SAME source vector in every
  * replica — at the ×1000 corpus that panel is 1000 noisy clones of one
  * query, not a sample. The hash breaks the stride alignment and draws
  * uniformly across sources and replicas; ground truth is still each
  * panel query's exact top-5 over the FULL corpus (panel × n dots — one
  * broadcast map stage + a bounded-state TopK, linear at any decade).
  */
object LshScaleProbe {
  private val ModeFlags =
    Set("only", "auto", "plan", "recall", "ivfpq", "hamming", "multiprobe")

  /** The probe-rig Lloyd trainer (2 iterations over a ~20 k hash sample of
    * residuals, per subspace) — the scaled-up twin of the declared
    * sim_pq_train chain. Codes stay DENSE in [0, pqK): an emptied cluster
    * keeps its previous centroid (the packed distance-table index is
    * positional). Decimal means, not avg(): order-independent, so probe
    * recalls cited in SURVEY §6 are bit-reproducible across partitionings
    * (r16 ADVICE).
    */
  private def trainCodebook(e: org.apache.spark.sql.DataFrame, n: Long,
                            pqK: Int, ivfK: Int): org.apache.spark.sql.DataFrame = {
    import functions.VectorKernels.ddot
    val sampleMod = math.max(1L, n / 20000L)
    val res = operators.Similarity.ivfResiduals(
      Tables.spread(e).filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0), e,
      ivfK)
    val subs = explode(sequence(lit(0), lit(3))).as("sub")
    val slices = res.select(col("vec_id"), subs, col("res"))
      .select(col("vec_id"), col("sub"),
        slice(col("res"), col("sub") * 16 + 1, lit(16)).as("x"))
      .localCheckpoint(true)
    // seeds from the UNSAMPLED corpus (the hash sample need not contain
    // vec_ids < pqK): the same first-pqK identity the production
    // default uses, so training isolates the Lloyd refinement
    var cents = operators.Similarity
      .ivfResiduals(e.filter(col("vec_id") < pqK), e, ivfK)
      .select(col("vec_id"), subs, col("res"))
      .select(col("vec_id").as("code"), col("sub"),
        slice(col("res"), col("sub") * 16 + 1, lit(16)).as("cb_sub"))
      .localCheckpoint(true)
    for (_ <- 1 to 2) {
      val asg = slices.join(broadcast(cents), "sub")
        .select(col("vec_id"), col("sub"), col("x"), col("code"),
          (ddot(col("x"), col("x")) - lit(2) * ddot(col("x"), col("cb_sub"))
            + ddot(col("cb_sub"), col("cb_sub"))).as("d2"))
        .groupBy(col("vec_id"), col("sub"), col("x"))
        .agg(functions.TopK.neighbors(1)(col("code"), -col("d2")).as("nb"))
        .select(col("sub"), col("x"),
          col("nb").getItem(0).getField("_1").as("code"))
      val means = asg.select(col("sub"), col("code"), posexplode(col("x")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg((functions.Deterministic.dsumFine(col("col")) / count(lit(1))).as("v"))
        .groupBy(col("sub"), col("code"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("v")))),
          s => s.getField("v")).as("m_sub"))
      cents = cents.join(means, Seq("sub", "code"), "left")
        .select(col("sub"), col("code"),
          coalesce(col("m_sub"), col("cb_sub")).as("cb_sub"))
        .localCheckpoint(true)
    }
    cents.withColumn("cb_sq", ddot(col("cb_sub"), col("cb_sub")))
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    // numeric operands are bands/bits; word operands are mode flags —
    // anything else (e.g. a typo'd "12x") is an error, not a silent no-op
    val bad = args.drop(1).filterNot(a =>
      a.nonEmpty && (a.forall(_.isDigit) || ModeFlags(a)))
    require(bad.isEmpty,
      s"unrecognized operand(s) ${bad.mkString(",")}: expected integers or ${ModeFlags.mkString("/")}")
    val nums = args.drop(1).filter(_.forall(_.isDigit)).map(_.toInt)
    val bands = nums.headOption.getOrElse(4)
    val bits = nums.drop(1).headOption.getOrElse(7)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Reducer width decoupled from core count (SPARK_GRAFT_SHUFFLE): the
    // band self-join + partial TopK aggregate run in the SAME stage, so
    // per-task partial state is bands·n·buffer / partitions and only
    // `cpus` tasks are live at once — at the 2 M decade, 32 partitions
    // hold ~20 M live buffers (~8 GB, the whole probe heap) where 512
    // bound live state at ~1.3 M (~0.5 GB). On a real cluster this is
    // just "partitions scale with data", the Sessions doc's contract; the
    // probe makes the knob explicit so the local rig can honor it.
    val width = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus).toInt
    val spark = Sessions.builder(s"local[$cpus]", width)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = Tables.load(spark, dir, "embeddings")
    def timed(label: String)(build: => org.apache.spark.sql.DataFrame): Unit = {
      // warm + best-of-2, the Bench convention
      val rs = (1 to 2).map(_ => QueryRun(spark, dir, Q(label, (_, _) => build, None)))
      val best = rs.map(r => r.seconds.getOrElse(sys.error(r.error.get))).min
      println(f"[lshprobe] $label rows=${rs.head.rows} best=$best%.2f s")
    }
    if (args.contains("plan")) {
      println(operators.Similarity.lshTopKAuto(e, 5).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode))
      spark.stop(); return
    }
    if (args.contains("recall") || args.contains("ivfpq") ||
        args.contains("hamming") || args.contains("multiprobe")) {
      import operators.Similarity.{dot, l2norm}
      val n = e.count()
      // same ~256-query budget rule as sampleModulus, driver-side on the
      // exact count (a dev probe may collect one long). The budget is an
      // env knob (default 256): the ivfpq mode's ADC stream is
      // panel-linear (panel × nprobe/IvfK × corpus), so the 2 M decade
      // probes with a smaller panel to keep the fold stage bounded.
      val budget = sys.env.getOrElse("SPARK_GRAFT_PROBE_QUERIES", "256").toLong
      val m = math.max(8L,
        java.lang.Long.highestOneBit(math.max(1L, (n + budget - 1) / budget - 1)) * 2)
      val v = e.select(col("vec_id"), col("embedding"),
        l2norm(col("embedding")).as("nrm"))
      val panel = v.filter(pmod(xxhash64(col("vec_id")), lit(m)) === 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"))
      val t0 = System.nanoTime()
      // exact ground truth: one broadcast map stage over the corpus, rank
      // via the bounded-state TopK — identical ordering convention
      // (round(cos,9) desc, n_id) to the production lists
      val exact = v.crossJoin(broadcast(panel))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          (dot(col("embedding"), col("q_emb")) /
            (col("nrm") * col("q_nrm"))).as("cos"))
        .groupBy("q_id")
        .agg(functions.TopK.neighbors(5)(col("n_id"), col("cos")).as("nb"))
        .select(col("q_id"), explode(col("nb")).as("x"))
        .select(col("q_id"), col("x._1").as("n_id"))
        .localCheckpoint(true)
      val tExact = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      // `ivfpq`: the fused IVF+PQ path queried with the hash panel —
      // corpus-side encode + packed-ADC + exact re-rank, the production
      // fused pipeline at this decade; otherwise the adaptive LSH lists.
      // The ADC shortlist scales ∝ corpus by default (a fixed shortlist
      // is a shrinking fraction of each probed cell — the measured
      // recall-collapse mode); SPARK_GRAFT_IVFPQ_SHORTLIST overrides to
      // price a specific width (e.g. the declared rows' fixed 20).
      val shortlist = sys.env.get("SPARK_GRAFT_IVFPQ_SHORTLIST").map(_.toInt)
        .getOrElse(math.max(20, (n / 500).toInt))
      // SPARK_GRAFT_IVFPQ_TRAINED=<pqK>: replace the seed-residual
      // codebook with a k-means-trained one (2 Lloyd iterations over a
      // ~20 k hash sample of residuals, per subspace) — the ladder's
      // named quality knob. Codes stay DENSE in [0, pqK): an emptied
      // cluster keeps its previous centroid (the packed distance-table
      // index is positional).
      val trainedK = sys.env.get("SPARK_GRAFT_IVFPQ_TRAINED").map(_.toInt)
      // SPARK_GRAFT_IVFPQ_NPROBE: probed coarse cells per query (default
      // the operator's 3 of 8) — the cell-axis recall knob the organic
      // ladder prices (probed fraction bounds any shortlist's recovery)
      val nprobe = sys.env.get("SPARK_GRAFT_IVFPQ_NPROBE").map(_.toInt)
      // SPARK_GRAFT_IVFK: coarse-cell count (default the operator's 8) —
      // the r18 production-geometry axis: nprobe/ivfK is what bounds
      // recall, and the rig's 8 cells make any nprobe most of the corpus
      val ivfK = sys.env.get("SPARK_GRAFT_IVFK").map(_.toInt)
        .getOrElse(operators.Similarity.IvfK)
      val cbOverride = trainedK.map(pqK =>
        trainCodebook(e, n, pqK, ivfK))
      val got = (if (args.contains("ivfpq"))
        operators.Similarity.ivfPqTopK(Tables.spread(e), e,
          panel = Some(panel.select(col("q_id").as("vec_id"),
            col("q_emb").as("embedding"))), shortlist = shortlist,
          codebook = cbOverride, pqK = trainedK.getOrElse(16),
          nprobe = nprobe.getOrElse(operators.Similarity.IvfNProbe),
          // SPARK_GRAFT_PQ_ENCODE=join prices the r17 dataflow encode
          // against the fused kernel (the r18 before/after A-B)
          encodeKernel = !sys.env.get("SPARK_GRAFT_PQ_ENCODE").contains("join"),
          ivfK = ivfK)
      else if (args.contains("hamming"))
        // the exhaustive-rank binary rung, same scaled shortlist rule
        operators.Similarity.hammingTopK(Tables.spread(e), e,
          panel = Some(panel.select(col("q_id").as("vec_id"),
            col("q_emb").as("embedding"))), shortlist = shortlist)
      else if (args.contains("multiprobe"))
        // single-bit-flip probing over the SAME adaptive index — the
        // organic-regime recall lever at (1 + abits)× query candidates;
        // SPARK_GRAFT_MULTIPROBE_FLIPS=0 measures the exact-collision
        // baseline through the identical broadcast-panel plan (flips < 2
        // also disables pair probes, keeping the rungs nested),
        // SPARK_GRAFT_MULTIPROBE_PAIRBITS=T adds the query-directed
        // radius-2 pair probes over the T lowest-margin bits (the r18
        // organic ladder's axis; 0 = radius-1 only), and
        // SPARK_GRAFT_LSH_ABITS pins the band geometry (r19: the
        // retrieval-deployment socket — e.g. 16 at the 20 M decade, where
        // the self-join chooser's 17 halves occupancy but costs recall)
        // SPARK_GRAFT_MULTIPROBE_BUDGET=B switches to the ranked Lv et al.
        // probe sequence (r19): the B best radius-≤2 probes per band by
        // margin mass, exclusive of the FLIPS/PAIRBITS radius knobs
        operators.Similarity.lshMultiProbeTopK(e,
          panel = Some(panel.select(col("q_id").as("vec_id"))),
          maxFlips = sys.env.get("SPARK_GRAFT_MULTIPROBE_FLIPS")
            .map(_.toInt).getOrElse(Int.MaxValue),
          pairBits = sys.env.get("SPARK_GRAFT_MULTIPROBE_PAIRBITS")
            .map(_.toInt).getOrElse(0),
          fixedBits = sys.env.get("SPARK_GRAFT_LSH_ABITS").map(_.toInt),
          probeBudget = sys.env.get("SPARK_GRAFT_MULTIPROBE_BUDGET")
            .map(_.toInt).getOrElse(0))
      else
        operators.Similarity.lshTopKAuto(e, 5)
          .join(broadcast(panel.select("q_id")), Seq("q_id"), "left_semi"))
        .select("q_id", "n_id")
        .localCheckpoint(true)
      val tAnn = (System.nanoTime() - t1) / 1e9
      val Array(nq, nExact) = exact
        .agg(countDistinct(col("q_id")), count(lit(1)))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      val hits = exact.join(got, Seq("q_id", "n_id"), "left_semi").count()
      // honesty split for ScaleUp corpora: an amplified corpus's exact
      // neighbors are dominated by same-source replica CLONES (±0.05 noise
      // on a 0.125-σ vector ⇒ cosine ≈ 0.9+), which share most sign bits —
      // the easy regime for banding. Recall over cross-source pairs is the
      // organic-like number; on an organic corpus every pair is
      // cross-source and the split collapses to the headline.
      val srcOf = (c: org.apache.spark.sql.Column) => pmod(c, lit(1L << 40))
      val clone = srcOf(col("q_id")) === srcOf(col("n_id"))
      val cloneExact = exact.filter(clone).count()
      val cloneHits = exact.filter(clone)
        .join(got, Seq("q_id", "n_id"), "left_semi").count()
      val crossExact = nExact - cloneExact
      val crossHits = hits - cloneHits
      def ratio(a: Long, b: Long) = if (b == 0) Double.NaN else a.toDouble / b
      val mode =
        if (args.contains("ivfpq"))
          s"ivfpq_recall shortlist=$shortlist" +
            trainedK.map(k => s" trained_pqK=$k").getOrElse("") +
            nprobe.map(n => s" nprobe=$n").getOrElse("")
        else if (args.contains("hamming")) s"hamming_recall shortlist=$shortlist"
        else if (args.contains("multiprobe")) "multiprobe_recall"
        else "recall"
      println(f"[lshprobe] $mode n=$n m=$m queries=$nq exact_pairs=$nExact " +
        f"hits=$hits recall_at5=${ratio(hits, nExact)}%.3f " +
        f"clone_pairs=$cloneExact recall_clone=${ratio(cloneHits, cloneExact)}%.3f " +
        f"cross_pairs=$crossExact recall_cross=${ratio(crossHits, crossExact)}%.3f " +
        f"t_exact=$tExact%.1f s t_ann_build=$tAnn%.1f s")
      spark.stop(); return
    }
    if (!args.contains("only"))
      timed("default bands=4 bits=4")(operators.Similarity.lshTopK(e, 5, 4, 4))
    if (args.contains("auto"))
      timed("auto (in-plan chooser)")(operators.Similarity.lshTopKAuto(e, 5))
    else
      timed(s"scaled bands=$bands bits=$bits")(
        operators.Similarity.lshTopK(e, 5, bands, bits))
    spark.stop()
  }
}
