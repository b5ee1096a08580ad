package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev probe DECOMPOSING the trained-IVFPQ build (r18 verdict item 4): the
  * 20 M trained-256 probe reads ~1096 s end-to-end but only the encode
  * stage (82 s, PqEncodeProbe) had ever been isolated — nobody had
  * measured where the other ~1000 s sit. This main rebuilds the
  * [[operators.Similarity.ivfPqTopK]] pipeline STAGE BY STAGE with
  * localCheckpoint barriers on the compact intermediates and prints a
  * per-stage cost table:
  *
  *   train     — the probe-rig 2-round Lloyd chain ([[LshScaleProbe
  *               .trainCodebook]], ~20 k residual sample)
  *   encode    — coarse assign + residuals + the fused code kernel for the
  *               FULL corpus (the PqEncodeProbe stage), checkpointed as the
  *               (n_id, cent_id, sub, code) rows
  *   pack      — codes ⋈ recon-norm table, per-vector regroup into the
  *               packed (cs, rsq) ADC layout (sort_array collect_list +
  *               decimal sum over N·PqM rows → N groups)
  *   adc+rank  — probed-cell equi-join × packed-code scoring (the
  *               panel × nprobe/ivfK × corpus decimal ADC fold), bounded-
  *               state shortlist, exact re-rank
  *
  * Stage frames replicate the operator's plan fragments verbatim (probe
  * scaffolding, the LshScaleProbe trainer convention) — timings attribute
  * the operator's own shapes, not a remodel. `args: dir`; env knobs:
  * SPARK_GRAFT_IVFPQ_TRAINED (pqK, default 256), SPARK_GRAFT_IVFK,
  * SPARK_GRAFT_IVFPQ_NPROBE, SPARK_GRAFT_IVFPQ_SHORTLIST,
  * SPARK_GRAFT_PROBE_QUERIES, SPARK_GRAFT_SHUFFLE, SPARK_DRIVER_MEM.
  */
object IvfPqStageProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val pqK = sys.env.get("SPARK_GRAFT_IVFPQ_TRAINED").map(_.toInt).getOrElse(256)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val width = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus).toInt
    val spark = Sessions.builder(s"local[$cpus]", width)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import functions.VectorKernels.ddot
    import operators.Similarity.{dot, l2norm}
    val e = Tables.load(spark, dir, "embeddings")
    val n = e.count()
    val ivfK = sys.env.get("SPARK_GRAFT_IVFK").map(_.toInt)
      .getOrElse(operators.Similarity.IvfK)
    val nprobe = sys.env.get("SPARK_GRAFT_IVFPQ_NPROBE").map(_.toInt)
      .getOrElse(operators.Similarity.IvfNProbe)
    val shortlist = sys.env.get("SPARK_GRAFT_IVFPQ_SHORTLIST").map(_.toInt)
      .getOrElse(math.max(20, (n / 500).toInt))
    val budget = sys.env.getOrElse("SPARK_GRAFT_PROBE_QUERIES", "256").toLong
    val m = math.max(8L,
      java.lang.Long.highestOneBit(math.max(1L, (n + budget - 1) / budget - 1)) * 2)
    val panel = e.filter(pmod(xxhash64(col("vec_id")), lit(m)) === 3)
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val nq = panel.count()
    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[ivfpqstage] $label%-9s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
      r
    }
    // ---- stage 1: Lloyd training (eager inside via localCheckpoint) ----
    val cb = timed("train") {
      broadcast(LshScaleProbe.trainCodebook(e, n, pqK, ivfK).localCheckpoint(true))
    }
    // ---- stages 2+3: encode + pack -------------------------------------
    // r19 default: the operator's FUSED shape (kernel codes kept as an
    // array, cs a transform, rsq the PqPackRsq kernel — one shuffle-free
    // map pass, timed as encode+pack). SPARK_GRAFT_PACK_FUSED=0 keeps the
    // r18 two-stage rung (exploded codes checkpoint, then recon join +
    // (n_id, cent_id) re-group) as the priced A/B.
    import graft.functions.Deterministic.dsumFine
    val subs = explode(sequence(lit(0), lit(3))).as("sub")
    def subSlice(a: org.apache.spark.sql.Column) =
      slice(a, col("sub") * 16 + 1, lit(16))
    val cents = broadcast(e.filter(col("vec_id") < ivfK)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
        l2norm(col("embedding")).as("c_nrm")))
    val reconSq = broadcast(cents.select(col("cent_id"), subs, col("c_emb"))
      .select(col("cent_id"), col("sub"),
        transform(subSlice(col("c_emb")), x => x.cast("double")).as("c_sub"))
      .join(cb, "sub")
      .withColumn("recon_sub", zip_with(col("c_sub"), col("cb_sub"), (a, b) => a + b))
      .select(col("cent_id"), col("sub"), col("code"),
        ddot(col("recon_sub"), col("recon_sub")).as("recon_sq")))
    val packFused = !sys.env.get("SPARK_GRAFT_PACK_FUSED").contains("0")
    val nvec =
      if (packFused)
        timed("enc+pack") {
          operators.Similarity
            .pqPackedFrame(Tables.spread(e), e, cb, reconSq, pqK, ivfK)
            .localCheckpoint(true)
        }
      else {
        val codes = timed("encode") {
          operators.Similarity
            .pqCodesFrame(Tables.spread(e), e, cb, pqK, encodeKernel = true, ivfK)
            .localCheckpoint(true)
        }
        timed("pack") {
          codes.join(reconSq, Seq("cent_id", "sub", "code"))
            .groupBy(col("n_id"), col("cent_id"))
            .agg(sort_array(collect_list(struct(col("sub"), col("code")))).as("cs"),
              dsumFine(col("recon_sq")).as("rsq"))
            .localCheckpoint(true)
        }
      }
    // ---- stage 4: probed-cell ADC scan + shortlist + exact re-rank -----
    val wProbe = Window.partitionBy("q_id")
      .orderBy(round(col("cos_c"), 9).desc, col("cent_id"))
    val probes = broadcast(panel
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        l2norm(col("embedding")).as("q_nrm"))
      .crossJoin(cents)
      .withColumn("qc", dot(col("q_emb"), col("c_emb")))
      .withColumn("cos_c", col("qc") / (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("q_nrm"), col("cent_id"), col("qc")))
    // replicates the operator's r19 flat ADC fragments (pre-cast decimal
    // table + codegen add chain); SPARK_GRAFT_ADC_FOLD=1 keeps the r18
    // `aggregate()` HOF form as the A/B rung the r19 SURVEY table prices
    val hofFold = sys.env.get("SPARK_GRAFT_ADC_FOLD").contains("1")
    val dec3320 = org.apache.spark.sql.types.DecimalType(33, 20)
    val dtArr = broadcast(panel
      .select(col("vec_id").as("q_id"), subs, col("embedding"))
      .select(col("q_id"), col("sub"),
        transform(subSlice(col("embedding")), x => x.cast("double")).as("q_sub"))
      .join(cb, "sub")
      .select(col("q_id"), (col("sub") * pqK + col("code")).as("i"),
        ddot(col("q_sub"), col("cb_sub")).as("part"))
      .groupBy(col("q_id"))
      .agg(transform(sort_array(collect_list(struct(col("i"), col("part")))),
        s => if (hofFold) s.getField("part")
             else s.getField("part").cast(dec3320)).as("dts")))
    val dec3420 = org.apache.spark.sql.types.DecimalType(34, 20)
    val decZero = lit(new java.math.BigDecimal(0)).cast(dec3420)
    def rpart(cs: org.apache.spark.sql.Column,
              dts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (hofFold)
        aggregate(cs, decZero,
          (acc, c) => (acc + element_at(dts,
            (c.getField("sub") * pqK + c.getField("code") + 1).cast("int"))
            .cast(dec3320)).cast(dec3420),
          acc => acc.cast("double"))
      else {
        val sum = (0 until 4).map { j =>
          val c = element_at(cs, j + 1)
          element_at(dts,
            (c.getField("sub") * pqK + c.getField("code") + 1).cast("int"))
        }.reduce(_ + _)
        when(size(cs) === lit(4), sum.cast("double"))
          .otherwise(raise_error(concat(
            lit("[ivfpqstage] packed code row with size(cs) != 4: "),
            size(cs).cast("string"))))
      }
    timed("adc+rank") {
      val cand = probes.join(nvec, "cent_id")
        .filter(col("n_id") =!= col("q_id"))
        .join(dtArr, "q_id")
        .select(col("q_id"), col("n_id"),
          ((col("qc") + rpart(col("cs"), col("dts"))) /
            (col("q_nrm") * sqrt(col("rsq")))).as("cos_adc"))
        .groupBy(col("q_id"))
        .agg((if (shortlist > 64)
            graft.functions.TopK.neighborsWide(shortlist)(col("n_id"), col("cos_adc"))
          else
            graft.functions.TopK.neighbors(shortlist)(col("n_id"), col("cos_adc"))).as("nb"))
        .select(col("q_id"), explode(col("nb")).as("x"))
        .select(col("q_id"), col("x._1").as("n_id"))
      val nf = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        l2norm(col("embedding")).as("n_nrm"))
      val qf = broadcast(panel
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          l2norm(col("embedding")).as("q_nrm")))
      val wExact = Window.partitionBy("q_id")
        .orderBy(round(col("cos"), 9).desc, col("n_id"))
      cand.join(nf, "n_id").join(qf, "q_id")
        .withColumn("cos",
          dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")))
        .withColumn("rank", row_number().over(wExact))
        .filter(col("rank") <= 5)
        .count()
    }
    println(s"[ivfpqstage] n=$n pqK=$pqK ivfK=$ivfK nprobe=$nprobe " +
      s"shortlist=$shortlist queries=$nq")
    spark.stop()
  }
}
