package graft

import org.apache.spark.sql.functions._

/** Dev probe isolating the PQ ENCODE stage (the r17-named 20 M knob):
  * times [[operators.Similarity.pqCodesFrame]] kernel-vs-dataflow on the
  * same corpus and codebook — the end-to-end ivfpq probe buries the
  * encode under training, ADC and ground truth, so the knob must be
  * priced on its own stage. `args: dir` — env `SPARK_GRAFT_IVFPQ_TRAINED`
  * sets the codebook width (default 256, the trained-ladder geometry; the
  * seed first-pqK book prices identically to a Lloyd book — same MAC
  * count per code, only the centroid VALUES differ), `SPARK_GRAFT_SHUFFLE`
  * the reducer width, `SPARK_GRAFT_ENCODE_PASSES` the repeat count
  * (best-of, default 2).
  */
object PqEncodeProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val pqK = sys.env.get("SPARK_GRAFT_IVFPQ_TRAINED").map(_.toInt).getOrElse(256)
    val passes = sys.env.get("SPARK_GRAFT_ENCODE_PASSES").map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val width = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus).toInt
    val spark = Sessions.builder(s"local[$cpus]", width)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import functions.VectorKernels.ddot
    val e = Tables.load(spark, dir, "embeddings")
    val n = e.count()
    // first-pqK residual book, the production seed-default construction
    // (operator constants PqM = 4, PqSubDim = 16 — the probe convention
    // LshScaleProbe's trainer also hardcodes)
    val subs = explode(sequence(lit(0), lit(3))).as("sub")
    val cb = broadcast(operators.Similarity
      .ivfResiduals(e.filter(col("vec_id") < pqK), e)
      .select(col("vec_id").as("code"), subs, col("res"))
      .select(col("code"), col("sub"),
        slice(col("res"), col("sub") * 16 + 1, lit(16)).as("cb_sub"))
      .withColumn("cb_sq", ddot(col("cb_sub"), col("cb_sub"))))
      .localCheckpoint(true)
    for (kernel <- Seq(false, true)) {
      val ts = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val rows = operators.Similarity
          .pqCodesFrame(Tables.spread(e), e, cb, pqK, kernel).count()
        // stamp BEFORE cache teardown (r18 ADVICE): release/clearCache ran
        // inside the timed window, inflating both arms' absolute numbers
        val dt = (System.nanoTime() - t0) / 1e9
        Caches.release(spark); spark.catalog.clearCache()
        (dt, rows)
      }
      val label = if (kernel) "kernel  " else "dataflow"
      println(f"[pqencode] $label n=$n pqK=$pqK code_rows=${ts.head._2} " +
        f"best=${ts.map(_._1).min}%.1f s runs=${ts.map(t => f"${t._1}%.1f").mkString(",")}")
    }
    spark.stop()
  }
}
