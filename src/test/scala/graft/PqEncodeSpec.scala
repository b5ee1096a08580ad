package graft

import operators.Similarity
import org.apache.spark.sql.functions._

/** The fused encode kernel's value contract: [[graft.functions.
  * PqEncodeCodes]] must emit EXACTLY the codes of the r17 dataflow encode
  * (slice → broadcast-codebook join → d2 → bounded-state TopK argmin) —
  * same d2 arithmetic order, same (round-9 desc, code asc) tie. The ivfpq
  * oracle rows pin the production path end-to-end; this pins the A/B pair
  * against EACH OTHER, so a drift in either path (not just the declared
  * one) fails by name, on both the seed book and the Lloyd-trained book.
  */
class PqEncodeSpec extends SparkSuite {

  private def codesOf(dir: String, kernel: Boolean,
                      trained: Boolean): Map[(Long, Int), Long] = {
    import functions.VectorKernels.ddot
    val e = Tables.load(spark, dir, "embeddings")
    val cb =
      if (trained) {
        val (cb2, _) = Similarity.pqTrainChain(spark, dir)
        broadcast(cb2.select(col("code"), col("sub"), col("cb").as("cb_sub"))
          .withColumn("cb_sq", ddot(col("cb_sub"), col("cb_sub"))))
      } else {
        val subs = explode(sequence(lit(0), lit(3))).as("sub")
        broadcast(Similarity.ivfResiduals(e.filter(col("vec_id") < 16), e)
          .select(col("vec_id").as("code"), subs, col("res"))
          .select(col("code"), col("sub"),
            slice(col("res"), col("sub") * 16 + 1, lit(16)).as("cb_sub"))
          .withColumn("cb_sq", ddot(col("cb_sub"), col("cb_sub"))))
      }
    val out = Similarity.pqCodesFrame(e, e, cb, 16, kernel)
      .collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(3))
      .toMap
    Caches.release(spark); spark.catalog.clearCache()
    out
  }

  test("kernel encode equals dataflow encode, seed book, both gate scales") {
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val k = codesOf(dir, kernel = true, trained = false)
      val d = codesOf(dir, kernel = false, trained = false)
      assert(k.size == d.size && k.size > 0, s"$dir: ${k.size} vs ${d.size}")
      val diff = d.collect { case (key, c) if k(key) != c => (key, c, k(key)) }
      assert(diff.isEmpty, s"$dir: ${diff.take(5).mkString("; ")}")
    }
  }

  test("kernel encode equals dataflow encode, trained book") {
    val k = codesOf(sfDir, kernel = true, trained = true)
    val d = codesOf(sfDir, kernel = false, trained = true)
    assert(k.size == d.size && k.size > 0)
    val diff = d.collect { case (key, c) if k(key) != c => (key, c, k(key)) }
    assert(diff.isEmpty, diff.take(5).mkString("; "))
    Caches.dropMemos(spark)
  }
}
