package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{Dec20, TextHash, TrigramPack}

/** Single-thread ns/row of the engine's row kernels, called directly on
  * the `documents` texts and `embeddings` values of the run's tables. Each
  * kernel runs over the whole input repeatedly for at least `minNs`, after
  * one untimed warm-up sweep; the reading is the median sweep.
  */
object Kernels {
  private val minNs = 200L * 1000 * 1000
  // the sweeps' results land here so the JIT cannot drop them as dead code
  @volatile var blackhole = 0L

  private def nsPerItem(items: Int)(sweep: => Unit): Double = {
    sweep
    val times = scala.collection.mutable.ArrayBuffer.empty[Long]
    val end = System.nanoTime() + minNs
    while (times.size < 3 || System.nanoTime() < end) {
      val t0 = System.nanoTime()
      sweep
      times += System.nanoTime() - t0
    }
    times.sorted.apply(times.size / 2).toDouble / items
  }

  def run(spark: SparkSession, dir: String): String = {
    val texts = graft.Tables.load(spark, dir, "documents").select("text").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val values = graft.Tables.load(spark, dir, "embeddings").select("embedding").collect()
      .flatMap(_.getSeq[Float](0)).map(_.toDouble)
    val shingles = texts.map(TextHash.shingleHashes(_, 3))
    var sink = 0L
    val acc = new Array[Long](2)
    val m = Seq(
      "kernel.shingle_hashes_ns_per_row" -> nsPerItem(texts.length) {
        texts.foreach(t => sink += TextHash.shingleHashes(t, 3).length)
      },
      "kernel.minhash_bands_ns_per_row" -> nsPerItem(shingles.length) {
        shingles.foreach(s => sink += TextHash.minhashBands(s, 32, 8)(0))
      },
      "kernel.simhash_ns_per_row" -> nsPerItem(texts.length) {
        texts.foreach(t => sink += TextHash.simhash(t))
      },
      "kernel.trigram_codes_ns_per_row" -> nsPerItem(texts.length) {
        texts.foreach(t => sink += TrigramPack.codes(t).numElements())
      },
      "kernel.dec20_add_ns_per_value" -> nsPerItem(values.length) {
        values.foreach(v => Dec20.addScaled(v, acc, 0))
      })
    blackhole = sink ^ acc(0)
    Json.obj(m.map { case (k, v) => k -> Json.num(v) })
  }
}
