package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.Kernel
import graft.sources.Sources

/** Kernel-backed queries build their expressions directly from the
  * [[Kernel]] table, so running them leaves a session's function registry
  * untouched: on a fresh session no kernel name becomes resolvable, and
  * the rows equal the shared session's run.
  */
class KernelSessionSpec extends SparkSuite {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def assertNoKernelFunctions(s: SparkSession): Unit =
    Kernel.all.foreach(k => assert(!s.catalog.functionExists(k.name),
      s"${k.name} became resolvable in the session's function registry"))

  test("declared kernel queries leave a fresh session's function registry untouched") {
    val fresh = spark.newSession()
    try {
      assertNoKernelFunctions(fresh)
      // dedup (simhash), similarity (LSH), text (trigram language id)
      for (q <- Seq("dedup_simhash", "sim_lsh_ann_scaled", "text_langid_trigram")) {
        val got = rows(SparkEntry.queries(q)(fresh, sfDir))
        assertNoKernelFunctions(fresh)
        assert(got.nonEmpty, s"$q returned no rows")
        assert(got == rows(SparkEntry.queries(q)(spark, sfDir)),
          s"$q differs between a fresh session and the shared one")
      }
    } finally {
      Caches.release(fresh)
    }
  }

  test("a z-order clustered write leaves a fresh session's function registry untouched") {
    val fresh = spark.newSession()
    val root = java.nio.file.Files.createTempDirectory("zorder-purity").toString
    def write(s: SparkSession, out: String): Seq[String] = {
      Sources.zorderClusteredParquet(Tables.load(s, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey")), out, "o_custkey", "o_orderkey", 4)
      rows(s.read.parquet(out))
    }
    val got = write(fresh, s"$root/fresh")
    assertNoKernelFunctions(fresh)
    assert(got.nonEmpty)
    assert(got == write(spark, s"$root/shared"))
  }
}
