package graft.operators

import org.apache.spark.sql.SparkSession
import graft.sources.Sources

/** Small-file compaction — the table-maintenance operator every
  * file-per-event ingest (like the reference's one-Glue-run-per-upload,
  * /root/reference/health-etl/main.tf:231-252 + glue_job_script.py:49)
  * eventually needs: thousands of tiny parquet files destroy scan
  * parallelism bookkeeping and footer-read time at 100 TB.
  *
  * Rewrites a parquet directory into ⌈totalBytes / targetBytes⌉ files via a
  * single round-robin repartition; reading back preserves rows exactly.
  */
object Compaction {

  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val totalBytes = listFileBytes(new java.io.File(inDir))
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    Sources.parquet(spark, inDir)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(outDir)
    nFiles
  }

  private def listFileBytes(f: java.io.File): Long =
    if (f.isFile) { if (f.getName.endsWith(".parquet")) f.length else 0L }
    else Option(f.listFiles()).map(_.map(listFileBytes).sum).getOrElse(0L)

  /** Partition retention sweep over a Hive-layout table: drop every
    * `column=value` partition directory whose value sorts strictly below
    * `cutoff` — the TTL maintenance a date-partitioned ingest runs so the
    * lake doesn't grow without bound. The cutoff is a caller parameter
    * (never wall clock: reruns must be reproducible), and comparison is
    * lexicographic over FIXED-WIDTH values only: a candidate whose value
    * length differs from the cutoff's is SKIPPED, never deleted — the
    * guard that stops `hour=10` sorting below `hour=9` (non-zero-padded
    * numerics must be normalized before they can be swept). Only
    * first-level partition dirs are touched. Returns the values of
    * partitions that were FULLY deleted; a partition any of whose files
    * resists deletion is left (partially) in place and NOT reported, so
    * the next sweep retries it.
    *
    * Metadata-only: no Spark job runs — at scale this is a manifest/object
    * delete, never a data read.
    */
  def expirePartitions(tableDir: String, column: String,
                       cutoff: String): Seq[String] = {
    val root = new java.io.File(tableDir)
    val prefix = column + "="
    val victims = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .filter { f =>
        val v = f.getName.stripPrefix(prefix)
        v.length == cutoff.length && v < cutoff
      }
      .sortBy(_.getName)
    victims.filter(deleteRecursively)
      .map(_.getName.stripPrefix(prefix)).toSeq
  }

  /** True only if `f` and everything under it was actually deleted. */
  private def deleteRecursively(f: java.io.File): Boolean = {
    val childrenOk = Option(f.listFiles()).getOrElse(Array.empty)
      .forall(deleteRecursively)
    childrenOk && f.delete()
  }
}
