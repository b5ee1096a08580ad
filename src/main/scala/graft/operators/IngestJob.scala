package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.Sources

/** Reference-parity batch ingest (the whole of
  * /root/reference/health-etl/glue_job_script.py, idiomatic Spark):
  * CSV (single object or whole prefix) → `.csv` suffix guard → header +
  * schema handling → constant `ingest_date` partition column → Hive-layout
  * Parquet, append mode.
  *
  * Differences from the reference, on purpose:
  *  - `ingestDate` is a parameter, not wall-clock
  *    (glue_job_script.py:26 reads UTC now — untestable and non-reproducible);
  *  - an explicit schema can be supplied, skipping the inferSchema extra
  *    read pass (glue_job_script.py:41 always pays it);
  *  - NO `repartition(1)` (glue_job_script.py:49): writer parallelism
  *    follows the scan, so a 100 TB backfill writes with every core instead
  *    of one task; `maxRecordsPerFile` bounds file size instead.
  */
object IngestJob {

  final case class Config(
      srcDir: String,
      objectKey: Option[String],      // one object (Lambda-triggered path) or whole prefix
      outDir: String,
      ingestDate: String,             // "yyyy-MM-dd", supplied not read from the clock
      schema: Option[StructType] = None,
      maxRecordsPerFile: Long = 5000000L)

  /** The suffix guard both the reference's Lambda (main.tf:241-243) and Glue
    * job (glue_job_script.py:33-35) apply; collapsed into the one entry point.
    */
  def isCsv(key: String): Boolean = key.toLowerCase.endsWith(".csv")

  /** Read the configured CSV source; None if the object key fails the guard
    * (the reference exits 0 without running, glue_job_script.py:33-35).
    */
  def read(spark: SparkSession, cfg: Config): Option[DataFrame] = {
    if (cfg.objectKey.exists(!isCsv(_))) return None
    val path = cfg.objectKey match {
      case Some(key) => s"${cfg.srcDir}/$key"
      case None      => cfg.srcDir
    }
    // both readers take only *.csv files, so prefix scans skip non-CSV too
    Some(cfg.schema match {
      case Some(s) => Sources.csv(spark, path, s)
      case None    => Sources.csvInferred(spark, path)
    })
  }

  /** Full job: returns number of rows ingested BY THIS RUN (0 = guard
    * skipped). Counted from the job's own write metrics — re-reading the
    * output partition would report cumulative rows on a same-date re-ingest
    * (append mode), and a separate `df.count()` would pay a second source
    * scan.
    */
  def run(spark: SparkSession, cfg: Config): Long =
    read(spark, cfg) match {
      case None => 0L
      case Some(df) =>
        val obs = org.apache.spark.sql.Observation()
        df.withColumn("ingest_date", lit(cfg.ingestDate))
          .observe(obs, count(lit(1)).as("rows"))
          .write
          .mode(SaveMode.Append)
          .option("maxRecordsPerFile", cfg.maxRecordsPerFile)
          .partitionBy("ingest_date")
          .parquet(cfg.outDir)
        obs.get("rows").asInstanceOf[Long]
    }
}
