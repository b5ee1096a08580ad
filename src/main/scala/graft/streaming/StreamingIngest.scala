package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Incremental file-arrival ingest — the Spark-native replacement for the
  * reference's whole control plane (S3 event → EventBridge rule → Lambda →
  * Glue job run, /root/reference/health-etl/main.tf:154-193,231-252).
  *
  * A Structured Streaming file source tracks processed files in its
  * checkpoint, giving exactly-once pickup of newly landed CSVs — strictly
  * stronger than the reference's at-least-once EventBridge→Lambda hop — and
  * the parquet sink commits atomically through the same checkpoint.
  * `Trigger.AvailableNow` drains everything pending then stops (the
  * event-driven batch shape); a processing-time trigger turns the same code
  * into a long-running ingester.
  */
object StreamingIngest {

  private def csvStream(spark: SparkSession, srcDir: String,
                        schema: StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("pathGlobFilter", "*.csv")   // the .csv guard, declaratively
      .csv(srcDir)

  /** Start the ingest stream; caller awaits/stops the returned query.
    *
    * @param schema   file-source streams require an explicit schema (no
    *                 inference pass — also what a 100 TB deployment wants)
    * @param ingestDate partition value, parameterized like IngestJob
    */
  def start(spark: SparkSession, srcDir: String, outDir: String,
            checkpointDir: String, schema: StructType,
            ingestDate: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    csvStream(spark, srcDir, schema)
      .withColumn("ingest_date", lit(ingestDate))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("ingest_date")
      .outputMode("append")
      .trigger(trigger)
      .start()
  }

  /** foreachBatch variant: each micro-batch is handed to arbitrary batch
    * logic with its batch id — the standard escape hatch for sinks Spark
    * doesn't ship (idempotent upserts, multi-table writes, JDBC merges).
    * The checkpoint still tracks source progress; the handler makes writes
    * idempotent by keying on `batchId` (re-delivered batches after a crash
    * carry the same id).
    */
  def startForeachBatch(spark: SparkSession, srcDir: String,
                        checkpointDir: String, schema: StructType,
                        trigger: Trigger = Trigger.AvailableNow())(
      handler: (DataFrame, Long) => Unit): StreamingQuery = {
    csvStream(spark, srcDir, schema)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(handler)
      .trigger(trigger)
      .start()
  }
}
