package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.IngestJob
import graft.sources.Sources
import graft.streaming.StreamingIngest

/** The reference pipeline: CSV landing → `ingest_date`-partitioned Parquet
  * → catalog → the published per-partition count query, on two tables.
  *
  *  - Batch (`encounters_batch`): each backfill pass ingests the same
  *    encounter objects with `IngestJob.run` into a new `ingest_date`
  *    partition, and also routes them through `Sources.csvQuarantine` +
  *    `Sources.partitionedParquet` (curated and rejects, a throwaway copy).
  *  - Stream (`encounters`): one small file per day is landed and drained
  *    by `StreamingIngest.start` (AvailableNow); the count query then reads
  *    the curated layer by path.
  *
  * Both tables are registered once per session with `Tables.registerCatalog`;
  * after each batch pass or arrival, `Tables.refreshCatalog` runs and the
  * count query is read again by table name (the publish step). Every count
  * is reported; the Python side checks it against what was landed.
  */
object Etl {
  val schema: StructType = StructType(Seq(
    StructField("patient_id", StringType), StructField("encounter_id", StringType),
    StructField("encounter_ts", TimestampType), StructField("diagnosis", StringType),
    StructField("provider", StringType), StructField("amount", DoubleType),
    StructField("los_days", IntegerType)))
  val required: Seq[String] = Seq("patient_id", "encounter_id", "encounter_ts", "amount")
  val db = "bench"
  private val firstBatchDate = java.time.LocalDate.parse("2026-09-01")
  private val firstArrivalDate = java.time.LocalDate.parse("2026-10-01")

  /** The reference publishes to a Hive-compatible catalog (a Glue
    * database filled by a crawler), so this workload's sessions use the
    * Hive catalog, with its metastore kept in the run's work directory.
    */
  def hiveCatalog(work: Path): Map[String, String] = Map(
    "spark.sql.catalogImplementation" -> "hive",
    "spark.hadoop.javax.jdo.option.ConnectionURL" ->
      s"jdbc:derby:;databaseName=${work.resolve("metastore_db")};create=true",
    "spark.hadoop.hive.exec.scratchdir" -> work.resolve("hive-tmp").toString)

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  private def parquetFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toList
      finally s.close()
    }

  private def err(e: Throwable) = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")

  /** The published query: rows per `ingest_date`, collected. Returns the
    * total row count and the number of partitions it saw.
    */
  private def countByIngestDate(df: DataFrame): (Long, Int) = {
    val rows = df.groupBy("ingest_date").count().collect()
    (rows.map(_.getLong(1)).sum, rows.length)
  }

  /** One published table: its catalog name, its curated layer
    * (`<root>/<name>.parquet`, the layout `Tables.registerCatalog` reads)
    * and how many batches (backfill passes or arrivals) have landed in it.
    */
  final class Published(val root: Path, val name: String) {
    val path: Path = root.resolve(s"$name.parquet")
    var landed = 0
  }

  def run(h: Harness): Unit = {
    val backfill = h.a("backfill")
    val staged = {
      val s = Files.list(h.work.resolve(h.a("arrivals")))
      try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
    }
    var nextStaged = 0
    val batch = new Published(h.work.resolve("batch"), "encounters_batch")
    val stream = new Published(h.work.resolve("stream"), "encounters")
    val landing = Files.createDirectories(h.work.resolve("landing"))
    val chk = h.work.resolve("chk")

    def ingest(phase: String, pass: Int): Unit = {
      val spark = h.spark
      val day = firstBatchDate.plusDays(batch.landed).toString
      val id = h.opId()
      val t0 = System.nanoTime()
      try {
        val n = Trace.span("op")(Trace.span("ingest.run")(IngestJob.run(spark,
          IngestJob.Config(backfill, None, batch.path.toString, day, Some(schema)))))
        val t1 = System.nanoTime()
        batch.landed += 1
        val written = parquetFiles(batch.path.resolve(s"ingest_date=$day"))
        h.record(id, "ingest", "ingest_job", phase, Some((t1 - t0) / 1e9), None,
          "pass" -> pass.toString, "rows" -> n.toString,
          "rows_back" -> spark.read.parquet(batch.path.toString)
            .where(col("ingest_date") === day).count().toString,
          "files_written" -> written.size.toString,
          "bytes_written" -> written.map(Files.size).sum.toString,
          "partitions" -> written.map(_.getParent).distinct.size.toString)
      } catch { case e: Throwable =>
        h.record(id, "ingest", "ingest_job", phase, None, err(e), "pass" -> pass.toString) }
    }

    def quarantine(phase: String, pass: Int): Unit = {
      val spark = h.spark
      val root = h.work.resolve("quarantine")
      val validOut = root.resolve("curated")
      val rejectsOut = root.resolve("rejects")
      val day = firstBatchDate.toString
      val id = h.opId()
      val t0 = System.nanoTime()
      try {
        Trace.span("op") {
          val (valid, rejects) = Trace.span("sources.quarantine")(
            Sources.csvQuarantine(spark, backfill, schema, required))
          Trace.span("sources.write_curated")(Sources.partitionedParquet(
            valid.withColumn("ingest_date", lit(day)), validOut.toString, Seq("ingest_date")))
          Trace.span("sources.write_rejects")(Sources.partitionedParquet(
            rejects.withColumn("ingest_date", lit(day)), rejectsOut.toString, Seq("ingest_date")))
        }
        val t1 = System.nanoTime()
        val reasons = spark.read.parquet(rejectsOut.toString)
          .groupBy(substring_index(col("reason"), ":", 1)).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        h.record(id, "quarantine", "quarantine_write", phase, Some((t1 - t0) / 1e9), None,
          "pass" -> pass.toString,
          "valid_back" -> spark.read.parquet(validOut.toString).count().toString,
          "rejects_unparseable" -> reasons.getOrElse("unparseable", 0L).toString,
          "rejects_missing_required" -> reasons.getOrElse("missing required", 0L).toString)
      } catch { case e: Throwable =>
        h.record(id, "quarantine", "quarantine_write", phase, None, err(e), "pass" -> pass.toString) }
      deleteTree(root)
    }

    def arrival(phase: String): Unit = {
      val spark = h.spark
      val file = staged(nextStaged)
      nextStaged += 1
      val day = firstArrivalDate.plusDays(stream.landed).toString
      val id = h.opId()
      val t0 = System.nanoTime()
      try {
        val (rows, parts) = Trace.span("op") {
          Trace.span("land")(Files.move(file, landing.resolve(file.getFileName),
            StandardCopyOption.ATOMIC_MOVE))
          stream.landed += 1
          Trace.span("streaming.drain") {
            val q = StreamingIngest.start(spark, landing.toString, stream.path.toString,
              chk.toString, schema, day)
            if (Trace.enabled) StreamCounters.bind(q.runId, Trace.current)
            q.awaitTermination()
          }
          Trace.span("publish.path_query")(countByIngestDate(Sources.parquet(spark, stream.path.toString)))
        }
        val t1 = System.nanoTime()
        h.record(id, "arrival", "arrival", phase, Some((t1 - t0) / 1e9), None,
          "landed" -> stream.landed.toString, "rows_seen" -> rows.toString,
          "partitions_seen" -> parts.toString)
      } catch { case e: Throwable => h.record(id, "arrival", "arrival", phase, None, err(e),
        "landed" -> stream.landed.toString) }
    }

    def register(t: Published): Unit =
      Trace.span("tables.register")(graft.Tables.registerCatalog(
        h.spark, t.root.toString, db, Seq(t.name)))

    def publish(t: Published, phase: String): Unit = {
      val spark = h.spark
      val id = h.opId()
      val t0 = System.nanoTime()
      try {
        val (rows, parts) = Trace.span("op") {
          Trace.span("tables.refresh")(graft.Tables.refreshCatalog(spark, db, Seq(t.name)))
          Trace.span("publish.catalog_query")(countByIngestDate(spark.table(s"$db.${t.name}")))
        }
        val t1 = System.nanoTime()
        h.record(id, "publish", t.name, phase, Some((t1 - t0) / 1e9), None,
          "landed" -> t.landed.toString, "rows_seen" -> rows.toString,
          "partitions_seen" -> parts.toString)
      } catch { case e: Throwable => h.record(id, "publish", t.name, phase, None, err(e),
        "landed" -> t.landed.toString) }
    }

    // set-up, several times: a session and the catalog registration of
    // both tables. The first round lands one batch and one arrival before
    // registering, so both layouts exist; then, once, in the last session,
    // a warm-up of every timed step (JIT, codegen, the session's first
    // file-source batch), the backfill steps twice as they run the most code
    for (k <- 1 to h.a.int("setup-rounds")) {
      val t0 = System.nanoTime()
      Trace.setOp(0)
      h.newSession(hiveCatalog(h.work))
      if (k == 1) h.warmup {
        ingest("setup", -1)
        arrival("setup")
      }
      register(batch)
      register(stream)
      h.setupRound(t0)
    }
    h.warmup {
      for (_ <- 1 to 2) {
        ingest("setup", -1)
        quarantine("setup", -1)
      }
      publish(batch, "setup")
      arrival("setup")
      publish(stream, "setup")
    }

    // timed: backfill passes (each published), then arrivals (each
    // published) until the time is up and enough arrivals ran
    val traced = Trace.enabled
    val start = System.nanoTime()
    for (p <- 0 until h.a.int("backfill-passes")) {
      Trace.enabled = traced && p % 2 == 0
      ingest("timed", p)
      quarantine("timed", p)
      publish(batch, "timed")
    }
    var done = 0
    while (!h.timeUp(start, done, h.a.int("min-ops")) && nextStaged < staged.size) {
      Trace.enabled = traced && done % 2 == 0
      arrival("timed")
      publish(stream, "timed")
      done += 1
    }
    Trace.enabled = traced
  }
}
