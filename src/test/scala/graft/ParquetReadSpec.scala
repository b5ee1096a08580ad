package graft

import java.nio.file.{Files, Paths}

import graft.operators.IngestJob
import graft.sources.Sources
import graft.streaming.StreamingIngest
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Sources.parquet` builds the frame `spark.read.parquet` builds — same
  * schema (partition columns and nullability included), same rows — on every
  * layout the engine reads, without submitting a job; where Spark's own read
  * must run (schema merging, a missing path) it does.
  */
class ParquetReadSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertSameRead(path: String): Unit = {
    val (df, jobs) = jobsDuring(Sources.parquet(spark, path))
    assert(jobs == 0, s"building the frame over $path submitted $jobs jobs")
    val want = spark.read.parquet(path)
    assert(df.schema == want.schema, s"$path\n${df.schema.treeString}\n${want.schema.treeString}")
    assert(rows(df) == rows(want), path)
  }

  private val encounters = StructType(Seq(
    StructField("patient_id", StringType), StructField("encounter_id", StringType),
    StructField("amount", DoubleType)))

  private def landCsv(dir: String, name: String): Unit =
    Files.writeString(Paths.get(dir, name),
      "patient_id,encounter_id,amount\nP001,E1001,125.5\nP002,E1002,87.25\n")

  test("the ten fixture tables read with Spark's schema and rows, and no job") {
    // events.ts may be TIMESTAMP(NANOS), which Spark reads only as a long
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.names.foreach(n => assertSameRead(s"$sfDir/$n.parquet"))
  }

  test("an ingest_date layout from two ingest batches: partition column discovered, no job") {
    val (src, out) = (tmp("graft-pq-src"), tmp("graft-pq-out"))
    landCsv(src, "a.csv")
    Seq("2026-09-01", "2026-09-02").foreach(day =>
      IngestJob.run(spark, IngestJob.Config(src, None, out, day, Some(encounters))))
    val df = Sources.parquet(spark, out)
    assert(df.schema("ingest_date").dataType == DateType)
    assertSameRead(out)
  }

  test("a streaming sink directory reads through its metadata log, no job") {
    val (landing, out, chk) = (tmp("graft-pq-land"), tmp("graft-pq-sink"), tmp("graft-pq-chk"))
    landCsv(landing, "a.csv")
    StreamingIngest.start(spark, landing, out, chk, encounters, "2026-10-01")
      .awaitTermination()
    assert(Files.isDirectory(Paths.get(out, "_spark_metadata")))
    assertSameRead(out)
  }

  test("a directory holding _SUCCESS and .crc files reads its data files only, no job") {
    val dir = tmp("graft-pq-marked")
    Tables.load(spark, sfDir, "nation").repartition(2)
      .write.mode("overwrite").parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names.mkString(","))
    assertSameRead(dir)
  }

  test("with schema merging on, the read is Spark's own merged read") {
    val dir = tmp("graft-pq-merge")
    val v1 = Tables.load(spark, sfDir, "nation").select("n_nationkey", "n_name")
    v1.write.mode("append").parquet(dir)
    v1.withColumn("n_extra", lit(1)).write.mode("append").parquet(dir)
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      val (df, jobs) = jobsDuring(Sources.parquet(spark, dir))
      assert(jobs >= 1, "schema merging must run Spark's footer-merge job")
      assert(df.schema == spark.read.parquet(dir).schema)
      assert(df.schema.fieldNames.contains("n_extra"))
    } finally spark.conf.unset(key)
  }

  test("a missing path raises Spark's own error") {
    val missing = s"${tmp("graft-pq-missing")}/absent.parquet"
    val ours = intercept[AnalysisException](Sources.parquet(spark, missing))
    val theirs = intercept[AnalysisException](spark.read.parquet(missing))
    assert(ours.getCondition == theirs.getCondition && ours.getMessage == theirs.getMessage,
      ours.getMessage)
  }
}
