package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Reader/writer surface (SURVEY.md §2.1 S1–S5), formalized.
  *
  * Readers take an explicit schema by default; `csvInferred` reproduces the
  * reference's inference-based read (glue_job_script.py:39-42) for parity,
  * clearly marked as the non-production path (extra pass + type drift).
  * `parquet` takes its schema from one footer read on the driver, so a
  * path read submits no job.
  *
  * Writers: partitioned Parquet is the curated-layer sink
  * (glue_job_script.py:48-53). `partitionedParquet` writes at the frame's
  * own parallelism, with no exchange: each task writes at most one file per
  * partition value it holds, so a one-date batch is written by every scan
  * task instead of the reference's `repartition(1)` single task
  * (glue_job_script.py:49).
  */
object Sources {

  // ------------------------------------------------------------- readers

  /** CSV with a declared schema (production path; S1/S5: `path` may be a
    * single object or a whole directory prefix).
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("pathGlobFilter", "*.csv")
      .csv(path)

  /** CSV with a declared schema and explicit malformed-row policy:
    * "PERMISSIVE" nulls unparseable fields and captures the raw line in
    * `_corrupt_record`, "DROPMALFORMED" silently drops bad rows,
    * "FAILFAST" aborts. The reference's inference-based read has no policy
    * at all — a malformed file just changes the inferred schema.
    */
  def csvStrict(spark: SparkSession, path: String, schema: StructType,
                mode: String = "PERMISSIVE"): DataFrame = {
    val withCorrupt =
      if (mode == "PERMISSIVE")
        schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
      else schema
    spark.read.schema(withCorrupt)
      .option("header", "true")
      .option("mode", mode)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("pathGlobFilter", "*.csv")
      .csv(path)
  }

  /** CSV with inference — reference parity only (S1). */
  def csvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true")
      .option("pathGlobFilter", "*.csv").csv(path)

  /** Quarantine-splitting CSV ingest: route rows that parse and satisfy the
    * required-column contract to the curated side, everything else to a
    * rejects frame carrying the raw line and a per-row reason naming the
    * offending fields — the standard bad-records channel a production
    * ingest publishes next to the table instead of silently dropping
    * (DROPMALFORMED) or poisoning the batch (FAILFAST). One declarative
    * read; both sides are filters over the same scan definition, so
    * Catalyst prunes and pushes independently and nothing is collected.
    * Each side that is written runs its own scan, so writing both parses
    * the input twice.
    *
    * @param requiredCols columns that must be non-null for the curated
    *                     side; defaults to every schema field
    */
  def csvQuarantine(spark: SparkSession, path: String, schema: StructType,
                    requiredCols: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val df = csvStrict(spark, path, schema, "PERMISSIVE")
    val corrupt = col("_corrupt_record")
    val required =
      if (requiredCols.nonEmpty) requiredCols else schema.fieldNames.toSeq
    val contract = required.map(col(_).isNotNull).reduce(_ && _)
    // concat_ws skips nulls: each list keeps only the offending field names.
    // The unparseable reason names ALL null fields (they are what the parser
    // failed on — "row" when every field parsed but the line was still
    // malformed, e.g. extra tokens); the missing-required reason names only
    // violated REQUIRED columns, never optional ones.
    def nullNames(names: Seq[String]) = concat_ws(",", array(
      names.map(f =>
        when(col(f).isNull, lit(f)).otherwise(lit(null).cast("string"))): _*))
    val nullAll = nullNames(schema.fieldNames.toSeq)
    val nullRequired = nullNames(required)
    val valid = df.filter(corrupt.isNull && contract).drop("_corrupt_record")
    // raw_record: the parser's captured line for malformed rows; contract
    // violations parsed cleanly, so their line is re-rendered from the
    // typed fields via to_csv (canonical, not byte-identical on quoting)
    val rejects = df.filter(corrupt.isNotNull || !contract)
      .select(schema.fieldNames.map(col).toSeq :+
        coalesce(corrupt,
          to_csv(struct(schema.fieldNames.map(col).toSeq: _*))).as("raw_record") :+
        when(corrupt.isNotNull, concat(lit("unparseable: "),
          when(nullAll === "", lit("row")).otherwise(nullAll)))
          .otherwise(concat(lit("missing required: "), nullRequired))
          .as("reason"): _*)
    (valid, rejects)
  }

  /** JSON-lines with a declared schema. */
  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Parquet (S3): schema travels with the files; partition columns are
    * discovered from the Hive layout and prunable. The frame is the one
    * `spark.read.parquet(path)` builds, over one listing of the path, but
    * its data schema comes from one footer read on the driver, so building
    * it submits no job (Spark's own inference runs a one-task job per
    * read). With schema merging on, with parquet served by the V2 source,
    * with no data file, or when the footer cannot be read, this is
    * `spark.read.parquet(path)` itself.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    GraftParquet.read(spark, path).getOrElse(spark.read.parquet(path))

  /** Parquet with schema evolution: a long-lived table accretes columns over
    * its lifetime; `mergeSchema` reconciles every file footer into the union
    * schema (old files surface the new columns as null). Footer merging
    * costs one distributed metadata pass — why it's an explicit variant and
    * not the default read.
    */
  def parquetEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** ORC scan — the other columnar lake format (Hive-ecosystem tables
    * arrive this way); predicate pushdown, column pruning and partition
    * discovery behave as for parquet.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Whole-line text scan: one `value` row per line — the raw-corpus
    * ingest shape (each line a document / JSON blob to parse downstream).
    */
  def text(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** JDBC read — the warehouse leg of the reference's stack (its curated
    * layer is served to a SQL warehouse, README.md:92-101; Athena/Redshift
    * both speak JDBC from Spark). Catalyst pushes filters and column
    * pruning through the connector into the remote `WHERE`/`SELECT` list,
    * so a predicate on the wrapped frame reaches the warehouse instead of
    * materializing the table (`JDBCRelation ... PushedFilters` in the plan).
    * One connection = one partition: this single-stream variant is for
    * small dimension pulls only.
    */
  def jdbc(spark: SparkSession, url: String, table: String,
           props: Map[String, String] = Map.empty): DataFrame =
    props.foldLeft(
      spark.read.format("jdbc").option("url", url).option("dbtable", table)) {
      case (r, (k, v)) => r.option(k, v)
    }.load()

  /** Parallel JDBC read: `numPartitions` range-sliced queries on
    * `partitionColumn ∈ [lower, upper]` — the only way a JDBC source scales
    * past one connection. Bounds only shape the slicing; rows outside still
    * arrive (Spark adds the stride predicates, no filtering). At 100 TB the
    * warehouse side is the bottleneck, so `numPartitions` is a
    * politeness/parallelism dial, not a throughput guarantee.
    */
  def jdbcPartitioned(spark: SparkSession, url: String, table: String,
                      partitionColumn: String, lower: Long, upper: Long,
                      numPartitions: Int,
                      props: Map[String, String] = Map.empty): DataFrame =
    props.foldLeft(
      spark.read.format("jdbc")
        .option("url", url).option("dbtable", table)
        .option("partitionColumn", partitionColumn)
        .option("lowerBound", lower).option("upperBound", upper)
        .option("numPartitions", numPartitions)) {
      case (r, (k, v)) => r.option(k, v)
    }.load()

  /** JDBC write (append/overwrite a warehouse table). `batchsize` rows per
    * round-trip per task; writes run with the frame's parallelism, so
    * repartition small before writing to a connection-limited warehouse.
    */
  def jdbcSink(df: DataFrame, url: String, table: String,
               mode: String = "append",
               props: Map[String, String] = Map.empty): Unit =
    props.foldLeft(
      df.write.format("jdbc").option("url", url).option("dbtable", table)) {
      case (w, (k, v)) => w.option(k, v)
    }.mode(mode).save()

  // ------------------------------------------------------------- writers

  /** Hive-partitioned Parquet append (S2), scalable: no exchange and no
    * `repartition(1)`. Rows are written at the frame's parallelism; each
    * task writes at most one file per partition value it holds.
    */
  def partitionedParquet(df: DataFrame, out: String,
                         partitionCols: Seq[String],
                         mode: String = "append"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(out)

  /** Range-clustered Parquet layout — the data-skipping technique Hive
    * partitioning can't give a high-cardinality column: range-partition on
    * the cluster columns (each output file owns a disjoint key range) and
    * sort rows inside each file, so parquet row-group min/max stats let a
    * point or range predicate skip every other file/row-group at scan time.
    * At 100 TB this is the difference between reading one file and reading
    * the table: Z-order's 1-D special case, done with two built-in
    * operators and zero custom code.
    */
  def rangeClusteredParquet(df: DataFrame, out: String, clusterCols: Seq[String],
                            files: Int, mode: String = "overwrite"): Unit =
    df.repartitionByRange(files, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode(mode).parquet(out)

  /** Z-order (Morton) clustered Parquet layout — multi-dimensional data
    * skipping where [[rangeClusteredParquet]] is 1-D: rows sort by the
    * bit-interleaved z-value of TWO cluster columns, so every output file
    * owns a tight bounding box in BOTH dimensions and parquet min/max
    * stats prune point/range predicates on either column (a 1-D layout
    * clusters its first column perfectly and leaves the second spanning
    * the whole domain in every file). Columns must be non-negative bigint
    * surrogate ids. The z column is dropped before writing.
    */
  def zorderClusteredParquet(df: DataFrame, out: String,
                             colA: String, colB: String,
                             files: Int, mode: String = "overwrite"): Unit = {
    df.withColumn("_z", graft.functions.ZValue.zvalue(col(colA), col(colB)))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode(mode).parquet(out)
  }

  /** CSV export (header on, one directory of part files). */
  def csvSink(df: DataFrame, out: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).option("header", "true").csv(out)

  /** JSON-lines export. */
  def jsonSink(df: DataFrame, out: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(out)

  /** ORC export. */
  def orcSink(df: DataFrame, out: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).orc(out)

  /** Line-text export: requires a single string column. */
  def textSink(df: DataFrame, out: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).text(out)
}
