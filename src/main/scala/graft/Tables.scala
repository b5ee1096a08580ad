package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** Loads the driver testdata tables (TESTDATA.md / FIXTURES.md §B) from a
  * scale-factor directory and registers them as temp views for SQL queries.
  *
  * At 100 TB these parquet directories would be Hive-partitioned table roots;
  * `Sources.parquet` + Catalyst gives partition discovery/pruning, predicate
  * pushdown and column pruning with no engine code — see SURVEY.md §4.2.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // The driver testdata has shipped events.ts in two physical layouts
      // across rounds: parquet TIMESTAMP(NANOS) — which Spark's µs
      // TimestampType cannot represent and refuses to read without
      // nanosAsLong — and plain TIMESTAMP(MICROS) with no zone, which Spark
      // reads as TIMESTAMP_NTZ. Normalize both to session-zone
      // TimestampType: the int64 ns path truncates ns→µs with integral
      // division (exactly DuckDB's ns→µs read), and the NTZ path is a
      // value-preserving cast under the pinned UTC session zone (DuckDB
      // likewise treats the naive µs values as-is) — so oracle comparisons
      // and orderings agree on either layout.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = Sources.parquet(spark, s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    } else Sources.parquet(spark, s"$dir/$name.parquet")

  /** Rebalance rows across the session's shuffle parallelism before heavy
    * per-row compute (shingling, hashing, vector math). At cluster scale a
    * scan arrives in many partitions already; a local small-file scan is ONE
    * partition, which would serialize all downstream per-row work on a
    * single thread. One round-robin exchange buys full-width parallelism.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)

  /** Register every table as a temp view (idempotent). Each view costs one
    * listing and one footer read on the driver; no job runs.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Durable-catalog registration — the reference's Glue-database parity
    * (crawler → database, health-etl/main.tf:196-204): every table becomes
    * an EXTERNAL table in the session catalog (metadata only; data stays in
    * place, no copy). Under a persistent metastore (Hive/Glue — a deployment
    * setting, `spark.sql.catalogImplementation`) the registration survives
    * sessions; the in-memory catalog used in tests keeps the same DDL path.
    * Idempotent: re-registering points the table at the (possibly new) dir.
    */
  def registerCatalog(spark: SparkSession, dir: String, db: String = "graft",
                      tables: Seq[String] = names): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    // events is TIMESTAMP(NANOS) parquet; the raw int64 lands in
    // `<db>.events_raw` and `<db>.events` is a VIEW applying the same
    // ns→µs conversion load() applies, so name-reads and path-reads of
    // events agree (previously a name-read silently returned the raw long).
    // CAVEAT: the nanosAsLong conf is session-scoped and a view cannot
    // capture it — under a persistent metastore a FRESH session must call
    // registerCatalog/refreshCatalog (or set the conf) before reading
    // `<db>.events`; the parquet reader refuses TIMESTAMP(NANOS) otherwise.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables.foreach { n =>
      if (n == "events") {
        // `events` may pre-exist as either a VIEW (this layout) or a TABLE
        // (pre-view registrations in a persistent metastore) — DROP VIEW on
        // a table (and vice versa) throws, so pick the matching command
        if (spark.catalog.tableExists(s"$db.events")) {
          val kind = spark.catalog.getTable(db, "events").tableType
          if (kind == "VIEW") spark.sql(s"DROP VIEW IF EXISTS $db.events")
          else spark.sql(s"DROP TABLE IF EXISTS $db.events")
        }
        spark.sql(s"DROP TABLE IF EXISTS $db.events_raw")
        spark.catalog.createTable(s"$db.events_raw", s"$dir/events.parquet", "parquet")
        val raw = Sources.parquet(spark, s"$dir/events.parquet")
        // mirror load()'s two-layout ts normalization in view SQL
        val tsExpr = raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            "timestamp_micros(ts div 1000) AS ts"
          case org.apache.spark.sql.types.TimestampNTZType =>
            "CAST(ts AS TIMESTAMP) AS ts"
          case _ => "`ts`"
        }
        val cols = raw.schema.fieldNames.map {
          case "ts" => tsExpr
          case f => s"`$f`"
        }
        spark.sql(s"CREATE OR REPLACE VIEW $db.events AS " +
          s"SELECT ${cols.mkString(", ")} FROM $db.events_raw")
      } else {
        spark.sql(s"DROP TABLE IF EXISTS $db.$n")
        spark.catalog.createTable(s"$db.$n", s"$dir/$n.parquet", "parquet")
      }
    }
    recoverPartitions(spark, db, tables)
  }

  /** The reference's periodic re-crawl (T3): drop cached file listings and
    * schema for every registered table so out-of-band appends become
    * visible — `refreshTable` is exactly Glue's incremental crawl analogue.
    * A partitioned table (an `ingest_date=` layout) also gets the
    * partitions that landed since the last crawl added to the catalog, as
    * the reference's crawler does (health-etl/main.tf:196-204): such a table
    * reads only the partitions its catalog lists. (`events` resolves to its
    * backing external table, since the registered `events` itself is the
    * conversion view.)
    */
  def refreshCatalog(spark: SparkSession, db: String = "graft",
                     tables: Seq[String] = names): Unit = {
    tables.foreach(n => spark.catalog.refreshTable(backing(db, n)))
    recoverPartitions(spark, db, tables)
  }

  private def backing(db: String, n: String): String =
    s"$db.${if (n == "events") "events_raw" else n}"

  // recovery throws NOT_A_PARTITIONED_TABLE on any other table
  private def recoverPartitions(spark: SparkSession, db: String, tables: Seq[String]): Unit =
    tables.map(backing(db, _))
      .filter(t => spark.catalog.listColumns(t).collect().exists(_.isPartition))
      .foreach(spark.catalog.recoverPartitions)
}
