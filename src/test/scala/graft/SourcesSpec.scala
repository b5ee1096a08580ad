package graft

import java.nio.file.Files

import graft.sources.{Sources, TableSchemas}
import org.apache.spark.sql.functions._

/** Reader/writer roundtrips: every format preserves schema + rows; the
  * partitioned parquet sink produces a prunable Hive layout without a
  * single-writer bottleneck.
  */
class SourcesSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val orders = Tables.load(spark, sfDir, "orders")

  test("csv roundtrip with explicit schema preserves types and rows") {
    val dir = tmp("graft-csv")
    // timestamps go through CSV as strings; export a string-safe projection
    val src = orders.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    Sources.csvSink(src, dir)
    val back = Sources.csv(spark, dir,
      org.apache.spark.sql.types.StructType(TableSchemas.orders.fields.take(4)))
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    assert(back.agg(sum("o_orderkey")).head.getLong(0) ==
      src.agg(sum("o_orderkey")).head.getLong(0))
  }

  test("json roundtrip with explicit schema") {
    val dir = tmp("graft-json")
    val src = Tables.load(spark, sfDir, "documents")
    Sources.jsonSink(src, dir)
    val back = Sources.json(spark, dir, TableSchemas.documents)
    assert(back.count() == src.count())
    assert(back.agg(sum(length(col("text")))).head.getLong(0) ==
      src.agg(sum(length(col("text")))).head.getLong(0))
  }

  test("orc roundtrip preserves schema, rows, and filter pushdown") {
    val dir = tmp("graft-orc")
    val src = orders.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    Sources.orcSink(src, dir)
    val back = Sources.orc(spark, dir)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    assert(back.agg(sum("o_orderkey")).head.getLong(0) ==
      src.agg(sum("o_orderkey")).head.getLong(0))
    // pushdown reaches the ORC scan exactly as it does for parquet
    val plan = back.filter(col("o_orderkey") === 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,1)]"),
      plan.linesIterator.take(12).mkString("\n"))
  }

  test("text roundtrip: one value row per line") {
    val dir = tmp("graft-text")
    val src = Tables.load(spark, sfDir, "documents").select(col("text"))
    Sources.textSink(src, dir)
    val back = Sources.text(spark, dir)
    assert(back.columns.toSeq == Seq("value"))
    assert(back.count() == src.count())
    assert(back.agg(sum(length(col("value")))).head.getLong(0) ==
      src.agg(sum(length(col("text")))).head.getLong(0))
  }

  test("partitioned parquet sink: Hive layout, no single-task write, prunable") {
    val dir = tmp("graft-part")
    val src = orders.withColumn("order_year", year(col("o_orderdate")))
    // one write job, with no exchange stage before it
    val (_, jobs) = jobsDuring(Sources.partitionedParquet(src, dir, Seq("order_year")))
    assert(jobs == 1, s"the partitioned write submitted $jobs jobs")
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("order_year=")), dirs.mkString(","))
    val back = Sources.parquet(spark, dir)
    assert(back.count() == src.count())
    // partition pruning: filtering on the partition column scans one dir
    val pruned = back.filter(col("order_year") === 2000)
    val scanned = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() ==
      src.filter(col("order_year") === 2000).count())
    assert(!scanned.contains("PushedFilters: [IsNotNull(order_year)"),
      "partition filter should prune, not post-filter")
    // one partition value over 4 input partitions: every input task writes
    // its own file, since no exchange funnels the value's rows to one writer
    val one = tmp("graft-part-one")
    val constant = orders.repartition(4).withColumn("order_year", lit(2000))
    Sources.partitionedParquet(constant, one, Seq("order_year"))
    val files = new java.io.File(one, "order_year=2000").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length >= 2, s"${files.length} part file(s) for one partition value")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(Sources.parquet(spark, one)) == rows(constant))
  }

  test("malformed CSV rows: PERMISSIVE captures, DROPMALFORMED drops, row counts differ") {
    val dir = tmp("graft-corrupt")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "data.csv"),
      "o_orderkey,o_custkey\n1,10\noops\n3,30\n")
    val schema = org.apache.spark.sql.types.StructType(
      TableSchemas.orders.fields.take(2))
    // Spark disallows querying only _corrupt_record straight off the file —
    // parse once into cache first (the documented pattern)
    val permissive = Sources.csvStrict(spark, dir, schema, "PERMISSIVE").cache()
    assert(permissive.count() == 3)
    assert(permissive.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(permissive.filter(col("o_orderkey").isNull).count() == 1)
    val dropped = Sources.csvStrict(spark, dir, schema, "DROPMALFORMED")
    // count() parses no columns under CSV column pruning, so malformed rows
    // are only dropped when fields are actually read — assert on real rows
    assert(dropped.select("o_orderkey", "o_custkey").collect().length == 2)
    assert(dropped.agg(sum("o_custkey")).head.getLong(0) == 40)
  }

  test("quarantine split: curated rows pass, rejects carry raw line and reason") {
    val dir = tmp("graft-quarantine")
    // good / unparseable / missing-required / good
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "data.csv"),
      "o_orderkey,o_custkey\n1,10\noops\n4,\n5,50\n")
    val schema = org.apache.spark.sql.types.StructType(
      TableSchemas.orders.fields.take(2))
    val (valid, rejects) = Sources.csvQuarantine(spark, dir, schema)
    val good = valid.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(good.toSeq == Seq((1L, 10L), (5L, 50L)))
    assert(!valid.columns.contains("_corrupt_record"))
    val rej = rejects.collect()
      .map(r => (Option(r.getAs[String]("raw_record")), r.getAs[String]("reason")))
    assert(rej.length == 2, rej.mkString(","))
    val byKind = rej.groupBy(_._2.takeWhile(_ != ':'))
    assert(byKind("unparseable").head._1.exists(_.contains("oops")))
    assert(byKind("unparseable").head._2.contains("o_custkey"))
    assert(byKind("missing required").head._2 == "missing required: o_custkey")
    // contract-violation rows parsed cleanly, so their line is re-rendered
    // (canonical CSV), never a null raw_record
    assert(byKind("missing required").head._1.exists(_.startsWith("4")))
    // nothing lost: curated + quarantined = all input rows
    assert(valid.count() + rejects.count() == 4)
  }

  test("quarantine reads only *.csv: a stray .txt beside the CSV is not ingested") {
    val dir = tmp("graft-quarantine-stray")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "data.csv"),
      "o_orderkey,o_custkey\n1,10\n2,20\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "notes.txt"),
      "landing notes\nbatch of 2 rows, see data.csv\n")
    val schema = org.apache.spark.sql.types.StructType(
      TableSchemas.orders.fields.take(2))
    val (valid, rejects) = Sources.csvQuarantine(spark, dir, schema)
    assert(valid.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val rej = rejects.collect().map(_.getAs[String]("raw_record"))
    assert(rej.isEmpty, rej.mkString("|"))
  }

  test("quarantine reasons respect the required-column subset") {
    val dir = tmp("graft-quarantine2")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "data.csv"),
      "o_orderkey,o_custkey\n4,\n,\n")
    val schema = org.apache.spark.sql.types.StructType(
      TableSchemas.orders.fields.take(2))
    // only o_orderkey is required: "4," is CURATED (custkey optional), and
    // the reason for ",," names the required violation alone — not the
    // optional column
    val (valid, rejects) = Sources.csvQuarantine(spark, dir, schema,
      requiredCols = Seq("o_orderkey"))
    assert(valid.collect().map(_.getLong(0)).toSeq == Seq(4L))
    val rej = rejects.collect().map(_.getAs[String]("reason"))
    assert(rej.toSeq == Seq("missing required: o_orderkey"), rej.mkString("|"))
  }

  test("foreachBatch ingest: custom batch sink sees each file-batch exactly once") {
    val src = tmp("graft-febatch-src")
    val ckpt = tmp("graft-febatch-ckpt")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(src, "a.csv"),
      "o_orderkey,o_custkey\n1,10\n2,20\n")
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val schema = org.apache.spark.sql.types.StructType(
      TableSchemas.orders.fields.take(2))
    val q = graft.streaming.StreamingIngest.startForeachBatch(
      spark, src, ckpt, schema) { (df, batchId) =>
      seen.put(batchId, df.count())
    }
    q.awaitTermination(60000)
    assert(seen.size == 1 && seen.values().iterator().next() == 2, seen.toString)
  }

  test("schema evolution: merged read unions columns, old files read null") {
    val dir = tmp("graft-evolve")
    val v1 = orders.select("o_orderkey", "o_totalprice")
    v1.write.mode("append").parquet(dir)
    val v2 = orders.select("o_orderkey", "o_totalprice")
      .withColumn("o_priority_score", col("o_totalprice") * 0.1)
    v2.write.mode("append").parquet(dir)
    val merged = Sources.parquetEvolved(spark, dir)
    assert(merged.schema.fieldNames.contains("o_priority_score"))
    assert(merged.count() == orders.count() * 2)
    // rows from v1 files surface the evolved column as null
    assert(merged.filter(col("o_priority_score").isNull).count() == orders.count())
  }

  test("range-clustered layout: files own disjoint sorted key ranges") {
    val dir = tmp("graft-range")
    Sources.rangeClusteredParquet(orders, dir, Seq("o_custkey"), files = 8)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length == 8, parts.length.toString)
    // per-file key ranges must be pairwise disjoint — that's what lets
    // row-group min/max stats skip every non-matching file at scan time
    val ranges = parts.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("o_custkey"), max("o_custkey")).head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2, ranges.mkString(","))
      case _ =>
    }
    // nothing lost in the re-layout
    assert(spark.read.parquet(dir).count() == orders.count())
  }

  test("zvalue interleaves bits (a at even, b at odd positions) and rejects negatives") {
    import graft.functions.ZValue.interleave
    assert(interleave(0L, 0L) == 0L)
    assert(interleave(3L, 0L) == 5L)   // a bits -> positions 0,2
    assert(interleave(0L, 3L) == 10L)  // b bits -> positions 1,3
    assert(interleave(0xFFFFFFFFL, 0xFFFFFFFFL) == -1L) // all 64 bits set
    // z-order locality: close points interleave to close z-values
    assert(interleave(5L, 5L) < interleave(1000L, 1000L))
    intercept[IllegalArgumentException](interleave(-1L, 0L))
  }

  test("z-order layout prunes on BOTH dimensions where 1-D clustering can't") {
    val zdir = tmp("graft-zorder")
    val rdir = tmp("graft-zorder-1d")
    val src = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val files = 16
    Sources.zorderClusteredParquet(src, zdir, "o_custkey", "o_orderkey", files)
    Sources.rangeClusteredParquet(src, rdir, Seq("o_custkey"), files)
    def boxes(dir: String): Array[(Long, Long, Long, Long)] =
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min("o_custkey"), max("o_custkey"),
              min("o_orderkey"), max("o_orderkey")).head
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }
    // probe: how many files could contain an orderkey-only point predicate
    // (what min/max stats pruning checks). 1-D custkey clustering gives the
    // second dimension no locality — every file spans ~the whole orderkey
    // domain; z-order gives every file a tight box in BOTH dimensions.
    // interior probe points: a file's min/max box contains a domain
    // ENDPOINT only if the file holds that exact extreme row, so endpoints
    // under-count the 1-D baseline's true spans
    val dom = src.agg(min("o_orderkey"), max("o_orderkey")).head
    val (kLo, kHi) = (dom.getLong(0), dom.getLong(1))
    val probes = (1 to 3).map(i => kLo + (kHi - kLo) * i / 4)
    def hitFrac(bs: Array[(Long, Long, Long, Long)]): Double =
      probes.map(k => bs.count(b => b._3 <= k && k <= b._4)).sum.toDouble /
        (probes.size * bs.length)
    val zHit = hitFrac(boxes(zdir))
    val rHit = hitFrac(boxes(rdir))
    assert(rHit > 0.8, s"1-D layout unexpectedly clustered orderkey: $rHit")
    assert(zHit < 0.5 * rHit, s"z-order gave no orderkey locality: $zHit vs 1-D $rHit")
    // nothing lost in the re-layout
    assert(spark.read.parquet(zdir).count() == src.count())
  }

  test("catalog registration: external tables resolve by name, refresh sees appends") {
    // external table over a writable copy of nation, so we can append
    val dir = tmp("graft-catalog")
    val nation = Tables.load(spark, TestSpark.Sf0001, "nation")
    nation.write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Tables.registerCatalog(spark, dir, db = "cat_test_nation", tables = Seq("nation"))
    // table metadata only — data was not copied, and name-reads match path-reads
    val viaCatalog = spark.table("cat_test_nation.nation")
    assert(viaCatalog.count() == nation.count())
    assert(spark.catalog.tableExists("cat_test_nation.nation"))
    // out-of-band append (what the reference's crawler re-discovers)...
    nation.limit(3).write.mode("append").parquet(s"$dir/nation.parquet")
    Tables.refreshCatalog(spark, db = "cat_test_nation", tables = Seq("nation"))
    // ...is visible after refresh
    assert(spark.table("cat_test_nation.nation").count() == nation.count() + 3)
    // registration is idempotent
    Tables.registerCatalog(spark, dir, db = "cat_test_nation", tables = Seq("nation"))
    assert(spark.table("cat_test_nation.nation").count() == nation.count() + 3)
  }

  test("catalog events view applies the same ns->us conversion as path reads") {
    // events.ts ships as TIMESTAMP(NANOS) or TIMESTAMP(MICROS) parquet
    // depending on the testdata round: a raw external table would expose
    // the int64 nanos / NTZ µs, silently diverging from Tables.load — the
    // registered `events` must be the normalization view over `events_raw`
    Tables.registerCatalog(spark, TestSpark.Sf0001,
      db = "cat_test_events", tables = Seq("events"))
    val byName = spark.table("cat_test_events.events")
    val byPath = Tables.load(spark, TestSpark.Sf0001, "events")
    assert(byName.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(byName.schema == byPath.schema)
    val a = byName.orderBy("event_id").limit(5).collect().toSeq
    val b = byPath.orderBy("event_id").limit(5).collect().toSeq
    assert(a == b)
  }

  test("inferred csv read reproduces the reference parity path") {
    val dir = tmp("graft-infer")
    Sources.csvSink(orders.select("o_orderkey", "o_totalprice"), dir)
    val back = Sources.csvInferred(spark, dir)
    // inference picks the narrowest integral type that fits the data
    assert(Set("integer", "long").contains(back.schema("o_orderkey").dataType.typeName))
    assert(back.schema("o_totalprice").dataType.typeName == "double")
    assert(back.count() == orders.count())
  }
}
