package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Benchmark harness entry point, launched by `perfbench/run.py`.
  *
  *   perfbench.Main --mode <metastore|queries|etl> --out <dir> [--key value ...]
  *
  * `metastore` creates an empty Hive metastore under `--out`.
  * `queries` and `etl` run a workload and write `<out>/run.json`: setup
  * round times, one record per operation, peak RSS and, when tracing, the
  * spans and the counters filed under them. Checking outputs against the
  * oracle and turning records into metrics is the Python side's job.
  */
object Main {
  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
  }

  def parse(args: Array[String]): Args =
    new Args(args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    a("mode") match {
      case "metastore" =>
        // an empty Hive metastore, made once per build and copied into each
        // ingest run, as a deployment's catalog exists before its jobs run
        val spark = (Etl.hiveCatalog(out) + ("spark.sql.warehouse.dir" -> out.resolve("warehouse").toString))
          .foldLeft(SparkSession.builder().master("local[1]")) { case (b, (k, v)) => b.config(k, v) }
          .getOrCreate()
        spark.catalog.listDatabases().collect()
        spark.stop()
      case mode =>
        Trace.enabled = a("trace") == "1"
        val h = new Harness(a, out)
        try {
          if (mode == "etl") Etl.run(h) else QueryRun.run(h)
          h.finish()
        } finally h.stop()
    }
  }
}

/** State shared by both workloads: the session, the operation log and the
  * run report.
  */
final class Harness(val a: Main.Args, val out: Path) {
  val cores: Int = a.int("cores")
  val seconds: Double = a("seconds").toDouble
  val hardStopNs: Long = System.nanoTime() + (a("max-seconds").toDouble * 1e9).toLong
  val work: Path = Paths.get(a("work"))
  var spark: SparkSession = _
  private val setupS = mutable.ArrayBuffer.empty[Double]
  private var warmupNs = 0L
  private val ops = mutable.ArrayBuffer.empty[String]
  private val extra = mutable.LinkedHashMap.empty[String, String]
  private var nextOp = 0

  /** (Re)build the session through the engine's own builder, with
    * `extra` settings on top.
    */
  def newSession(extra: Map[String, String] = Map.empty): SparkSession = {
    roundWarmupNs = 0L
    if (spark != null) {
      graft.Caches.releaseAll()
      spark.stop()
    }
    spark = Trace.span("sessions.build") {
      (Map(
        "spark.ui.enabled" -> "false",
        "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
        "spark.local.dir" -> work.resolve("spark-local").toString) ++ extra)
        .foldLeft(graft.Sessions.builder(s"local[$cores]", cores)) { case (b, (k, v)) => b.config(k, v) }
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    Trace.attach(spark.sparkContext)
    if (Trace.enabled) spark.streams.addListener(StreamCounters)
    spark
  }

  /** Close a set-up round that started at `t0`, less any warm-up inside it. */
  def setupRound(t0: Long): Unit = setupS += (System.nanoTime() - t0 - roundWarmupNs) / 1e9

  private var roundWarmupNs = 0L

  /** Run set-up work that is done once per run, not once per round. */
  def warmup(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    val d = System.nanoTime() - t0
    warmupNs += d
    roundWarmupNs += d
  }

  def opId(): Int = { nextOp += 1; Trace.setOp(nextOp); nextOp }

  /** Log one operation. `latencyS` is null for a failed one. */
  def record(id: Int, kind: String, name: String, phase: String, latencyS: Option[Double],
             error: Option[String], fields: (String, String)*): Unit =
    ops += Json.obj(Seq("id" -> id.toString, "kind" -> Json.str(kind), "name" -> Json.str(name),
      "phase" -> Json.str(phase), "traced" -> Trace.enabled.toString,
      "latency_s" -> latencyS.map(Json.num).getOrElse("null"),
      "error" -> error.map(Json.str).getOrElse("null")) ++ fields)

  def put(k: String, jsonValue: String): Unit = extra(k) = jsonValue

  /** Whether a timed phase that began at `startNs` ends now: `--seconds`
    * have passed and `done` reached `min`, or the hard stop is near.
    */
  def timeUp(startNs: Long, done: Int, min: Int): Boolean = {
    val now = System.nanoTime()
    now >= hardStopNs || (now - startNs >= seconds * 1e9 && done >= min)
  }

  /** Host reading recorded with every run: a fixed pure-compute Spark job
    * (a hash sum over an in-memory range, shifted so it cannot overflow),
    * collected so no part of it is pruned; best of two.
    */
  private def canary(): Double = (1 to 2).map { _ =>
    import org.apache.spark.sql.functions.{col, shiftright, sum, xxhash64}
    val t0 = System.nanoTime()
    spark.range(0, 30000000L, 1, cores).select(sum(shiftright(xxhash64(col("id")), 32))).collect()
    (System.nanoTime() - t0) / 1e9
  }.min

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Heap still in use after full collections: what the run retains. The
    * pauses let Spark's context cleaner drop the shuffle, broadcast and
    * checkpoint state of RDDs the first collection found unreachable.
    */
  private def retainedHeapMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def finish(): Unit = {
    val rss = peakRssMb
    put("retained_heap_mb", Json.num(retainedHeapMb))
    val wasTraced = Trace.enabled
    Trace.enabled = false
    put("canary_cpu_s", Json.num(canary()))
    if (wasTraced) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      put("kernels", Kernels.run(spark, a("data")))
      put("spans", Trace.spansJson)
      put("counters", Counters.json)
      put("streams", StreamCounters.json)
    }
    val report = Json.obj(Seq(
      "cores" -> cores.toString, "peak_rss_mb" -> Json.num(rss),
      "setup_rounds_s" -> Json.arr(setupS.map(Json.num)), "warmup_s" -> Json.num(warmupNs / 1e9),
      "ops" -> ops.mkString("[", ",\n", "]")) ++ extra)
    Files.writeString(out.resolve("run.json"), report)
  }

  def stop(): Unit = if (spark != null) spark.stop()
}

object Results {
  /** Digest of a collected result: schema plus every row's rendering. */
  def digest(df: DataFrame, rows: Array[Row]): String = {
    val h = scala.util.hashing.MurmurHash3
    val parts = df.schema.simpleString +: rows.toSeq.map(Json.row)
    val a = h.orderedHash(parts, 0x5eed)
    val b = h.orderedHash(parts.reverse, 0xfeed)
    f"$a%08x$b%08x"
  }

  /** Write a collected result as JSON lines: the column names and Spark
    * types, then one array per row.
    */
  def dump(path: Path, df: DataFrame, rows: Array[Row]): Unit = {
    val cols = Json.arr(df.schema.fields.toSeq.map(f =>
      Json.arr(Seq(Json.str(f.name), Json.str(f.dataType.simpleString)))))
    val w = Files.newBufferedWriter(path)
    try {
      w.write(cols); w.write("\n")
      rows.foreach { r => w.write(Json.row(r)); w.write("\n") }
    } finally w.close()
  }
}

/** The query workload: a fixed list of declared queries, run in passes
  * of a seeded order by one closed-loop client.
  */
object QueryRun {
  def run(h: Harness): Unit = {
    val qs = h.a.list("queries").map(graft.Queries.byName)
    val dir = h.a("data")
    val resultsDir = Files.createDirectories(h.out.resolve("results"))
    val reference = mutable.Map.empty[String, String]

    def execute(q: graft.Q, phase: String, pass: Int): Double = {
      val spark = h.spark
      val id = h.opId()
      val memo0 = if (Trace.enabled) graft.Caches.memoKeys(spark).size else 0
      var df: DataFrame = null
      var rows: Array[Row] = null
      var error: Option[String] = None
      val t0 = System.nanoTime()
      var t1 = t0
      Trace.span("op") {
        try {
          df = Trace.span("query.build")(q.run(spark, dir))
          rows = Trace.span("query.exec")(df.collect())
        } catch { case e: Throwable => error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        t1 = System.nanoTime()
        Trace.span("caches.release") {
          graft.Caches.release(spark)
          spark.catalog.clearCache()
        }
      }
      val t2 = System.nanoTime()
      val fields = mutable.ArrayBuffer("pass" -> pass.toString, "cycle_s" -> Json.num((t2 - t0) / 1e9))
      if (error.isEmpty) {
        val d = Results.digest(df, rows)
        fields += "rows" -> rows.length.toString
        reference.get(q.name) match {
          case None =>
            reference(q.name) = d
            Results.dump(resultsDir.resolve(s"${q.name}.jsonl"), df, rows)
          case Some(r) if r != d => error = Some(s"result digest $d differs from first execution $r")
          case _ =>
        }
      }
      if (Trace.enabled) {
        fields += "memo_keys_new" -> (graft.Caches.memoKeys(spark).size - memo0).toString
        fields += "storage_bytes" -> spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum.toString
        if (df != null) {
          val phases = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
            .queryExecution.tracker.phases
          fields += "plan_ms" -> Json.obj(phases.toSeq.map { case (k, v) => k -> v.durationMs.toString })
        }
      }
      h.record(id, "query", q.name, phase, if (error.isEmpty) Some((t1 - t0) / 1e9) else None,
        error, fields.toSeq: _*)
      (t2 - t0) / 1e9
    }

    // set-up, several times: session and table registration; then, once,
    // in the last session, warm-up passes (JIT, codegen, file listing), the
    // first of which also fixes each query's reference result
    for (_ <- 1 to h.a.int("setup-rounds")) {
      val t0 = System.nanoTime()
      Trace.setOp(0)
      h.newSession()
      Trace.span("tables.load")(graft.Tables.registerViews(h.spark, dir))
      h.setupRound(t0)
    }
    h.warmup((1 to h.a.int("warmup-passes")).foreach(_ => qs.foreach(execute(_, "setup", -1))))
    h.put("oracles", Json.obj(qs.map(q => q.name -> q.oracle.map(Json.str).getOrElse("null"))))

    // whole timed passes, each in its own seeded order, until the time is
    // up and enough passes ran; a traced run alternates traced and
    // untraced passes so tracing overhead can be read off
    val rng = new scala.util.Random(h.a("seed").toLong)
    val traced = Trace.enabled
    val start = System.nanoTime()
    var pass = 0
    while (!h.timeUp(start, pass, h.a.int("min-passes"))) {
      Trace.enabled = traced && pass % 2 == 0
      rng.shuffle(qs).foreach(execute(_, "timed", pass))
      pass += 1
    }
    Trace.enabled = traced
  }
}
