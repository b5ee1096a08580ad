package graft

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Dev probe over the declared queries:
  * `runMain graft.Probe <mode> [-c key=value ...] [args ...]`.
  *
  *  - `plan [final] query...` — the formatted physical plan, or with
  *    `final` the executed adaptive plan with each operator's runtime
  *    metrics.
  *  - `stages query...` — after one warm-up run, a [[QueryRun]] record
  *    and its stages in completion order.
  *  - `show query...` — the result rows.
  *  - `ab key=value[,key=value...] query...` — runtime SQL confs A/B'd in
  *    one session (two JVM launches confound the conf with window drift):
  *    best-of-3 with the session's values and with the overrides,
  *    alternating, after one untimed run.
  *  - `entry` — row count and head of [[SparkEntry.entry]].
  *
  * The one session is [[Sessions.builder]] on `$SPARK_GRAFT_CPUS` cores
  * (default: all), `-c` confs applied after the scale defaults; queries read
  * `$SPARK_GRAFT_SF_DIR` (required by every mode but `entry`). A mode is a function of a session, a data
  * directory and its arguments that returns the lines it reports.
  */
object Probe {
  val modes: Map[String, (SparkSession, String, Seq[String]) => Seq[String]] = Map(
    "plan" -> plan, "stages" -> stages, "show" -> show, "ab" -> ab, "entry" -> entry)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && modes.contains(args(0)),
      s"usage: graft.Probe <${modes.keys.toSeq.sorted.mkString("|")}> [-c key=value ...] [args ...]")
    val confAt = args.indices.filter(i => i > 1 && args(i - 1) == "-c").toSet
    val pos = args.indices.drop(1).filterNot(i => confAt(i) || args(i) == "-c").map(args(_))
    val confs = confAt.toSeq.sorted.map(i => pair(args(i)))
    // `entry` reads its own fixed directory; every other mode needs one
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      if (args(0) == "entry") "" else sys.error("SPARK_GRAFT_SF_DIR must name a scale-factor directory"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = confs.foldLeft(Sessions.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try modes(args(0))(spark, sfDir, pos).foreach(println)
    finally spark.stop()
  }

  private def pair(kv: String): (String, String) = kv.split("=", 2) match {
    case Array(k, v) => (k, v)
    case _ => throw new IllegalArgumentException(s"expected key=value, got '$kv'")
  }

  private def query(name: String): Q =
    Queries.byName.getOrElse(name, throw new IllegalArgumentException(s"no declared query '$name'"))

  /** The executed plan tree, each operator with its non-zero metrics. */
  private def withMetrics(p: SparkPlan, indent: String = ""): Seq[String] = {
    val ms = p.metrics.toSeq.sortBy(_._1).collect { case (k, m) if m.value != 0 => s"$k=${m.value}" }
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children
    }
    (indent + p.nodeName + (if (ms.isEmpty) "" else ms.mkString("  [", " ", "]"))) +:
      (children ++ p.subqueries).flatMap(withMetrics(_, indent + "  "))
  }

  def plan(spark: SparkSession, sfDir: String, args: Seq[String]): Seq[String] = {
    val executed = args.headOption.contains("final")
    args.drop(if (executed) 1 else 0).flatMap { name =>
      val df = query(name).run(spark, sfDir)
      // an action on THIS frame's own QueryExecution, so AQE finalizes its
      // plan (a count would plan a fresh one); declared results are bounded
      if (executed) df.collect(): Unit
      val lines =
        if (executed) withMetrics(df.queryExecution.executedPlan)
        else Seq(df.queryExecution.explainString(FormattedMode))
      QueryRun.release(spark)
      s"== $name ==" +: lines
    }
  }

  def stages(spark: SparkSession, sfDir: String, args: Seq[String]): Seq[String] =
    args.flatMap { name =>
      val q = query(name)
      QueryRun(spark, sfDir, q): Unit
      val r = QueryRun(spark, sfDir, q)
      r.stages.map { s =>
        f"STAGE ${s.id}%4d tasks=${s.tasks}%4d run=${s.taskSeconds}%8.2f s  " +
          f"shufR=${s.shuffleReadBytes / 1048576.0}%7.1f MB shufW=${s.shuffleWriteBytes / 1048576.0}%7.1f MB  " +
          s.name.take(110)
      } :+ s"RECORD $name ${r.json}"
    }

  def show(spark: SparkSession, sfDir: String, args: Seq[String]): Seq[String] =
    args.flatMap { name =>
      val table = GraftBridge.showString(query(name).run(spark, sfDir), 50)
      QueryRun.release(spark)
      s"== $name ==" +: table.linesIterator.toSeq
    }

  def ab(spark: SparkSession, sfDir: String, args: Seq[String]): Seq[String] = {
    val overrides = args.head.split(",").toSeq.map(pair)
    val baseline = overrides.map { case (k, _) => k -> spark.conf.get(k) }
    def set(kvs: Seq[(String, String)]): Unit = kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    def time(q: Q): Double = {
      val r = QueryRun(spark, sfDir, q)
      r.seconds.getOrElse(throw new IllegalStateException(s"${q.name}: ${r.error.get}"))
    }
    args.tail.map { name =>
      val q = query(name)
      time(q): Unit
      val (as, bs) = (1 to 3).map { _ =>
        set(baseline)
        val a = time(q)
        set(overrides)
        (a, time(q))
      }.unzip
      set(baseline)
      f"CONFAB $name%-36s A=${as.min}%7.3f s  B=${bs.min}%7.3f s  (B/A=${bs.min / as.min}%5.2f)"
    }
  }

  def entry(spark: SparkSession, sfDir: String, args: Seq[String]): Seq[String] = {
    val df = SparkEntry.entry(spark)
    s"ENTRY_ROWS=${df.count()}" +: GraftBridge.showString(df, 5).linesIterator.toSeq
  }
}
