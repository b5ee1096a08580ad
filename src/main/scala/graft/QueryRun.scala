package graft

import java.util.concurrent.atomic.AtomicLong
import com.fasterxml.jackson.core.io.JsonStringEncoder
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** The one code path that runs a declared query for measurement ([[Bench]],
  * [[Probe]]): build the query and count it inside a timed window, release
  * what it cached outside that window, and return one [[QueryRun.Record]]
  * saying where the time went. Planning phases come from the action's own
  * `QueryExecution`; jobs, stages, tasks, shuffle, spill and memory come
  * from one SparkListener, scoped to the run by a local property that every
  * job the run submits (broadcast and subquery threads included) inherits.
  */
object QueryRun {

  /** One completed stage of a run, with its tasks' summed metrics. */
  final case class Stage(id: Int, tasks: Int, taskSeconds: Double, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, spillBytes: Long, name: String)

  /** One run of one query. `seconds` (build plus count, wall clock) is
    * present only when the run succeeded; `error` names the failure
    * otherwise, and a failed run is never a timing.
    */
  final case class Record(name: String, error: Option[String], rows: Long,
                          seconds: Option[Double], analysisMs: Long, optimizationMs: Long,
                          planningMs: Long, jobs: Int, peakExecutionBytes: Long,
                          stages: Seq[Stage]) {
    def ok: Boolean = error.isEmpty
    def status: String = if (ok) "ok" else "failed"

    /** The record as one JSON object, stages summed. */
    def json: String = {
      val result = error.fold(s""""rows":$rows,"seconds":${fmt(seconds.get)}""")(
        e => s""""error":${jsonString(e)}""")
      Seq("analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
        "planning_ms" -> planningMs, "jobs" -> jobs, "stages" -> stages.size,
        "tasks" -> stages.map(_.tasks).sum,
        "task_s" -> fmt(stages.map(_.taskSeconds).sum),
        "shuffle_read_bytes" -> stages.map(_.shuffleReadBytes).sum,
        "shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum,
        "spill_bytes" -> stages.map(_.spillBytes).sum,
        "peak_exec_bytes" -> peakExecutionBytes)
        .map { case (k, v) => s""","$k":$v""" }
        .mkString(s"""{"status":"$status",$result""", "", "}")
    }
  }

  private[graft] def fmt(v: Double): String = f"$v%.3f"

  /** JSON string literal (an exception message or a declared query's oracle
    * SQL may carry quotes, backslashes or control chars).
    */
  private[graft] def jsonString(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""

  /** Run `q` once on `spark` over `sfDir` and record it. */
  def apply(spark: SparkSession, sfDir: String, q: Q): Record = {
    val sc = spark.sparkContext
    attach(sc)
    val run = s"${q.name}#${runIds.incrementAndGet()}"
    Listener.open(run)
    val outer = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, run)
    val t0 = System.nanoTime()
    val outcome =
      try {
        // Dataset.count() executes exactly this plan; running it directly
        // keeps the action's QueryExecution, whose tracker holds the phases
        val counted = q.run(spark, sfDir).groupBy().count()
        val rows = counted.collect().head.getLong(0)
        Right((rows, (System.nanoTime() - t0) / 1e9, counted.queryExecution.tracker.phases))
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally sc.setLocalProperty(Prop, outer)
    release(spark)
    GraftBridge.drainListenerBus(spark)
    val c = Listener.close(run)
    def phaseMs(p: String) =
      outcome.toOption.flatMap(_._3.get(p)).map(_.durationMs).getOrElse(0L)
    Record(q.name, outcome.left.toOption, outcome.map(_._1).getOrElse(0L),
      outcome.toOption.map(_._2), phaseMs("analysis"), phaseMs("optimization"),
      phaseMs("planning"), c.jobs, c.peak, c.stages.toSeq)
  }

  /** Drop what a query persisted, so the next one is not taxed by cache
    * eviction or GC pressure.
    */
  def release(spark: SparkSession): Unit = {
    Caches.release(spark)
    spark.catalog.clearCache()
  }

  /** Bench's best-of merge over the records of every pass, in first-seen
    * order: a query that failed in any pass keeps its first failed record,
    * any other query its fastest one.
    */
  def bestOf(records: Seq[Record]): Seq[Record] = {
    val byName = records.groupBy(_.name)
    records.map(_.name).distinct.map { n =>
      val rs = byName(n)
      rs.find(!_.ok).getOrElse(rs.minBy(_.seconds.get))
    }
  }

  private val Prop = "graft.queryrun"
  private val runIds = new AtomicLong
  private var attachedTo: SparkContext = _

  private def attach(sc: SparkContext): Unit = synchronized {
    if (attachedTo ne sc) {
      sc.addSparkListener(Listener)
      attachedTo = sc
    }
  }

  private final class Counters {
    var jobs = 0
    var peak = 0L
    val stages = mutable.ArrayBuffer.empty[Stage]
  }

  /** Files jobs and stages under the open run whose property they carry;
    * anything else is ignored.
    */
  private object Listener extends SparkListener {
    private val runs = mutable.HashMap.empty[String, Counters]
    private val stageRuns = mutable.HashMap.empty[Int, Counters]

    def open(run: String): Unit = synchronized { runs(run) = new Counters }

    def close(run: String): Counters = synchronized {
      val c = runs.remove(run).get
      stageRuns.filterInPlace((_, owner) => owner ne c)
      c
    }

    private def runOf(props: java.util.Properties): Option[Counters] =
      Option(props).flatMap(p => Option(p.getProperty(Prop))).flatMap(runs.get)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      runOf(e.properties).foreach(_.jobs += 1)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      runOf(e.properties).foreach(stageRuns(e.stageInfo.stageId) = _)
    }

    // a stage's metrics sum its tasks', so the peak is taken per task
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (c <- stageRuns.get(e.stageId); m <- Option(e.taskMetrics))
        c.peak = math.max(c.peak, m.peakExecutionMemory)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      for (c <- stageRuns.remove(i.stageId); m <- Option(i.taskMetrics))
        c.stages += Stage(i.stageId, i.numTasks, m.executorRunTime / 1000.0,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled, i.name.takeWhile(_ != '\n'))
    }
  }
}
