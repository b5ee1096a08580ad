package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded by the harness around each call into an engine module,
  * plus Spark-side counters attributed to the innermost open span.
  *
  * A span opens by publishing its id as a SparkContext local property; jobs
  * submitted while it is open (including from threads that inherit the
  * property: broadcast exchanges, a streaming query's execution thread)
  * carry it, and [[Counters]] files every job, stage and task under it.
  * Spans nest on the driver thread; every span also carries the id of the
  * benchmark operation it belongs to.
  *
  * With tracing off, [[span]] is a plain call: no ids, no properties, and
  * the listeners are never registered.
  */
object Trace {
  final val Prop = "perfbench.span"

  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        startNs: Long, endNs: Long)

  var enabled = false
  private var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var op = 0

  // wall-clock origin so task launch/finish times (epoch ms) and span
  // times (nanoTime) share one axis
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  def epochMs(ns: Long): Double = originEpochMs + (ns - originNs) / 1e6

  def attach(context: SparkContext): Unit = {
    sc = context
    if (enabled) {
      context.addSparkListener(Counters)
    }
  }

  def setOp(id: Int): Unit = op = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      if (sc != null) sc.setLocalProperty(Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        if (sc != null) sc.setLocalProperty(Prop, stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, op, name, t0, t1)
      }
    }

  /** Id of the innermost open span (0 outside any span). */
  def current: Int = stack.headOption.getOrElse(0)

  def spansJson: String = Json.arr(spans.map { s =>
    Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "op" -> s.op.toString, "name" -> Json.str(s.name),
      "start_ms" -> Json.num(epochMs(s.startNs)), "end_ms" -> Json.num(epochMs(s.endNs))))
  })
}

/** Per-span Spark counters. Stage metrics are summed from the tasks that
  * ran them; task intervals are kept so idle time (span wall time with no
  * task running) can be computed from their union.
  */
object Counters extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs = 0L
    var spillDisk, peakExec = 0L
    var inRecords, inBytes, outRecords, outBytes = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val bySpan = mutable.HashMap.empty[Int, Agg]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Trace.Prop))).map(_.toInt).getOrElse(0)

  private def agg(span: Int): Agg = bySpan.getOrElseUpdate(span, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    agg(s).jobs += 1
    e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, s))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = s
    agg(s).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageSpan.getOrElse(e.stageId, 0))
    a.tasks += 1
    a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillDisk += m.diskBytesSpilled
      a.peakExec = math.max(a.peakExec, m.peakExecutionMemory)
      a.inRecords += m.inputMetrics.recordsRead
      a.inBytes += m.inputMetrics.bytesRead
      a.outRecords += m.outputMetrics.recordsWritten
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  def json: String = synchronized {
    Json.obj(bySpan.toSeq.sortBy(_._1).map { case (s, a) =>
      s.toString -> Json.obj(Seq(
        "jobs" -> a.jobs.toString, "stages" -> a.stages.toString, "tasks" -> a.tasks.toString,
        "run_ms" -> a.runMs.toString, "cpu_ns" -> a.cpuNs.toString, "gc_ms" -> a.gcMs.toString,
        "shuffle_write" -> a.shuffleWrite.toString, "shuffle_read" -> a.shuffleRead.toString,
        "fetch_wait_ms" -> a.fetchWaitMs.toString, "spill_disk" -> a.spillDisk.toString,
        "peak_exec" -> a.peakExec.toString, "in_records" -> a.inRecords.toString,
        "in_bytes" -> a.inBytes.toString, "out_records" -> a.outRecords.toString,
        "out_bytes" -> a.outBytes.toString,
        "intervals" -> Json.arr(a.intervals.map { case (l, f) => s"[$l,$f]" })))
    })
  }
}

/** Streaming progress per started query, filed under the span that
  * started it: batch count and the `durationMs` phase times. Progress is
  * kept by query id and resolved to spans when written, so an event that
  * overtakes [[bind]] is not lost.
  */
object StreamCounters extends StreamingQueryListener {
  import StreamingQueryListener._
  private val querySpan = mutable.HashMap.empty[java.util.UUID, Int]
  private val batches = mutable.HashMap.empty[java.util.UUID, Long]
  private val phases = mutable.HashMap.empty[(java.util.UUID, String), Long]

  /** File the run `runId` (a restarted query keeps its id but gets a new
    * run id) under `span`.
    */
  def bind(runId: java.util.UUID, span: Int): Unit = synchronized { querySpan(runId) = span }

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val q = e.progress.runId
    batches(q) = batches.getOrElse(q, 0L) + 1
    e.progress.durationMs.forEach { (k, v) =>
      phases((q, k)) = phases.getOrElse((q, k), 0L) + v.longValue
    }
  }

  def json: String = synchronized {
    val bySpan = batches.toSeq.groupBy { case (q, _) => querySpan.getOrElse(q, 0) }
    Json.obj(bySpan.toSeq.sortBy(_._1).map { case (s, qs) =>
      val ids = qs.map(_._1).toSet
      val ph = phases.toSeq.collect { case ((q, k), v) if ids(q) => k -> v }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum.toString }
      s.toString -> Json.obj(Seq("batches" -> qs.map(_._2).sum.toString,
        "phases_ms" -> Json.obj(ph.toSeq.sortBy(_._1))))
    })
  }
}
