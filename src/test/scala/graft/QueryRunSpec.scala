package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one measurement path: a run's record, its failure handling, its
  * cache release, Bench's best-of merge, and the Probe modes built on it.
  */
class QueryRunSpec extends SparkSuite {
  private val canary = Queries.byName("ref_partition_count")

  private def record(name: String, seconds: Option[Double],
                     error: Option[String] = None) =
    QueryRun.Record(name, error, 1L, seconds, 0L, 0L, 0L, 0, 0L, Nil)

  test("a declared query's record carries its rows and layer breakdown") {
    val r = QueryRun(spark, sfDir, canary)
    assert(r.status == "ok")
    assert(r.rows == canary.run(spark, sfDir).count())
    assert(r.seconds.exists(_ > 0))
    assert(r.jobs >= 1 && r.stages.nonEmpty && r.stages.forall(_.tasks >= 1))
    assert(r.json.contains(s""""stages":${r.stages.size},"tasks":${r.stages.map(_.tasks).sum},"""))
    assert(r.json.startsWith(s"""{"status":"ok","rows":${r.rows},"seconds":"""))
  }

  test("a query that throws is failed, untimed, and names the error") {
    val boom = Q("boom", (_, _) => throw new IllegalStateException("no \"such\" table"), None)
    val r = QueryRun(spark, sfDir, boom)
    assert(r.status == "failed")
    assert(r.seconds.isEmpty)
    assert(r.error.exists(_.contains("no \"such\" table")))
    assert(r.json.startsWith(
      """{"status":"failed","error":"IllegalStateException: no \"such\" table","""))
  }

  test("a run releases what it cached") {
    var tracked: DataFrame = null
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cached = Q("cached", (s, _) => {
      tracked = Caches.track(s.range(0, 1000, 1, 4).toDF("id"))
      tracked.union(tracked)
    }, None)
    val r = QueryRun(spark, sfDir, cached)
    assert(r.ok && r.rows == 2000)
    assert(tracked.storageLevel == StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(before))
  }

  test("best-of keeps each query's fastest pass and never times a failure") {
    val passes = Seq(
      record("a", Some(2.0)), record("b", Some(1.0)),
      record("a", Some(1.5)), record("b", None, Some("boom")),
      record("a", Some(1.7)), record("b", Some(0.5)))
    val best = QueryRun.bestOf(passes)
    assert(best.map(_.name) == Seq("a", "b"))
    assert(best.head.seconds.contains(1.5))
    assert(best(1).status == "failed" && best(1).error.contains("boom"))
  }

  test("Probe's plan, stages and show modes run on a caller's session") {
    val name = canary.name
    val plan = Probe.plan(spark, sfDir, Seq(name))
    assert(plan.head == s"== $name ==")
    assert(plan.exists(_.contains("== Physical Plan ==")))
    val finalPlan = Probe.plan(spark, sfDir, Seq("final", name))
    assert(finalPlan(1).startsWith("AdaptiveSparkPlan"))
    assert(finalPlan.exists(l => l.trim.startsWith("HashAggregate  [") && l.contains("numOutputRows=")))
    val stages = Probe.stages(spark, sfDir, Seq(name))
    assert(stages.exists(_.startsWith("STAGE ")))
    assert(stages.last.startsWith(s"""RECORD $name {"status":"ok""""))
    val shown = Probe.show(spark, sfDir, Seq(name))
    val rows = canary.run(spark, sfDir).count()
    assert(shown.head == s"== $name ==")
    // one header line plus at most 50 rows
    assert(shown.count(_.startsWith("|")) == math.min(rows, 50L) + 1)
  }
}
