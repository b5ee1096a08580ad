package graft

import org.apache.spark.sql.functions._

/** Round-14 additions: the recall floor for the adaptive LSH geometry
  * (recall was reported, never gated — a chooser/packing regression that
  * emptied candidate lists would have kept every hash green while gutting
  * ANN quality) and the session-builder fold round-trip.
  */
class Round14Spec extends SparkSuite {

  /** Measured recall@5 of the adaptive geometry on the residue-class panel
    * (`Probe show sim_lsh_recall`). r14 at 4 bands: 0.406 / 0.451 / 0.493 at
    * sf0.001/0.01/0.1. r15 raised the OR-construction to 10 bands
    * (Similarity.AutoBands — more independent bands, same per-band bit
    * budget) and measured 0.711 / 0.740 / 0.810 at the same scales
    * (8 bands read 0.660 / 0.686 / 0.732 — under the ≥0.7 target at two
    * scales). r16 re-measured the ladder on the unchanged geometry
    * (0.711 / 0.740 at the gated scales from the round's verify dumps,
    * 0.810 at sf0.1, hash-panel 0.979 at the 2 M decade) and raised the
    * floor 0.65 → 0.70 per the r15 verdict: the recall is deterministic
    * (literal planes, fixed data), so the floor sits just under the
    * weakest measured rung (0.711) — any geometry/packing change that
    * costs even a band's worth of recall now fails the suite, while the
    * suite cannot flap (nothing here is sampled).
    */
  private val RecallFloor = 0.70

  private def recallAt5(dir: String): (Long, Double) = {
    val r = SparkEntry.queries("sim_lsh_recall")(spark, dir).collect().head
    Caches.release(spark)
    (r.getAs[Long]("n_exact_pairs"), r.getAs[Double]("recall_at5"))
  }

  test("adaptive LSH recall@5 holds the measured floor at sf0.001") {
    val (pairs, rec) = recallAt5(sfDir)
    assert(pairs > 0, "exact panel produced no ground-truth pairs")
    assert(rec >= RecallFloor, s"recall@5 $rec fell below floor $RecallFloor")
  }

  test("adaptive LSH recall@5 holds the measured floor at sf0.01") {
    // the chooser picks a different bit budget at this corpus (7 bits vs
    // the sf0.001 floor geometry), so this is a second, independent rung —
    // a budget that only works at one decade fails here
    val (pairs, rec) = recallAt5("/root/testdata/sf0.01")
    assert(pairs > 0, "exact panel produced no ground-truth pairs")
    assert(rec >= RecallFloor, s"recall@5 $rec fell below floor $RecallFloor")
  }

  test("recall curve is monotone in k and its k=5 point matches the gate") {
    // sim_recall_curve rides the same adaptive lists: cumulative hits can
    // only grow with k, and its k=5 point is definitionally sim_lsh_recall
    val rows = SparkEntry.queries("sim_recall_curve")(spark, sfDir)
      .orderBy("k").collect()
    Caches.release(spark)
    assert(rows.map(_.getAs[Int]("k")).toSeq == Seq(1, 2, 3, 4, 5))
    val hits = rows.map(_.getAs[Long]("n_hits"))
    assert(hits.sliding(2).forall(p => p(0) <= p(1)),
      s"hits not monotone in k: ${hits.mkString(",")}")
    val (_, rec5) = recallAt5(sfDir)
    val curve5 = rows.last.getAs[Double]("recall_at_k")
    assert(math.abs(curve5 - rec5) < 1e-9,
      s"curve k=5 ($curve5) != sim_lsh_recall ($rec5)")
  }

  test("Sessions.builder getOrCreate lands the scale defaults via the fold") {
    // exercises the withConfigs fold end-to-end (the same code path
    // s3aBuilder rides — r13 ADVICE: the fold itself had no coverage):
    // getOrCreate on the live session applies every MODIFIABLE key through
    // the builder's accumulated options, so a typo in the fold surfaces as
    // a missing/unchanged conf here. Static keys (spark.memory.*) can't
    // round-trip on a live session and stay asserted map-side (Round13Spec
    // / ScaleTechniquesSpec).
    val dynamic = Sessions.scaleDefaults.filter { case (k, _) =>
      spark.conf.isModifiable(k) }
    assert(dynamic.nonEmpty)
    // the builder also carries spark.sql.shuffle.partitions — save/restore
    // it alongside the scaleDefaults keys so this test cannot silently
    // repoint the shared session's reducer width for later suites if the
    // builder argument and TestSpark's default ever diverge (r14 ADVICE)
    val saved = (dynamic.keys.toSeq :+ "spark.sql.shuffle.partitions")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      val s = Sessions.builder("local[4]", 4).getOrCreate()
      assert(s eq spark, "expected the shared session back")
      dynamic.foreach { case (k, v) =>
        assert(s.conf.get(k) == v, s"$k did not land through the fold") }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
