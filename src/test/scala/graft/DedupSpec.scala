package graft

import graft.operators.Dedup
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** MinHash/SimHash internals the DuckDB oracle can't express (hash values
  * are engine-specific): candidate soundness, recall on planted near-dups,
  * and signature locality.
  */
class DedupSpec extends SparkSuite {

  private lazy val docs = Tables.load(spark, sfDir, "documents")

  /** Exact all-pairs shingle-Jaccard >= 0.8 (no lang restriction — ground
    * truth for MinHash, which doesn't see lang).
    */
  private lazy val exactPairs: Set[(Long, Long)] = {
    val sh = docs.select(col("doc_id"), shingles(col("text")).as("sh"))
    val a = sh.toDF("doc_a", "sh_a")
    val b = sh.toDF("doc_b", "sh_b")
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("j", col("common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("j") >= 0.8)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private lazy val minhashPairs: Set[(Long, Long)] =
    Dedup.minhashPairs(docs)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash verified pairs are sound (subset of exact Jaccard >= 0.8)") {
    assert(minhashPairs.subsetOf(exactPairs),
      s"unsound pairs: ${minhashPairs.diff(exactPairs)}")
  }

  test("minhash recall on planted near-dups >= 0.8") {
    assert(exactPairs.nonEmpty, "testdata should contain planted near-dups")
    val recall = minhashPairs.size.toDouble / exactPairs.size
    assert(recall >= 0.8, s"recall $recall over ${exactPairs.size} true pairs")
  }

  test("jaccard df cap: capped output identical to uncapped at test scale") {
    def pairs(cap: Int) = Dedup.jaccardPairs(docs, dfCap = cap)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // default cap exceeds the corpus's max shingle df → provably identical
    assert(pairs(Dedup.DefaultShingleDfCap) == pairs(Int.MaxValue))
  }

  test("jaccard df cap: hot shingles are dropped from candidates, rare survive") {
    import spark.implicits._
    // 20 boilerplate docs sharing ONLY corpus-hot shingles, plus one planted
    // near-dup pair that shares rare shingles
    val boiler = (0L until 20L).map(i =>
      (i, "en", s"common header line repeated everywhere $i"))
    val planted = Seq(
      (100L, "en", "rare alpha beta gamma delta epsilon zeta"),
      (101L, "en", "rare alpha beta gamma delta epsilon zeta"))
    val d = (boiler ++ planted).toDF("doc_id", "lang", "text")
    val got = Dedup.jaccardPairs(d, dfCap = 5)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the planted pair's shingles have df=2 <= cap → found; boilerplate
    // shingles have df=20 > cap → contribute no candidates (and the
    // boilerplate docs are genuinely below 0.8 jaccard pairwise anyway)
    assert(got == Set((100L, 101L)), got.toString)
    // worst-case candidate bound: with every shared shingle hot, the
    // candidate join emits nothing — O(df²) blowup is capped out
    val hotOnly = (0L until 20L).map(i => (i, "en", "exact same text every doc"))
      .toDF("doc_id", "lang", "text")
    assert(Dedup.jaccardPairs(hotOnly, dfCap = 5).count() == 0)
    // ...and the same corpus under a permissive cap yields all C(20,2) pairs
    assert(Dedup.jaccardPairs(hotOnly, dfCap = 50).count() == 190)
  }

  test("jaccard df cap: shared hot shingles still count toward the exact score") {
    import spark.implicits._
    // every doc opens with the same boilerplate (those shingles go hot under
    // cap=5), and docs 100/101 are fully identical — their jaccard must be
    // exactly 1.0, which requires counting the hot shingles they share
    val boilerplate = "zz yy xx ww vv uu"
    val filler = (0L until 12L).map(i =>
      (i, "en", s"$boilerplate tail$i mid$i end$i more$i"))
    val twins = Seq(
      (100L, "en", s"$boilerplate aa bb cc dd ee ff gg hh"),
      (101L, "en", s"$boilerplate aa bb cc dd ee ff gg hh"))
    val d = (filler ++ twins).toDF("doc_id", "lang", "text")
    val rows = Dedup.jaccardPairs(d, minJ = 0.8, dfCap = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((100L, 101L, 1.0)), rows.mkString(","))
  }

  test("simhash: near-dup pairs are closer in hamming distance than random pairs") {
    val sig = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val nearDistances = exactPairs.toSeq.map { case (a, b) => hamming(sig(a), sig(b)) }
    val ids = sig.keys.toArray.sorted
    val randomDistances = (for {
      i <- 0 until 200
      a = ids(i % ids.length); b = ids((i * 37 + 11) % ids.length) if a != b
    } yield hamming(sig(a), sig(b)))
    val nearAvg = nearDistances.sum.toDouble / nearDistances.size
    val randAvg = randomDistances.sum.toDouble / randomDistances.size
    assert(nearAvg < randAvg / 2,
      s"near-dup avg hamming $nearAvg not << random $randAvg")
  }

  test("connected components: paths, triangles and disjoint pairs resolve to min-id clusters") {
    import spark.implicits._
    // components: {1,2,3,4} (path), {10,11,12} (triangle), {20,21} (pair)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: pointer jumping keeps chain rounds logarithmic") {
    import spark.implicits._
    // worst-case topology for label propagation: one chain of 32 vertices.
    // Plain neighbor-min needs ~n rounds (would NOT converge inside the
    // default maxIter=20); with the label(label(u)) jump the label depth
    // halves per round, so 2·log₂(n) is a loose ceiling.
    val n = 32
    val edges = (1L until n.toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.connectedComponentsCounted(edges)
    val got = labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to n.toLong).map(_ -> 1L).toMap)
    assert(rounds <= 2 * (math.log(n) / math.log(2)).toInt,
      s"chain of $n took $rounds rounds")
  }

  test("incremental near-dups: scores new batch against corpus only") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta"),
      (2L, "en", "one two three four five six seven"),
      (3L, "en", "totally unrelated content goes right here")).toDF("doc_id", "lang", "text")
    val batch = Seq(
      (10L, "en", "alpha beta gamma delta epsilon zeta"), // dup of corpus 1
      (11L, "en", "one two three four five six seven"),   // dup of corpus 2
      (12L, "en", "fresh unseen words without any match"),
      // dup of ANOTHER NEW doc, not of the corpus — must NOT be reported
      (13L, "en", "fresh unseen words without any match")).toDF("doc_id", "lang", "text")
    val got = Dedup.incrementalNearDups(corpus, batch)
      .select("new_id", "old_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 1L), (11L, 2L)), got.toString)
  }

  test("incremental near-dups: shared hot shingles still count toward the exact score") {
    import spark.implicits._
    // corpus-wide boilerplate goes hot under cap=5; batch doc 100 is
    // IDENTICAL to corpus doc 1 — jaccard must be exactly 1.0, which
    // requires adding the shared hot shingles back on both sides
    val boilerplate = "zz yy xx ww vv uu"
    val corpus = ((1L to 12L).map(i =>
      (i, "en", s"$boilerplate tail$i mid$i end$i more$i")) :+
      (20L, "en", s"$boilerplate aa bb cc dd ee ff gg hh")).toDF("doc_id", "lang", "text")
    val batch = Seq(
      (100L, "en", s"$boilerplate aa bb cc dd ee ff gg hh")).toDF("doc_id", "lang", "text")
    val idx = Dedup.buildCorpusIndex(corpus, dfCap = 5)
    val rows = Dedup.probeNearDups(idx, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((100L, 20L, 1.0)), rows.mkString(","))
  }

  test("jaccard pairs never emit self-pairs on duplicated doc_id input") {
    import spark.implicits._
    // the same doc_id delivered twice (un-deduped upstream) must not be
    // reported as a near-duplicate of itself
    val d = Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta"),
      (1L, "en", "alpha beta gamma delta epsilon zeta"),
      (2L, "en", "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "lang", "text")
    val got = Dedup.jaccardPairs(d).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), got.toString)
  }

  test("incremental near-dups match jaccardPairs' handling of duplicated input") {
    import spark.implicits._
    // the same invalid duplicate-keyed rows (identical text) on BOTH sides:
    // the index build must not misroute a sub-cap list into the hot regime
    // and the probe must not double-count shared shingles — scores must be
    // identical to the clean-input run
    val corpusDup = Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta"),
      (1L, "en", "alpha beta gamma delta epsilon zeta"),
      (2L, "en", "one two three four five six seven")).toDF("doc_id", "lang", "text")
    val batchDup = Seq(
      (10L, "en", "alpha beta gamma delta epsilon zeta"),
      (10L, "en", "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "lang", "text")
    def run(c: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) = {
      val idx = Dedup.buildCorpusIndex(c, dfCap = 1, eager = false)
      try Dedup.probeNearDups(idx, b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      finally idx.release()
    }
    val clean = run(corpusDup.dropDuplicates("doc_id"), batchDup.dropDuplicates("doc_id"))
    assert(clean == Set((10L, 1L, 1.0)), clean.toString)
    assert(run(corpusDup, batchDup) == clean)
  }

  test("segment dedup drops cross-doc boilerplate and keeps unique tails in order") {
    import spark.implicits._
    val d = Seq(
      (1L, "common seg here alpha beta gamma"),
      (2L, "common seg here delta epsilon zeta"),
      (3L, "common seg here")).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(d, segLen = 3, minDocs = 3).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    // "common seg here" occurs in 3 distinct docs → scrubbed everywhere;
    // unique tails survive; the all-boilerplate doc stays as an empty row
    assert(got(1L) == (2, 1, "alpha beta gamma"), got(1L).toString)
    assert(got(2L) == (2, 1, "delta epsilon zeta"), got(2L).toString)
    assert(got(3L) == (1, 0, ""), got(3L).toString)
    // below the doc threshold nothing is scrubbed
    val loose = Dedup.segmentDedup(d, segLen = 3, minDocs = 4).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(loose(1L) == "common seg here alpha beta gamma")
    // a null-text doc still yields its (0, 0, "") row — total-row contract
    val withNull = d.unionByName(Seq((5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    val gotNull = Dedup.segmentDedup(withNull, segLen = 3, minDocs = 3).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(gotNull(5L) == (0, 0, ""), gotNull.toString)
    assert(gotNull.size == 4)
  }

  test("span dedup scrubs offset-shifted runs that segment dedup misses") {
    import spark.implicits._
    // a 9-token run shared at DIFFERENT offsets (2 vs 0): no aligned
    // 3-token segment matches, but both 8-token sliding windows do
    val d = Seq(
      (1L, "x1 x2 p1 p2 p3 p4 p5 p6 p7 p8 p9 y1"),
      (2L, "p1 p2 p3 p4 p5 p6 p7 p8 p9 z1 z2"),
      (3L, "short doc only")).toDF("doc_id", "text")
    val got = Dedup.spanDedup(d).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(got(1L) == (12, 3, "x1 x2 y1"), got(1L).toString)
    assert(got(2L) == (11, 2, "z1 z2"), got(2L).toString)
    // shorter than the window → passes through whole
    assert(got(3L) == (3, 3, "short doc only"), got(3L).toString)
    // the aligned-segment scrub cannot see this duplication
    val seg = Dedup.segmentDedup(d, segLen = 3, minDocs = 2).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(seg(1L) == "x1 x2 p1 p2 p3 p4 p5 p6 p7 p8 p9 y1", seg(1L))
    // df below threshold → nothing marked
    val solo = Dedup.spanDedup(d.filter($"doc_id" === 1L)).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(solo(1L) == 12, solo.toString)
  }

  test("stratified sample takes exactly k per stratum (or all when smaller)") {
    val df = Queries.byName("sample_stratified").run(spark, sfDir)
    val perLang = df.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val langSizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    langSizes.foreach { case (lang, n) =>
      assert(perLang.getOrElse(lang, 0L) == math.min(n, 50L),
        s"$lang: got ${perLang.get(lang)} of $n")
    }
  }

  test("table diff classifies planted added/removed/changed/unchanged rows") {
    import spark.implicits._
    val vOld = Seq((1L, 10.0, "A"), (2L, 20.0, "B"), (3L, 30.0, "C"))
      .toDF("k", "price", "status")
    val vNew = Seq((2L, 20.0, "B"), (3L, 31.0, "C"), (4L, 40.0, "D"))
      .toDF("k", "price", "status")
    val got = graft.operators.Relational
      .tableDiff(vOld, vNew, Seq("k"), Seq("price", "status"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("scd2 merge: change closes+reopens, no-op passes, history rides through") {
    import spark.implicits._
    val d1 = java.sql.Date.valueOf("2020-01-01")
    val d2 = java.sql.Date.valueOf("2020-06-01")
    val cur = Seq(
      (1L, 10.0, d1, null.asInstanceOf[java.sql.Date]), // open, will change
      (2L, 20.0, d1, null.asInstanceOf[java.sql.Date]), // open, no-op update
      (3L, 29.0, d1, d1),                               // closed history row
      (3L, 30.0, d1, null.asInstanceOf[java.sql.Date]), // open, will change
      (4L, 40.0, d1, d1))                               // retired: closed only
      .toDF("k", "bal", "valid_from", "valid_to")
    val upd = Seq((1L, 11.0, d2), (2L, 20.0, d2), (3L, 31.0, d2),
      (4L, 41.0, d2), (9L, 99.0, d2))
      .toDF("k", "bal", "change_date")
    val got = graft.operators.Relational.scd2Merge(cur, upd, "k", Seq("bal"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        Option(r.getDate(2)).map(_.toString).orNull,
        Option(r.getDate(3)).map(_.toString).orNull)).toSet
    assert(got == Set(
      (1L, 10.0, "2020-01-01", "2020-06-01"), // closed at change date
      (1L, 11.0, "2020-06-01", null),         // reopened with new value
      (2L, 20.0, "2020-01-01", null),         // no-op: untouched open row
      (3L, 29.0, "2020-01-01", "2020-01-01"), // history row untouched
      (3L, 30.0, "2020-01-01", "2020-06-01"),
      (3L, 31.0, "2020-06-01", null),
      (4L, 40.0, "2020-01-01", "2020-01-01"), // retired history untouched...
      (4L, 41.0, "2020-06-01", null),         // ...and the key re-arrives open
      (9L, 99.0, "2020-06-01", null)          // brand-new key
    ), got.toString)
  }

  test("exact dedup is idempotent") {
    val once = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
    val twice = once.groupBy("text").agg(min("doc_id").as("doc_id"))
    assert(once.count() == twice.count())
  }

  test("bloom filter: zero false negatives; disjoint-key FPR within bound") {
    import graft.functions.BloomKernels
    val inserted = spark.range(0, 2000).select(xxhash64(col("id")).as("h"))
    val bits = inserted.agg(BloomKernels.bloomAgg(col("h"), 1 << 16).as("bits"))
    val hits = inserted.crossJoin(broadcast(bits))
      .filter(BloomKernels.contains(col("bits"), col("h"))).count()
    assert(hits == 2000, "bloom dropped an inserted key (false negative)")
    // xxhash64 keys of a disjoint id range — none inserted, so every hit is
    // a false positive; k=3, n=2000, m=2^16 → expected FPR ~(kn/m)^3 ≈ 1e-3
    val disjoint = spark.range(1000000, 1020000)
      .select(xxhash64(col("id")).as("h"))
    val fps = disjoint.crossJoin(broadcast(bits))
      .filter(BloomKernels.contains(col("bits"), col("h"))).count()
    assert(fps.toDouble / 20000 < 0.02, s"FPR too high: $fps/20000")
  }

  test("bloom-prefiltered decontamination equals the broadcast-exact variant") {
    def rows(name: String) = Queries.byName(name).run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows("dedup_decontaminate_bloom") == rows("dedup_decontaminate"))
  }

  test("containment flags a subset pair that Jaccard misses") {
    import spark.implicits._
    // doc 2 = an interior 8-token run of doc 1: every shingle of 2 is in 1
    // (C = 1.0) while the union is dominated by doc 1 (J << 0.8)
    val big = (1 to 30).map(i => s"w$i").mkString(" ")
    val small = (11 to 18).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, big, "en"), (2L, small, "en"), (3L, "unrelated text here", "en"))
      .toDF("doc_id", "text", "lang")
    val got = Dedup.containmentPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(got == List((2L, 1L, 1.0)), got.toString)
    val j = Dedup.jaccardPairs(d).count()
    assert(j == 0, s"jaccard unexpectedly caught the subset pair ($j rows)")
  }

  test("cdc chunks after the first cut are invariant to a front insertion") {
    import spark.implicits._
    val toks = (0 until 200).map(i => s"t$i")
    val base = toks.mkString(" ")
    val shifted = ("NEW " + base)
    val d = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val baseChunks = ch.filter(_._1 == 1L).sortBy(_._2).map(_._3).toList
    val shiftChunks = ch.filter(_._1 == 2L).sortBy(_._2).map(_._3).toList
    assert(baseChunks.size >= 2, s"expected >=1 content cut, got $baseChunks")
    // content cuts travel with the tokens: every chunk after the first is
    // byte-identical across the insertion; only the head chunk grew
    assert(shiftChunks.tail == baseChunks.tail,
      s"base=$baseChunks shifted=$shiftChunks")
    assert(shiftChunks.head == "NEW " + baseChunks.head)
  }
}
