package graft.operators

import graft.{Q, Tables}
import graft.functions.Deterministic.md5Hash32
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2.12 D1–D3): exact, keep-first,
  * brute-ish n-gram Jaccard (oracle-checkable), MinHash+LSH (the 100 TB
  * path), and SimHash signatures.
  *
  * Scale design: the Jaccard join never forms a doc×doc cross product — docs
  * meet only through a shared shingle (inverted-index join), so shuffle
  * volume is O(total shingles + colliding pairs). MinHash+LSH replaces even
  * that with O(docs × bands) band-bucket keys: candidates are pairs sharing a
  * band bucket, verified exactly afterwards. Both are embarrassingly parallel
  * by key — no driver-side state.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Exact dedup with a deterministic winner (lowest doc_id per identical
    * text) — `dropDuplicates` keeps an arbitrary row, which can't be
    * oracle-checked. Hash aggregate on the text; one shuffle.
    */
  private val dedupExact = Q(
    "dedup_exact",
    (s, dir) => docs(s, dir)
      .groupBy("text")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id"),
    Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
           |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin))

  /** Keep-first dedup (D2): deterministic winner per (lang, source) business
    * key via row_number — the standard "keep earliest" pattern.
    */
  private val dedupKeepfirst = Q(
    "dedup_keepfirst",
    (s, dir) => {
      val w = Window.partitionBy("lang", "source").orderBy("doc_id")
      docs(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, source, n_chars FROM (
           |  SELECT doc_id, lang, source, n_chars,
           |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
           |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  /** Hot-shingle document-frequency cap for the exact-Jaccard candidate
    * index. A shingle appearing in df documents contributes O(df²) candidate
    * pairs to the inverted-index self-join; on boilerplate-heavy corpora one
    * hot shingle shuffles quadratically. Shingles with df > cap are dropped
    * from CANDIDATE GENERATION only — verification always scores the full
    * shingle sets, so any pair sharing at least one sub-cap shingle is
    * scored exactly. A near-dup pair can only be missed if EVERY shingle it
    * shares is corpus-hot, i.e. the pair is pure boilerplate — the standard
    * accepted trade (the MinHash path has no such caveat). The default is
    * ~5× the max df observed in the test corpora (14 at sf0.1), so test-SF
    * output is provably identical to the uncapped formulation.
    */
  val DefaultShingleDfCap = 64

  /** Verified same-lang 3-gram-shingle Jaccard pairs >= `minJ`.
    *
    * ONE aggregation builds the inverted index as per-shingle doc LISTS
    * (`collect_list`): df is just `size(list)`, so the df-cap decision lives
    * inside the candidate plan itself — no separate stats job, no index
    * self-join. Sub-cap lists expand to ordered candidate pairs in place via
    * higher-order functions (a df-k shingle emits k(k-1)/2 ≤ dfCap²/2 pairs —
    * bounded, the O(df²) blowup structurally cannot happen); hot lists
    * (df > `dfCap`, see [[DefaultShingleDfCap]]) never generate candidates
    * and instead route to the exactness correction:
    * |A∩B| = |A∩B|_capped + |hotA ∩ hotB|, with n_a/n_b always the full set
    * sizes. When nothing is hot (all test SFs) the hot side is empty and the
    * two correction joins stream zero build rows; when boilerplate is real
    * they touch only the boilerplate docs.
    *
    * Scale note: a per-shingle doc-list row is O(df). Sub-cap rows are
    * bounded by construction; a pathological corpus-wide shingle (df ~ 10⁸)
    * would make its one hot row wide — the correction path needs those
    * (doc, shingle) memberships materialized either way (they equal the old
    * design's `hotByDoc` input), so the volume is inherent; only the
    * single-row packaging would need a bounded-collect custom aggregate at
    * the extreme.
    *
    * Shingle hashes, not shingle strings: same distinct-set semantics
    * (collision odds ~1e-8 at sf0.1) with 8-byte join keys and no string
    * building; `spread` parallelizes the per-doc shingling.
    */
  def jaccardPairs(d: DataFrame, minJ: Double = 0.8,
                   dfCap: Int = DefaultShingleDfCap): DataFrame =
    jaccardFrom(shinglePairCommons(d, dfCap), minJ)

  /** The Jaccard readout over an already-built commons frame — split out so
    * the declared default-arg queries can share ONE memoized commons build
    * ([[commonsShared]]) while the public [[jaccardPairs]] stays
    * self-contained for arbitrary inputs.
    */
  private def jaccardFrom(commons: DataFrame, minJ: Double): DataFrame =
    commons
      // valid (unique-keyed) input always has denom >= max(n_a, n_b) >= 1
      // and a score <= 1; both clamps only guard duplicated-doc_id input,
      // where over-counted commons could otherwise hit an ANSI
      // divide-by-zero or emit a score > 1
      .withColumn("jaccard", least(col("common").cast("double") /
        greatest(col("n_a") + col("n_b") - col("common"), lit(1)), lit(1.0)))
      .filter(col("jaccard") >= minJ)
      .select("doc_a", "doc_b", "jaccard")

  /** The shingle-pair commons frame for `dir`'s documents at the default
    * df cap, memoized per (session, dir) — the shared substrate of FOUR
    * declared queries (ngram_jaccard, clusters, source_overlap,
    * containment; each paid the full posting-list build before this). The
    * build is deterministic, so reuse is value-identical and every query
    * stays self-contained for Verify; the (doc_a, doc_b, n_a, n_b, common)
    * candidate frame is orders of magnitude below the posting-list stream
    * it reduces, safe for the memo's eager localCheckpoint.
    */
  private def commonsShared(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, s"dedup:commons:$dir")(
      shinglePairCommons(docs(s, dir), DefaultShingleDfCap))

  /** The shared candidate machinery under [[jaccardPairs]] and
    * [[containmentPairs]]: exact shingle-intersection sizes for every
    * within-language doc pair sharing at least one SUB-CAP shingle —
    * columns (doc_a < doc_b, n_a, n_b, common). df-capped posting lists +
    * the hot-membership correction keep `common` exact under the cap (the
    * documented hot-only-pair trade applies to any consumer).
    */
  private def shinglePairCommons(d: DataFrame, dfCap: Int): DataFrame = {
    val ex = Tables.spread(d)
      .select(col("doc_id"), col("lang"),
        graft.functions.TextKernels.shingleHash64(col("text")).as("sh"))
      .select(col("doc_id"), col("lang"), size(col("sh")).as("n"),
        explode(col("sh")).as("g"))
    // inverted index as posting lists (one shuffle, df = list size), then
    // ONE pair_explode Generator pass emits BOTH regimes — candidate pairs
    // for sub-cap lists, tagged hot memberships (n_b = -1) for hot lists —
    // so the index itself is consumed once and never cached; only the far
    // smaller generator output persists for its two aggregations. (The HOF
    // pair-expansion formulation paid an interpreted lambda per PAIR; the
    // Generator is one compiled loop per list.)
    val gen = graft.Caches.track(ex
      .groupBy("lang", "g")
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("ds"))
      .select(graft.functions.TextKernels.pairExplode(col("g"), col("ds"), dfCap)))
    val pairs = gen.filter(col("n_b") >= 0)
      .groupBy("doc_a", "doc_b", "n_a", "n_b")
      .agg(count(lit(1)).as("common_capped"))
    // per-doc hot shingles — rows only for docs containing boilerplate
    // (empty on clean corpora, so the left joins below cost nothing)
    val hotByDoc = gen.filter(col("n_b") < 0)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("g"))
      .groupBy("doc_id").agg(collect_list(col("g")).as("hot_sh"))
    pairs
      .join(hotByDoc.toDF("doc_a", "hot_a"), Seq("doc_a"), "left")
      .join(hotByDoc.toDF("doc_b", "hot_b"), Seq("doc_b"), "left")
      .withColumn("common", col("common_capped") +
        when(col("hot_a").isNull || col("hot_b").isNull, lit(0))
          .otherwise(size(array_intersect(col("hot_a"), col("hot_b")))))
      .select("doc_a", "doc_b", "n_a", "n_b", "common")
  }

  /** Asymmetric CONTAINMENT near-dup pairs — the quote/subset detector
    * Jaccard provably misses: a short doc fully embedded in a long one has
    * C = |A∩B|/min(|A|,|B|) ≈ 1 while J = |A∩B|/|A∪B| stays low (the size
    * mismatch inflates the union). Flags (inner, outer) with C ≥ `minC`,
    * oriented so `inner` is the smaller shingle set (ties by doc id) and
    * J < 0.8 — pairs the symmetric pass already catches are excluded, so
    * the two passes partition the near-dup space instead of double-
    * reporting. Same df-capped posting-list candidates as [[jaccardPairs]]
    * ([[shinglePairCommons]]) — linear at any corpus size, same
    * hot-only-pair trade.
    */
  def containmentPairs(d: DataFrame, minC: Double = 0.9,
                       dfCap: Int = DefaultShingleDfCap): DataFrame =
    containmentFrom(shinglePairCommons(d, dfCap), minC)

  /** Containment readout over a prebuilt commons frame — the
    * [[jaccardFrom]] convention. */
  private def containmentFrom(commons: DataFrame, minC: Double): DataFrame =
    commons
      .withColumn("containment", least(col("common").cast("double") /
        greatest(least(col("n_a"), col("n_b")), lit(1)), lit(1.0)))
      .withColumn("jaccard", least(col("common").cast("double") /
        greatest(col("n_a") + col("n_b") - col("common"), lit(1)), lit(1.0)))
      .filter(col("containment") >= minC && col("jaccard") < lit(0.8))
      .select(
        when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b"))
          .as("inner_doc"),
        when(col("n_a") <= col("n_b"), col("doc_b")).otherwise(col("doc_a"))
          .as("outer_doc"),
        col("containment"), col("jaccard"), col("common"))

  /** Near-duplicate pairs by exact 3-gram-shingle Jaccard >= 0.8 (D3,
    * oracle-checkable ground truth for the MinHash variant below) — the
    * df-capped inverted-index candidates + exact verify of [[jaccardPairs]].
    */
  private val dedupNgramJaccard = Q(
    "dedup_ngram_jaccard",
    (s, dir) => jaccardFrom(commonsShared(s, dir), 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b"),
    Some("""WITH w AS (SELECT doc_id, lang, string_split(text,' ') AS w FROM documents),
           |s AS (SELECT doc_id, lang, CASE WHEN len(w) < 3 THEN [array_to_string(w,' ')]
           |        ELSE list_distinct(list_transform(range(1, len(w)-1),
           |               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS sh
           |      FROM w),
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |        len(list_intersect(a.sh, b.sh)) AS c, len(a.sh) AS na, len(b.sh) AS nb
           |      FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, round(CAST(c AS DOUBLE)/(na+nb-c), 6) AS jaccard
           |FROM p WHERE CAST(c AS DOUBLE)/(na+nb-c) >= 0.8
           |ORDER BY doc_a, doc_b""".stripMargin))

  /** MinHash + LSH near-dup dedup (D3, the 100 TB path): 32-permutation
    * MinHash signatures, banded 8×4; pairs colliding in any band become
    * candidates and are verified with exact shingle Jaccard. Cost is linear
    * in docs (signatures) + candidates — no inverted-index blowup on hot
    * shingles, no docs² anywhere.
    *
    * No SQL oracle: candidate recall depends on xxhash64, which DuckDB lacks.
    * DedupSpec asserts (at sf0.001) candidates ⊆ the exact-Jaccard pairs and
    * recall on planted near-dups.
    */
  private val dedupMinhashLsh = Q(
    "dedup_minhash_lsh",
    (s, dir) => minhashPairs(docs(s, dir)).orderBy("doc_a", "doc_b"),
    Some(minhashOracle))

  /** The full MinHash+LSH pipeline replayed in DuckDB SQL, hash-for-hash:
    * per-word FNV-1a 64 (HUGEINT mod-2^64, the multimodal_frames idiom),
    * the 31-polynomial shingle combine, the splitmix64 permutation mix —
    * its two 64×64-bit wraparound multiplies decomposed into hi/lo 32-bit
    * halves so every intermediate stays under 2^127, bitwise ops running
    * natively on HUGEINT — band keys, band-bucket candidates, and the
    * exact Jaccard verification. SQL is generated (like the BPE oracle)
    * so the constants are written once. ~5 s in DuckDB at sf0.01.
    */
  private def minhashOracle: String = minhashOracleCtes +
    """SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM j
      |WHERE jac >= 0.8 ORDER BY doc_a, doc_b""".stripMargin

  /** The MinHash+LSH replay up to the verified-pair frame `j` — split from
    * [[minhashOracle]] so [[dedupMinhashRecall]] can extend the same CTEs
    * with a ground-truth comparison (the sim_lsh_recall convention).
    */
  private def minhashOracleCtes: String = {
    val M = "18446744073709551616" // 2^64
    val OFF = "14695981039346656037" // FNV-1a offset basis
    val C = "11400714819323198485" // splitmix64 golden-gamma constant
    // (a * c) mod 2^64 for 64-bit constant c: split c into 32-bit halves —
    // a·lo ≤ 2^96 and (a·hi mod 2^32)·2^32 ≤ 2^64 both fit HUGEINT
    def m64(a: String, c: Long): String = {
      val ch = java.lang.Long.toUnsignedString(c >>> 32)
      val cl = java.lang.Long.toUnsignedString(c & 0xffffffffL)
      s"((($a) * $cl + ((($a) * $ch) % 4294967296) * 4294967296) % $M)"
    }
    def fnv(w: String): String =
      s"list_reduce(list_prepend(CAST($OFF AS HUGEINT), " +
        s"list_transform(string_split($w, ''), ch -> CAST(ascii(ch) AS HUGEINT))), " +
        s"(h, b) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT))) " +
        s"* 1099511628211) % $M)"
    s"""WITH d AS (SELECT doc_id, text, string_split(text,' ') AS ws FROM documents),
       |wh AS (SELECT doc_id, list(${fnv("ws[i]")} ORDER BY i) AS whs,
       |         any_value(text) AS text, any_value(len(ws)) AS nw
       |       FROM d, unnest(range(1, len(ws)+1)) AS t(i) GROUP BY doc_id),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, nw-1),
       |    i -> ((((($OFF*31 + whs[i]) % $M)*31 + whs[i+1]) % $M)*31 + whs[i+2]) % $M)) AS g
       |  FROM wh WHERE nw >= 3
       |  UNION ALL
       |  SELECT doc_id, ${fnv("text")} AS g FROM wh WHERE nw < 3),
       |s AS MATERIALIZED (SELECT DISTINCT doc_id, g FROM g0),
       |n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
       |gd AS MATERIALIZED (SELECT DISTINCT g FROM s),
       |mx AS MATERIALIZED (SELECT g, p, v FROM (
       |  SELECT g, p,
       |    ((xor(g, (p * $C) % $M) + $C) % $M) AS z1,
       |    ${m64("xor(z1, z1 // 1073741824)", 0xbf58476d1ce4e5b9L)} AS z2,
       |    ${m64("xor(z2, z2 // 134217728)", 0x94d049bb133111ebL)} AS z3,
       |    xor(z3, z3 // 2147483648) AS v
       |  FROM gd, unnest(range(0, 32)) AS t(p))),
       |sig AS (SELECT s.doc_id, mx.p, min(mx.v) AS sv
       |        FROM s JOIN mx ON s.g = mx.g GROUP BY s.doc_id, mx.p),
       |band AS (SELECT doc_id, CAST(p // 4 AS INT) AS band,
       |    list_reduce(list_prepend(CAST($OFF AS HUGEINT), list(sv ORDER BY p)),
       |      (h, x) -> (h * 31 + x) % $M) AS bh
       |  FROM sig GROUP BY doc_id, p // 4),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |common AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS c
       |  FROM s x JOIN s y ON x.g = y.g AND x.doc_id < y.doc_id
       |  JOIN cand ON cand.doc_a = x.doc_id AND cand.doc_b = y.doc_id
       |  GROUP BY x.doc_id, y.doc_id),
       |j AS (SELECT doc_a, doc_b,
       |    CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jac
       |  FROM common JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b)
       |""".stripMargin
  }

  /** Shared MinHash+LSH pipeline (32 permutations, 8 bands × 4 rows — fixed
    * in the [[graft.functions.TextKernels]] registration): returns verified
    * (doc_a, doc_b, jaccard) pairs with jaccard >= 0.8 among band-bucket
    * candidates.
    */
  def minhashPairs(d: DataFrame): DataFrame = {
    import graft.functions.TextKernels
    // Shingling + signatures are one compiled kernel pass per row
    // (TextKernels); withSh is persisted because it feeds the banding pass
    // AND both sides of the verification join.
    val withSh = graft.Caches.track(Tables.spread(d)
      .select(col("doc_id"), TextKernels.shingleHash64(col("text")).as("sh")))
    val banded = withSh
      .select(col("doc_id"),
        posexplode(TextKernels.minhashBands(col("sh"))).as(Seq("band", "bh")))
    val cand = banded.toDF("doc_a", "band", "bh")
      .join(banded.toDF("doc_b", "band_b", "bh_b"),
        col("band") === col("band_b") && col("bh") === col("bh_b") &&
          col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // exact verification of candidates only
    val shA = withSh.toDF("doc_a", "sh_a")
    val shB = withSh.toDF("doc_b", "sh_b")
    cand.join(shA, "doc_a").join(shB, "doc_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** SimHash signatures (near-dup fingerprinting): 64-bit signature whose
    * bit k is the sign of the count-weighted sum of bit k over all token
    * hashes. One compiled kernel call per row in Spark; the oracle replays
    * the identical arithmetic in DuckDB — FNV-1a 64 per word emulated as
    * HUGEINT mod-2^64 (the multimodal_frames idiom; `ascii()` == UTF-8 byte
    * on the all-ASCII testdata), counts keyed by hash value exactly like the
    * kernel's HashMap, then the 64 per-bit count-weighted votes and the
    * signed two's-complement wrap of the assembled signature. DedupSpec
    * additionally asserts hamming(near-dups) << random.
    */
  private val dedupSimhash = Q(
    "dedup_simhash",
    (s, dir) => simhash(docs(s, dir)).orderBy("doc_id"),
    Some("""WITH u AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
           |hw AS (SELECT doc_id, h, count(*) AS c FROM (
           |   SELECT doc_id, list_reduce(
           |     list_prepend(CAST(14695981039346656037 AS HUGEINT),
           |       list_transform(string_split(w,''), ch -> CAST(ascii(ch) AS HUGEINT))),
           |     (h, b) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT)))
           |                * 1099511628211) % 18446744073709551616) AS h
           |   FROM u) GROUP BY doc_id, h),
           |v AS (SELECT doc_id, b, sum(CASE WHEN (h // CAST(power(2, b) AS HUGEINT)) % 2 = 1
           |                                 THEN c ELSE -c END) AS vote
           |      FROM hw, unnest(range(0, 64)) AS t(b) GROUP BY doc_id, b),
           |s AS (SELECT doc_id, sum(CASE WHEN vote > 0 THEN CAST(power(2, b) AS HUGEINT)
           |                              ELSE 0 END) AS uh
           |      FROM v GROUP BY doc_id)
           |SELECT doc_id, CAST(CASE WHEN uh >= 9223372036854775808
           |            THEN uh - 18446744073709551616 ELSE uh END AS BIGINT) AS simhash
           |FROM s ORDER BY doc_id""".stripMargin))

  def simhash(d: DataFrame): DataFrame = {
    // Entirely per-row (one kernel call per doc) — the explode + double
    // groupBy formulation paid two shuffles of docs×tokens×bits rows for
    // the same signature.
    Tables.spread(d)
      .select(col("doc_id"),
        graft.functions.TextKernels.simhash64(col("text")).as("simhash"))
  }

  /** Iterative min-label propagation WITH pointer jumping: each round a
    * vertex takes the minimum of its own label, its neighbors' labels, and
    * its label's label (`label(label(u))` — one extra self-join on the small
    * labels table). Neighbor propagation alone needs O(diameter) rounds; the
    * jump short-circuits already-discovered chains so label depth halves
    * every round — O(log diameter) total, the Shiloach-Vishkin/large-star
    * idea in DataFrame form. Each round is join + aggregate + join; eager
    * localCheckpoint per round truncates lineage (and keeps AQE free to
    * coalesce the tiny post-dedup shuffles; an InMemoryRelation would pin
    * the full partition count). Near-dup clusters are shallow, but chain
    * topologies (A≈B≈C≈...) are exactly what transitive closure produces —
    * the jump is what keeps round count single-digit at 100 TB.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponentsCounted(edges, maxIter)._1

  /** As [[connectedComponents]], also returning how many propagation rounds
    * ran before convergence. The count rides the return value rather than
    * any shared mutable state, so concurrent component computations on one
    * driver each observe their own round count (the round-complexity spec
    * asserts pointer jumping beats plain propagation on chains).
    */
  def connectedComponentsCounted(edges: DataFrame,
                                 maxIter: Int = 20): (DataFrame, Int) = {
    // persist BEFORE the symmetrizing union: both union branches read the
    // (possibly expensive) edge computation, and every iteration reads sym.
    // (r19 A/B note: co-partitioning sym on `v` via repartition+persist —
    // the pageRank iterSubstrate discipline — was tried and REVERTED: the
    // InMemoryRelation pins the full partition count on frames AQE would
    // otherwise coalesce, and the full board read the CC consumers 0.3 to
    // 0.4 s WORSE per row; exactly the trade the paragraph below warned
    // about. The per-round exchange here moves post-dedup label-scale rows,
    // not the edge frame.)
    val e = graft.Caches.track(edges)
    val sym = graft.Caches.track(
      e.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(e.select(col("doc_b").as("u"), col("doc_a").as("v"))))
    var labels = sym.select(col("u")).distinct().withColumn("label", col("u"))
      .localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("u").as("v"), col("label").as("nl")), "v")
        .groupBy("u").agg(min(col("nl")).as("cand"))
      // pointer jump: label(label(u)) — a self-join of labels on label = u
      // (label always names a vertex of the same component). The jump only
      // pays off on components deeper than the rounds already run, so the
      // first two rounds stay plain propagation (shallow clusters — the
      // common near-dup case — converge right there without the extra
      // join); from round 3 the jump halves the remaining label depth each
      // round, keeping deep chains O(log diameter).
      val jumped =
        if (i < 2) labels.withColumn("l2", col("label"))
        else labels.join(
          labels.select(col("u").as("label"), col("label").as("l2")),
          Seq("label"), "left")
      // carry the did-it-change flag through the checkpoint: the convergence
      // count then scans the already-materialized rows instead of paying
      // another join per iteration
      val next = jumped.join(nbrMin, Seq("u"), "left")
        .select(col("u"),
          least(col("label"), coalesce(col("cand"), col("label")),
            coalesce(col("l2"), col("label"))).as("label"),
          (least(coalesce(col("cand"), col("label")),
            coalesce(col("l2"), col("label"))) < col("label")).as("chg"))
        .localCheckpoint(true)
      changed = next.filter(col("chg")).count()
      labels = next.drop("chg")
      i += 1
    }
    (labels.select(col("u").as("doc_id"), col("label").as("cluster_id")), i)
  }

  /** Duplicate-cluster resolution: connected components over the verified
    * near-dup pair graph — the transitive-closure step after pairwise
    * detection (a≈b, b≈c ⇒ one cluster keeps one representative). Cluster id
    * = minimum doc_id in the component; oracle is a DuckDB recursive CTE
    * over the same pairs.
    */
  private val dedupClusters = Q(
    "dedup_clusters",
    (s, dir) => connectedComponents(
      jaccardFrom(commonsShared(s, dir), 0.8)
        .select("doc_a", "doc_b")).orderBy("doc_id"),
    Some("""WITH RECURSIVE
           |w AS (SELECT doc_id, lang, string_split(text,' ') AS w FROM documents),
           |s AS (SELECT doc_id, lang, CASE WHEN len(w) < 3 THEN [array_to_string(w,' ')]
           |        ELSE list_distinct(list_transform(range(1, len(w)-1),
           |               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS sh
           |      FROM w),
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |        len(list_intersect(a.sh, b.sh)) AS c, len(a.sh) AS na, len(b.sh) AS nb
           |      FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id),
           |pairs AS (SELECT doc_a, doc_b FROM p WHERE CAST(c AS DOUBLE)/(na+nb-c) >= 0.8),
           |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
           |          UNION ALL SELECT doc_b, doc_a FROM pairs),
           |reach(u, v) AS (SELECT u, u FROM (SELECT DISTINCT u FROM edges)
           |                UNION
           |                SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u)
           |SELECT u AS doc_id, min(v) AS cluster_id FROM reach
           |GROUP BY u ORDER BY doc_id""".stripMargin))

  /** The full cleaning pipeline as one query — docs in, surviving
    * representatives out: exact dedup (min doc_id per text) → same-lang
    * 3-gram-Jaccard near-dup pairs → connected components → drop every
    * cluster member that isn't its cluster's min-id representative. The
    * composition a training-data pipeline actually runs.
    */
  private val dedupPipelineSurvivors = Q(
    "dedup_pipeline_survivors",
    (s, dir) => {
      val d = docs(s, dir)
      val keepIds = d.groupBy("text").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      // NOT pre-spread: jaccardPairs spreads its input itself — a spread
      // here would add a second full exchange of the kept corpus
      val kept = graft.Caches.track(d.join(keepIds, "doc_id"))
      val pairs = jaccardPairs(kept).select("doc_a", "doc_b")
      val nonReps = connectedComponents(pairs)
        .filter(col("cluster_id") =!= col("doc_id"))
        .select("doc_id")
      kept.join(nonReps, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE
           |k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
           |d AS (SELECT doc_id, text, lang, source, n_chars FROM documents
           |      WHERE doc_id IN (SELECT doc_id FROM k)),
           |w AS (SELECT doc_id, lang, string_split(text,' ') AS w FROM d),
           |s AS (SELECT doc_id, lang, CASE WHEN len(w) < 3 THEN [array_to_string(w,' ')]
           |        ELSE list_distinct(list_transform(range(1, len(w)-1),
           |               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS sh
           |      FROM w),
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |        len(list_intersect(a.sh, b.sh)) AS c, len(a.sh) AS na, len(b.sh) AS nb
           |      FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id),
           |pairs AS (SELECT doc_a, doc_b FROM p WHERE CAST(c AS DOUBLE)/(na+nb-c) >= 0.8),
           |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
           |          UNION ALL SELECT doc_b, doc_a FROM pairs),
           |reach(u, v) AS (SELECT u, u FROM (SELECT DISTINCT u FROM edges)
           |                UNION
           |                SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
           |nonrep AS (SELECT u AS doc_id FROM reach GROUP BY u HAVING min(v) != u)
           |SELECT doc_id, lang, source, n_chars FROM d
           |WHERE doc_id NOT IN (SELECT doc_id FROM nonrep)
           |ORDER BY doc_id""".stripMargin))

  /** Benchmark decontamination — the eval-leak scrub a training pipeline
    * runs before packing: every corpus document sharing >= 1 3-gram shingle
    * with the benchmark set is flagged with its overlap size (downstream
    * drops or audits them). The benchmark (stand-in here: doc_id < 20) is
    * tiny by nature, so its distinct shingle set broadcasts; the corpus side
    * is one explode + broadcast hash join + two-phase count — linear in
    * corpus shingles, never doc × doc.
    */
  /** Shared by the broadcast-exact and bloom-prefiltered decontamination
    * variants — both compute the identical shared-shingle counts. (Declared
    * BEFORE its first capture: a forward reference inside an object body
    * reads null during initialization, silently emitting a null oracle.)
    */
  private val decontaminateOracle =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
      |s AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w,' ')]
      |        ELSE list_distinct(list_transform(range(1, len(w)-1),
      |               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS sh
      |      FROM w),
      |b AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id < 20),
      |c AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id >= 20)
      |SELECT c.doc_id, count(*) AS n_shared FROM c JOIN b USING (g)
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  private val dedupDecontaminate = Q(
    "dedup_decontaminate",
    (s, dir) => {
      val d = docs(s, dir)
      // shingle_explode is the custom Generator (true UDTF): shingles stream
      // straight into Generate with no per-row intermediate array
      val benchSh = d.filter(col("doc_id") < 20)
        .select(graft.functions.TextKernels.shingleExplode(col("text")))
        .select("g").distinct()
      val corpusEx = Tables.spread(d.filter(col("doc_id") >= 20))
        .select(col("doc_id"), graft.functions.TextKernels.shingleExplode(col("text")))
        .select("doc_id", "g")
      // per-doc shingles are distinct and the bench side is distinct'd, so
      // the post-join count IS the intersection size
      corpusEx.join(broadcast(benchSh), "g")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    },
    Some(decontaminateOracle))

  /** The 100 TB decontamination shape: when the benchmark/blocklist shingle
    * set is too large to broadcast, the exact semi-join becomes a full
    * shuffle of the corpus's shingle stream. Here a fixed-size Bloom filter
    * of the bench shingles (built distributed by the [[graft.functions
    * .BloomBuild]] aggregator, OR-merged map-side) is broadcast instead and
    * probed per corpus shingle by the `bloom_contains` kernel; only the
    * survivors (true matches + ~FPR of the corpus) reach the exact
    * — deliberately non-broadcast — confirming join. Bloom error is
    * one-sided, so the final counts are bit-identical to
    * [[dedupDecontaminate]] and share its oracle.
    */
  private val dedupDecontaminateBloom = Q(
    "dedup_decontaminate_bloom",
    (s, dir) => {
      import graft.functions.{BloomKernels, TextKernels}
      val d = docs(s, dir)
      val benchSh = d.filter(col("doc_id") < 20)
        .select(TextKernels.shingleExplode(col("text")))
        .select("g").distinct()
      // 2^16 bits for ~2k bench shingles at sf0.01 → FPR ≈ (kn/m)^k ~ 1e-3;
      // a real blocklist sizes m at ~10 bits/key
      val bloom = benchSh.agg(BloomKernels.bloomAgg(col("g"), 1 << 16).as("bits"))
      val corpusEx = Tables.spread(d.filter(col("doc_id") >= 20))
        .select(col("doc_id"), TextKernels.shingleExplode(col("text")))
        .select("doc_id", "g")
      corpusEx.crossJoin(broadcast(bloom))
        .filter(BloomKernels.contains(col("bits"), col("g")))
        .drop("bits")
        // exact confirm on survivors only — kept a shuffle join on purpose:
        // this is the plan shape that survives a bench side too big to
        // broadcast (the broadcast variant above covers the small case)
        .join(benchSh.hint("shuffle_hash"), "g")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_id")
    },
    Some(decontaminateOracle))

  /** Exploded shingle rows: (doc_id, lang, n = full distinct-shingle count,
    * g = one shingle hash).
    */
  private def explodedShingles(d: DataFrame): DataFrame = {
    Tables.spread(d)
      .select(col("doc_id"), col("lang"),
        graft.functions.TextKernels.shingleHash64(col("text")).as("sh"))
      .select(col("doc_id"), col("lang"), size(col("sh")).as("n"),
        explode(col("sh")).as("g"))
  }

  /** Prebuilt corpus-side structures for incremental near-dup probing —
    * built ONCE per corpus, then probed per batch by [[probeNearDups]].
    *
    * The index OWNS its persistence: its three frames are cached outside
    * the [[graft.Caches]] registry, so an unrelated `Caches.release()` at
    * some other operation's boundary cannot silently unpersist a live
    * streaming index. The owner calls [[release]] when done (after stopping
    * the stream). Batch-scoped uses ([[incrementalNearDups]]) adopt the
    * frames into the registry instead.
    *
    * `sub`: sub-cap posting lists (lang, g, ds); `hotG`: hot shingle keys
    * (lang, g) with df > cap; `hotByDoc`: per-corpus-doc hot-shingle arrays
    * for the exactness correction.
    */
  final case class CorpusIndex(sub: DataFrame, hotG: DataFrame,
      hotByDoc: DataFrame, dfCap: Int,
      private[operators] val underlying: Option[DataFrame] = None) {
    private[operators] def frames: Seq[DataFrame] =
      Seq(sub, hotG, hotByDoc) ++ underlying
    /** Unpersist the index's cached frames (non-blocking). */
    def release(): Unit = frames.foreach(_.unpersist(false))
  }

  /** `eager = true` (the long-lived/streaming shape): the derived frames
    * are materialized into their own caches and the intermediate full
    * posting index is unpersisted before returning, so the standing
    * footprint is one copy of the postings. `eager = false` (one-shot batch
    * probes): nothing materializes until the probe runs, and the
    * intermediate index rides along in `frames` for the caller's release.
    * (A fully UNpersisted one-shot index was measured ~30 % slower: the
    * three consumers sit in separate broadcast subtrees, where AQE stage
    * reuse does not apply, so the posting aggregation re-ran per consumer.)
    */
  def buildCorpusIndex(oldDocs: DataFrame,
                       dfCap: Int = DefaultShingleDfCap,
                       eager: Boolean = true): CorpusIndex = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // collect_set, not collect_list: a corpus doc_id accidentally present
    // twice (duplicate-keyed input) contributes identical (doc_id, n)
    // structs, and the set dedup keeps the df-cap classification and the
    // hot-membership arrays consistent with what jaccardPairs' PairExplode
    // dedup does on the batch path. (Same doc_id with DIFFERENT text — so
    // different n — stays genuinely invalid input on every path.)
    val idx = explodedShingles(oldDocs)
      .groupBy("lang", "g")
      .agg(collect_set(struct(col("doc_id"), col("n"))).as("ds"))
      .persist(level)
    val hot = idx.filter(size(col("ds")) > dfCap)
    val built = CorpusIndex(
      idx.filter(size(col("ds")) <= dfCap).persist(level),
      hot.select("lang", "g").persist(level),
      hot.select(col("g"), explode(col("ds")).as("m"))
        .select(col("m.doc_id").as("doc_id"), col("g"))
        .groupBy("doc_id").agg(collect_list(col("g")).as("hot_sh"))
        .persist(level),
      dfCap,
      underlying = if (eager) None else Some(idx))
    if (eager) {
      built.frames.foreach(_.count())
      idx.unpersist(false)
    }
    built
  }

  /** Score one batch of new docs against a prebuilt [[CorpusIndex]]: the
    * batch explodes its shingles and probes the sub-cap postings with a
    * plain equi-join — per-cycle cost linear in the BATCH, never
    * corpus × corpus. Exactness under the df cap mirrors [[jaccardPairs]]:
    * shared HOT shingles don't generate candidates but are added back to
    * the intersection via the per-doc hot arrays on both sides
    * (|A∩B| = |A∩B|_capped + |hotA ∩ hotB|), with n_new/n_old always the
    * full set sizes; a (new, old) pair sharing ONLY hot shingles is pure
    * boilerplate and is skipped — the same documented trade.
    */
  def probeNearDups(idx: CorpusIndex, newDocs: DataFrame,
                    minJ: Double = 0.8): DataFrame = {
    // explodedShingles registers the kernels on the batch's session (inside
    // foreachBatch that's the stream's cloned session, not the corpus's).
    // NOT persisted: the batch side is small by definition, and a per-batch
    // persist would accumulate for the stream's lifetime — re-shingling the
    // batch for its two consumers is cheaper than leaking cache entries
    // batch-side dedup mirroring the index side's collect_set: drop
    // duplicated new-doc rows BEFORE shingling (one cheap shuffle of the
    // small batch), so every (new_id, g) row is unique and the plain
    // count below stays an exact distinct-shingle count. A countDistinct
    // in the aggregate gives the same guarantee but plans an Expand over
    // the big post-join intermediate (+60 % on the probe at sf0.1).
    val exNew = explodedShingles(newDocs.dropDuplicates("doc_id"))
      .toDF("new_id", "lang", "n_new", "g")
    val pairs = exNew
      .join(idx.sub, Seq("lang", "g"))
      .select(col("new_id"), col("n_new"), explode(col("ds")).as("m"))
      .select(col("new_id"), col("n_new"),
        col("m.doc_id").as("old_id"), col("m.n").as("n_old"))
      .groupBy("new_id", "old_id", "n_new", "n_old")
      .agg(count(lit(1)).as("common_capped"))
    // new-side hot shingles: the batch's shingles that are hot IN THE CORPUS
    val newHotByDoc = exNew.join(broadcast(idx.hotG), Seq("lang", "g"))
      .groupBy(col("new_id")).agg(collect_list(col("g")).as("hot_new"))
    pairs
      .join(newHotByDoc, Seq("new_id"), "left")
      .join(idx.hotByDoc.toDF("old_id", "hot_old"), Seq("old_id"), "left")
      .withColumn("common", col("common_capped") +
        when(col("hot_new").isNull || col("hot_old").isNull, lit(0))
          .otherwise(size(array_intersect(col("hot_new"), col("hot_old")))))
      // same duplicated-input guards as jaccardPairs: no-ops on valid input
      .withColumn("jaccard", least(col("common").cast("double") /
        greatest(col("n_new") + col("n_old") - col("common"), lit(1)), lit(1.0)))
      .filter(col("jaccard") >= minJ)
      .select(col("new_id"), col("old_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Incremental near-dup detection — the shape a production pipeline runs
    * every ingest cycle: [[buildCorpusIndex]] + [[probeNearDups]] in one
    * call, for the batch-job case where the corpus index isn't reused. The
    * index frames are adopted into the [[graft.Caches]] registry so the
    * batch driver's boundary release reclaims them.
    */
  def incrementalNearDups(oldDocs: DataFrame, newDocs: DataFrame,
                          minJ: Double = 0.8,
                          dfCap: Int = DefaultShingleDfCap): DataFrame = {
    val idx = buildCorpusIndex(oldDocs, dfCap, eager = false)
    idx.frames.foreach(graft.Caches.adopt)
    probeNearDups(idx, newDocs, minJ)
  }

  /** Batch split stand-in: every 5th doc is "this cycle's arrivals", the
    * rest are the standing corpus.
    */
  private val dedupIncremental = Q(
    "dedup_incremental",
    (s, dir) => {
      val d = docs(s, dir)
      incrementalNearDups(
        d.filter(col("doc_id") % 5 =!= 0), d.filter(col("doc_id") % 5 === 0))
        .orderBy("new_id", "old_id")
    },
    Some("""WITH w AS (SELECT doc_id, lang, string_split(text,' ') AS w FROM documents),
           |s AS (SELECT doc_id, lang, CASE WHEN len(w) < 3 THEN [array_to_string(w,' ')]
           |        ELSE list_distinct(list_transform(range(1, len(w)-1),
           |               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS sh
           |      FROM w),
           |p AS (SELECT n.doc_id AS new_id, o.doc_id AS old_id,
           |        len(list_intersect(n.sh, o.sh)) AS c, len(n.sh) AS nn, len(o.sh) AS n_o
           |      FROM s n JOIN s o ON n.lang = o.lang
           |        AND n.doc_id % 5 = 0 AND o.doc_id % 5 != 0)
           |SELECT new_id, old_id, round(CAST(c AS DOUBLE)/(nn+n_o-c), 6) AS jaccard
           |FROM p WHERE CAST(c AS DOUBLE)/(nn+n_o-c) >= 0.8
           |ORDER BY new_id, old_id""".stripMargin))

  /** Segment-level boilerplate removal for a `(doc_id, text)` frame
    * (C4/RefinedWeb line-dedup re-shaped for a corpus without line
    * structure): each document splits into non-overlapping `segLen`-token
    * segments; a segment whose exact text occurs in ≥ `minDocs` DISTINCT
    * documents is boilerplate and is dropped from every document;
    * survivors reassemble in order. Docs scrubbed to nothing stay in the
    * output with empty text (left join), so the row count is total — the
    * downstream filter decides their fate, not this operator. Unordered
    * (library callers feed further keyed operators; the query wrapper adds
    * the oracle sort).
    *
    * Scale shape: explode → two-phase distinct-doc count per segment →
    * shuffle join back on the segment key → per-doc regroup. Everything is
    * keyed; no doc×doc products, no driver state. The scan is rebalanced
    * before the per-segment slicing and the exploded frame is built ONCE
    * ([[graft.Caches.track]]ed — it feeds the frequency count, the
    * anti-join probe, and the per-doc totals). At 100 TB the df table is
    * Zipf-shaped and small relative to the corpus — the join's build side
    * prunes to only the hot segments if rewritten as anti-join vs
    * `df >= K`, which AQE handles when that side fits its broadcast
    * threshold.
    */
  def segmentDedup(d: DataFrame, segLen: Int = 3, minDocs: Int = 3): DataFrame = {
    val segs = graft.Caches.track(Tables.spread(d)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"),
        explode(sequence(lit(1), ceil(size(col("w")) / lit(segLen.toDouble)).cast("int")))
          .as("seg_idx"), col("w"))
      .select(col("doc_id"), col("seg_idx"),
        array_join(slice(col("w"), (col("seg_idx") - 1) * segLen + 1, lit(segLen)), " ")
          .as("seg")))
    val df = segs.groupBy("seg")
      .agg(countDistinct(col("doc_id")).as("df"))
    val kept = segs.join(df.filter(col("df") >= minDocs), Seq("seg"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          x => x("seg")), " ").as("cleaned"))
    // row set anchored on the INPUT's doc_ids (a pruned id-only scan), not
    // on segs: a null-text doc explodes to no segments and would silently
    // vanish from a segs-derived output, breaking the total-row contract
    d.select(col("doc_id"))
      .join(segs.groupBy("doc_id").agg(count(lit(1)).cast("int").as("n_segs")),
        Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_segs"), lit(0)).as("n_segs"),
        coalesce(col("n_kept"), lit(0L)).cast("int").as("n_kept"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  private val dedupLines = Q(
    "dedup_lines",
    (s, dir) => segmentDedup(docs(s, dir)).orderBy("doc_id"),
    Some("""WITH d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
           |s AS (SELECT doc_id, i AS seg_idx,
           |        array_to_string(list_slice(w, (i-1)*3 + 1,
           |          least((i-1)*3 + 3, len(w))), ' ') AS seg
           |      FROM d, unnest(range(1, CAST(ceil(len(w)/3.0) AS INT) + 1)) AS t(i)),
           |f AS (SELECT seg, count(distinct doc_id) AS df FROM s GROUP BY seg),
           |k AS (SELECT doc_id, count(*) AS n_kept,
           |        array_to_string(array_agg(seg ORDER BY seg_idx), ' ') AS cleaned
           |      FROM s WHERE seg NOT IN (SELECT seg FROM f WHERE df >= 3)
           |      GROUP BY doc_id)
           |SELECT d.doc_id,
           |  CAST(ceil(len(d.w)/3.0) AS INT) AS n_segs,
           |  CAST(COALESCE(k.n_kept, 0) AS INT) AS n_kept,
           |  COALESCE(k.cleaned, '') AS cleaned
           |FROM d LEFT JOIN k ON d.doc_id = k.doc_id
           |ORDER BY d.doc_id""".stripMargin))

  /** Sliding-window repeated-SPAN scrub — the substring-level dedup rung
    * below [[segmentDedup]] (which only sees aligned, non-overlapping
    * segments and so misses duplicated runs at arbitrary offsets; the
    * suffix-array exact-substring method this approximates is inherently
    * single-machine). Every `win`-token sliding window is an 8-gram key;
    * a window text occurring in ≥ `minDf` DISTINCT documents marks ALL
    * positions it covers in EVERY document containing it; unmarked tokens
    * reassemble in order. A doc shorter than `win` has no windows and
    * passes through whole; docs scrubbed to nothing keep their row
    * (the [[segmentDedup]] total-row contract).
    *
    * Scale shape: the window explode is ~1 gram row per corpus token (the
    * honest linear cost of substring-level matching — ~win× the bytes of
    * the segment variant, which is why this runs downstream of exact/LSH
    * dedup in a real pipeline, not instead of them); the df table is one
    * two-phase distinct-doc count on the gram key; duplicated windows come
    * back via a semi-join on that key; position marking fans out a
    * constant `win` per duplicated window; the kept-token anti-join and
    * the reassembly group-by run on (doc, pos) keys. No doc×doc product
    * anywhere; hot grams are exactly the ones the df table finds, and at
    * 100 TB the `df >= minDf` side is the Zipf head — small enough that
    * AQE broadcasts the probe side of both back-joins. The exploded window
    * frame feeds the df count and the mark join, so it is built once
    * ([[graft.Caches.track]]).
    */
  def spanDedup(d: DataFrame, win: Int = 8, minDf: Int = 2): DataFrame = {
    val toks = Tables.spread(d).select(col("doc_id"), words(col("text")).as("w"))
    // docs shorter than the window have no windows — and must be filtered
    // BEFORE the explode: sequence(0, negative) auto-descends in Spark and
    // would emit negative starts (DuckDB's range(0, negative) is empty)
    val wins = graft.Caches.track(toks
      .filter(size(col("w")) >= win)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - win)).as("st"))
      .select(col("doc_id"), col("st"),
        array_join(slice(col("w"), col("st") + 1, lit(win)), " ").as("gram")))
    val dup = wins.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select("gram")
    val marked = wins.join(dup, Seq("gram"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("st"), col("st") + (win - 1))).as("pos"))
      .distinct()
    val kept = toks
      .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "tok")))
      .join(marked, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x("tok")), " ").as("cleaned"))
    d.select(col("doc_id"), size(words(col("text"))).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  private val dedupSpans = Q(
    "dedup_spans",
    (s, dir) => spanDedup(docs(s, dir)).orderBy("doc_id"),
    Some("""WITH d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
           |wins AS (SELECT doc_id, s AS st,
           |    array_to_string(list_slice(w, s+1, s+8), ' ') AS gram
           |  FROM d, unnest(range(0, len(w) - 8 + 1)) AS t(s)),
           |f AS (SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS df
           |      FROM wins GROUP BY gram) WHERE df >= 2),
           |mk AS (SELECT DISTINCT doc_id, st + i AS pos
           |       FROM wins JOIN f USING (gram), unnest(range(0, 8)) AS t(i)),
           |toks AS (SELECT doc_id, i - 1 AS pos, w[CAST(i AS INT)] AS tok
           |         FROM d, unnest(range(1, len(w)+1)) AS t(i)),
           |kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
           |         WHERE NOT EXISTS (SELECT 1 FROM mk
           |                           WHERE mk.doc_id = t.doc_id AND mk.pos = t.pos)),
           |k AS (SELECT doc_id, count(*) AS n_kept,
           |        array_to_string(array_agg(tok ORDER BY pos), ' ') AS cleaned
           |      FROM kept GROUP BY doc_id)
           |SELECT d.doc_id, CAST(len(d.w) AS INT) AS n_tokens,
           |  CAST(COALESCE(k.n_kept, 0) AS INT) AS n_kept,
           |  COALESCE(k.cleaned, '') AS cleaned
           |FROM d LEFT JOIN k USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin))

  /** End-to-end curation pipeline — the full pre-training data path in one
    * DAG: quality gate (length/stopword composite ≥ 0.8) → PII redaction →
    * cross-doc segment boilerplate scrub ([[segmentDedup]]) → exact dedup
    * of the cleaned text (min-id winner carries its lang via struct-min) →
    * per-language sequence packing of the survivors. Every stage is a
    * proven oracle-checked component; composing them end-to-end is what a
    * real curation job runs nightly, and the composition itself is
    * oracle-checked here. Linear at every stage: one filter+map pass, the
    * segment-keyed scrub, one hash aggregate, one per-lang prefix window.
    */
  private val pipelineCurate = Q(
    "pipeline_curate",
    (s, dir) => {
      // cached: consumed by segmentDedup's exploded build AND the lang
      // re-join below — uncached, the quality scoring re-runs over the
      // whole corpus for the second consumer
      val qualified = graft.Caches.track(docs(s, dir)
        .filter(round(TextAnalysis.qualityScore(col("text")), 6) >= 0.8)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.redactPii(col("text")).as("text")))
      val cleaned = segmentDedup(qualified)
        .filter(col("cleaned") =!= "")
        .join(qualified.select("doc_id", "lang"), Seq("doc_id"))
      val deduped = cleaned.groupBy(col("cleaned"))
        .agg(min(struct(col("doc_id"), col("lang"))).as("m"))
        .select(col("m.doc_id").as("doc_id"), col("m.lang").as("lang"), col("cleaned"))
      val binTokens = 2048
      val wWin = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      deduped
        .select(col("doc_id"), col("lang"),
          size(words(col("cleaned"))).cast("long").as("n_tokens"),
          md5(col("cleaned")).as("fp"))
        .withColumn("offset", coalesce(sum("n_tokens").over(wWin), lit(0L)))
        .withColumn("bin_id", floor(col("offset") / binTokens).cast("long"))
        .select("doc_id", "lang", "n_tokens", "bin_id", "fp")
        .orderBy("doc_id")
    },
    Some(s"""WITH q AS (SELECT doc_id, lang, text FROM documents
            |  WHERE round(${TextAnalysis.qualityScoreSql("text")}, 6) >= 0.8),
            |r AS (SELECT doc_id, lang, ${TextAnalysis.redactSql("text")} AS text
            |  FROM q),
           |d AS (SELECT doc_id, lang, string_split(text,' ') AS w FROM r),
           |s AS (SELECT doc_id, i AS seg_idx,
           |        array_to_string(list_slice(w, (i-1)*3 + 1,
           |          least((i-1)*3 + 3, len(w))), ' ') AS seg
           |      FROM d, unnest(range(1, CAST(ceil(len(w)/3.0) AS INT) + 1)) AS t(i)),
           |f AS (SELECT seg, count(distinct doc_id) AS df FROM s GROUP BY seg),
           |k AS (SELECT doc_id, array_to_string(array_agg(seg ORDER BY seg_idx), ' ') AS cleaned
           |      FROM s WHERE seg NOT IN (SELECT seg FROM f WHERE df >= 3)
           |      GROUP BY doc_id),
           |kc AS (SELECT k.doc_id, d.lang, k.cleaned
           |       FROM k JOIN d ON k.doc_id = d.doc_id WHERE k.cleaned != ''),
           |dd AS (SELECT min(doc_id) AS doc_id, cleaned FROM kc GROUP BY cleaned),
           |ddl AS (SELECT dd.doc_id, kc.lang, dd.cleaned
           |        FROM dd JOIN kc ON dd.doc_id = kc.doc_id),
           |p AS (SELECT doc_id, lang,
           |        CAST(len(string_split(cleaned,' ')) AS BIGINT) AS n_tokens,
           |        md5(cleaned) AS fp,
           |        CAST(COALESCE(SUM(len(string_split(cleaned,' '))) OVER (
           |          PARTITION BY lang ORDER BY doc_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |          AS "offset"
           |      FROM ddl)
           |SELECT doc_id, lang, n_tokens, CAST("offset" // 2048 AS BIGINT) AS bin_id, fp
           |FROM p ORDER BY doc_id""".stripMargin))

  /** Cross-source contamination matrix: near-dup pair counts per unordered
    * source pair — the curation dashboard that says WHICH feeds duplicate
    * each other (mirror sites, scraped re-posts) before deciding what to
    * drop. Candidates come from the same df-capped inverted index as
    * [[jaccardPairs]]; the tiny doc→source map joins back on the pair
    * endpoints and the matrix is a two-phase count over ≤ sources² keys.
    */
  private val dedupSourceOverlap = Q(
    "dedup_source_overlap",
    (s, dir) => {
      val d = docs(s, dir)
      val src = d.select(col("doc_id"), col("source"))
      jaccardFrom(commonsShared(s, dir), 0.8)
        .join(src.toDF("doc_a", "src_a"), "doc_a")
        .join(src.toDF("doc_b", "src_b"), "doc_b")
        .select(least(col("src_a"), col("src_b")).as("source_a"),
          greatest(col("src_a"), col("src_b")).as("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    },
    Some("""WITH w AS (SELECT doc_id, lang, source, string_split(text,' ') AS w FROM documents),
           |s AS (SELECT doc_id, lang, source, CASE WHEN len(w) < 3 THEN [array_to_string(w,' ')]
           |        ELSE list_distinct(list_transform(range(1, len(w)-1),
           |               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS sh
           |      FROM w),
           |p AS (SELECT least(a.source, b.source) AS source_a,
           |        greatest(a.source, b.source) AS source_b,
           |        len(list_intersect(a.sh, b.sh)) AS c, len(a.sh) AS na, len(b.sh) AS nb
           |      FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id)
           |SELECT source_a, source_b, count(*) AS n_dup_pairs
           |FROM p WHERE CAST(c AS DOUBLE)/(na+nb-c) >= 0.8
           |GROUP BY source_a, source_b
           |ORDER BY source_a, source_b""".stripMargin))

  /** Winnowing fingerprint near-dup pairs (Schleimer/Wilkerson/Aiken, the
    * MOSS algorithm): per document, hash every 4-token gram, then slide a
    * 4-window over the gram-hash sequence and keep each window's minimum
    * (RIGHTMOST position on ties — the deterministic variant); documents
    * sharing ≥ 2 selected fingerprints pair up. Winnowing guarantees any
    * shared run of ≥ 7 tokens yields a shared fingerprint while storing
    * only ~2/(w+1) of the grams — the storage rung between full n-gram
    * Jaccard and MinHash. Per-doc work is ALL higher-order array functions
    * (hashes computed once into an array, the window fold reads it) — zero
    * shuffle until the inverted-index pair join, which is df-capped at 50
    * docs per fingerprint exactly like [[dedupNgramJaccard]]'s posting
    * lists, so no hot fingerprint can quadratic-blow the self-join at
    * scale. Short docs (4–6 tokens: grams but no full window) keep their
    * single minimum gram hash; the engine-portable [[md5Hash32]] hash lets
    * the oracle replay gram hashing, rightmost-min selection (row_number
    * ORDER BY h, i DESC), df cap, and pair counting exactly.
    */
  private val dedupWinnow = Q(
    "dedup_winnow",
    (s, dir) => {
      val d = Tables.spread(docs(s, dir))
        .select(col("doc_id"),
          filter(words(col("text")), t => length(t) > 0).as("ts"))
        .filter(size(col("ts")) >= 4)
        .select(col("doc_id"),
          transform(sequence(lit(0), size(col("ts")) - 4),
            i => md5Hash32(concat_ws(" ", slice(col("ts"), i + 1, lit(4)))))
            .as("g"))
      val winnowed = when(size(col("g")) >= 4,
        array_distinct(transform(sequence(lit(0), size(col("g")) - 4),
          j => aggregate(sequence(j, j + 3),
            struct(lit(Long.MaxValue).as("h"), lit(-1).as("p")),
            (acc, i) => when(element_at(col("g"), i + 1) <= acc.getField("h"),
              struct(element_at(col("g"), i + 1).as("h"), i.as("p")))
              .otherwise(acc))
            .getField("h"))))
        .otherwise(array(array_min(col("g"))))
      val inv = d.select(col("doc_id"), explode(winnowed).as("fp"))
      val ok = inv.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 50).select("fp")
      val use = inv.join(ok, "fp")
      use.select(col("fp"), col("doc_id").as("doc_a"))
        .join(use.select(col("fp"), col("doc_id").as("doc_b")), "fp")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy("doc_a", "doc_b")
    },
    Some("""WITH t AS (SELECT doc_id,
           |        list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
           |      FROM documents),
           |g AS (SELECT doc_id, i,
           |        CAST('0x' || substr(md5(array_to_string(ts[i:i+3], ' ')), 1, 8)
           |          AS BIGINT) AS h
           |      FROM t, unnest(range(1, len(ts) - 2)) AS r(i)
           |      WHERE len(ts) >= 4),
           |m AS (SELECT doc_id, count(*) AS m FROM g GROUP BY doc_id),
           |js AS (SELECT doc_id, r.j FROM m, unnest(range(1, m.m - 2)) AS r(j)),
           |win AS (SELECT g.doc_id, js.j, g.i, g.h,
           |          row_number() OVER (PARTITION BY g.doc_id, js.j
           |            ORDER BY g.h, g.i DESC) AS rn
           |        FROM js JOIN g ON g.doc_id = js.doc_id
           |                      AND g.i BETWEEN js.j AND js.j + 3),
           |sel AS (SELECT DISTINCT doc_id, h FROM win WHERE rn = 1
           |        UNION ALL
           |        SELECT doc_id, min(h) AS h FROM g
           |        WHERE doc_id IN (SELECT doc_id FROM m WHERE m < 4)
           |        GROUP BY doc_id),
           |okfp AS (SELECT h FROM sel GROUP BY h HAVING count(*) <= 50),
           |u AS (SELECT doc_id, h FROM sel WHERE h IN (SELECT h FROM okfp)),
           |p AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared
           |      FROM u x JOIN u y ON x.h = y.h AND x.doc_id < y.doc_id
           |      GROUP BY 1, 2 HAVING count(*) >= 2)
           |SELECT doc_a, doc_b, n_shared FROM p ORDER BY doc_a, doc_b""".stripMargin))

  /** Top-20 containment pairs (the quote/subset readout of
    * [[containmentPairs]]): on a corpus with no strong subset relations the
    * ranking surfaces the closest asymmetric overlaps; on a quote-heavy
    * crawl the same query is the C ≥ 0.9 scrub list. `common ≥ 2` drops the
    * single-shared-shingle noise tail; ordering is on the ROUNDED score (6
    * dp, then the pair key) so the top-k cut is engine-stable.
    */
  private val dedupContainment = Q(
    "dedup_containment",
    (s, dir) => containmentFrom(commonsShared(s, dir), minC = 0.0)
      .filter(col("common") >= 2)
      .select(col("inner_doc"), col("outer_doc"),
        round(col("containment"), 6).as("containment"),
        round(col("jaccard"), 6).as("jaccard"), col("common"))
      .orderBy(col("containment").desc, col("inner_doc"), col("outer_doc"))
      .limit(20)
      .orderBy(col("containment").desc, col("inner_doc"), col("outer_doc")),
    Some("""WITH w AS (SELECT doc_id, lang, string_split(text,' ') AS w FROM documents),
           |s AS (SELECT doc_id, lang, CASE WHEN len(w) < 3 THEN [array_to_string(w,' ')]
           |        ELSE list_distinct(list_transform(range(1, len(w)-1),
           |               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS sh
           |      FROM w),
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |        len(list_intersect(a.sh, b.sh)) AS c, len(a.sh) AS na, len(b.sh) AS nb
           |      FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id),
           |x AS (SELECT CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS inner_doc,
           |        CASE WHEN na <= nb THEN doc_b ELSE doc_a END AS outer_doc,
           |        round(CAST(c AS DOUBLE)/least(na, nb), 6) AS containment,
           |        round(CAST(c AS DOUBLE)/(na+nb-c), 6) AS jaccard,
           |        CAST(c AS BIGINT) AS common
           |      FROM p WHERE c >= 2 AND CAST(c AS DOUBLE)/(na+nb-c) < 0.8)
           |SELECT * FROM x
           |ORDER BY containment DESC, inner_doc, outer_doc LIMIT 20""".stripMargin))

  /** Content-defined chunking (CDC) duplicate report — the storage-dedup
    * rung of the family: chunk boundaries are set by CONTENT (a token
    * position starts a new chunk when its 4-token gram hashes to
    * 0 mod 16, the Rabin-cut idea with the engine-portable md5 hash), so
    * an insertion early in a document shifts every FIXED window
    * ([[segmentDedup]]'s segments, [[dedup_spans]]'s positions) but leaves
    * all later CDC cut points — and therefore all later chunks —
    * byte-identical, which is exactly why backup/dedup systems chunk this
    * way (expected chunk length 16 tokens ≈ the segment scale).
    *
    * Shape: per-doc flag array via ONE indexed `transform` (each position
    * hashes its own 4-token slice — no w-array carried through a join),
    * one explode to (doc, pos, tok, flag) rows, the chunk id as a running
    * flag sum over the doc-partitioned position window (high-cardinality
    * partition key), order-independent chunk reassembly via
    * `array_sort(collect_list(struct))`, then the cross-doc duplicate
    * report is a two-phase aggregate on the chunk text. Linear —
    * 1 row/token, the dedup_spans honesty — at any corpus size.
    */
  /** The chunk table under the `text_cdc_chunks` query: every document cut into
    * content-defined chunks — (doc_id, cid, chunk, n_tok), cid ordinal per
    * doc. Public so the shift-invariance property (the REASON to chunk by
    * content) is spec-testable on crafted docs.
    */
  def cdcChunks(d0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.spread(d0)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val rows = d.select(col("doc_id"), explode(transform(col("w"),
      (tok, p) => struct(
        p.as("p"), tok.as("tok"),
        when(p <= size(col("w")) - 4,
          (pmod(graft.functions.Deterministic.md5Hash32(
            concat_ws(" ", slice(col("w"), p + 1, lit(4)))), lit(16)) === 0)
            .cast("long")).otherwise(lit(0L)).as("flag")))).as("x"))
      .select(col("doc_id"), col("x.p").as("p"), col("x.tok").as("tok"),
        col("x.flag").as("flag"))
    val cid = sum(col("flag")).over(Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    rows.withColumn("cid", cid)
      .groupBy("doc_id", "cid")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("p"), col("tok")))),
        x => x.getField("tok")), " ").as("chunk"),
        count(lit(1)).as("n_tok"))
  }

  private val textCdcChunks = Q(
    "text_cdc_chunks",
    (s, dir) => {
      cdcChunks(docs(s, dir)).groupBy("chunk")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"), max(col("n_tok")).as("chunk_tokens"))
        .filter(col("n_occ") >= 2)
        .orderBy(col("n_occ").desc, col("n_docs").desc, col("chunk"))
        .limit(20)
        .orderBy(col("n_occ").desc, col("n_docs").desc, col("chunk"))
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
           |pos AS (SELECT doc_id, CAST(i - 1 AS INT) AS p, w[i] AS tok,
           |    CASE WHEN i - 1 <= len(w) - 4 AND
           |        CAST('0x' || substr(md5(array_to_string(w[i:i+3], ' ')), 1, 8)
           |          AS BIGINT) % 16 = 0
           |      THEN 1 ELSE 0 END AS flag
           |  FROM w, unnest(range(1, len(w) + 1)) AS t(i)),
           |c AS (SELECT doc_id, p, tok,
           |    SUM(flag) OVER (PARTITION BY doc_id ORDER BY p
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cid
           |  FROM pos),
           |ch AS (SELECT doc_id, cid, string_agg(tok, ' ' ORDER BY p) AS chunk,
           |    count(*) AS n_tok FROM c GROUP BY doc_id, cid)
           |SELECT chunk, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           |  CAST(count(*) AS BIGINT) AS n_occ,
           |  CAST(max(n_tok) AS BIGINT) AS chunk_tokens
           |FROM ch GROUP BY chunk HAVING count(*) >= 2
           |ORDER BY n_occ DESC, n_docs DESC, chunk LIMIT 20""".stripMargin))

  /** Boilerplate OPENING clusters — group documents by the md5 key of
    * their first 8 tokens: crawl/template boilerplate (cookie banners,
    * license headers, scraper preambles) shares exact openings long before
    * full-document near-dup fires, and the opening key is the cheapest
    * possible blocking signal (one hash per doc, no shingling). The
    * pipeline reads this as "which templates dominate my corpus" and
    * feeds the cluster members to [[segmentDedup]]/span scrub for the
    * actual cleanup. Reports clusters with ≥ 2 docs: size, the smallest
    * member id, and the opening itself.
    *
    * Scale shape: per-row slice + hash (no explode), ONE two-phase count
    * on the 64-bit key, global top-k by (size, key) — TakeOrdered, no
    * sort. Deterministic: md5 over the exact token join; min(doc_id)
    * anchors each cluster.
    */
  private val dedupPrefixCluster = Q(
    "dedup_prefix_cluster",
    (s, dir) => {
      val opening = concat_ws(" ", slice(split(col("text"), " "), 1, 8))
      docs(s, dir)
        .select(col("doc_id"), opening.as("opening"))
        .filter(length(col("opening")) > 0)
        .groupBy(md5Hash32(col("opening")).as("opening_key"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
          min(col("opening")).as("opening"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("opening_key")).limit(20)
    },
    Some("""WITH o AS (SELECT doc_id,
           |    array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') AS opening
           |  FROM documents WHERE length(text) > 0),
           |g AS (SELECT CAST('0x' || substr(md5(opening), 1, 8) AS BIGINT) AS opening_key,
           |    count(*) AS n_docs, min(doc_id) AS first_doc, min(opening) AS opening
           |  FROM o GROUP BY 1)
           |SELECT opening_key, n_docs, first_doc, opening
           |FROM g WHERE n_docs >= 2
           |ORDER BY n_docs DESC, opening_key LIMIT 20""".stripMargin))

  /** TF-IDF-weighted cosine near-dup pairs — the WEIGHTED rung of the
    * near-dup ladder between set Jaccard (every shingle equal) and dense
    * embedding cosine (needs an encoder): two documents sharing rare
    * vocabulary score high even when their boilerplate differs, which is
    * exactly the paraphrase/translation-template case Jaccard under-scores
    * and the case where no embedding model is in the loop yet. Pairs
    * ride the TERM posting lists with a df cap (df ≤ 100, the
    * [[jaccardPairs]] stance): a term in half the corpus contributes
    * ~nothing to tf-idf weight AND would quadratically dominate the pair
    * join, so capping is both the scale lever and nearly score-neutral;
    * weights, norms and dots all live in the SAME capped term space so
    * the reported cosine is internally consistent (documented estimator,
    * not an approximation of an uncomputed exact).
    *
    * Scale shape: tf table (two-phase count), df join + cap filter, one
    * term-keyed pair join producing (a, b, wa·wb) rows, pair-keyed
    * dsumFine dot, broadcast norm joins. Linear in posting-list mass,
    * bounded by the cap. Determinism: tf/df exact; idf = ln(N/df) on
    * exact ints (the established ln convention); dots/norms ride
    * [[graft.functions.Deterministic.dsumFine]]; round-6, (a, b) order.
    */
  private val dedupTfidfCosine = Q(
    "dedup_tfidf_cosine",
    (s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n"))
      val w = graft.Caches.track(tf
        .join(df.filter(col("df") <= 100), "t")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("t"),
          (col("tf").cast("double") *
            log(col("n").cast("double") / col("df").cast("double"))).as("w")))
      val norms = w.groupBy("doc_id")
        .agg(sqrt(graft.functions.Deterministic.dsumFine(col("w") * col("w")))
          .as("nrm"))
      val dots = w.select(col("doc_id").as("a"), col("t"), col("w").as("wa"))
        .join(w.select(col("doc_id").as("b"), col("t"), col("w").as("wb")), "t")
        .filter(col("a") < col("b"))
        .groupBy("a", "b")
        .agg(graft.functions.Deterministic.dsumFine(col("wa") * col("wb")).as("dot"))
      dots
        .join(norms.select(col("doc_id").as("a"), col("nrm").as("na")), "a")
        .join(norms.select(col("doc_id").as("b"), col("nrm").as("nb")), "b")
        .withColumn("cos", col("dot") / (col("na") * col("nb")))
        .filter(col("cos") >= 0.5)
        .select(col("a").as("doc_a"), col("b").as("doc_b"),
          round(col("cos"), 6).as("cosine"))
        .orderBy("doc_a", "doc_b")
    },
    Some("""WITH tf AS (SELECT doc_id, t, count(*) AS tf
           |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
           |        FROM documents) GROUP BY 1, 2),
           |df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
           |n AS (SELECT count(*) AS n FROM documents),
           |w AS (SELECT doc_id, tf.t,
           |    CAST(tf AS DOUBLE) * ln(CAST(n AS DOUBLE) / df) AS w
           |  FROM tf JOIN df ON tf.t = df.t CROSS JOIN n WHERE df <= 100),
           |norms AS (SELECT doc_id,
           |    sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
           |  FROM w GROUP BY 1),
           |dots AS (SELECT a.doc_id AS a, b.doc_id AS b,
           |    CAST(SUM(CAST(a.w * b.w AS DECIMAL(38,20))) AS DOUBLE) AS dot
           |  FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT a AS doc_a, b AS doc_b,
           |  round(dot / (na.nrm * nb.nrm), 6) AS cosine
           |FROM dots JOIN norms na ON dots.a = na.doc_id
           |JOIN norms nb ON dots.b = nb.doc_id
           |WHERE dot / (na.nrm * nb.nrm) >= 0.5
           |ORDER BY doc_a, doc_b""".stripMargin))

  /** Shingle document-frequency profile — the CAP-TUNING readout for the
    * whole posting-list family: how shingle dfs distribute across bands
    * (unique / 2–5 / 6–20 / 21–50 / over-cap) and how much posting-list
    * MASS (Σdf — the actual pair-join cost driver) each band carries. The
    * over-cap row is exactly what [[jaccardPairs]]' df cap discards into
    * the hot-membership path; a growing over-cap mass share between crawls
    * says the cap (or the shingling) needs retuning BEFORE the pair join
    * degrades. One shingle explode → df count → 5-band rollup.
    */
  private val dedupShingleProfile = Q(
    "dedup_shingle_profile",
    (s, dir) => {
      val df = Tables.spread(docs(s, dir))
        .select(col("doc_id"),
          explode(graft.functions.TextKernels.shingleHash64(col("text"))).as("g"))
        .groupBy("g").agg(count(lit(1)).as("df"))
      val band = when(col("df") === 1, "1_unique")
        .when(col("df") <= 5, "2_df2_5")
        .when(col("df") <= 20, "3_df6_20")
        .when(col("df") <= lit(DefaultShingleDfCap), "4_df21_cap")
        .otherwise("5_over_cap")
      val b = df.groupBy(band.as("df_band"))
        .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("posting_mass"))
      val tot = b.agg(sum(col("n_shingles")).as("ts"), sum(col("posting_mass")).as("tm"))
      b.crossJoin(broadcast(tot))
        .select(col("df_band"), col("n_shingles"), col("posting_mass"),
          round(col("posting_mass").cast("double") / col("tm").cast("double"), 6)
            .as("mass_share"))
        .orderBy("df_band")
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
            |sh AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w,' ')]
            |        ELSE list_distinct(list_transform(range(1, len(w)-1),
            |               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS s
            |      FROM w),
            |df AS (SELECT g, count(*) AS df FROM
            |  (SELECT doc_id, unnest(s) AS g FROM sh) GROUP BY g),
            |b AS (SELECT CASE WHEN df = 1 THEN '1_unique'
            |        WHEN df <= 5 THEN '2_df2_5'
            |        WHEN df <= 20 THEN '3_df6_20'
            |        WHEN df <= $DefaultShingleDfCap THEN '4_df21_cap'
            |        ELSE '5_over_cap' END AS df_band,
            |      count(*) AS n_shingles, CAST(SUM(df) AS BIGINT) AS posting_mass
            |  FROM df GROUP BY 1),
            |tot AS (SELECT CAST(SUM(posting_mass) AS BIGINT) AS tm FROM b)
            |SELECT df_band, n_shingles, posting_mass,
            |  round(CAST(posting_mass AS DOUBLE) / tm, 6) AS mass_share
            |FROM b CROSS JOIN tot ORDER BY df_band""".stripMargin))

  /** MinHash+LSH recall against the exact-Jaccard ground truth as a
    * DECLARED query — the near-dup twin of sim_lsh_recall (the r9 verdict
    * convention: a probabilistic path the pipeline relies on gets a green
    * oracle-checked accuracy row): both the full MinHash replay AND the
    * exact within-language ≥ 0.8 pair set are deterministic, so DuckDB
    * replays both and the recall number itself is hash-checked. The
    * banding theory says a J = 0.8 pair survives 8 bands × 4 rows with
    * p = 1 − (1 − 0.8⁴)⁸ ≈ 0.996 — this row is where that claim meets the
    * corpus. Ground truth is the within-language exact pass (cross-lang
    * near-dups don't arise — languages carry disjoint marker vocabulary),
    * restricted on BOTH engines to pairs sharing at least one sub-cap
    * (per-lang df ≤ [[DefaultShingleDfCap]]) shingle — the same candidate
    * universe [[shinglePairCommons]] can see, so a hot-only-pair corpus
    * cannot make the declared query and its oracle disagree (the cap is
    * the documented hot-only-pair trade, not a recall loss to hide);
    * the Spark side reads both memoized substrates, the cost is two
    * semi-join counts.
    */
  private val dedupMinhashRecall = Q(
    "dedup_minhash_recall",
    (s, dir) => {
      val exact = jaccardFrom(commonsShared(s, dir), 0.8).select("doc_a", "doc_b")
      val got = minhashPairs(docs(s, dir)).select("doc_a", "doc_b")
      val hits = exact.join(got, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      exact.agg(count(lit(1)).as("n_exact_pairs"))
        .crossJoin(broadcast(got.agg(count(lit(1)).as("n_detected"))))
        .crossJoin(broadcast(hits))
        .select(col("n_exact_pairs"), col("n_detected"), col("n_hits"),
          round(col("n_hits").cast("double") /
            when(col("n_exact_pairs") > 0, col("n_exact_pairs").cast("double")),
            6).as("recall"))
    },
    Some(minhashOracleCtes +
      s""", w2 AS (SELECT doc_id, lang, string_split(text,' ') AS w FROM documents),
        |s2 AS (SELECT doc_id, lang, CASE WHEN len(w) < 3 THEN [array_to_string(w,' ')]
        |        ELSE list_distinct(list_transform(range(1, len(w)-1),
        |               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS sh
        |      FROM w2),
        |g2 AS (SELECT doc_id, lang, unnest(sh) AS g FROM s2),
        |df2 AS (SELECT lang, g FROM g2 GROUP BY lang, g
        |        HAVING count(*) <= $DefaultShingleDfCap),
        |cand2 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |      FROM g2 a JOIN g2 b ON a.lang = b.lang AND a.g = b.g
        |                         AND a.doc_id < b.doc_id
        |      JOIN df2 d ON d.lang = a.lang AND d.g = a.g),
        |ex AS (SELECT e0.doc_a, e0.doc_b
        |      FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_intersect(a.sh, b.sh)) AS c,
        |        len(a.sh) AS na2, len(b.sh) AS nb2
        |      FROM s2 a JOIN s2 b ON a.lang = b.lang AND a.doc_id < b.doc_id) e0
        |      JOIN cand2 ON cand2.doc_a = e0.doc_a AND cand2.doc_b = e0.doc_b
        |      WHERE CAST(c AS DOUBLE) / (na2 + nb2 - c) >= 0.8),
        |got AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.8),
        |h AS (SELECT count(*) AS n_hits FROM ex
        |      WHERE EXISTS (SELECT 1 FROM got
        |                    WHERE got.doc_a = ex.doc_a AND got.doc_b = ex.doc_b))
        |SELECT (SELECT count(*) FROM ex) AS n_exact_pairs,
        |  (SELECT count(*) FROM got) AS n_detected, n_hits,
        |  round(CAST(n_hits AS DOUBLE) / NULLIF((SELECT count(*) FROM ex), 0), 6) AS recall
        |FROM h""".stripMargin))

  /** MinHash banding EFFICIENCY — the exact-Jaccard histogram of the
    * band-bucket CANDIDATE pairs (before the ≥ 0.8 verification):
    * [[dedupMinhashRecall]] prices what the bands MISS; this row prices
    * what they ADMIT. The banding theory's S-curve (p = 1 − (1 − J^r)^b)
    * says 8 bands × 4 rows should admit J ≈ 0.8 pairs near-certainly and
    * J ≤ 0.3 pairs rarely — the low-J bins are the wasted exact-verify
    * work, and a growing low-J mass share between crawls says the bands
    * are too coarse for the corpus (tighten r, or raise the shingle
    * order) BEFORE verification cost degrades. Candidates sharing a band
    * hash but zero shingles (possible only by 64-bit min-value collision)
    * bin at J = 0 via the left join, not silently dropped.
    *
    * Scale shape: the candidate join is banding-bounded (the
    * minhashPairs stance — pair work ∝ bucket occupancy², held flat by
    * the signature geometry), the verify is per-candidate list intersect,
    * the histogram is a ≤ 5-cell rollup.
    */
  private val dedupBandEfficiency = Q(
    "dedup_band_efficiency",
    (s, dir) => {
      import graft.functions.TextKernels
      val withSh = graft.Caches.track(Tables.spread(docs(s, dir))
        .select(col("doc_id"), TextKernels.shingleHash64(col("text")).as("sh")))
      val banded = withSh.select(col("doc_id"),
        posexplode(TextKernels.minhashBands(col("sh"))).as(Seq("band", "bh")))
      val cand = banded.toDF("doc_a", "band", "bh")
        .join(banded.toDF("doc_b", "band_b", "bh_b"),
          col("band") === col("band_b") && col("bh") === col("bh_b") &&
            col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val shA = withSh.toDF("doc_a", "sh_a")
      val shB = withSh.toDF("doc_b", "sh_b")
      val j = cand.join(shA, "doc_a").join(shB, "doc_b")
        .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jac", col("common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      val b = j
        .withColumn("bin",
          least(floor(round(col("jac"), 9) * 5).cast("int"), lit(4)))
        .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
      val tot = b.agg(sum(col("n_pairs")).as("t"))
      b.crossJoin(broadcast(tot))
        .select(col("bin"),
          round(col("bin").cast("double") / 5, 1).as("lo"),
          round((col("bin") + 1).cast("double") / 5, 1).as("hi"),
          col("n_pairs"),
          round(col("n_pairs").cast("double") / col("t").cast("double"), 6)
            .as("share"))
        .orderBy("bin")
    },
    Some(minhashOracleCtes +
      """, jall AS (SELECT cand.doc_a, cand.doc_b,
        |    CAST(COALESCE(cm.c, 0) AS DOUBLE)
        |      / (na.n + nb.n - COALESCE(cm.c, 0)) AS jac
        |  FROM cand
        |  LEFT JOIN common cm ON cm.doc_a = cand.doc_a AND cm.doc_b = cand.doc_b
        |  JOIN n na ON na.doc_id = cand.doc_a
        |  JOIN n nb ON nb.doc_id = cand.doc_b),
        |bb AS (SELECT least(CAST(floor(round(jac, 9) * 5) AS INT), 4) AS bin,
        |    count(*) AS n_pairs
        |  FROM jall GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS t FROM bb)
        |SELECT bin, round(CAST(bin AS DOUBLE) / 5, 1) AS lo,
        |  round(CAST(bin + 1 AS DOUBLE) / 5, 1) AS hi, n_pairs,
        |  round(CAST(n_pairs AS DOUBLE) / t, 6) AS share
        |FROM bb CROSS JOIN tt ORDER BY bin""".stripMargin))

  /** The EMPIRICAL MinHash S-curve — per exact-Jaccard decile, the
    * fraction of pairs the 8×4 banding ADMITS as candidates, reported next
    * to the theoretical survival p = 1 − (1 − J⁴)⁸ at the bin midpoint:
    * [[dedupMinhashRecall]] gives one number at the 0.8 threshold and
    * [[dedupBandEfficiency]] the admitted-mass histogram; this row is the
    * full transfer function, the picture a banding re-tune is judged
    * against (a curve sagging below theory at high J means the
    * permutations or band hash are broken — a correctness alarm, not a
    * tuning knob). Pair universe = the df-capped within-language commons
    * (the documented candidate universe every Jaccard consumer shares).
    *
    * Scale shape: both substrates are the memoized/banding-bounded frames
    * (pair work ∝ cap² / occupancy², never corpus²); the join of the two
    * pair sets is pair-keyed; the rollup is ≤ 10 cells. The theory column
    * is closed-form IEEE on bin-midpoint literals, rounded 6 dp.
    */
  private val dedupMinhashScurve = Q(
    "dedup_minhash_scurve",
    (s, dir) => {
      import graft.functions.TextKernels
      val exact = commonsShared(s, dir)
        .withColumn("jac", least(col("common").cast("double") /
          greatest(col("n_a") + col("n_b") - col("common"), lit(1)), lit(1.0)))
        .select("doc_a", "doc_b", "jac")
      val withSh = graft.Caches.track(Tables.spread(docs(s, dir))
        .select(col("doc_id"), TextKernels.shingleHash64(col("text")).as("sh")))
      val banded = withSh.select(col("doc_id"),
        posexplode(TextKernels.minhashBands(col("sh"))).as(Seq("band", "bh")))
      val cand = banded.toDF("doc_a", "band", "bh")
        .join(banded.toDF("doc_b", "band_b", "bh_b"),
          col("band") === col("band_b") && col("bh") === col("bh_b") &&
            col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val tagged = exact
        .join(cand.withColumn("hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
      val b = tagged
        .withColumn("bin",
          least(floor(round(col("jac"), 9) * 10).cast("int"), lit(9)))
        .groupBy("bin").agg(count(lit(1)).as("n_pairs"),
          sum(coalesce(col("hit"), lit(0L))).as("n_banded"))
      val mid = (col("bin").cast("double") + 0.5) / 10
      b.select(col("bin"),
          round(col("bin").cast("double") / 10, 1).as("lo"),
          round((col("bin") + 1).cast("double") / 10, 1).as("hi"),
          col("n_pairs"), col("n_banded"),
          round(col("n_banded").cast("double") / col("n_pairs").cast("double"),
            6).as("detect_rate"),
          round(lit(1.0) - pow(lit(1.0) - pow(mid, 4.0), 8.0), 6)
            .as("theory_mid"))
        .orderBy("bin")
    },
    Some(minhashOracleCtes +
      s""", w2 AS (SELECT doc_id, lang, string_split(text,' ') AS w FROM documents),
        |s2 AS (SELECT doc_id, lang, CASE WHEN len(w) < 3 THEN [array_to_string(w,' ')]
        |        ELSE list_distinct(list_transform(range(1, len(w)-1),
        |               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS sh
        |      FROM w2),
        |g2 AS (SELECT doc_id, lang, unnest(sh) AS g FROM s2),
        |df2 AS (SELECT lang, g FROM g2 GROUP BY lang, g
        |        HAVING count(*) <= $DefaultShingleDfCap),
        |cand2 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |      FROM g2 a JOIN g2 b ON a.lang = b.lang AND a.g = b.g
        |                         AND a.doc_id < b.doc_id
        |      JOIN df2 d ON d.lang = a.lang AND d.g = a.g),
        |ej AS (SELECT e0.doc_a, e0.doc_b,
        |      CAST(c AS DOUBLE) / (na2 + nb2 - c) AS jac
        |      FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_intersect(a.sh, b.sh)) AS c,
        |        len(a.sh) AS na2, len(b.sh) AS nb2
        |      FROM s2 a JOIN s2 b ON a.lang = b.lang AND a.doc_id < b.doc_id) e0
        |      JOIN cand2 ON cand2.doc_a = e0.doc_a AND cand2.doc_b = e0.doc_b),
        |tg AS (SELECT ej.jac,
        |      CASE WHEN cand.doc_a IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM ej LEFT JOIN cand
        |    ON cand.doc_a = ej.doc_a AND cand.doc_b = ej.doc_b),
        |bb AS (SELECT least(CAST(floor(round(jac, 9) * 10) AS INT), 9) AS bin,
        |      count(*) AS n_pairs, CAST(SUM(hit) AS BIGINT) AS n_banded
        |  FROM tg GROUP BY 1)
        |SELECT bin, round(CAST(bin AS DOUBLE) / 10, 1) AS lo,
        |  round(CAST(bin + 1 AS DOUBLE) / 10, 1) AS hi,
        |  n_pairs, n_banded,
        |  round(CAST(n_banded AS DOUBLE) / n_pairs, 6) AS detect_rate,
        |  round(1.0 - power(1.0 - power((CAST(bin AS DOUBLE) + 0.5) / 10, 4.0), 8.0), 6) AS theory_mid
        |FROM bb ORDER BY bin""".stripMargin))

  val queries: Seq[Q] = Seq(
    dedupPrefixCluster, dedupTfidfCosine, dedupShingleProfile,
    dedupMinhashRecall, dedupBandEfficiency, dedupMinhashScurve,
    dedupExact, dedupKeepfirst, dedupNgramJaccard, dedupMinhashLsh,
    dedupSimhash, dedupClusters, dedupPipelineSurvivors, dedupDecontaminate,
    dedupDecontaminateBloom, dedupIncremental, dedupLines, pipelineCurate,
    dedupSourceOverlap, dedupWinnow, dedupSpans, dedupContainment,
    textCdcChunks)
}
