package graft.operators

import graft.{Q, Tables}
import graft.functions.Deterministic.dsumFine
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics (SURVEY.md §2.12 [EXT]): PageRank power
  * iteration over an edge list. Together with [[Dedup.connectedComponents]]
  * this covers the two graph shapes a data-curation pipeline actually runs:
  * duplicate-cluster resolution (CC) and authority scoring for crawl/source
  * prioritization (PageRank over a link-ish graph).
  *
  * Scale shape — tuned by measurement (Bench subset runs at sf0.1, local[32]):
  *  - ONE shuffle builds the degree-annotated adjacency: `groupBy(src) →
  *    collect_set(dst) → explode`, fusing pair-dedup and out-degree into a
  *    single aggregation (the distinct-then-window formulation costs a
  *    second full-edge exchange plus a sort; fused, executor time dropped
  *    3×). The per-src neighbor set lives in one aggregation buffer, so this
  *    assumes crawl-graph-bounded out-degree; for unbounded-degree graphs
  *    swap in `distinct + count over (partition by src)` — same values.
  *  - each iteration is one equi-join of the rank vector against that
  *    adjacency plus a two-phase aggregate, linear in |E|; the small rank
  *    side broadcasts under AQE.
  *  - the dangling mass is NOT an anti-join per round: rank mass obeys
  *    `total' = (1−d) + d·total`, so `total_{i-1}` has the closed form
  *    `1 − d^{i-1}·(1 − n·(1/n))` (a scalar expression of n alone) and the
  *    dangling mass is `total_prev − Σcontrib` — rank mass that reached no
  *    edge. Both ride a broadcast 1-row frame derived from the contribution
  *    vector; no second pass over ranks, no driver-side collect. The dangling
  *    term thus absorbs the epsilon-level FP residue of the contribution sums
  *    (Σ over edges of rank/outdeg differs from the algebraic mass in the
  *    last ulps), so ranks are deterministic and oracle-mirrored but not
  *    bit-identical to an anti-join dangling-mass formulation.
  * The three shapes together took the query from 12.0 s to 5.7 s at sf0.1;
  * intermediate caching was measured SLOWER than plain lazy evaluation here
  * (AQE reuses the repeated exchanges within the one action, and cache
  * population barriers only serialize the stage graph — PlanSpec asserts
  * the final adaptive plan keeps its Reused* stages). Round-8 unroll
  * measurement (steady-state counts at sf0.1/local[32]): 1 iter 1.49 s,
  * 2 iters 1.99 s, 3 iters 2.23 s — the marginal iteration costs ~0.3 s
  * and the adjacency build + stage floor dominates, so shaving iterations
  * is not the lever; 3 stays (oracle replays it CTE-for-CTE).
  *
  * Determinism (SURVEY.md §7.4): per-edge `rank/outdeg` and the damping
  * combine are single IEEE double operations; every SUM goes through the
  * order-independent decimal [[dsumFine]]; the oracle mirrors the exact
  * expression tree — including the closed-form total — so ranks hash-match
  * DuckDB bit-for-bit.
  */
object Graph {

  private val Damping = 0.85
  private val Iters = 3

  /** Directed edges: who bought from whom — customer → supplier, DISTINCT.
    * Suppliers have no out-edges, so the dangling-mass path is genuinely
    * exercised. Node keys are integer-coded (customer 2k, supplier 2k+1) —
    * at 100 TB the edge aggregation and every per-round shuffle move 8-byte
    * longs, not formatted strings; [[nodeLabel]] decodes only the final
    * top-k.
    *
    * Memoized per (session, dir) like [[coPurchaseEdges]]: the
    * pagerank/ppr/hits/bfs family all start from the same orders⋈lineitem
    * build (the family's dominant shared cost — ~10 % of a full bench pass
    * rebuilt it four times before this), and the distinct edge set is the
    * small projection of that join (two longs per edge), safe to pin via
    * the memo's eager localCheckpoint. Deduplicating HERE is
    * value-identical for every consumer — [[pageRank]]/[[personalizedPageRank]]
    * dedup via `collect_set`, [[bfsDepths]] and [[hits]] call
    * `.distinct()` on it (idempotent on a distinct frame) — so each
    * declared query stays self-contained for Verify while a batch session
    * pays the join once.
    */
  private def purchaseEdges(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, s"graph:purchase:$dir") {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
    }

  /** supp ≥ 2 co-purchase part–part edges (a < b) — the shared substrate of
    * the triangle / label-prop / k-core / link-predict / assortativity /
    * harmonic family. The 1.2 M-pair market-basket support build is the
    * family's dominant cost and its output is tiny (3.6 k edges at sf0.1),
    * so it is memoized per (session, dir) via [[graft.Caches.memo]]: the
    * first query of a batch session pays the build once, the rest reuse the
    * pinned lineage-truncated frame (the memo localCheckpoints eagerly, so
    * callers need no further checkpoint). Reuse is value-identical to
    * rebuilding — the build is a deterministic two-phase count — so every
    * declared query stays self-contained for Verify.
    */
  private def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame =
    coPurchaseSupport(s, dir).select("a", "b")

  /** The SUPPORT-ANNOTATED co-purchase pair frame (a < b, supp ≥ 2) — one
    * memo serving the graph family (via [[coPurchaseEdges]]) AND the
    * market-basket analytics (orders_basket_rules' pair support,
    * orders_item_cf's co-occurrence counts are the SAME frame under
    * different column names; each paid the 1.2 M-pair build separately
    * before round 10). Deterministic two-phase count ⇒ reuse is
    * value-identical; the supp ≥ 2 output is tiny.
    */
  private[operators] def coPurchaseSupport(s: org.apache.spark.sql.SparkSession,
                                           dir: String): DataFrame =
    graft.Caches.memo(s, s"graph:copurchase:$dir") {
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      l.select(col("ok"), col("p").as("a"))
        .join(l.select(col("ok"), col("p").as("b")), "ok")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("supp"))
        .filter(col("supp") >= 2)
    }

  /** Per-part distinct-order support (the basket-family item popularity),
    * memoized beside [[coPurchaseSupport]] — shared by basket_rules (s_a,
    * s_c denominators) and item_cf (popularity normalizer).
    */
  private[operators] def partSupport(s: org.apache.spark.sql.SparkSession,
                                     dir: String): DataFrame =
    graft.Caches.memo(s, s"graph:partsupp:$dir") {
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
        .groupBy(col("p")).agg(count(lit(1)).as("s"))
    }

  /** Decode an integer-coded purchase-graph node key to its public label.
    * `shiftright`, not `/`: Column `/` is DOUBLE division, which loses
    * exactness above 2^53 — the integral shift decodes the full long range
    * (keys are non-negative, and for odd k, k >> 1 == (k-1)/2, so one shift
    * serves both parities; DuckDB's `//` in the oracle is likewise integral).
    */
  private def nodeLabel(k: Column): Column =
    when(k % 2 === 0, concat(lit("c"), shiftright(k, 1)))
      .otherwise(concat(lit("s"), shiftright(k, 1)))

  /** PageRank with uniform teleport and dangling-mass redistribution:
    * rank'(v) = (1−d)/N + d·(Σ_{u→v} rank(u)/outdeg(u) + dangling/N).
    * `edges` may contain duplicate (src, dst) rows; they count once.
    */
  /** Above this many input edges the fused `collect_set` adjacency is
    * swapped for the distinct+count-over form: the set-aggregation buffers
    * hold every in-flight src's neighbor set per task, and at 32
    * concurrent tasks × a 100×-scale corpus that transient crossed the
    * default 8 GiB single-JVM heap (SURVEY §6 finding 2 —
    * `AGGREGATE_OUT_OF_MEMORY` at sf10, previously "set
    * SPARK_DRIVER_MEM=48g" in prose). 10 M edges ≈ ≲1 GiB of set-buffer
    * transient — comfortably inside any per-executor budget, so small/
    * medium graphs keep the one-shuffle plan and only genuinely wide
    * inputs pay the second exchange.
    */
  private val AdjacencySetEdgeCap = 10L * 1000 * 1000

  /** Degree-annotated adjacency: ONE aggregation fuses pair-dedup and
    * out-degree (`groupBy(src) → collect_set → explode`) — the one-shuffle
    * shape both PageRank variants iterate over (PlanSpec pins it window-
    * free). Inputs past [[AdjacencySetEdgeCap]] auto-switch to the
    * distinct + count-over fallback (a second full-edge exchange plus a
    * sort, but O(1) aggregation state per row — no per-task set buffers),
    * value-identical by construction: lag-dedup on a per-src dst sort IS
    * distinct per src (graph node ids are never null, so no
    * collect_set-drops-nulls divergence), and the unbounded count over the
    * deduped frame IS the set size. The gate reads `edges.count()` — the
    * callers pass memoized/checkpointed frames, so the extra pass is a
    * cheap scan, and the count is exact, not a sampled estimate.
    *
    * The fallback is deliberately SORT-shaped, not `distinct()`: a
    * distinct over ~corpus-many already-unique pairs builds a per-task
    * hash map as wide as its input (hash-aggregate maps cannot spill —
    * they fall back by re-sorting, and under 16–32 concurrent tasks the
    * re-sort's first page allocation is exactly what fails), while
    * ExternalSort spills incrementally by design. One exchange on src
    * serves both windows (the lag-dedup sorts (src, dst); the count
    * window reuses the partitioning and buffers only one src group —
    * degree-bounded, not corpus-bounded).
    */
  private[graft] def degreeAdjacency(edges: DataFrame): DataFrame =
    degreeAdjacency(edges, edges.count() > AdjacencySetEdgeCap)

  /** Callers that already computed the width gate (pageRank / PPR count
    * edges for [[nodeIds]] too) pass it through instead of paying a second
    * scan of the edge frame.
    */
  private[graft] def degreeAdjacency(edges: DataFrame, wide: Boolean): DataFrame =
    if (!wide)
      edges.groupBy("src")
        .agg(collect_set(col("dst")).as("dsts"))
        .select(col("src"), size(col("dsts")).as("cnt"), explode(col("dsts")).as("dst"))
    else {
      val wS = Window.partitionBy("src").orderBy("dst")
      val deduped = edges.select("src", "dst")
        .withColumn("prev", lag(col("dst"), 1).over(wS))
        .filter(col("prev").isNull || col("prev") =!= col("dst"))
        .drop("prev")
      deduped.select(col("src"),
        count(lit(1)).over(Window.partitionBy("src")).cast("int").as("cnt"),
        col("dst"))
    }

  /** The node-id universe of a degree-annotated adjacency. Past the same
    * [[AdjacencySetEdgeCap]] the union is REPARTITIONED BY ID before the
    * distinct: a plain distinct's map-side partial aggregate holds every
    * node id in every task's hash map (tasks × |V| entries — the same
    * width-not-depth transient that OOMed the set adjacency at the 100×
    * corpus), while on id-partitioned input each task's map holds only
    * |V|/tasks local keys and the planner elides the aggregation's own
    * exchange, so the total stays one shuffle. Small graphs keep the
    * partial-agg-first plan, which shrinks 2|E| rows to tasks × |V| before
    * the wire — cheaper whenever the maps fit.
    */
  private def nodeIds(edgesDeg: DataFrame, wide: Boolean): DataFrame =
    distinctBy(edgesDeg.select(col("src").as("id"))
      .union(edgesDeg.select(col("dst").as("id"))), wide, "id")

  /** Distinct with the wide-graph plan shape: on `wide` inputs the frame
    * is repartitioned on the key columns FIRST, so the aggregation's
    * map-side partial holds only each task's local keys (the planner then
    * elides the aggregation's own exchange — still one shuffle total);
    * small frames keep the partial-agg-first plan, which shrinks rows
    * before the wire — cheaper whenever the maps fit (see [[nodeIds]]).
    */
  private def distinctBy(df: DataFrame, wide: Boolean, cols: String*): DataFrame =
    (if (wide) df.repartition(cols.map(col): _*) else df).distinct()

  /** Co-partitioned cached iteration substrate serving [[pageRank]]
    * ([[personalizedPageRank]] was A/B-measured WORSE on it and keeps its
    * checkpointed shape — see its comment) (r19, guide §2.4 "operations
    * keyed the same way share one exchange"): the adjacency is
    * hash-partitioned on its
    * per-round join key `src` and the node universe on `id`, both cached
    * via [[graft.Caches.track]]. `persist` (unlike `localCheckpoint`,
    * which reports UnknownPartitioning — measured) PRESERVES the hash
    * partitioning through InMemoryRelation, so every round's
    * ranks ⋈ adjacency probe and the nodes ⋈ contrib rank update satisfy
    * their distribution requirements straight off the cache: the planner
    * elides the per-round exchanges that previously re-shuffled both
    * frames every iteration (3 rounds × 2 exchanges at any scale — at
    * 100 TB these are corpus-sized shuffles, the dominant iteration
    * cost). Cache substitution happens before optimization, so the
    * round-i plan's 2^i embedded copies of round i−1 all collapse to
    * InMemoryRelation scans — the same lineage-truncation effect the old
    * eager localCheckpoint bought, without losing the partitioning.
    * Value-identical: hash repartitioning only re-buckets rows; every
    * per-round sum is an order-independent exact decimal ([[dsumFine]]).
    */
  private def iterSubstrate(edges: DataFrame): (DataFrame, DataFrame, Boolean) = {
    val wide = edges.count() > AdjacencySetEdgeCap
    val edgesDeg = graft.Caches.track(
      degreeAdjacency(edges, wide).repartition(col("src")))
    val nodes = graft.Caches.track(
      nodeIds(edgesDeg, wide).repartition(col("id")))
    (edgesDeg, nodes, wide)
  }

  def pageRank(edges: DataFrame, iters: Int = Iters,
               damping: Double = Damping): DataFrame = {
    val (edgesDeg, nodes, _) = iterSubstrate(edges)
    val meta = nodes.agg(count(lit(1)).as("n")).localCheckpoint()
    var ranks = nodes.crossJoin(broadcast(meta))
      .select(col("id"), (lit(1.0) / col("n")).as("pr"))
    for (i <- 1 to iters) {
      // total_{i-1} = 1 − d^{i-1}·(1 − Σ init pr), and Σ init pr is n·(1/n)
      // by construction — the same double expression on both engines
      val dp = math.pow(damping, i - 1)
      val totalPrev = lit(1.0) -
        lit(dp) * (lit(1.0) - col("n") * (lit(1.0) / col("n")))
      // contrib is read TWICE per round (the csum scalar and the rank-update
      // left join): caching it cuts the otherwise 2^i-fanout recomputation
      // the way the old localCheckpoint did, AND keeps its groupBy hash
      // partitioning on cid, so the rank-update join needs no exchange on
      // either side (nodes is id-partitioned off the substrate cache).
      val contrib = graft.Caches.track(
        ranks.join(edgesDeg, col("id") === col("src"))
          .groupBy(col("dst").as("cid"))
          .agg(dsumFine(col("pr") / col("cnt")).as("contrib")))
      // SUM over zero rows is NULL — a rank vector whose every node is
      // dangling (no in-edge destinations) must yield 0, not null-poison
      // every rank
      val scalars = contrib
        .agg(coalesce(dsumFine(col("contrib")), lit(0.0)).as("csum"))
        .crossJoin(broadcast(meta))
        .select(col("csum"), (totalPrev - col("csum")).as("dang"), col("n"))
      ranks = nodes
        .join(contrib, col("id") === col("cid"), "left")
        .crossJoin(broadcast(scalars))
        .select(col("id"),
          (lit(1.0 - damping) / col("n") + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("dang") / col("n"))).as("pr"))
      // the lazily-cached contrib collapses the EXECUTED plan, but the
      // driver-side logical tree still embeds 2 copies of the previous
      // round per round (scalars + the rank-update join both reference
      // contrib) — exponential ANALYSIS cost in `iters` (r19 ADVICE).
      // Bounding the lineage every 4th round caps the tree at 2^4 copies
      // for any caller-supplied iters; the default 3-round declared query
      // never reaches it, so its plan (and hash) is untouched. The cost,
      // one node-scale exchange on the round after each checkpoint
      // (LogicalRDD reports UnknownPartitioning), only exists on deep
      // custom iteration counts where analysis would otherwise dominate.
      if (i % 4 == 0 && i < iters) ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  private def iterSql(i: Int): String = {
    val prev = s"r${i - 1}"
    val dp = math.pow(Damping, i - 1)
    s"""c$i AS (SELECT e.dst AS cid,
       |    CAST(SUM(CAST(r.pr / e.cnt AS DECIMAL(38,20))) AS DOUBLE) AS contrib
       |  FROM $prev r JOIN ed e ON r.id = e.src GROUP BY e.dst),
       |s$i AS (SELECT csum,
       |    (1.0 - CAST($dp AS DOUBLE) *
       |      (1.0 - meta.n * (CAST(1.0 AS DOUBLE) / meta.n))) - csum AS dang
       |  FROM (SELECT COALESCE(CAST(SUM(CAST(contrib AS DECIMAL(38,20))) AS DOUBLE),
       |          CAST(0 AS DOUBLE)) AS csum FROM c$i) CROSS JOIN meta),
       |r$i AS (SELECT nodes.id,
       |    CAST(${1.0 - Damping} AS DOUBLE) / meta.n + CAST($Damping AS DOUBLE) *
       |      (COALESCE(c$i.contrib, CAST(0 AS DOUBLE)) + s$i.dang / meta.n) AS pr
       |  FROM nodes CROSS JOIN meta CROSS JOIN s$i
       |  LEFT JOIN c$i ON c$i.cid = nodes.id)""".stripMargin
  }

  private val graphPagerank = Q(
    "graph_pagerank",
    (s, dir) => {
      // global top-20: tiny k over the node set — TakeOrderedAndProject
      // territory, same as topk_orders
      pageRank(purchaseEdges(s, dir))
        .select(nodeLabel(col("id")).as("id"), col("pr"))
        .orderBy(round(col("pr"), 9).desc, col("id")).limit(20)
        .select(col("id"), round(col("pr"), 9).as("pr"))
    },
    Some("""WITH e AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |ed AS (SELECT src, dst, count(*) OVER (PARTITION BY src) AS cnt FROM e),
           |nodes AS (SELECT DISTINCT src AS id FROM ed UNION SELECT DISTINCT dst FROM ed),
           |meta AS (SELECT count(*) AS n FROM nodes),
           |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / meta.n AS pr FROM nodes CROSS JOIN meta),
           |""".stripMargin +
      (1 to Iters).map(iterSql).mkString(",\n") + "\n" +
      s"""SELECT CASE WHEN id % 2 = 0 THEN 'c' || CAST(id // 2 AS BIGINT)
         |            ELSE 's' || CAST((id - 1) // 2 AS BIGINT) END AS id,
         |       round(pr, 9) AS pr
         |FROM r$Iters
         |ORDER BY round(pr, 9) DESC, 1 LIMIT 20""".stripMargin))

  /** Unrolled BFS over the UNDIRECTED purchase graph: how much of the
    * market sits within k hops of one customer — the reachability /
    * blast-radius primitive (fraud rings, recommendation neighborhoods).
    *
    * Formulation chosen for scale: no per-round visited-set ANTI-JOIN.
    * Round k materializes the distinct k-step neighbor set N^k; the final
    * depth is `min k` over the union of rounds — one aggregate instead of
    * k growing anti-joins, and each round is a plain equi-join + distinct
    * (both shuffle on the node key; AQE handles the frontier's changing
    * size). Rounds are bounded (`hops`), the Pregel-unrolled shape.
    */
  def bfsDepths(edges: DataFrame, srcNode: Long, hops: Int = 3): DataFrame = {
    // wide graphs take the key-partitioned distinct/agg shapes (the
    // degreeAdjacency gate) and pin the per-hop shared frames
    val wide = edges.count() > AdjacencySetEdgeCap
    // undirected: each edge contributes both directions; dedup once
    val und0 = distinctBy(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst"))),
      wide, "src", "dst")
    // columnar SQL cache, not localCheckpoint: an edge-scale frame of raw
    // deserialized rows is heap-sized at the 100× corpus, while the
    // compressed columnar batches are ~10× smaller and spill to disk.
    // (r20 A/B: eagerly checkpointing SMALL graphs' und too — `Probe stages`
    // had read the symmetrized distinct built twice — measured NEUTRAL to
    // worse: the row-format materialization costs what the rebuild cost,
    // and it blocks the hop-1 frontier's src=seed constant pushdown into
    // the scan. The duplicate build is the price of that pushdown; AQE
    // reuse already dedups the later identical hops.)
    val und = if (wide) graft.Caches.track(und0) else und0
    var frontier = und.sparkSession.range(1)
      .select(lit(srcNode).as("id"))
    var reached: DataFrame = frontier.select(col("id"), lit(0).as("k"))
    for (k <- 1 to hops) {
      frontier = distinctBy(frontier.join(und, col("id") === col("src"))
        .select(col("dst").as("id")), wide, "id")
      if (wide) frontier = frontier.localCheckpoint()
      reached = reached.unionByName(frontier.select(col("id"), lit(k).as("k")))
    }
    (if (wide) reached.repartition(col("id")) else reached)
      .groupBy("id").agg(min(col("k")).as("depth"))
  }

  private val graphBfsReach = Q(
    "graph_bfs_reach",
    (s, dir) => bfsDepths(purchaseEdges(s, dir), srcNode = 2L)
      .groupBy("depth")
      .agg(count(lit(1)).as("n_nodes"), min(nodeLabel(col("id"))).as("first_node"))
      .orderBy("depth"),
    Some("""WITH e AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
           |n0 AS (SELECT CAST(2 AS BIGINT) AS id),
           |n1 AS (SELECT DISTINCT dst AS id FROM und JOIN n0 ON und.src = n0.id),
           |n2 AS (SELECT DISTINCT dst AS id FROM und JOIN n1 ON und.src = n1.id),
           |n3 AS (SELECT DISTINCT dst AS id FROM und JOIN n2 ON und.src = n2.id),
           |reach AS (
           |  SELECT id, 0 AS k FROM n0
           |  UNION ALL SELECT id, 1 FROM n1
           |  UNION ALL SELECT id, 2 FROM n2
           |  UNION ALL SELECT id, 3 FROM n3),
           |depths AS (SELECT id, CAST(min(k) AS INT) AS depth
           |           FROM reach GROUP BY id)
           |SELECT depth, count(*) AS n_nodes,
           |  min(CASE WHEN id % 2 = 0 THEN 'c' || CAST(id // 2 AS BIGINT)
           |           ELSE 's' || CAST((id - 1) // 2 AS BIGINT) END) AS first_node
           |FROM depths GROUP BY depth ORDER BY depth""".stripMargin))

  /** Triangle census over the part CO-PURCHASE graph (parts sharing an
    * order — the market-basket projection; the customer→supplier purchase
    * graph itself is bipartite and triangle-free). The clustering /
    * community-density primitive.
    *
    * The graph keeps only pairs with SUPPORT ≥ 2 (co-purchased in at least
    * two orders) — the standard association-rule denoising step, and the
    * scale lever: one-off co-occurrences are noise AND the bulk of the
    * projection (at sf0.1, 1.196 M raw pairs vs 3.6 k supported edges), so
    * thresholding turns a projection that would densify with corpus growth
    * into an affinity graph whose size tracks genuine co-purchase
    * structure. The support computation itself is one two-phase count on
    * the pair key.
    *
    * Algorithm: compact-forward with DEGREE-ORDERED ORIENTATION — every
    * edge points from its (degree, id)-smaller endpoint to the larger, so
    * each triangle is counted exactly once and, crucially, wedge
    * enumeration fans out from the LOW-degree endpoint: oriented
    * out-degree is O(√m) even at hub nodes, which caps the wedge count at
    * O(m^1.5) instead of Σ deg² — the difference between feasible and
    * quadratic at 100 TB. Every step is an equi-join or two-phase
    * aggregate on a node/edge key (pair gen shuffles on the order key with
    * per-order fanout bounded by lines-per-order; degree and orientation
    * joins shuffle on node ids; the closing join shuffles on the (v1,v2)
    * edge key). No step is all-pairs.
    */
  def triangleCensus(edges: DataFrame): DataFrame = {
    // The edge frame feeds four consumers (both degree legs, orientation,
    // wedge closing) whose divergent column pruning defeats AQE's
    // ReuseExchange, so the upstream pair-aggregation is re-planned per
    // consumer. Measured at sf0.1: fully lazy 3.7 s vs 10.2 s with a LAZY
    // persist of this frame (the persist-before-branch-fan-out trap, third
    // confirmation in this repo). The round-8 fix: callers that derive an
    // expensive edge frame pass it localCheckpoint'd (eager, lineage
    // truncated — no cached-plan re-planning, no population barrier),
    // which took the declared query 3.0 s → 2.2 s; see graphKcore for the
    // same pattern at higher branch factor.
    val deg = edges.select(col("a").as("n"))
      .unionAll(edges.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val fwd = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = edges
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(when(fwd, col("a")).otherwise(col("b")).as("u"),
        when(fwd, col("b")).otherwise(col("a")).as("v"),
        when(fwd, col("db")).otherwise(col("da")).as("dv"))
    val e2 = oriented.select(col("u").as("u2"), col("v").as("v2"), col("dv").as("dv2"))
    val wedges = oriented.join(e2, col("u") === col("u2") &&
        (col("dv") < col("dv2") || (col("dv") === col("dv2") && col("v") < col("v2"))))
      .select(col("v").as("w1"), col("v2").as("w2"))
    val closing = oriented.select(col("u").as("w1"), col("v").as("w2"))
    val nTri = wedges.join(closing, Seq("w1", "w2"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    // cheap scalar frames; the crossJoins are 1-row × 1-row broadcasts
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(wedges.agg(count(lit(1)).as("n_wedges"))))
      .crossJoin(broadcast(nTri))
  }

  /** Per-node local clustering coefficient over the supp ≥ 2 co-purchase
    * graph: cc(n) = 2·tri(n)/(d(n)·(d(n)−1)) — "how clique-like is this
    * node's neighborhood", the node-level refinement of the global
    * triangle census (same graph, same orientation machinery): a product
    * whose co-purchase neighbors also co-purchase each other anchors a
    * genuine basket community; a high-degree node with cc ≈ 0 is a hub
    * stitching unrelated baskets.
    *
    * Scale shape: identical to [[triangleCensus]] — degree-ordered
    * orientation caps wedge enumeration at O(m^1.5); the only additions
    * are keeping the wedge apex through the closing semi-join and ONE
    * 3-corner explode + two-phase count over the CLOSED wedges (≤
    * triangle count rows, far below the wedge stream). Determinism:
    * all-integer until the final cc divide, round-9 + id tiebreaks.
    */
  private val graphClusteringCoeff = Q(
    "graph_clustering_coeff",
    (s, dir) => {
      val edges = coPurchaseEdges(s, dir)
      val deg = edges.select(col("a").as("n"))
        .unionAll(edges.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val fwd = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      val oriented = edges
        .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
        .select(when(fwd, col("a")).otherwise(col("b")).as("u"),
          when(fwd, col("b")).otherwise(col("a")).as("v"),
          when(fwd, col("db")).otherwise(col("da")).as("dv"))
        .localCheckpoint()
      val e2 = oriented.select(col("u").as("u2"), col("v").as("v2"), col("dv").as("dv2"))
      val wedges = oriented.join(e2, col("u") === col("u2") &&
          (col("dv") < col("dv2") || (col("dv") === col("dv2") && col("v") < col("v2"))))
        .select(col("u"), col("v").as("w1"), col("v2").as("w2"))
      val closing = oriented.select(col("u").as("w1"), col("v").as("w2"))
      val closed = wedges.join(closing, Seq("w1", "w2"), "left_semi")
      val tric = closed
        .select(explode(array(col("u"), col("w1"), col("w2"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("tri"))
      val cc = round(lit(2.0) * col("tri").cast("double") /
        (col("d") * (col("d") - 1)).cast("double"), 6)
      deg.filter(col("d") >= 2)
        .join(tric, Seq("n"), "left")
        .select(col("n").as("node"), col("d").as("degree"),
          coalesce(col("tri"), lit(0L)).as("triangles"), cc.as("local_cc"))
        .orderBy(col("local_cc").desc, col("degree").desc, col("node")).limit(20)
    },
    Some("""WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |e AS (SELECT a, b FROM (SELECT x.p AS a, y.p AS b, count(*) AS supp
           |        FROM l x JOIN l y ON x.ok = y.ok AND x.p < y.p
           |        GROUP BY x.p, y.p) WHERE supp >= 2),
           |deg AS (SELECT n, count(*) AS d FROM
           |        (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY n),
           |o AS (SELECT
           |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN e.a ELSE e.b END AS u,
           |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN e.b ELSE e.a END AS v,
           |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN db.d ELSE da.d END AS dv
           |  FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n),
           |w AS (SELECT e1.u, e1.v AS w1, e2.v AS w2 FROM o e1 JOIN o e2 ON e1.u = e2.u
           |      WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)),
           |closed AS (SELECT u, w1, w2 FROM w
           |      WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.w1 AND o.v = w.w2)),
           |tric AS (SELECT n, count(*) AS tri FROM (
           |    SELECT u AS n FROM closed
           |    UNION ALL SELECT w1 FROM closed
           |    UNION ALL SELECT w2 FROM closed) GROUP BY n)
           |SELECT deg.n AS node, deg.d AS degree,
           |  CAST(COALESCE(tri, 0) AS BIGINT) AS triangles,
           |  round(2.0 * CAST(COALESCE(tri, 0) AS DOUBLE) / (deg.d * (deg.d - 1)), 6) AS local_cc
           |FROM deg LEFT JOIN tric ON deg.n = tric.n
           |WHERE deg.d >= 2
           |ORDER BY local_cc DESC, degree DESC, node LIMIT 20""".stripMargin))

  private val graphTriangles = Q(
    "graph_triangles",
    (s, dir) => triangleCensus(coPurchaseEdges(s, dir)),
    Some("""WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |e AS (SELECT a, b FROM (SELECT x.p AS a, y.p AS b, count(*) AS supp
           |        FROM l x JOIN l y ON x.ok = y.ok AND x.p < y.p
           |        GROUP BY x.p, y.p) WHERE supp >= 2),
           |deg AS (SELECT n, count(*) AS d FROM
           |        (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY n),
           |o AS (SELECT
           |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN e.a ELSE e.b END AS u,
           |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN e.b ELSE e.a END AS v,
           |    CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN db.d ELSE da.d END AS dv
           |  FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n),
           |w AS (SELECT e1.v AS w1, e2.v AS w2 FROM o e1 JOIN o e2 ON e1.u = e2.u
           |      WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)),
           |t AS (SELECT count(*) AS n_triangles FROM w
           |      WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.w1 AND o.v = w.w2))
           |SELECT (SELECT count(*) FROM e) AS n_edges,
           |       (SELECT count(*) FROM w) AS n_wedges,
           |       n_triangles
           |FROM t""".stripMargin))

  /** One synchronous label-propagation round: every node adopts the MODE
    * of its neighbors' labels, smallest label breaking ties — the
    * deterministic variant of LPA (random tie-breaks would never
    * oracle-match). Each round is one equi-join of the label vector
    * against the (both-directions) edge list plus two two-phase
    * aggregates — linear in |E|, and the label side broadcasts under AQE
    * once communities stabilize the frame size. The arg-min is
    * `min(struct(-cnt, label))`, a two-phase aggregate — no window over
    * the neighbor-label frame.
    */
  private def lpaRound(labels: DataFrame, nbr: DataFrame): DataFrame =
    nbr.join(labels.withColumnRenamed("node", "m"), "m")
      .groupBy(col("n"), col("label"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("n").as("node"))
      .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("t"))
      .select(col("node"), col("t").getField("l").as("label"))

  /** Community detection by 3 rounds of deterministic label propagation
    * over the supported co-purchase graph (the same supp ≥ 2 edges as
    * [[graphTriangles]]): labels start as node ids and converge toward
    * dense groups. 3 unrolled rounds — like PageRank's power iterations —
    * each linear in |E|; the both-directions neighbor frame is
    * localCheckpoint'd once (eager, tiny — the 1.2 M-pair support build
    * would otherwise replay per round; measured 3.2 s → 2.6 s at sf0.1).
    * Output: the 20 largest communities. All-integer arithmetic;
    * the oracle replays the rounds CTE-for-CTE with the identical
    * (cnt DESC, label ASC) tie order.
    */
  private def lpaRoundSql(k: Int): String = {
    val prev = s"l${k - 1}"
    s"""c$k AS (SELECT nbr.n, $prev.label, count(*) AS cnt
       |  FROM nbr JOIN $prev ON nbr.m = $prev.node GROUP BY nbr.n, $prev.label),
       |l$k AS (SELECT n AS node, label FROM (
       |    SELECT n, label, row_number() OVER (PARTITION BY n
       |      ORDER BY cnt DESC, label) AS rn FROM c$k) WHERE rn = 1)""".stripMargin
  }

  private val graphLabelProp = Q(
    "graph_label_prop",
    (s, dir) => {
      val edges = coPurchaseEdges(s, dir)
      val nbr = edges.select(col("a").as("n"), col("b").as("m"))
        .unionByName(edges.select(col("b").as("n"), col("a").as("m")))
        .localCheckpoint()
      var labels = nbr.select(col("n").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
      for (_ <- 1 to 3) labels = lpaRound(labels, nbr)
      labels.groupBy("label").agg(count(lit(1)).as("size"))
        .orderBy(col("size").desc, col("label"))
        .limit(20)
    },
    Some("""WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |e AS (SELECT a, b FROM (SELECT x.p AS a, y.p AS b, count(*) AS supp
           |        FROM l x JOIN l y ON x.ok = y.ok AND x.p < y.p
           |        GROUP BY x.p, y.p) WHERE supp >= 2),
           |nbr AS (SELECT a AS n, b AS m FROM e UNION ALL SELECT b AS n, a AS m FROM e),
           |l0 AS (SELECT DISTINCT n AS node, n AS label FROM nbr),
           |""".stripMargin +
      (1 to 3).map(lpaRoundSql).mkString(",\n") + "\n" +
      """SELECT label, count(*) AS size FROM l3 GROUP BY label
        |ORDER BY size DESC, label LIMIT 20""".stripMargin))

  /** Bounded k-core peel (k = 2, 3 rounds) over the same supp ≥ 2
    * co-purchase graph: each round drops every node whose current degree
    * falls below k, then keeps only the edges whose BOTH endpoints survive —
    * the standard iterative peel toward the 2-core, bounded-round like
    * [[graphBfsReach]] (a fixpoint loop would need a driver-side
    * convergence check per round; 3 rounds is the declared semantic and the
    * oracle replays exactly those). Per round: one two-phase degree count
    * plus two LEFT SEMI joins on a node key — linear in |E| at any scale,
    * no window, no collect. Output: the 20 highest-degree nodes of the
    * peeled core. All-integer arithmetic, CTE-for-CTE oracle replay.
    */
  private def kcoreRoundSql(r: Int): String = {
    val prev = s"e${r - 1}"
    s"""d$r AS (SELECT n, count(*) AS deg FROM (SELECT a AS n FROM $prev
       |    UNION ALL SELECT b AS n FROM $prev) GROUP BY n),
       |s$r AS (SELECT n FROM d$r WHERE deg >= 2),
       |e$r AS (SELECT a, b FROM $prev
       |  WHERE a IN (SELECT n FROM s$r) AND b IN (SELECT n FROM s$r))""".stripMargin
  }

  private val graphKcore = Q(
    "graph_kcore",
    (s, dir) => {
      // The peel rounds reference their input through THREE branches each
      // (degree, and both semi-join sides), so the base frame appears 3³
      // times in the final plan. For triangles/LPA lazy recompute still won
      // (2 branches, shallow), but here it is the measured loser (9.0 s at
      // sf0.1), and an eager persist() is WORSE (31.9 s — 27 cached-plan
      // consumers each re-planned under AQE). The [[Dedup.clusters]]
      // pointer-jumping convention wins: start from the eagerly
      // checkpointed memoized edge set (every round plans against a
      // 3.6 k-row leaf), then checkpoint each round's survivor edges the
      // same way.
      var edges = coPurchaseEdges(s, dir)
      for (_ <- 1 to 3) {
        val deg = edges.select(col("a").as("n"))
          .unionByName(edges.select(col("b").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
        val surv = deg.filter(col("deg") >= 2).select("n")
        edges = edges
          .join(surv.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
          .join(surv.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
          .localCheckpoint()
      }
      edges.select(col("a").as("n")).unionByName(edges.select(col("b").as("n")))
        .groupBy(col("n").as("node")).agg(count(lit(1)).as("degree"))
        .orderBy(col("degree").desc, col("node"))
        .limit(20)
    },
    Some("""WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |e0 AS (SELECT a, b FROM (SELECT x.p AS a, y.p AS b, count(*) AS supp
           |        FROM l x JOIN l y ON x.ok = y.ok AND x.p < y.p
           |        GROUP BY x.p, y.p) WHERE supp >= 2),
           |""".stripMargin +
      (1 to 3).map(kcoreRoundSql).mkString(",\n") + "\n" +
      """SELECT node, degree FROM (
        |  SELECT n AS node, count(*) AS degree FROM (SELECT a AS n FROM e3
        |    UNION ALL SELECT b AS n FROM e3) GROUP BY n)
        |ORDER BY degree DESC, node LIMIT 20""".stripMargin))

  /** Personalized PageRank — random walk with restart from a single SEED
    * node: rank'(v) = (1−d)·e_s(v) + d·(Σ_{u→v} rank(u)/outdeg(u) +
    * dangling·e_s(v)). Where global [[pageRank]] answers "who is important
    * overall", PPR answers "who is important RELATIVE TO s" — the seeded
    * relevance primitive behind related-item recommendation and
    * local-neighborhood ranking. Teleport AND dangling mass both return to
    * the seed (not spread uniformly), so total mass stays exactly 1 and
    * the csum-complement dangling trick needs no closed-form recurrence at
    * all: dang = 1 − csum every round.
    *
    * Same scale shape as [[pageRank]]: one-shuffle degree-annotated
    * adjacency, per-iteration equi-join + order-independent decimal
    * aggregate, broadcast 1-row scalars, no collect, no anti-join. The
    * seed is the data-derived min customer key — a broadcast scalar, not a
    * config literal, so every SF replays identically.
    */
  def personalizedPageRank(edges: DataFrame, iters: Int = Iters,
                           damping: Double = Damping): DataFrame = {
    // NOT on pageRank's iterSubstrate (r19 A/B): PPR's per-round scalars
    // touch only edgesDeg, so its old checkpointed shape was already the
    // cheap one — riding the cached co-partitioned substrate read 2.29 →
    // 3.06 s on the full board (InMemoryRelation pins 32 partitions on
    // frames AQE otherwise coalesces), while pageRank, whose meta/nodes
    // reuse the cache every round, kept a 4.36 → 3.19 win. Same lesson as
    // the CC revert in Dedup.connectedComponentsCounted.
    val wide = edges.count() > AdjacencySetEdgeCap
    val edgesDeg = degreeAdjacency(edges, wide).localCheckpoint()
    val nodes = nodeIds(edgesDeg, wide).localCheckpoint()
    val seed = edgesDeg.agg(min(col("src")).as("sid"))
    def ind: Column =
      when(col("id") === col("sid"), lit(1.0)).otherwise(lit(0.0))
    var ranks = nodes.crossJoin(broadcast(seed)).select(col("id"), ind.as("pr"))
    for (_ <- 1 to iters) {
      // same double-read checkpoint as pageRank's contrib — without it the
      // csum scalar and the rank update each replay the full |E| join, and
      // round i's plan embeds 2^i copies (measured 223 s vs 36 s at the
      // 100× corpus). (r20 A/B: a lazy tracked cache here folded the
      // materialization into the csum job but PINNED the contrib cache at
      // the full partition count — tasks 78 → 449, wall within noise — so
      // the checkpoint+AQE-coalesce shape stays, the same lesson as the
      // r19 CC revert. PPR's residual wall is ~40 tiny sequential stage
      // waves, two forced per round by the csum → rank-update dependency.)
      val contrib = ranks.join(edgesDeg, col("id") === col("src"))
        .groupBy(col("dst").as("cid"))
        .agg(dsumFine(col("pr") / col("cnt")).as("contrib"))
        .localCheckpoint()
      val scalars = contrib
        .agg(coalesce(dsumFine(col("contrib")), lit(0.0)).as("csum"))
      ranks = nodes
        .join(contrib, col("id") === col("cid"), "left")
        .crossJoin(broadcast(scalars))
        .crossJoin(broadcast(seed))
        .select(col("id"),
          (lit(1.0 - damping) * ind + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) +
              (lit(1.0) - col("csum")) * ind)).as("pr"))
    }
    ranks
  }

  private def pprIterSql(i: Int): String = {
    val prev = s"r${i - 1}"
    val caseInd =
      "(CASE WHEN nodes.id = seed.sid THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)"
    s"""c$i AS (SELECT e.dst AS cid,
       |    CAST(SUM(CAST(r.pr / e.cnt AS DECIMAL(38,20))) AS DOUBLE) AS contrib
       |  FROM $prev r JOIN ed e ON r.id = e.src GROUP BY e.dst),
       |s$i AS (SELECT COALESCE(CAST(SUM(CAST(contrib AS DECIMAL(38,20))) AS DOUBLE),
       |          CAST(0 AS DOUBLE)) AS csum FROM c$i),
       |r$i AS (SELECT nodes.id,
       |    CAST(${1.0 - Damping} AS DOUBLE) * $caseInd + CAST($Damping AS DOUBLE) *
       |      (COALESCE(c$i.contrib, CAST(0 AS DOUBLE)) +
       |        (CAST(1.0 AS DOUBLE) - s$i.csum) * $caseInd) AS pr
       |  FROM nodes CROSS JOIN seed CROSS JOIN s$i
       |  LEFT JOIN c$i ON c$i.cid = nodes.id)""".stripMargin
  }

  private val graphPpr = Q(
    "graph_ppr",
    (s, dir) => {
      personalizedPageRank(purchaseEdges(s, dir))
        .select(nodeLabel(col("id")).as("id"), col("pr"))
        .orderBy(round(col("pr"), 9).desc, col("id")).limit(20)
        .select(col("id"), round(col("pr"), 9).as("pr"))
    },
    Some("""WITH e AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |ed AS (SELECT src, dst, count(*) OVER (PARTITION BY src) AS cnt FROM e),
           |nodes AS (SELECT DISTINCT src AS id FROM ed UNION SELECT DISTINCT dst FROM ed),
           |seed AS (SELECT min(src) AS sid FROM ed),
           |r0 AS (SELECT id, CASE WHEN id = sid THEN CAST(1.0 AS DOUBLE)
           |         ELSE CAST(0.0 AS DOUBLE) END AS pr
           |       FROM nodes CROSS JOIN seed),
           |""".stripMargin +
      (1 to Iters).map(pprIterSql).mkString(",\n") + "\n" +
      s"""SELECT CASE WHEN id % 2 = 0 THEN 'c' || CAST(id // 2 AS BIGINT)
         |            ELSE 's' || CAST((id - 1) // 2 AS BIGINT) END AS id,
         |       round(pr, 9) AS pr
         |FROM r$Iters
         |ORDER BY round(pr, 9) DESC, 1 LIMIT 20""".stripMargin))

  /** Adamic–Adar link prediction over the same supp ≥ 2 co-purchase graph:
    * score every NON-adjacent part pair (x, y) by Σ_w 1/ln(deg(w)) over
    * their common neighbors w — the classic "which products will be bought
    * together next" / recommend-new-edges primitive (Adamic & Adar 2003;
    * the reference's closest analogue is Athena ad-hoc SQL over the curated
    * lake, README.md:97-101, which cannot express this at all).
    *
    * Scale shape: wedge enumeration fans out from the CENTER node, so the
    * per-center cost is deg², which a hub would turn into Σ deg² — the
    * quadratic trap the triangle census avoids by orientation. Orientation
    * can't help here (the center is fixed by the semantics), so the scale
    * lever is the HUB CAP: centers with deg > 64 are excluded. That is
    * simultaneously the noise cut — a hub's AA weight 1/ln(deg) is the
    * smallest possible, and "everything co-occurs with a bestseller" wedges
    * are exactly the spurious candidates link prediction must ignore (the
    * same df-cap reasoning as the Jaccard posting lists, Dedup.scala). With
    * the cap, wedge fan-out is ≤ 64 per (center, neighbor) edge row —
    * linear in |E| with a constant factor, at any corpus size.
    *
    * Determinism: the AA contribution 1/ln(deg) is one IEEE double division
    * of exact integer inputs (identical in both engines), summed as
    * DECIMAL(38,20) — order-independent over any partitioning — and
    * rounded to 6 dp only at presentation. Every step is an equi-join or a
    * two-phase aggregate on a node/pair key; the anti-join drops
    * already-adjacent pairs AFTER the pair aggregate (candidate-sized, not
    * wedge-sized). The centered neighbor frame feeds the self-join twice,
    * so it is localCheckpoint'd like [[graphLabelProp]]'s nbr frame.
    */
  def adamicAdar(edges: DataFrame, hubCap: Int = 64): DataFrame = {
    val und = edges.select(col("a").as("w"), col("b").as("x"))
      .unionByName(edges.select(col("b").as("w"), col("a").as("x")))
    val deg = und.groupBy("w").agg(count(lit(1)).as("d"))
    // feeds the wedge self-join twice — checkpoint like [[graphLabelProp]]
    val ctr = und.join(deg.filter(col("d") <= hubCap), "w").localCheckpoint()
    val wedges = ctr
      .join(ctr.select(col("w"), col("x").as("y")),
        Seq("w")) // equi on the center; the < residual prunes half
      .filter(col("x") < col("y"))
    val cand = wedges.groupBy("x", "y")
      .agg(count(lit(1)).as("n_common"),
        round(sum((lit(1.0) / log(col("d").cast("double")))
          .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(38, 20)))
          .cast("double"), 6).as("aa_score"))
    cand.join(edges.select(col("a").as("x"), col("b").as("y")),
      Seq("x", "y"), "left_anti")
  }

  private val graphLinkPredict = Q(
    "graph_link_predict",
    (s, dir) => {
      adamicAdar(coPurchaseEdges(s, dir))
        .orderBy(col("aa_score").desc, col("x"), col("y"))
        .limit(20)
    },
    Some("""WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |e AS (SELECT a, b FROM (SELECT x.p AS a, y.p AS b, count(*) AS supp
           |        FROM l x JOIN l y ON x.ok = y.ok AND x.p < y.p
           |        GROUP BY x.p, y.p) WHERE supp >= 2),
           |und AS (SELECT a AS w, b AS x FROM e UNION ALL SELECT b AS w, a AS x FROM e),
           |deg AS (SELECT w, count(*) AS d FROM und GROUP BY w),
           |ctr AS (SELECT und.w, und.x, deg.d FROM und
           |        JOIN deg ON und.w = deg.w WHERE deg.d <= 64),
           |wedge AS (SELECT p1.x AS x, p2.x AS y, p1.d AS d
           |          FROM ctr p1 JOIN ctr p2 ON p1.w = p2.w AND p1.x < p2.x),
           |cand AS (SELECT x, y, count(*) AS n_common,
           |    round(CAST(SUM(CAST(1.0/ln(CAST(d AS DOUBLE)) AS DECIMAL(38,20)))
           |          AS DOUBLE), 6) AS aa_score
           |  FROM wedge GROUP BY x, y)
           |SELECT x, y, n_common, aa_score FROM cand
           |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = cand.x AND e.b = cand.y)
           |ORDER BY aa_score DESC, x, y LIMIT 20""".stripMargin))

  /** Degree assortativity of the supp ≥ 2 co-purchase graph — Pearson
    * correlation of endpoint degrees over the directed edge list (Newman
    * 2002): r > 0 means high-degree parts co-occur with other high-degree
    * parts (a rich-club catalogue), r < 0 a hub-and-spoke one. One number
    * that summarizes whether hub mitigation (the AA hub cap, salting) will
    * matter on a given corpus.
    *
    * Shape: degree is one two-phase count over the undirected adjacency;
    * each directed edge picks up (deg u, deg v) by two node-keyed
    * equi-joins; the five moments reduce in ONE aggregate. Products are
    * carried as DECIMAL(38,0) — m·Σxy for a hubby graph overflows a long
    * (the events_bot_detect lesson) — and the final r is one double
    * expression of exact integers, identical in both engines. Linear in
    * |E| at any scale.
    */
  private val graphAssortativity = Q(
    "graph_assortativity",
    (s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val edges = coPurchaseEdges(s, dir)
      val dir2 = edges.select(col("a").as("u"), col("b").as("v"))
        .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      val deg = dir2.groupBy("u").agg(count(lit(1)).as("d"))
      val xy = dir2
        .join(deg.select(col("u"), col("d").as("du")), "u")
        .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
        .select(col("du").cast(dec).as("x"), col("dv").cast(dec).as("y"))
      val mo = xy.agg(count(lit(1)).cast(dec).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      mo.select(
        (col("m") / 2).cast("long").as("n_edges"),
        round((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((col("m") * col("syy") - col("sy") * col("sy")).cast("double"))),
          6).as("assortativity"))
    },
    Some("""WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |e AS (SELECT a, b FROM (SELECT x.p AS a, y.p AS b, count(*) AS supp
           |        FROM l x JOIN l y ON x.ok = y.ok AND x.p < y.p
           |        GROUP BY x.p, y.p) WHERE supp >= 2),
           |d2 AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
           |deg AS (SELECT u, count(*) AS d FROM d2 GROUP BY u),
           |xy AS (SELECT CAST(du.d AS HUGEINT) AS x, CAST(dv.d AS HUGEINT) AS y
           |  FROM d2 JOIN deg du ON d2.u = du.u JOIN deg dv ON d2.v = dv.u),
           |mo AS (SELECT CAST(count(*) AS HUGEINT) AS m, SUM(x) AS sx, SUM(y) AS sy,
           |    SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy FROM xy)
           |SELECT CAST(m // 2 AS BIGINT) AS n_edges,
           |  round(CAST(m * sxy - sx * sy AS DOUBLE) /
           |    (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) *
           |     sqrt(CAST(m * syy - sy * sy AS DOUBLE))), 6) AS assortativity
           |FROM mo""".stripMargin))

  /** Bounded-horizon harmonic centrality over the supp ≥ 2 co-purchase
    * graph: H₃(u) = Σ_{v, d(u,v) ≤ 3} 1/d(u,v) — the "how quickly can u
    * reach everything nearby" score (harmonic, not closeness, because it
    * is well-defined on disconnected graphs; the 3-hop horizon is the
    * standard bounded approximation that keeps all-sources computation
    * linear-ish). Frontier algebra, not per-source BFS: the distance-2
    * pair set is ONE self-join of the adjacency minus the distance-1 set,
    * distance-3 expands the exact d2 frontier once more — each round an
    * equi-join + distinct + anti-join on a pair key. The scale levers are
    * the [[adamicAdar]] HUB CAP on EXPANSION-THROUGH nodes (paths routed
    * through deg > 64 hubs are dropped — the documented approximation,
    * same noise-cut argument) and the exact-d2 base for round 3 (never
    * re-expanding d1 ∪ d2). 1/2 and 1/3 are the same IEEE divisions of
    * exact longs in both engines.
    */
  private val graphHarmonic = Q(
    "graph_harmonic",
    (s, dir) => {
      val hubCap = 64
      val edges = coPurchaseEdges(s, dir)
      val und = edges.select(col("a").as("u"), col("b").as("v"))
        .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      val deg = und.groupBy("u").agg(count(lit(1)).as("dg"))
      // expansion steps route only through sub-cap intermediates
      val thru = und.join(deg.filter(col("dg") <= hubCap)
        .select(col("u").as("v")), "v")
        .select(col("u"), col("v")).localCheckpoint()
      val d1 = und
      val d2 = d1.join(thru.toDF("m", "w"), col("v") === col("m"))
        .select(col("u"), col("w").as("v")).distinct()
        .filter(col("u") =!= col("v"))
        .join(d1, Seq("u", "v"), "left_anti").localCheckpoint()
      val d3 = d2.join(thru.toDF("m", "w"), col("v") === col("m"))
        .select(col("u"), col("w").as("v")).distinct()
        .filter(col("u") =!= col("v"))
        .join(d1, Seq("u", "v"), "left_anti")
        .join(d2, Seq("u", "v"), "left_anti")
      def cnt(df: DataFrame, out: String) =
        df.groupBy("u").agg(count(lit(1)).as(out))
      cnt(d1, "n1")
        .join(cnt(d2, "n2"), Seq("u"), "left")
        .join(cnt(d3, "n3"), Seq("u"), "left")
        .select(col("u").as("node"),
          col("n1"), coalesce(col("n2"), lit(0L)).as("n2"),
          coalesce(col("n3"), lit(0L)).as("n3"),
          round(col("n1").cast("double") +
            coalesce(col("n2"), lit(0L)).cast("double") / 2.0 +
            coalesce(col("n3"), lit(0L)).cast("double") / 3.0, 6).as("harmonic"))
        .orderBy(col("harmonic").desc, col("node"))
        .limit(20)
        .orderBy(col("harmonic").desc, col("node"))
    },
    Some("""WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |e AS (SELECT a, b FROM (SELECT x.p AS a, y.p AS b, count(*) AS supp
           |        FROM l x JOIN l y ON x.ok = y.ok AND x.p < y.p
           |        GROUP BY x.p, y.p) WHERE supp >= 2),
           |und AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
           |deg AS (SELECT u, count(*) AS dg FROM und GROUP BY u),
           |thru AS (SELECT und.u, und.v FROM und
           |         JOIN deg ON und.v = deg.u WHERE deg.dg <= 64),
           |d2 AS (SELECT u, v FROM (
           |    SELECT DISTINCT a.u, t.v FROM und a JOIN thru t ON a.v = t.u
           |    WHERE a.u != t.v) q
           |  WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.u = q.u AND und.v = q.v)),
           |d3 AS (SELECT u, v FROM (
           |    SELECT DISTINCT d2.u, t.v FROM d2 JOIN thru t ON d2.v = t.u
           |    WHERE d2.u != t.v) x
           |  WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.u = x.u AND und.v = x.v)
           |    AND NOT EXISTS (SELECT 1 FROM d2 WHERE d2.u = x.u AND d2.v = x.v)),
           |c1 AS (SELECT u, count(*) AS n1 FROM und GROUP BY u),
           |c2 AS (SELECT u, count(*) AS n2 FROM d2 GROUP BY u),
           |c3 AS (SELECT u, count(*) AS n3 FROM d3 GROUP BY u)
           |SELECT c1.u AS node, CAST(n1 AS BIGINT) AS n1,
           |  CAST(COALESCE(n2, 0) AS BIGINT) AS n2,
           |  CAST(COALESCE(n3, 0) AS BIGINT) AS n3,
           |  round(CAST(n1 AS DOUBLE) + CAST(COALESCE(n2, 0) AS DOUBLE) / 2.0
           |    + CAST(COALESCE(n3, 0) AS DOUBLE) / 3.0, 6) AS harmonic
           |FROM c1 LEFT JOIN c2 ON c1.u = c2.u LEFT JOIN c3 ON c1.u = c3.u
           |ORDER BY harmonic DESC, node LIMIT 20""".stripMargin))

  /** HITS hubs & authorities (Kleinberg 1999) over the directed
    * customer → supplier purchase graph — the mutually-reinforcing
    * authority score PageRank's single rank conflates: a good HUB
    * (customer) buys from many good authorities, a good AUTHORITY
    * (supplier) is bought from by many good hubs. On this bipartite graph
    * the two iterations stay cleanly separated: a₁ = in-degree,
    * h₁ = Σ_out a₁, a₂ = Σ_in h₁ — each step ONE equi-join of the score
    * vector against the distinct edge list plus a two-phase aggregate,
    * exactly the per-iteration shape (and cost) of [[pageRank]], linear
    * in |E|.
    *
    * Determinism, stronger than PageRank's: with h₀ = 1 every unnormalized
    * score is an exact INTEGER (sums of sums of in-degrees), accumulated in
    * DECIMAL(38,0) because the composition squares magnitudes (a₂ ≤
    * indeg·max h₁ ≳ 2⁶³ on a lake-scale graph) — no FP anywhere in the
    * iterations. The single normalization by the max (the classical unit-
    * norm step, deferred to the readout) is ONE double division of two
    * exact decimals per row, engine-identical.
    */
  /** HITS hub/authority scores on a directed edge list — see
    * [[graphHits]]'s Scaladoc. Returns max-normalized top-`k` rows per
    * kind: (kind ∈ {authority, hub}, node label, score ∈ (0, 1]).
    */
  def hits(edges: DataFrame, k: Int = 10,
           assumeDistinct: Boolean = false): DataFrame = {
    val wide = edges.count() > AdjacencySetEdgeCap
    // no pinning even on wide graphs: the three consumers (a1, h1, a2)
    // sit in ONE physical plan, so the dedup's exchange is read three
    // times via ReusedExchange from shuffle files on disk — zero extra
    // memory, where caching an edge-scale frame is heap-sized at the
    // 100× corpus.
    // `assumeDistinct` (r19): callers holding a provably-distinct edge
    // frame (the declared row's memoized purchaseEdges ends in
    // .distinct()) skip the defensive dedup — a full edge-scale
    // exchange + aggregate that re-proves a property the input already
    // has. Value-identical by definition on distinct input; arbitrary
    // inputs keep the dedup.
    val e = if (assumeDistinct) edges else distinctBy(edges, wide, "src", "dst")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val a1 = e.groupBy("dst").agg(count(lit(1)).cast(dec).as("a1"))
    val h1j = e.join(a1, "dst")
    val h1 = (if (wide) h1j.repartition(col("src")) else h1j)
      .groupBy("src").agg(sum(col("a1")).as("h1"))
    val a2 = e.join(h1, "src")
      .groupBy("dst").agg(sum(col("h1")).as("a2"))
    val am = a2.agg(max(col("a2")).as("m"))
    val hm = h1.agg(max(col("h1")).as("m"))
    val auth = a2.crossJoin(broadcast(am))
      .select(lit("authority").as("kind"), nodeLabel(col("dst")).as("node"),
        round(col("a2").cast("double") / col("m").cast("double"), 9).as("score"))
      .orderBy(col("score").desc, col("node")).limit(k)
    val hub = h1.crossJoin(broadcast(hm))
      .select(lit("hub").as("kind"), nodeLabel(col("src")).as("node"),
        round(col("h1").cast("double") / col("m").cast("double"), 9).as("score"))
      .orderBy(col("score").desc, col("node")).limit(k)
    auth.unionByName(hub).orderBy(col("kind"), col("score").desc, col("node"))
  }

  private val graphHits = Q(
    "graph_hits",
    // assumeDistinct: purchaseEdges is DISTINCT by construction (the memo
    // dedups once for the whole family) — skip hits' defensive re-dedup
    (s, dir) => hits(purchaseEdges(s, dir), assumeDistinct = true),
    Some("""WITH e AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |a1 AS (SELECT dst, CAST(count(*) AS DECIMAL(38,0)) AS a1
           |       FROM e GROUP BY dst),
           |h1 AS (SELECT src, CAST(SUM(a1) AS DECIMAL(38,0)) AS h1
           |       FROM e JOIN a1 USING (dst) GROUP BY src),
           |a2 AS (SELECT dst, CAST(SUM(h1) AS DECIMAL(38,0)) AS a2
           |       FROM e JOIN h1 USING (src) GROUP BY dst),
           |am AS (SELECT max(a2) AS m FROM a2),
           |hm AS (SELECT max(h1) AS m FROM h1),
           |auth AS (SELECT 'authority' AS kind,
           |    's' || CAST((dst - 1) // 2 AS BIGINT) AS node,
           |    round(CAST(a2 AS DOUBLE) / CAST(m AS DOUBLE), 9) AS score
           |  FROM a2 CROSS JOIN am ORDER BY score DESC, node LIMIT 10),
           |hub AS (SELECT 'hub' AS kind,
           |    'c' || CAST(src // 2 AS BIGINT) AS node,
           |    round(CAST(h1 AS DOUBLE) / CAST(m AS DOUBLE), 9) AS score
           |  FROM h1 CROSS JOIN hm ORDER BY score DESC, node LIMIT 10)
           |SELECT * FROM auth UNION ALL SELECT * FROM hub
           |ORDER BY kind, score DESC, node""".stripMargin))

  /** Newman modularity of a node→label partition over an (a < b) edge
    * list — see [[graphModularity]] for the statistic and determinism
    * argument. Returns one row:
    * (n_nodes, n_edges, n_communities, modularity).
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val lab = labels.localCheckpoint()
    val nbr = edges.select(col("a").as("n"), col("b").as("m"))
      .unionByName(edges.select(col("b").as("n"), col("a").as("m")))
    val m = edges.agg(count(lit(1)).as("m"))
    val ec = edges
      .join(lab.select(col("node").as("a"), col("label").as("la")), "a")
      .join(lab.select(col("node").as("b"), col("label").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("ec"))
    val dc = nbr.join(lab.withColumnRenamed("node", "n"), "n")
      .groupBy("label").agg(count(lit(1)).as("dc"))
    val qnum = dc.join(ec, Seq("label"), "left")
      .crossJoin(broadcast(m))
      .select((col("m").cast(dec) * coalesce(col("ec"), lit(0L)) * 4 -
        col("dc").cast(dec) * col("dc")).as("qn"))
      .agg(sum(col("qn")).as("qnum"))
    val meta = lab.agg(count(lit(1)).as("n_nodes"),
      countDistinct(col("label")).as("n_communities"))
    qnum.crossJoin(broadcast(m)).crossJoin(broadcast(meta))
      .select(col("n_nodes"), col("m").as("n_edges"), col("n_communities"),
        round(col("qnum").cast("double") /
          (lit(4.0) * col("m").cast("double") * col("m").cast("double")),
          6).as("modularity"))
  }

  /** Newman modularity of the 3-round label-propagation partition over the
    * supp ≥ 2 co-purchase graph — the standard "are these communities
    * real?" score (Newman & Girvan 2004): Q = Σ_c (e_c/m − (d_c/2m)²),
    * e_c = intra-community edges, d_c = community degree sum. The quality
    * gate a pipeline runs AFTER community detection before acting on the
    * clusters (e.g. curriculum bucketing by product family) — LPA always
    * returns *some* partition; modularity says whether it beats the random-
    * graph null.
    *
    * Scale shape: LPA rounds as in [[graphLabelProp]] (linear in |E|), then
    * two label joins on the tiny memoized edge frame plus per-community
    * two-phase aggregates. Determinism: Q reduces to the exact integer
    * numerator Σ_c (4·m·e_c − d_c²) carried in DECIMAL(38,0) (at lake scale
    * m ~ 10¹², d_c² ~ 10²⁴ — far past long range, within decimal), with ONE
    * final IEEE divide by 4m² mirrored literally in the oracle.
    */
  private val graphModularity = Q(
    "graph_modularity",
    (s, dir) => {
      val edges = coPurchaseEdges(s, dir)
      val nbr = edges.select(col("a").as("n"), col("b").as("m"))
        .unionByName(edges.select(col("b").as("n"), col("a").as("m")))
        .localCheckpoint()
      var labels = nbr.select(col("n").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
      for (_ <- 1 to 3) labels = lpaRound(labels, nbr)
      modularity(edges, labels)
    },
    Some("""WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |e AS (SELECT a, b FROM (SELECT x.p AS a, y.p AS b, count(*) AS supp
           |        FROM l x JOIN l y ON x.ok = y.ok AND x.p < y.p
           |        GROUP BY x.p, y.p) WHERE supp >= 2),
           |nbr AS (SELECT a AS n, b AS m FROM e UNION ALL SELECT b AS n, a AS m FROM e),
           |l0 AS (SELECT DISTINCT n AS node, n AS label FROM nbr),
           |""".stripMargin +
      (1 to 3).map(lpaRoundSql).mkString(",\n") + ",\n" +
      """m AS (SELECT count(*) AS m FROM e),
        |ec AS (SELECT x.label AS label, count(*) AS ec
        |  FROM e JOIN l3 x ON e.a = x.node JOIN l3 y ON e.b = y.node
        |  WHERE x.label = y.label GROUP BY 1),
        |dc AS (SELECT l3.label, count(*) AS dc
        |  FROM nbr JOIN l3 ON nbr.n = l3.node GROUP BY 1),
        |q AS (SELECT SUM(CAST(m AS DECIMAL(38,0)) * COALESCE(ec.ec, 0) * 4
        |    - CAST(dc AS DECIMAL(38,0)) * dc) AS qnum
        |  FROM dc LEFT JOIN ec USING (label) CROSS JOIN m),
        |meta AS (SELECT count(*) AS n_nodes,
        |    count(DISTINCT label) AS n_communities FROM l3)
        |SELECT n_nodes, m AS n_edges, n_communities,
        |  round(CAST(qnum AS DOUBLE) /
        |    (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6) AS modularity
        |FROM q CROSS JOIN m CROSS JOIN meta""".stripMargin))

  /** Degree distribution of the supp ≥ 2 co-purchase graph, bucketed by
    * bit-length (⌊log₂ d⌋ + 1 — computed as `length(bin(d))`, exact integer
    * string arithmetic in both engines, no floating log near power-of-two
    * boundaries): per-bucket node count, degree range and share. The
    * heavy-tail diagnostic that justifies every hub cap in this file — a
    * power-law tail in the top buckets is precisely what makes uncapped
    * wedge/expansion enumeration quadratic, so deployments run this BEFORE
    * choosing caps. One two-phase degree count plus a ~⌈log₂ dmax⌉-row
    * aggregate; linear at any scale.
    */
  private val graphDegreeDist = Q(
    "graph_degree_dist",
    (s, dir) => {
      val edges = coPurchaseEdges(s, dir)
      val deg = edges.select(col("a").as("n"))
        .unionByName(edges.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val tot = deg.agg(count(lit(1)).as("tot"))
      deg.select(length(bin(col("d"))).cast("long").as("deg_bits"), col("d"))
        .groupBy("deg_bits")
        .agg(count(lit(1)).as("n_nodes"), min(col("d")).as("min_deg"),
          max(col("d")).as("max_deg"))
        .crossJoin(broadcast(tot))
        .select(col("deg_bits"), col("n_nodes"), col("min_deg"), col("max_deg"),
          round(col("n_nodes").cast("double") / col("tot"), 6).as("share"))
        .orderBy("deg_bits")
    },
    Some("""WITH l AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
           |e AS (SELECT a, b FROM (SELECT x.p AS a, y.p AS b, count(*) AS supp
           |        FROM l x JOIN l y ON x.ok = y.ok AND x.p < y.p
           |        GROUP BY x.p, y.p) WHERE supp >= 2),
           |deg AS (SELECT n, count(*) AS d FROM
           |    (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY n),
           |tot AS (SELECT count(*) AS tot FROM deg)
           |SELECT CAST(length(bin(d)) AS BIGINT) AS deg_bits,
           |  count(*) AS n_nodes, min(d) AS min_deg, max(d) AS max_deg,
           |  round(CAST(count(*) AS DOUBLE) / tot, 6) AS share
           |FROM deg CROSS JOIN tot
           |GROUP BY deg_bits, tot ORDER BY deg_bits""".stripMargin))

  val queries: Seq[Q] = Seq(graphPagerank, graphBfsReach, graphTriangles,
    graphLabelProp, graphKcore, graphLinkPredict, graphPpr,
    graphAssortativity, graphHarmonic, graphHits, graphModularity,
    graphClusteringCoeff,
    graphDegreeDist)
}
