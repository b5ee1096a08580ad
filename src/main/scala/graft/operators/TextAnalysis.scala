package graft.operators

import graft.{Q, Tables}
import graft.functions.Deterministic._
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis operators (SURVEY.md §2.12 D5): token statistics, corpus
  * term frequency, tf-idf, quality scoring, language-ID heuristic, and
  * document fingerprinting (sorted-token md5 + Rabin-Karp-style rolling
  * hash). All per-document work is higher-order array functions (codegen'd,
  * no shuffle); corpus-level stats are two-phase hash aggregates.
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Spread variant for the pure per-row queries (tokens/quality/langid/
    * fingerprint): their only shuffle is the final sort, so without a
    * rebalance all per-row compute runs on the single scan partition.
    * The explode→groupBy queries (token_freq, tfidf) parallelize through
    * their own aggregation shuffle and skip the extra exchange.
    */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    Tables.spread(docs(s, dir))

  /** Per-document token statistics: whitespace tokens, distinct tokens,
    * regex ("BPE-ish" `[a-z0-9]+`) tokens, mean token length.
    */
  private val textTokens = Q(
    "text_tokens",
    (s, dir) => {
      val w = words(col("text"))
      docsSpread(s, dir).select(
        col("doc_id"),
        size(w).as("n_tokens"),
        size(array_distinct(w)).as("n_distinct"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("n_re_tokens"),
        (aggregate(transform(w, t => length(t)), lit(0), (acc, x) => acc + x)
          .cast("double") / size(w)).as("mean_token_len"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           | CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
           | CAST(len(list_distinct(string_split(text,' '))) AS INT) AS n_distinct,
           | CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS n_re_tokens,
           | CAST(list_sum(list_transform(string_split(text,' '), t -> length(t))) AS DOUBLE)
           |   / len(string_split(text,' ')) AS mean_token_len
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Corpus-wide top-50 tokens: explode → two-phase count → distributed
    * top-k (TakeOrderedAndProject).
    */
  private val textTokenFreq = Q(
    "text_token_freq",
    (s, dir) => docs(s, dir)
      .select(explode(words(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(50),
    Some("""SELECT token, count(*) AS freq
           |FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
           |GROUP BY token ORDER BY freq DESC, token LIMIT 50""".stripMargin))

  /** tf-idf: top term per document by tf · ln(N/df). Term frequencies and
    * document frequencies are hash aggregates; the idf join broadcasts the
    * (small) vocabulary. Ranking uses round(·,9) + term tiebreak so last-ulp
    * ln() differences can't reorder terms across engines.
    */
  private val textTfidf = Q(
    "text_tfidf",
    (s, dir) => {
      val d = docs(s, dir)
      // corpus size as a 1-row broadcast, not a driver-side collect
      val n = d.agg(count(lit(1)).as("n_docs"))
      val tf = d.select(col("doc_id"), explode(words(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(round(col("tfidf"), 9).desc, col("term"))
      tf.join(broadcast(df), "term").crossJoin(broadcast(n))
        .withColumn("tfidf", col("tf") * log(col("n_docs").cast("double") / col("df")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("term"), round(col("tfidf"), 6).as("tfidf"))
        .orderBy("doc_id")
    },
    Some("""WITH tf AS (SELECT doc_id, term, count(*) AS tf
           |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents)
           |  GROUP BY doc_id, term),
           |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
           |n AS (SELECT count(*) AS n_docs FROM documents),
           |x AS (SELECT tf.doc_id, tf.term,
           |        tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
           |      FROM tf JOIN df USING (term) CROSS JOIN n),
           |r AS (SELECT doc_id, term, tfidf, ROW_NUMBER() OVER (
           |        PARTITION BY doc_id ORDER BY round(tfidf, 9) DESC, term) AS rn
           |      FROM x)
           |SELECT doc_id, term, round(tfidf, 6) AS tfidf
           |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  /** Quality scoring: length / stopword-ratio / alpha-ratio composite in
    * [0,1] — the usual cheap pre-filter before expensive pipeline stages.
    * Every float op is written identically on both engines.
    */
  /** Stopword set shared by the quality composite — one definition for the
    * Spark expression AND the oracle SQL, so a list edit can't de-sync the
    * queries that score quality ([[textQuality]], the curation pipeline).
    */
  private[operators] val StopWords =
    Seq("the", "of", "and", "a", "to", "in", "is", "on", "for", "with")
  private[operators] val StopWordsSql = StopWords.map("'" + _ + "'").mkString(",")

  /** Length/stopword quality composite in [0,1] (see [[textQuality]]). */
  def qualityScore(text: Column): Column = {
    val w = words(text)
    val nStop = size(filter(w, t => t.isin(StopWords.map(x => x: Any): _*)))
    least(size(w).cast("double") / 50.0, lit(1.0)) * 0.5 +
      (lit(1.0) - nStop.cast("double") / size(w)) * 0.5
  }

  /** The same composite as DuckDB SQL over a text column expression. */
  private[operators] def qualityScoreSql(c: String): String =
    s"least(CAST(len(string_split($c,' ')) AS DOUBLE)/50.0, 1.0)*0.5 + " +
      s"(1.0 - CAST(len(list_filter(string_split($c,' '), " +
      s"t -> list_contains([$StopWordsSql], t))) " +
      s"AS DOUBLE)/len(string_split($c,' ')))*0.5"

  private val textQuality = Q(
    "text_quality",
    (s, dir) => {
      val w = words(col("text"))
      val nStop = size(filter(w, t => t.isin(StopWords.map(x => x: Any): _*)))
      val alpha = (length(regexp_replace(col("text"), "[^a-z ]", ""))
        .cast("double") / length(col("text"))).as("alpha_ratio")
      docsSpread(s, dir).select(
        col("doc_id"),
        length(col("text")).as("n_chars_actual"),
        size(w).as("n_tokens"),
        round(nStop.cast("double") / size(w), 6).as("stop_ratio"),
        round(alpha, 6).as("alpha_ratio"),
        round(qualityScore(col("text")), 6).as("quality"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id,
            | CAST(length(text) AS INT) AS n_chars_actual,
            | CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
            | round(CAST(len(list_filter(string_split(text,' '),
            |     t -> list_contains([$StopWordsSql], t)))
            |   AS DOUBLE) / len(string_split(text,' ')), 6) AS stop_ratio,
            | round(CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE)
            |   / length(text), 6) AS alpha_ratio,
            | round(${qualityScoreSql("text")}, 6) AS quality
            |FROM documents ORDER BY doc_id""".stripMargin))

  /** Corpus-relative quality gate: drop the bottom quartile of docs per
    * language by the [[qualityScore]] composite — the filtering step that
    * follows scoring in a real curation pipeline ("keep the best 75 % of
    * each language", not an absolute cutoff).
    *
    * Scale shape: a percent_rank window straight over the docs would put
    * each language — a handful of giant partitions at 100 TB — on one
    * reducer. Instead the threshold comes from a two-phase
    * (lang, score-level) histogram: the window runs over that tiny
    * aggregated frame (≤ languages × distinct rounded levels), and the
    * per-language cutoffs broadcast-join back onto the scored docs. Same
    * band-then-offset trick as `text_vocab`'s ranking.
    */
  def qualityGate(d: DataFrame): DataFrame = {
    // scored feeds BOTH the threshold subtree (a separate broadcast build
    // side, where AQE stage reuse does not apply) and the probe side —
    // uncached, the tokenize+stopword scoring map would run over the corpus
    // twice (same double-consumer shape pipeline_curate caches)
    val scored = graft.Caches.track(d.select(col("doc_id"), col("lang"),
      round(qualityScore(col("text")), 6).as("quality")))
    val hist = scored.groupBy("lang", "quality").agg(count(lit(1)).as("cnt"))
    val cumW = Window.partitionBy("lang").orderBy("quality")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.select(col("lang"), col("quality"),
      sum("cnt").over(cumW).as("cum"),
      sum("cnt").over(Window.partitionBy("lang")).as("total"))
    // q25 = lowest score level whose cumulative count covers ≥ 1/4 of the
    // language — the discrete lower-quartile; integer compare, no division
    val thresholds = cum.filter(col("cum") * 4 >= col("total"))
      .groupBy("lang").agg(min("quality").as("q25"))
    scored.join(broadcast(thresholds), "lang")
      .filter(col("quality") >= col("q25"))
      .select("doc_id", "lang", "quality")
  }

  private val textQualityGate = Q(
    "text_quality_gate",
    (s, dir) => qualityGate(docsSpread(s, dir)).orderBy("doc_id"),
    Some(s"""WITH scored AS (SELECT doc_id, lang,
            |    round(${qualityScoreSql("text")}, 6) AS quality FROM documents),
            |hist AS (SELECT lang, quality, count(*) AS cnt FROM scored GROUP BY 1, 2),
            |cum AS (SELECT lang, quality,
            |    SUM(cnt) OVER (PARTITION BY lang ORDER BY quality
            |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            |    SUM(cnt) OVER (PARTITION BY lang) AS total FROM hist),
            |thr AS (SELECT lang, min(quality) AS q25 FROM cum
            |        WHERE cum * 4 >= total GROUP BY lang)
            |SELECT s.doc_id, s.lang, s.quality
            |FROM scored s JOIN thr ON s.lang = thr.lang
            |WHERE s.quality >= thr.q25 ORDER BY s.doc_id""".stripMargin))

  /** Corpus composition card: documents, tokens, and token share per
    * (lang, source) cell — the data-mixture report every training run
    * publishes next to its loss curve. Per-row token counts are map-side;
    * the cell rollup is one two-phase aggregate; the global total rides
    * back as a broadcast 1-row frame (never a full-corpus window).
    */
  private val textMixtureReport = Q(
    "text_mixture_report",
    (s, dir) => {
      val cells = docs(s, dir)
        .select(col("lang"), col("source"), size(words(col("text"))).as("n"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      val total = cells.agg(sum(col("n_tokens")).as("t"))
      cells.crossJoin(broadcast(total))
        .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("t"), 6).as("token_share"))
        .orderBy("lang", "source")
    },
    Some("""WITH c AS (SELECT lang, source, count(*) AS n_docs,
           |    CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY lang, source),
           |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM c)
           |SELECT lang, source, n_docs, n_tokens,
           |  round(CAST(n_tokens AS DOUBLE) / t, 6) AS token_share
           |FROM c CROSS JOIN t ORDER BY lang, source""".stripMargin))

  /** Corpus-order n-gram novelty: what fraction of each document's distinct
    * 3-gram shingles appear here FIRST (no lower doc_id contains them) —
    * the incremental-ingest signal that separates genuinely new material
    * from recombinations of already-seen text (novelty ≈ 0 means the doc is
    * stitched from existing n-grams even if no single near-dup exists).
    * One shingle explode → min-doc_id per shingle (two-phase) → equi-join
    * back on the shingle key → per-doc counts. Linear in corpus shingles,
    * shuffles only on the shingle and doc keys.
    */
  private val textNovelty = Q(
    "text_novelty",
    (s, dir) => {
      // shingles travel as 64-bit hashes (same compiled kernel and the same
      // negligible-collision trade as the whole jaccardPairs family, whose
      // string-shingle oracles pass against hashed execution) — and the
      // first-occurrence doc is a window min over the shingle key, so the
      // whole query is two narrow shuffles (by shingle hash, then by doc),
      // no self-join (string-keyed agg+join formulation measured 4.3 s at
      // sf0.1; this one 0.74 s)
      val ex = docsSpread(s, dir).select(col("doc_id"),
        explode(graft.functions.TextKernels.shingleHash64(col("text"))).as("g"))
      ex.withColumn("fd", min(col("doc_id")).over(Window.partitionBy("g")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("doc_id") === col("fd"), 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_shingles"), 6).as("novelty"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
           |s AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w,' ')]
           |        ELSE list_distinct(list_transform(range(1, len(w)-1),
           |               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS sh
           |      FROM w),
           |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
           |f AS (SELECT g, min(doc_id) AS fd FROM e GROUP BY g)
           |SELECT e.doc_id, count(*) AS n_shingles,
           |  CAST(SUM(CASE WHEN e.doc_id = f.fd THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           |  round(CAST(SUM(CASE WHEN e.doc_id = f.fd THEN 1 ELSE 0 END) AS DOUBLE)
           |        / count(*), 6) AS novelty
           |FROM e JOIN f ON e.g = f.g
           |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin))

  /** Language-ID n-gram/stopword heuristic: argmax over per-language marker
    * token hit counts; `und` when nothing matches. The marker-count argmax is
    * deterministic and SQL-expressible, so it's fully oracle-checked (the
    * CASE order mirrors Spark's greatest-struct tie-break: equal scores go
    * to the lexicographically largest code — fr > es > en > de); TextSpec
    * additionally checks real sentences in 5 languages.
    */
  private val textLangid = Q(
    "text_langid",
    (s, dir) => docsSpread(s, dir)
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        langId(col("text")).as("lang_guess"))
      .orderBy("doc_id"),
    Some("""WITH s AS (SELECT doc_id, lang, text,
           |  len(list_filter(string_split(lower(text),' '),
           |    t -> list_contains(['the','and','of','to','is','that','with'], t))) AS s_en,
           |  len(list_filter(string_split(lower(text),' '),
           |    t -> list_contains(['der','die','das','und','ist','nicht','ein'], t))) AS s_de,
           |  len(list_filter(string_split(lower(text),' '),
           |    t -> list_contains(['le','la','les','et','est','que','une'], t))) AS s_fr,
           |  len(list_filter(string_split(lower(text),' '),
           |    t -> list_contains(['el','los','las','es','que','una','para'], t))) AS s_es
           | FROM documents)
           |SELECT doc_id, lang AS labeled_lang,
           |  CASE WHEN length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) > 0 THEN 'zh'
           |       WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
           |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
           |       WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
           |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
           |       ELSE 'de' END AS lang_guess
           |FROM s ORDER BY doc_id""".stripMargin))

  /** Confusion matrix of the [[langId]] heuristic against the labeled
    * language — the eval row for the language-ID gate itself (the r10
    * sim_lsh_recall convention: a classifier the pipeline RELIES on gets a
    * green oracle-checked accuracy row, not just a demo): per
    * (labeled, guessed) cell count with its share of the labeled class,
    * so both the recall diagonal and the specific confusion directions
    * (which language leaks into which) are pinned. One scan + two-phase
    * count over ≤ langs² cells.
    */
  private val textLangidConfusion = Q(
    "text_langid_confusion",
    (s, dir) => {
      val g = docsSpread(s, dir)
        .select(col("lang").as("labeled_lang"), langId(col("text")).as("lang_guess"))
        .groupBy("labeled_lang", "lang_guess").agg(count(lit(1)).as("n_docs"))
      val tot = g.groupBy("labeled_lang").agg(sum(col("n_docs")).as("t"))
      g.join(broadcast(tot), "labeled_lang")
        .select(col("labeled_lang"), col("lang_guess"), col("n_docs"),
          (col("labeled_lang") === col("lang_guess")).as("is_correct"),
          round(col("n_docs").cast("double") / col("t").cast("double"), 6)
            .as("share_of_labeled"))
        .orderBy("labeled_lang", "lang_guess")
    },
    Some("""WITH s AS (SELECT doc_id, lang, text,
           |  len(list_filter(string_split(lower(text),' '),
           |    t -> list_contains(['the','and','of','to','is','that','with'], t))) AS s_en,
           |  len(list_filter(string_split(lower(text),' '),
           |    t -> list_contains(['der','die','das','und','ist','nicht','ein'], t))) AS s_de,
           |  len(list_filter(string_split(lower(text),' '),
           |    t -> list_contains(['le','la','les','et','est','que','une'], t))) AS s_fr,
           |  len(list_filter(string_split(lower(text),' '),
           |    t -> list_contains(['el','los','las','es','que','una','para'], t))) AS s_es
           | FROM documents),
           |p AS (SELECT lang AS labeled_lang,
           |  CASE WHEN length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) > 0 THEN 'zh'
           |       WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
           |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
           |       WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
           |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
           |       ELSE 'de' END AS lang_guess
           | FROM s),
           |g AS (SELECT labeled_lang, lang_guess, count(*) AS n_docs
           |      FROM p GROUP BY 1, 2),
           |tot AS (SELECT labeled_lang, CAST(SUM(n_docs) AS BIGINT) AS t
           |        FROM g GROUP BY 1)
           |SELECT g.labeled_lang, lang_guess, n_docs,
           |  g.labeled_lang = lang_guess AS is_correct,
           |  round(CAST(n_docs AS DOUBLE) / t, 6) AS share_of_labeled
           |FROM g JOIN tot ON g.labeled_lang = tot.labeled_lang
           |ORDER BY g.labeled_lang, lang_guess""".stripMargin))

  /** Character-trigram PROFILE language classifier — the trained,
    * marker-free second method beside [[langId]]'s fixed word lists (the
    * textcat/Cavnar–Trenkle shape every production langid stack uses):
    * per-language profiles are the top-30 char trigrams BY FREQUENCY from
    * the labeled corpus, each document scores Σ c_doc(g)·c_lang(g) over
    * profile trigrams, argmax with the (score desc, lang) tiebreak, and
    * the readout is the confusion matrix vs labels — so the train → apply
    * → evaluate loop is one oracle-checked query. Scores are EXACT
    * integers (products of counts), so the whole classifier has zero FP
    * anywhere — stronger determinism than the marker heuristic.
    *
    * Scale shape: trigram explode (linear, ~1 row/char), two-phase counts,
    * profile top-30 per language via the custom grouped-top-k physical
    * operator (map-side bounded heaps — never a vocabulary sort), scoring
    * as one trigram-keyed equi-join against the ≤ 30·langs broadcast
    * profile, per-doc argmax as min(struct(-score, lang)) — no window over
    * the doc stream. Unmatched docs (no profile trigram) predict 'und'.
    */
  private val textLangidTrigram = Q(
    "text_langid_trigram",
    (s, dir) => {
      // PACKED trigram keys (r20): [[graft.functions.TrigramPack]] packs
      // each 3-code-point trigram into a long — a bijection that preserves
      // equality AND (cp desc, g asc) order (UTF-8 byte order ≡ code-point
      // order ≡ numeric order of the packed key for fixed-length-3
      // sequences), and the key never reaches the output, so every count,
      // join, and tie-break below is value-identical to the string form
      // the oracle still replays. The string form allocated one UTF8String
      // per character and re-scanned the text per `substr` (O(n²)/doc);
      // the kernel is one O(n) pass, and both corpus-scale aggregates plus
      // the exchange now key on fixed-width longs instead of strings.
      // the explicit isNotNull(doc_id) mirrors the constraint the final
      // left join INFERS onto the prediction branch only (r20): without it
      // the two dt consumers' scan filters differ — (isnotnull(text) ∧
      // len≥3 ∧ isnotnull(doc_id)) vs the same without doc_id — so their
      // canonical subtrees never match and AQE rebuilt the whole explode +
      // partial-agg exchange TWICE (`Probe stages`: two 8.5 MB-writing stages
      // at 5.9 + 7.1 s task time). Pinning the filter on the shared frame
      // makes both branches byte-identical and the exchange is reused.
      // Value-identical: doc_id is never null, and null-doc rows could not
      // have survived the prediction join anyway.
      val d = docsSpread(s, dir)
        .filter(length(col("text")) >= 3 && col("doc_id").isNotNull)
        .select(col("doc_id"), col("lang"),
          explode(graft.functions.TextKernels.trigramCodes(col("text"))).as("g"))
      // ONE trigram explode: the per-language profile counts derive from
      // the per-doc frame (Σ cd ≡ the direct count — exact integers), so
      // dt's exchange is built once and AQE's ReusedExchange serves both
      // consumers; the previous two-branch form computed the ~1-row-per-
      // char explode twice (measured 21.6 → 9.2 s standalone at sf1)
      val dt = d.groupBy("doc_id", "lang", "g").agg(count(lit(1)).as("cd"))
      val cg = dt.groupBy("lang", "g").agg(sum(col("cd")).as("cp"))
      val prof = broadcast(graft.plans.TopK.perGroup(
        cg, Seq("lang"), Seq(col("cp").desc, col("g").asc), 30)
        .select(col("lang").as("plang"), col("g"), col("cp")))
      val pred = dt.join(prof, "g")
        .groupBy(col("doc_id"), col("lang"), col("plang"))
        .agg(sum(col("cd") * col("cp")).as("score"))
        .groupBy("doc_id", "lang")
        .agg(min(struct((-col("score")).as("ns"), col("plang").as("l"))).as("t"))
        .select(col("doc_id"), col("lang"), col("t").getField("l").as("pred"))
      val all = docs(s, dir).select(col("doc_id"), col("lang"))
        .join(pred.select(col("doc_id"), col("pred")), Seq("doc_id"), "left")
        .select(col("lang").as("labeled_lang"),
          coalesce(col("pred"), lit("und")).as("pred_lang"))
      all.groupBy("labeled_lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("is_correct", col("labeled_lang") === col("pred_lang"))
        .orderBy("labeled_lang", "pred_lang")
    },
    Some("""WITH d AS (SELECT doc_id, lang, unnest(list_transform(
           |      range(1, length(text) - 1), i -> substr(text, CAST(i AS INT), 3))) AS g
           |  FROM documents WHERE length(text) >= 3),
           |cg AS (SELECT lang, g, count(*) AS cp FROM d GROUP BY 1, 2),
           |prof AS (SELECT lang AS plang, g, cp FROM (
           |    SELECT lang, g, cp, row_number() OVER (PARTITION BY lang
           |      ORDER BY cp DESC, g ASC) AS rn FROM cg) WHERE rn <= 30),
           |dt AS (SELECT doc_id, lang, g, count(*) AS cd FROM d GROUP BY 1, 2, 3),
           |sc AS (SELECT doc_id, lang, plang,
           |    CAST(SUM(cd * cp) AS BIGINT) AS score
           |  FROM dt JOIN prof USING (g) GROUP BY 1, 2, 3),
           |pred AS (SELECT doc_id, lang, plang AS pred FROM (
           |    SELECT doc_id, lang, plang, row_number() OVER (
           |      PARTITION BY doc_id ORDER BY score DESC, plang ASC) AS rn
           |    FROM sc) WHERE rn = 1),
           |allp AS (SELECT documents.lang AS labeled_lang,
           |    COALESCE(pred.pred, 'und') AS pred_lang
           |  FROM documents LEFT JOIN pred ON documents.doc_id = pred.doc_id)
           |SELECT labeled_lang, pred_lang, count(*) AS n_docs,
           |  labeled_lang = pred_lang AS is_correct
           |FROM allp GROUP BY 1, 2
           |ORDER BY labeled_lang, pred_lang""".stripMargin))

  /** Marker-token language scores; returns the best-scoring language code. */
  def langId(text: Column): Column = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "is", "that", "with"),
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
      "fr" -> Seq("le", "la", "les", "et", "est", "que", "une"),
      "es" -> Seq("el", "los", "las", "es", "que", "una", "para"))
    val w = split(lower(text), "\\s+")
    val scores = markers.map { case (code, ms) =>
      struct(size(filter(w, t => t.isin(ms.map(x => x: Any): _*))).as("score"),
        lit(code).as("code"))
    }
    // CJK: any han character dominates
    val best = greatest(scores: _*) // struct compare: score first, then code
    when(length(regexp_replace(text, "[^\\x{4e00}-\\x{9fff}]", "")) > 0, lit("zh"))
      .otherwise(when(best.getField("score") > 0, best.getField("code"))
        .otherwise(lit("und")))
  }

  /** Document fingerprints: (a) md5 of the sorted token multiset — equal for
    * any token permutation; (b) order-sensitive polynomial rolling hash
    * (Rabin-Karp style, base 31 mod 2^31-1) over cross-engine-reproducible
    * 32-bit md5 word hashes, so even this hash is oracle-checked.
    */
  private val textFingerprint = Q(
    "text_fingerprint",
    (s, dir) => {
      val w = words(col("text"))
      docsSpread(s, dir).select(
        col("doc_id"),
        md5(array_join(sort_array(w), " ")).as("fp_sorted_md5"),
        aggregate(w, lit(0L),
          (acc, t) => (acc * 31 + md5Hash32(t)) % 2147483647L).as("fp_rolling"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           | md5(array_to_string(list_sort(string_split(text,' ')), ' ')) AS fp_sorted_md5,
           | list_reduce(list_prepend(CAST(0 AS BIGINT),
           |     list_transform(string_split(text,' '),
           |       t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT))),
           |   (a, b) -> (a * 31 + b) % 2147483647) AS fp_rolling
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Normalization / redaction — the cheap scrub stage ahead of dedup and
    * tokenization: lowercase, digit-run redaction to a sentinel token,
    * punctuation strip, whitespace collapse. Pure per-row regex (codegen).
    */
  private val textNormalize = Q(
    "text_normalize",
    (s, dir) => docsSpread(s, dir)
      .select(
        col("doc_id"),
        trim(regexp_replace(regexp_replace(regexp_replace(
          lower(col("text")), "[0-9]+", "<num>"), "[^a-z< >]", ""), " +", " "))
          .as("normalized"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_redacted"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
           | trim(regexp_replace(regexp_replace(regexp_replace(
           |   lower(text), '[0-9]+', '<num>', 'g'), '[^a-z< >]', '', 'g'), ' +', ' ', 'g'))
           |   AS normalized,
           | CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_redacted
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Sequence packing: documents are concatenated per language in doc_id
    * order and chunked into fixed token-budget bins (GPT-style packing);
    * each doc is assigned the bin its first token lands in. A prefix-sum
    * window per language — embarrassingly parallel across languages, and at
    * 100 TB the partition key becomes (lang, shard) with per-shard budgets.
    */
  private val textPack = Q(
    "text_pack",
    (s, dir) => {
      val binTokens = 2048
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      docs(s, dir)
        .select(col("doc_id"), col("lang"), size(words(col("text"))).as("n_tokens"))
        .withColumn("offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("bin_id", floor(col("offset") / binTokens).cast("long"))
        .select("doc_id", "lang", "n_tokens", "offset", "bin_id")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang,
           | CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
           | CAST(COALESCE(SUM(len(string_split(text,' '))) OVER (
           |   PARTITION BY lang ORDER BY doc_id
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset,
           | CAST(FLOOR(CAST(COALESCE(SUM(len(string_split(text,' '))) OVER (
           |   PARTITION BY lang ORDER BY doc_id
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) / 2048) AS BIGINT) AS bin_id
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Sequence packing, span-level: where [[textPack]] assigns each doc the
    * bin its FIRST token lands in, this emits the actual packed spans — a
    * doc crossing a bin boundary contributes one row per touched bin with
    * the token count that bin takes (GPT-style packing with document
    * splitting). Same per-language prefix-sum window; the span explode is
    * pure arithmetic (`sequence(first_bin, last_bin)`), so every bin except
    * a language's last is provably full (spec-asserted) and the whole thing
    * is oracle-checked.
    */
  private val textPackSpans = Q(
    "text_pack_spans",
    (s, dir) => {
      val binTokens = 2048L
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          size(words(col("text"))).cast("long").as("n_tokens"))
        .withColumn("offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("first_bin", (col("offset") / binTokens).cast("long"))
        .withColumn("last_bin",
          ((col("offset") + col("n_tokens") - 1) / binTokens).cast("long"))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("offset"),
          explode(sequence(col("first_bin"), col("last_bin"))).as("bin_id"))
        .withColumn("span_tokens",
          least(col("offset") + col("n_tokens"), (col("bin_id") + 1) * binTokens) -
            greatest(col("offset"), col("bin_id") * binTokens))
        .withColumn("span_offset",
          greatest(col("offset"), col("bin_id") * binTokens) - col("offset"))
        .select("doc_id", "lang", "bin_id", "span_offset", "span_tokens")
        .orderBy("doc_id", "bin_id")
    },
    Some("""WITH d AS (SELECT doc_id, lang,
           |   CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents),
           |o AS (SELECT doc_id, lang, n_tokens,
           |   CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
           | FROM d),
           |x AS (SELECT doc_id, lang, n_tokens, "offset",
           |   CAST(unnest(range("offset" // 2048,
           |     ("offset" + n_tokens - 1) // 2048 + 1)) AS BIGINT) AS bin_id
           | FROM o)
           |SELECT doc_id, lang, bin_id,
           |  greatest("offset", bin_id * 2048) - "offset" AS span_offset,
           |  least("offset" + n_tokens, (bin_id + 1) * 2048)
           |    - greatest("offset", bin_id * 2048) AS span_tokens
           |FROM x ORDER BY doc_id, bin_id""".stripMargin))

  /** Vocabulary construction: dense ids for the corpus vocabulary ordered
    * by (frequency desc, token) — the tokenizer-building step, ranked by
    * [[rankedVocab]]'s two-phase scheme so no single reducer ever sees the
    * whole vocabulary.
    */
  private val textVocab = Q(
    "text_vocab",
    (s, dir) => {
      val freq = docs(s, dir)
        .select(explode(words(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
      rankedVocab(freq)
    },
    Some("""SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS INT) AS token_id,
           | token, freq
           |FROM (SELECT token, count(*) AS freq
           |      FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
           |      GROUP BY token)
           |ORDER BY token_id""".stripMargin))

  /** Hapax-legomena profile per language — the lexical-richness diagnostic
    * of the vocab family: the hapax fraction (terms occurring once) is the
    * canonical "how much of this corpus is long tail?" readout feeding a
    * tokenizer's min-frequency cutoff and OOV budget, and the type/token
    * ratio tracks vocabulary growth; a shift in either between crawls
    * flags a register change (spam, boilerplate, new domain) before any
    * model sees the data.
    *
    * Scale shape: one token explode → two-phase (lang, token) count → a
    * per-language conditional aggregate over the vocabulary-sized frame —
    * strictly lighter than text_vocab's global ranking. Determinism: all
    * counts exact longs; the two ratios are one IEEE divide each, rounded
    * at 6 dp.
    */
  private val textHapax = Q(
    "text_hapax",
    (s, dir) => docs(s, dir)
      .select(col("lang"), explode(words(col("text"))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("freq"))
      .groupBy("lang")
      .agg(sum(col("freq")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("freq") === 1L, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("freq") === 2L, 1L).otherwise(0L)).as("dis"))
      .select(col("lang"), col("n_tokens"), col("vocab"), col("hapax"), col("dis"),
        round(col("hapax").cast("double") / col("vocab").cast("double"), 6)
          .as("hapax_ratio"),
        round(col("vocab").cast("double") / col("n_tokens").cast("double"), 6)
          .as("type_token_ratio"))
      .orderBy("lang"),
    Some("""WITH f AS (SELECT lang, token, count(*) AS freq
           |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
           |        FROM documents)
           |  GROUP BY lang, token)
           |SELECT lang, CAST(SUM(freq) AS BIGINT) AS n_tokens,
           |  count(*) AS vocab,
           |  CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           |  CAST(SUM(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
           |  round(CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           |    / count(*), 6) AS hapax_ratio,
           |  round(CAST(count(*) AS DOUBLE) / CAST(SUM(freq) AS BIGINT), 6)
           |    AS type_token_ratio
           |FROM f GROUP BY lang ORDER BY lang""".stripMargin))

  /** Dunning log-likelihood-ratio collocations — the statistically
    * calibrated bigram-association test that replaces raw-frequency
    * ([[textPhraseMine]]) and PMI when counts are sparse: PMI explodes on
    * rare pairs (two hapaxes co-occurring once score maximal), LLR scores
    * evidence, so one co-occurrence of rare words ranks far below a
    * consistently attached pair. The standard phrase-table / tokenizer-
    * merge prioritization statistic (Dunning 1993). LLR via the xlogx
    * identity 2·(ΣS(kᵢⱼ) − ΣS(rowᵢ) − ΣS(colⱼ) + S(N)), S(x) = x·ln x,
    * S(0) = 0 — one closed-form expression per bigram row.
    *
    * Scale shape: one adjacent-pair explode → two-phase bigram count →
    * two marginal aggregates joined back on the bigram's words (both
    * vocabulary-sized) → per-row arithmetic + distributed top-k.
    * Determinism: all counts exact longs; ln on exact integers (the
    * established convention); one 6-dp round; (llr desc, bigram) order.
    */
  private val textLlrCollocations = Q(
    "text_llr_collocations",
    (s, dir) => {
      val w = words(col("text"))
      // docsSpread, not docs (r19): the pair explode and the k11 partial
      // aggregate run BEFORE the first exchange, i.e. at the scan's
      // parallelism — on the local single-file scan that serialized ~2.6 s
      // of per-row work on one task (`Probe stages`: 10 stages, 10 tasks); at
      // cluster scale the scan arrives wide and the spread is a no-op
      // round-robin of a tiny frame
      val bg = docsSpread(s, dir).filter(size(w) >= 2)
        .select(explode(transform(sequence(lit(1), size(w) - 1),
          i => struct(element_at(w, i).as("a"), element_at(w, i + 1).as("b"))))
          .as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
      // ONE corpus pass: marginals and the total reduce the bigram-TYPE
      // table (vocabulary-sized), not the exploded stream — identical
      // exact counts with the pair explode declared once instead of four
      // times. At sf0.1 the wall time is unchanged (AQE already reused
      // the explode's exchange within the single action); the checkpoint
      // makes the single-pass guarantee structural rather than
      // optimizer-dependent, which is what survives plan changes at the
      // 100× scale where this query's cost concentrates (SURVEY §6).
      val k = bg.groupBy("a", "b").agg(count(lit(1)).as("k11"))
        .localCheckpoint()
      val ra = k.groupBy("a").agg(sum(col("k11")).as("ca"))
      val cb = k.groupBy("b").agg(sum(col("k11")).as("cb"))
      val n = k.agg(sum(col("k11")).as("n"))
      def sx(c: Column): Column =
        when(c > 0, c.cast("double") * log(c.cast("double"))).otherwise(lit(0.0))
      val j = k.join(ra, "a").join(cb, "b").crossJoin(broadcast(n))
        .withColumn("k12", col("ca") - col("k11"))
        .withColumn("k21", col("cb") - col("k11"))
        .withColumn("k22", col("n") - col("ca") - col("cb") + col("k11"))
      j.select(col("a"), col("b"), col("k11").as("n_cooccur"),
          round(lit(2.0) * (sx(col("k11")) + sx(col("k12")) + sx(col("k21")) +
            sx(col("k22")) - sx(col("ca")) - sx(col("n") - col("ca")) -
            sx(col("cb")) - sx(col("n") - col("cb")) + sx(col("n"))), 6)
            .as("llr"))
        .orderBy(col("llr").desc, col("a"), col("b")).limit(20)
    },
    Some("""WITH d AS (SELECT string_split(text, ' ') AS w FROM documents
           |           WHERE len(string_split(text, ' ')) >= 2),
           |bg AS (SELECT w[i] AS a, w[i+1] AS b
           |       FROM d, unnest(range(1, len(w))) AS t(i)),
           |k AS MATERIALIZED (SELECT a, b, count(*) AS k11 FROM bg GROUP BY 1, 2),
           |ra AS (SELECT a, CAST(SUM(k11) AS BIGINT) AS ca FROM k GROUP BY 1),
           |cb AS (SELECT b, CAST(SUM(k11) AS BIGINT) AS cb FROM k GROUP BY 1),
           |n AS (SELECT CAST(SUM(k11) AS BIGINT) AS n FROM k),
           |j AS (SELECT k.a, k.b, k11, ca, cb.cb AS cb, n,
           |    ca - k11 AS k12, cb.cb - k11 AS k21, n - ca - cb.cb + k11 AS k22
           |  FROM k JOIN ra ON k.a = ra.a JOIN cb ON k.b = cb.b CROSS JOIN n)
           |SELECT a, b, CAST(k11 AS BIGINT) AS n_cooccur,
           |  round(2.0 * (
           |    (CASE WHEN k11 > 0 THEN k11 * ln(CAST(k11 AS DOUBLE)) ELSE 0.0 END)
           |  + (CASE WHEN k12 > 0 THEN k12 * ln(CAST(k12 AS DOUBLE)) ELSE 0.0 END)
           |  + (CASE WHEN k21 > 0 THEN k21 * ln(CAST(k21 AS DOUBLE)) ELSE 0.0 END)
           |  + (CASE WHEN k22 > 0 THEN k22 * ln(CAST(k22 AS DOUBLE)) ELSE 0.0 END)
           |  - (CASE WHEN ca > 0 THEN ca * ln(CAST(ca AS DOUBLE)) ELSE 0.0 END)
           |  - (CASE WHEN n - ca > 0 THEN (n - ca) * ln(CAST(n - ca AS DOUBLE)) ELSE 0.0 END)
           |  - (CASE WHEN cb > 0 THEN cb * ln(CAST(cb AS DOUBLE)) ELSE 0.0 END)
           |  - (CASE WHEN n - cb > 0 THEN (n - cb) * ln(CAST(n - cb AS DOUBLE)) ELSE 0.0 END)
           |  + n * ln(CAST(n AS DOUBLE))), 6) AS llr
           |FROM j ORDER BY llr DESC, a, b LIMIT 20""".stripMargin))

  /** Bigram conditional-entropy rate H(w₂|w₁) = H(bigrams) − H(unigrams) —
    * the corpus "predictability" number underneath the LM scores: natural
    * prose sits in a characteristic band, template/boilerplate text is far
    * more predictable (low rate) and shuffled/gibberish text approaches
    * the unigram ceiling. Reported per language with both entropies, so a
    * drifting crawl shows WHERE it drifted (vocabulary vs sequencing).
    * Uses the one-pass identity H = ln n − Σc·ln c / n on both count
    * tables (the events_user_entropy convention).
    *
    * Scale shape: two two-phase n-gram counts (the text_lm_score tables)
    * reduced per language — no joins beyond the final 5-row assembly.
    * Determinism: ln on exact counts, [[dsumFine]] sums, round 6.
    */
  private val textEntropyRate = Q(
    "text_entropy_rate",
    (s, dir) => {
      val w = col("w")
      val bigrams = transform(sequence(lit(1), size(w) - 1),
        i => concat_ws("\u0001", element_at(w, i), element_at(w, i + 1)))
      def hOf(counts: DataFrame): DataFrame =
        counts.groupBy("lang")
          .agg(sum(col("c")).as("n"),
            dsumFine(col("c").cast("double") * log(col("c").cast("double")))
              .as("clc"))
          .select(col("lang"),
            (log(col("n").cast("double")) - col("clc") / col("n").cast("double"))
              .as("h"), col("n"))
      val d = docs(s, dir).select(col("lang"), split(col("text"), " ").as("w"))
      val uni = hOf(d.select(col("lang"), explode(w).as("g"))
        .groupBy("lang", "g").agg(count(lit(1)).as("c")))
        .select(col("lang"), col("h").as("h1"), col("n").as("n_tokens"))
      val bi = hOf(d.filter(size(w) >= 2)
        .select(col("lang"), explode(bigrams).as("g"))
        .groupBy("lang", "g").agg(count(lit(1)).as("c")))
        .select(col("lang"), col("h").as("h2"), col("n").as("n_bigrams"))
      uni.join(bi, "lang")
        .select(col("lang"), col("n_tokens"), col("n_bigrams"),
          round(col("h1"), 6).as("h_unigram"), round(col("h2"), 6).as("h_bigram"),
          round(col("h2") - col("h1"), 6).as("cond_entropy_rate"))
        .orderBy("lang")
    },
    Some("""WITH d AS (SELECT lang, string_split(text, ' ') AS w FROM documents),
           |uc AS (SELECT lang, g, count(*) AS c FROM
           |  (SELECT lang, unnest(w) AS g FROM d) GROUP BY 1, 2),
           |u AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
           |    ln(CAST(SUM(c) AS DOUBLE))
           |      - CAST(SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS DECIMAL(38,20))) AS DOUBLE)
           |        / CAST(SUM(c) AS BIGINT) AS h1
           |  FROM uc GROUP BY lang),
           |bc AS (SELECT lang, g, count(*) AS c FROM
           |  (SELECT lang, w[i] || chr(1) || w[i+1] AS g
           |   FROM d, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2)
           |  GROUP BY 1, 2),
           |b AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_bigrams,
           |    ln(CAST(SUM(c) AS DOUBLE))
           |      - CAST(SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS DECIMAL(38,20))) AS DOUBLE)
           |        / CAST(SUM(c) AS BIGINT) AS h2
           |  FROM bc GROUP BY lang)
           |SELECT u.lang, n_tokens, n_bigrams, round(h1, 6) AS h_unigram,
           |  round(h2, 6) AS h_bigram, round(h2 - h1, 6) AS cond_entropy_rate
           |FROM u JOIN b ON u.lang = b.lang ORDER BY u.lang""".stripMargin))

  /** Distributed dense ranking of a (token, freq) vocabulary by
    * (freq desc, token) — the textbook two-phase global row_number:
    * range-repartition on the sort key (distributed sample-based split, the
    * same machinery as a global ORDER BY), rank locally within each range
    * partition, then add per-partition offsets. The only empty-partition
    * window left in the plan runs over the per-partition COUNTS — one row
    * per reducer, bounded by cluster width, never by vocabulary size. The
    * r4 formulation (`row_number over (ORDER BY ...)` on the full vocab)
    * funneled every token through one reducer.
    */
  def rankedVocab(freq: DataFrame): DataFrame = {
    val parts = freq.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    // persisted: read once for local ranks, once for partition counts, and
    // pinning the materialized pids keeps both reads on identical ranges
    val local = graft.Caches.track(freq
      .repartitionByRange(parts, col("freq").desc, col("token"))
      .withColumn("_pid", spark_partition_id())
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_pid").orderBy(col("freq").desc, col("token")))))
    val wOff = Window.orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy("_pid").agg(count(lit(1)).as("_cnt"))
      .withColumn("_off", coalesce(sum(col("_cnt")).over(wOff), lit(0L)))
      .select("_pid", "_off")
    local.join(broadcast(offsets), "_pid")
      .withColumn("token_id", (col("_off") + col("_rn")).cast("int"))
      .select("token_id", "token", "freq")
      .orderBy("token_id")
  }

  /** Overlapping fixed-budget chunking — the long-document split step ahead
    * of embedding/training (window 50 tokens, stride 40 → 10-token overlap).
    * Chunk count is `1 + max(0, ceil((n - win) / stride))`, NOT a stride
    * count over the whole length: the naive formula emits a final chunk
    * fully contained in its predecessor whenever `n mod stride < win -
    * stride` (22 % of the testdata), which would feed duplicate spans to an
    * embedding pipeline; this one guarantees every chunk ends strictly
    * later than the one before, and the last chunk ends exactly at `n`.
    * Pure per-row explode: one `sequence` of chunk starts per doc, chunk
    * content sliced from the token array in place; no shuffle except the
    * final sort. Each chunk carries an md5 fingerprint of its exact token
    * span so content (not just geometry) is oracle-checked.
    */
  private val textChunk = Q(
    "text_chunk",
    (s, dir) => {
      val win = 50
      val stride = 40
      docsSpread(s, dir)
        .select(col("doc_id"), words(col("text")).as("w"))
        .select(col("doc_id"), size(col("w")).as("n_tokens"), col("w"))
        .select(col("doc_id"), col("n_tokens"), col("w"),
          explode(sequence(lit(0),
            greatest(ceil((col("n_tokens") - win) / lit(stride.toDouble)), lit(0))
              .cast("int"))).as("chunk_idx"))
        .withColumn("chunk_start", col("chunk_idx") * stride)
        .withColumn("chunk_len",
          least(lit(win), col("n_tokens") - col("chunk_start")).cast("int"))
        .withColumn("chunk_fp",
          md5(array_join(slice(col("w"), col("chunk_start") + 1, col("chunk_len")), " ")))
        .select("doc_id", "chunk_idx", "chunk_start", "chunk_len", "chunk_fp")
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
           |c AS (SELECT doc_id, len(w) AS n_tokens, w,
           |        CAST(unnest(range(0,
           |          greatest(CAST(ceil((len(w) - 50) / 40.0) AS INT), 0) + 1)) AS INT)
           |          AS chunk_idx
           |      FROM d)
           |SELECT doc_id, chunk_idx, chunk_idx*40 AS chunk_start,
           |  CAST(least(50, n_tokens - chunk_idx*40) AS INT) AS chunk_len,
           |  md5(array_to_string(list_slice(w, chunk_idx*40 + 1,
           |    chunk_idx*40 + CAST(least(50, n_tokens - chunk_idx*40) AS INT)), ' ')) AS chunk_fp
           |FROM c ORDER BY doc_id, chunk_idx""".stripMargin))

  /** Vocabulary encoding — applying the built tokenizer: every token maps
    * to its dense [[rankedVocab]] id, order preserved. The vocab broadcasts
    * (a vocabulary is small relative to the corpus by definition); the
    * corpus side is one explode → broadcast-join → re-assemble per doc. At
    * 100 TB this is the standard dictionary-encode pass: linear, no
    * corpus-side shuffle except the per-doc regroup.
    *
    * The id sequence is emitted comma-joined (`ids_str`), not as an array
    * column: the oracle harness sorts result columns with pandas, which
    * cannot hash/sort numpy arrays, so an array-typed result column would
    * crash the comparison rather than verify it. The array-shaped API
    * (`encode`) is what library users call; TextMultimodalSpec round-trips
    * it exactly.
    */
  private val textEncode = Q(
    "text_encode",
    (s, dir) => encode(docs(s, dir))
      .select(col("doc_id"), col("n_tokens"),
        concat_ws(",", col("ids")).as("ids_str"))
      .orderBy("doc_id"),
    Some("""WITH f AS (SELECT token, count(*) AS freq
           |  FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
           |  GROUP BY token),
           |v AS (SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS INT) AS token_id
           |  FROM f),
           |d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
           |t AS (SELECT doc_id, CAST(unnest(range(1, len(w)+1)) AS INT) AS ord, w FROM d),
           |x AS (SELECT doc_id, ord, w[ord] AS token FROM t)
           |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
           |  array_to_string(array_agg(v.token_id ORDER BY x.ord), ',') AS ids_str
           |FROM x JOIN v USING (token)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Library-facing dictionary encode: `(doc_id, n_tokens, ids:
    * Array[Int])` — order-preserving token→id mapping against the corpus's
    * own [[rankedVocab]].
    */
  def encode(d: DataFrame): DataFrame = {
    val freq = d.select(explode(words(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val vocab = rankedVocab(freq).select("token", "token_id")
    d.select(col("doc_id"), posexplode(words(col("text"))).as(Seq("pos", "token")))
      .join(broadcast(vocab), "token")
      .groupBy("doc_id")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("token_id")))),
        x => x("token_id")).as("ids"))
      .select(col("doc_id"), size(col("ids")).as("n_tokens"), col("ids"))
  }

  /** Heavy hitters via the custom SpaceSaving typed Aggregator: one-pass
    * bounded-memory top tokens. SpaceSaving is EXACT whenever the observed
    * vocabulary fits the sketch capacity (31 distinct tokens ≤ 256 at the
    * verify SF — TextMultimodalSpec proves the exactness condition), so the
    * oracle is the plain exact top-20 by (freq desc, token) — the same
    * tie-break the Aggregator's `finish` applies. On a corpus whose
    * vocabulary overflows the capacity the counts become approximate and
    * only the spec's SpaceSaving error bound applies.
    */
  private val textHeavyHitters = Q(
    "text_heavy_hitters",
    (s, dir) => {
      val hh = udaf(new graft.functions.HeavyHitters(256, 20))
      docs(s, dir)
        .select(explode(words(col("text"))).as("token"))
        .agg(hh(col("token")).as("hh"))
        .select(explode(col("hh")).as("kv"))
        .select(col("kv._1").as("token"), col("kv._2").as("freq"))
        .orderBy(col("freq").desc, col("token"))
    },
    Some("""SELECT token, count(*) AS freq
           |FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
           |GROUP BY token ORDER BY freq DESC, token LIMIT 20""".stripMargin))

  // PII patterns shared by the redaction chain and the per-type counters.
  // Only syntax common to Java regex and RE2 (character classes, bounded
  // repetition, \b) so the Spark plan and the DuckDB oracle see the same
  // matches.
  private[operators] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[operators] val PhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
  private[operators] val SsnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  private[operators] val Ipv4Re =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Scrub emails, phone numbers, SSN-shaped ids and IPv4 addresses to
    * typed sentinels — the release gate before training data leaves the
    * pipeline. Order matters: the phone pattern is consumed before the SSN
    * pattern can see its digit groups, and both before the IP pass.
    */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      text, EmailRe, "<email>"), PhoneRe, "<phone>"),
      SsnRe, "<ssn>"), Ipv4Re, "<ip>")

  /** The same redaction chain as DuckDB SQL over a text column expression —
    * built from the SAME pattern constants as [[redactPii]], so editing a
    * pattern cannot de-sync a query from its oracle.
    */
  private[operators] def redactSql(c: String): String =
    s"regexp_replace(regexp_replace(regexp_replace(regexp_replace($c, " +
      s"'$EmailRe', '<email>', 'g'), " +
      s"'$PhoneRe', '<phone>', 'g'), " +
      s"'$SsnRe', '<ssn>', 'g'), " +
      s"'$Ipv4Re', '<ip>', 'g')"

  /** PII redaction over the corpus. The testdata is synthetic and PII-free,
    * so the query first plants deterministic doc-derived PII (identical
    * expression on both engines) and then proves [[redactPii]] scrubs every
    * planted instance, counting each type from the raw text. Pure per-row
    * regex — codegen, no shuffle beyond the final sort; at 100 TB this is a
    * map-only pass.
    */
  private val textRedact = Q(
    "text_redact",
    (s, dir) => {
      val planted = concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail-"), col("source"), lit(".com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" ip 10."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 7) % 256).cast("string"),
        lit("."), ((col("doc_id") * 13) % 256).cast("string"),
        lit(" ssn 123-45-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      docsSpread(s, dir)
        .withColumn("raw", planted)
        .select(
          col("doc_id"),
          redactPii(col("raw")).as("redacted"),
          size(regexp_extract_all(col("raw"), lit(EmailRe), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("raw"), lit(PhoneRe), lit(0))).as("n_phones"),
          size(regexp_extract_all(col("raw"), lit(SsnRe), lit(0))).as("n_ssns"),
          size(regexp_extract_all(col("raw"), lit(Ipv4Re), lit(0))).as("n_ips"))
        .orderBy("doc_id")
    },
    Some(s"""WITH r AS (SELECT doc_id,
            |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail-' || source
            |    || '.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            |    || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
            |    || '.' || CAST(doc_id*7 % 256 AS VARCHAR)
            |    || '.' || CAST(doc_id*13 % 256 AS VARCHAR)
            |    || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
            |  FROM documents)
            |SELECT doc_id,
            |  ${redactSql("raw")} AS redacted,
            |  CAST(len(regexp_extract_all(raw, '$EmailRe')) AS INT) AS n_emails,
            |  CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS INT) AS n_phones,
            |  CAST(len(regexp_extract_all(raw, '$SsnRe')) AS INT) AS n_ssns,
            |  CAST(len(regexp_extract_all(raw, '$Ipv4Re')) AS INT) AS n_ips
            |FROM r ORDER BY doc_id""".stripMargin))

  /** Repetition-based quality signals for a `(doc_id, text)` frame (the
    * Gopher/MassiveText repetition rules re-expressed relationally):
    * fraction of bigram mass taken by the single most frequent bigram,
    * fraction of duplicate trigram occurrences, and the count of immediate
    * word repeats. Per-row signals (trigram dedup, consecutive repeats)
    * are higher-order array functions carried THROUGH the bigram
    * aggregation as grouping keys, so the whole query is one explode →
    * two-phase count → per-doc max — no join back to the source. `keep`
    * applies the published-style thresholds (top bigram < 18 % of bigram
    * mass, duplicate trigram mass < 30 %). Docs with fewer than 3 tokens
    * carry no trigram signal and are excluded.
    */
  def repetitionSignals(d: DataFrame): DataFrame = {
    val w = col("w")
    val bigrams = transform(sequence(lit(1), size(w) - 1),
      i => concat_ws(" ", element_at(w, i), element_at(w, i + 1)))
    val trigrams = transform(sequence(lit(1), size(w) - 2),
      i => concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))
    val nConsec = size(filter(sequence(lit(1), size(w) - 1),
      i => element_at(w, i) === element_at(w, i + 1)))
    // the top bigram is a PER-DOCUMENT mode — no need to explode 300 rows
    // per doc through a corpus-wide two-phase count (measured 3.4 s at
    // sf0.1): sort the doc's bigram array and fold a run-length maximum in
    // one codegen'd aggregate. Ties break to the lexicographically larger
    // bigram (>= on the ascending-sorted runs), matching the previous
    // max(struct(count, bigram)) and the oracle's ORDER BY c DESC, b DESC.
    // The whole query is map-only + the final sort (0.45 s).
    val top = aggregate(
      array_sort(bigrams),
      struct(lit(0L).as("bc"), lit("").as("bb"), lit(0L).as("cc"), lit("").as("cb")),
      (acc, x) => {
        val cc = when(x === acc.getField("cb"), acc.getField("cc") + 1L)
          .otherwise(lit(1L))
        val better = cc >= acc.getField("bc")
        struct(
          when(better, cc).otherwise(acc.getField("bc")).as("bc"),
          when(better, x).otherwise(acc.getField("bb")).as("bb"),
          cc.as("cc"), x.as("cb"))
      },
      acc => struct(acc.getField("bc").as("c"), acc.getField("bb").as("bg")))
    // spread BEFORE the per-row n-gram work: every signal is map-side here,
    // and on the raw scan one partition would do all the work (measured
    // 14 s single-threaded at sf0.1 vs <1 s spread)
    Tables.spread(d)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(w) >= 3)
      .select(col("doc_id"), size(w).as("n_tokens"),
        top.as("m"), (size(w) - 1).cast("long").as("nb"),
        round(lit(1.0) - size(array_distinct(trigrams)).cast("double") /
          size(trigrams), 6).as("dup_trigram_frac"),
        nConsec.as("n_consec_repeats"))
      .select(col("doc_id"), col("n_tokens"),
        col("m.bg").as("top_bigram"),
        round(col("m.c").cast("double") / col("nb"), 6).as("top_bigram_frac"),
        col("dup_trigram_frac"), col("n_consec_repeats"),
        (round(col("m.c").cast("double") / col("nb"), 6) < 0.18 &&
          col("dup_trigram_frac") < 0.30).as("keep"))
      .orderBy("doc_id")
  }

  private val textRepetition = Q(
    "text_repetition",
    (s, dir) => repetitionSignals(docs(s, dir)),
    Some("""WITH d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
           |s AS (SELECT doc_id, len(w) AS n, w,
           |        list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg,
           |        list_transform(range(1, len(w)-1),
           |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS tri,
           |        len(list_filter(range(1, len(w)), i -> w[i] = w[i+1])) AS n_consec
           |      FROM d WHERE len(w) >= 3),
           |x AS (SELECT doc_id, n,
           |        round(1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri), 6) AS dup3,
           |        n_consec, unnest(bg) AS b
           |      FROM s),
           |c AS (SELECT doc_id, n, dup3, n_consec, b, count(*) AS c
           |      FROM x GROUP BY doc_id, n, dup3, n_consec, b),
           |r AS (SELECT doc_id, n, dup3, n_consec, b, c,
           |        row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, b DESC) AS rn,
           |        sum(c) OVER (PARTITION BY doc_id) AS nb
           |      FROM c)
           |SELECT doc_id, CAST(n AS INT) AS n_tokens, b AS top_bigram,
           |  round(CAST(c AS DOUBLE) / nb, 6) AS top_bigram_frac,
           |  dup3 AS dup_trigram_frac, CAST(n_consec AS INT) AS n_consec_repeats,
           |  (round(CAST(c AS DOUBLE) / nb, 6) < 0.18 AND dup3 < 0.30) AS keep
           |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  /** BPE tokenizer training (Sennrich-style `learn_bpe`): learn `rounds`
    * merge rules over the corpus's word-frequency dictionary. The
    * corpus-scale stage is the distributed word count; every merge round
    * then runs on the vocabulary-sized dictionary (the standard shape —
    * BPE training is vocab-local once frequencies are known, so at 100 TB
    * the cost is ONE token count over the corpus, never `rounds` corpus
    * passes; the dictionary is cached once and reused by every round's
    * branch). Word pieces travel as a double-space-joined string
    * (`"  l  o  w  "`): a merge (a,b) is then one literal `replace` of
    * `" a  b "` with `" ab "`, whose left-to-right non-overlapping scan IS
    * BPE's merge-application order — the padding spaces make consecutive
    * occurrences share no characters, and the semantics are identical in
    * Spark and DuckDB, so the oracle replays the whole training loop.
    * Tie-breaks: (pair_freq desc, left, right). Pair counts include
    * overlapping occurrences (`"aaa"` contributes (a,a) twice), matching
    * the reference BPE `get_stats`.
    */
  def bpeMerges(d: DataFrame, rounds: Int = 6): DataFrame =
    bpeTrain(d, rounds)._1

  /** Full training state: `(merges, vocab)` where `vocab` is the word-
    * frequency dictionary with each word's FINAL piece segmentation after
    * all `rounds` merges (the double-space-joined string). [[bpeEncode]]
    * applies it to the corpus.
    */
  def bpeTrain(d: DataFrame, rounds: Int = 6): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"bpeMerges: rounds must be >= 1, got $rounds")
    val sep = "  "
    var vocab = graft.Caches.track(d
      .select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      // split by CODE POINT: the zero-width boundary pattern keeps
      // surrogate pairs whole and emits no trailing empty (split("")
      // yields UTF-16 code units plus a trailing empty — lone surrogates
      // would corrupt merges on non-BMP text), matching DuckDB's
      // code-point string_split(word, '')
      .withColumn("s", concat(lit(sep),
        array_join(split(col("word"), "(?<=.)(?=.)"), sep), lit(sep))))
    var merges: DataFrame = null
    for (r <- 1 to rounds) {
      val p = col("p")
      // each round's winning pair is CACHED: it is read by round r's merge
      // application AND by every later round's lineage AND by the final
      // union — uncached, branch r re-runs all r-1 prior aggregations
      // (O(rounds²) stages; measured 10.8 s vs ~1 s at sf0.1)
      val top = graft.Caches.track(vocab
        .select(col("freq"), split(trim(col("s")), sep).as("p"))
        // single-piece (fully merged) words carry no pairs — and Spark's
        // sequence(1, 0) would generate a DESCENDING sequence, not empty
        .filter(size(p) >= 2)
        .select(col("freq"), explode(transform(sequence(lit(1), size(p) - 1),
          i => struct(element_at(p, i).as("a"), element_at(p, i + 1).as("b")))).as("ab"))
        .groupBy(col("ab.a").as("a"), col("ab.b").as("b"))
        .agg(sum(col("freq")).as("pair_freq"))
        .orderBy(col("pair_freq").desc, col("a"), col("b")).limit(1)
        .withColumn("merge_rank", lit(r)))
      merges = if (merges == null) top else merges.unionByName(top)
      vocab = vocab.crossJoin(broadcast(top.select("a", "b")))
        .withColumn("s", replace(col("s"),
          concat(lit(" "), col("a"), lit(sep), col("b"), lit(" ")),
          concat(lit(" "), col("a"), col("b"), lit(" "))))
        .select("word", "freq", "s")
    }
    (merges.select(col("merge_rank"), col("a").as("left_piece"),
      col("b").as("right_piece"), col("pair_freq")), vocab)
  }

  /** Memoized [[bpeTrain]] per (session, dir, rounds) — the GD-eval-family
    * convention ([[graft.Caches.memo]]): training is deterministic, so
    * reuse is value-identical to retraining and each declared query stays
    * self-contained for Verify, while a batch session (text_bpe +
    * text_bpe_encode in one Bench pass) pays the 6-round training loop
    * once. Both outputs are vocabulary-sized or smaller (merges = `rounds`
    * rows; vocab = one row per distinct word), safe for the memo's eager
    * localCheckpoint. `lazy val` ties the two memo entries to ONE training
    * run on a cold start; on a warm start neither builder is forced.
    */
  private def bpeTrainShared(s: org.apache.spark.sql.SparkSession, dir: String,
                             rounds: Int = 6): (DataFrame, DataFrame) = {
    lazy val trained = bpeTrain(docs(s, dir), rounds)
    (graft.Caches.memo(s, s"bpe:merges:$dir:$rounds")(trained._1),
      graft.Caches.memo(s, s"bpe:vocab:$dir:$rounds")(trained._2))
  }

  private def bpeRoundSql(r: Int): String = {
    val prev = s"w${r - 1}"
    s"""p$r AS (SELECT p[i] AS a, p[i+1] AS b, CAST(sum(freq) AS BIGINT) AS f
       |      FROM (SELECT freq, string_split(trim(s), '  ') AS p FROM $prev),
       |           unnest(range(1, len(p))) AS t(i)
       |      GROUP BY a, b),
       |t$r AS (SELECT a, b, f FROM p$r ORDER BY f DESC, a, b LIMIT 1),
       |w$r AS (SELECT word, freq,
       |        replace(s, ' '||t$r.a||'  '||t$r.b||' ', ' '||t$r.a||t$r.b||' ') AS s
       |       FROM $prev, t$r)""".stripMargin
  }

  /** CCNet-style language-model quality score: train an add-one-smoothed
    * bigram LM on the corpus's own counts, then score every document by its
    * average per-bigram negative log-likelihood (the standard perplexity
    * proxy — boilerplate and natural prose score low, gibberish and rare
    * constructions score high, and the downstream pipeline thresholds it).
    *
    * Scale shape: two count aggregations (bigram and unigram tables, both
    * two-phase with map-side combine), then the corpus's bigram stream
    * equi-joins the count tables — everything shuffles on the n-gram key,
    * linear in corpus tokens; the vocabulary size rides along as a
    * broadcast 1-row frame. log values are per-row IEEE doubles; their sum
    * goes through the order-independent decimal [[dsumFine]], so the score
    * hash-matches the oracle.
    */
  def lmScore(d: DataFrame): DataFrame = {
    val w = col("w")
    val bigrams = transform(sequence(lit(1), size(w) - 1),
      i => struct(element_at(w, i).as("w1"), element_at(w, i + 1).as("w2")))
    val bg = Tables.spread(d)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(w) >= 2)
      .select(col("doc_id"), explode(bigrams).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = d.select(explode(words(col("text"))).as("w1"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = uni.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = uni.agg(countDistinct(col("w1")).as("v"))
    bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1")).crossJoin(broadcast(v))
      .withColumn("lp", log((col("c2") + lit(1.0)) / (col("c1") + col("v"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        graft.functions.Deterministic.dsumFine(-col("lp")).as("nll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("nll") / col("n_bigrams"), 6).as("avg_nll"))
      .orderBy("doc_id")
  }

  private val textLmScore = Q(
    "text_lm_score",
    (s, dir) => lmScore(docsSpread(s, dir)),
    Some("""WITH d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
           |bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
           |       FROM d, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
           |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
           |u AS (SELECT unnest(string_split(text,' ')) AS w1 FROM documents),
           |c1 AS (SELECT w1, count(*) AS c1 FROM u GROUP BY w1),
           |v AS (SELECT count(DISTINCT w1) AS v FROM u),
           |x AS (SELECT bg.doc_id,
           |        ln((c2.c2 + CAST(1.0 AS DOUBLE)) / (c1.c1 + v.v)) AS lp
           |      FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
           |SELECT doc_id, count(*) AS n_bigrams,
           |  round(CAST(SUM(CAST(-lp AS DECIMAL(38,20))) AS DOUBLE) / count(*), 6) AS avg_nll
           |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Tokenize the corpus with the trained BPE merges — the apply side of
    * [[bpeTrain]], closing the train → encode → pack loop. The scalable
    * shape: encoding is resolved per DISTINCT WORD (the vocabulary-sized
    * dictionary already carries each word's final segmentation), so the
    * corpus pass is one broadcast join word→pieces plus an in-order
    * reassembly per document — no per-document merge loops, and the
    * `rounds` merge applications run over the vocab, never the corpus.
    * Out-of-vocabulary words cannot occur here (the vocab is trained on
    * the same corpus); a production split would fall back to character
    * pieces via the same double-space representation.
    */
  def bpeEncode(d: DataFrame, rounds: Int = 6): DataFrame =
    bpeEncodeWith(d, bpeTrain(d, rounds)._2)

  /** Apply side of BPE with an already-trained `vocab` (from [[bpeTrain]]
    * or [[bpeTrainShared]]) — lets a batch session encode against shared
    * merges without retraining.
    */
  def bpeEncodeWith(d: DataFrame, vocab: DataFrame): DataFrame = {
    val seg = vocab.select(col("word"), trim(col("s")).as("t"))
    d.select(col("doc_id"), posexplode(words(col("text"))).as(Seq("pos", "word")))
      .join(broadcast(seg), "word")
      .withColumn("n", size(split(col("t"), "  ")).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_pieces"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("t")))),
          x => x.getField("t")), "  ").as("encoded"))
      .orderBy("doc_id")
  }

  private val textBpeEncode = Q(
    "text_bpe_encode",
    (s, dir) => bpeEncodeWith(docs(s, dir), bpeTrainShared(s, dir)._2),
    Some(("""WITH w0 AS (SELECT word, count(*) AS freq,
            |    '  ' || array_to_string(string_split(word, ''), '  ') || '  ' AS s
            |  FROM (SELECT unnest(string_split(text,' ')) AS word FROM documents)
            |  GROUP BY word),
            |""".stripMargin +
      (1 to 6).map(bpeRoundSql).mkString(",\n") + ",\n" +
      """d AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |u AS (SELECT doc_id, i, ws[i] AS word
        |      FROM d, unnest(range(1, len(ws)+1)) AS t(i)),
        |j AS (SELECT u.doc_id, u.i, trim(w6.s) AS t FROM u JOIN w6 USING (word))
        |SELECT doc_id,
        |  CAST(sum(len(string_split(t, '  '))) AS BIGINT) AS n_pieces,
        |  array_to_string(list(t ORDER BY i), '  ') AS encoded
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)))

  private val textBpe = Q(
    "text_bpe",
    (s, dir) => bpeTrainShared(s, dir)._1.orderBy("merge_rank"),
    Some(("""WITH w0 AS (SELECT word, count(*) AS freq,
            |    '  ' || array_to_string(string_split(word, ''), '  ') || '  ' AS s
            |  FROM (SELECT unnest(string_split(text,' ')) AS word FROM documents)
            |  GROUP BY word),
            |""".stripMargin +
      (1 to 6).map(bpeRoundSql).mkString(",\n") + "\n" +
      """SELECT merge_rank, left_piece, right_piece, pair_freq FROM (
        |""".stripMargin +
      (1 to 6).map(r =>
        s"  SELECT $r AS merge_rank, a AS left_piece, b AS right_piece, f AS pair_freq FROM t$r")
        .mkString("\n  UNION ALL\n") +
      "\n) ORDER BY merge_rank")))

  /** Zipf head-heaviness report per language — the distribution-shape
    * signal a corpus audit reads before training: token mass concentrated
    * in the top ranks flags boilerplate/templated text. Log-log slope
    * fitting would hinge on cross-engine `ln` ulps, so the declared stats
    * are exact-arithmetic instead: total/vocab counts plus the share of
    * mass in the top-1 and top-10 ranks. Two-phase shape: (lang, token)
    * counts, per-lang totals, and the top-10 cut via the [[graft.plans.TopK]]
    * custom operator (map-side partial heaps — never a vocab-wide
    * single-reducer window). Shares are single long/long IEEE divisions.
    */
  private val textZipfHead = Q(
    "text_zipf_head",
    (s, dir) => {
      val freq = docs(s, dir)
        .select(col("lang"), explode(words(col("text"))).as("token"))
        .groupBy("lang", "token")
        .agg(count(lit(1)).as("freq"))
      val totals = freq.groupBy("lang")
        .agg(sum(col("freq")).as("n_tokens"), count(lit(1)).as("n_vocab"),
          max(col("freq")).as("fmax"))
      val top10 = graft.plans.TopK.perGroup(freq, Seq("lang"),
          Seq(col("freq").desc, col("token")), 10)
        .groupBy("lang").agg(sum(col("freq")).as("top10"))
      totals.join(top10, "lang")
        .select(col("lang"), col("n_tokens"), col("n_vocab"),
          (col("fmax").cast("double") / col("n_tokens")).as("top1_share"),
          (col("top10").cast("double") / col("n_tokens")).as("top10_share"))
        .orderBy("lang")
    },
    Some("""WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token
           |            FROM documents),
           |freq AS (SELECT lang, token, count(*) AS freq
           |         FROM tok GROUP BY lang, token),
           |tot AS (SELECT lang, CAST(sum(freq) AS BIGINT) AS n_tokens,
           |          count(*) AS n_vocab, max(freq) AS fmax
           |        FROM freq GROUP BY lang),
           |top AS (SELECT lang, CAST(sum(freq) AS BIGINT) AS top10 FROM (
           |          SELECT lang, freq, row_number() OVER (
           |            PARTITION BY lang ORDER BY freq DESC, token) AS rk
           |          FROM freq)
           |        WHERE rk <= 10 GROUP BY lang)
           |SELECT t.lang, n_tokens, n_vocab,
           |  CAST(fmax AS DOUBLE) / n_tokens AS top1_share,
           |  CAST(top10 AS DOUBLE) / n_tokens AS top10_share
           |FROM tot t JOIN top USING (lang) ORDER BY lang""".stripMargin))

  /** Boilerplate phrase mining: the corpus's most frequent 5-grams with
    * their document spread — the signal behind template/navigation-chrome
    * removal (a phrase appearing in many documents is boilerplate; one
    * repeating inside a single document is self-repetition — the report
    * separates the two via n_docs vs n_occur). Phrase generation is a
    * per-row sliding window (codegen'd transform over the token array, no
    * shingle distinct — occurrences count), followed by one two-phase
    * count; the ≥3-occurrence floor keeps the reduce side to genuinely
    * repeated phrases. Top-20 plans as TakeOrderedAndProject.
    */
  private val textPhraseMine = Q(
    "text_phrase_mine",
    (s, dir) => {
      val w = words(col("text"))
      // docsSpread (r19): the 5-gram window explode is the query's CPU and
      // runs pre-exchange — spread it off the single-partition local scan
      docsSpread(s, dir)
        .filter(size(w) >= 5)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(w) - 4),
          i => concat_ws(" ", slice(w, i, lit(5))))).as("phrase"))
        .groupBy("phrase")
        .agg(count(lit(1)).as("n_occur"), countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_occur") >= 3)
        .orderBy(col("n_occur").desc, col("phrase"))
        .limit(20)
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |g AS (SELECT doc_id,
           |        w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS phrase
           |      FROM d, unnest(range(1, len(w) - 3)) AS t(i) WHERE len(w) >= 5)
           |SELECT phrase, count(*) AS n_occur, count(DISTINCT doc_id) AS n_docs
           |FROM g GROUP BY phrase HAVING count(*) >= 3
           |ORDER BY n_occur DESC, phrase LIMIT 20""".stripMargin))

  /** Feature hashing (the "hashing trick") over document tokens — the
    * fixed-width featurization that replaces a vocabulary dictionary when
    * the vocab won't fit or drifts: bucket = hash(token) mod 64, no
    * dictionary build, no join against a vocab table — which is exactly
    * why it scales to unbounded token streams. Per-bucket report: token
    * occurrences, document spread, and distinct words (the collision
    * load). One explode + one two-phase aggregate over 64 groups; the
    * oracle replays the [[md5Hash32]] engine-portable hash exactly.
    */
  private val mlFeatureHash = Q(
    "ml_feature_hash",
    (s, dir) => docsSpread(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"), col("w"), pmod(md5Hash32(col("w")), lit(64)).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("w")).as("n_words"))
      .orderBy("bucket"),
    Some("""WITH tok AS (SELECT doc_id, w
           |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
           |  WHERE len(w) > 0)
           |SELECT CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 64 AS bucket,
           |  count(*) AS n_tokens,
           |  count(DISTINCT doc_id) AS n_docs,
           |  count(DISTINCT w) AS n_words
           |FROM tok GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** Kneser-Ney-smoothed bigram LM scoring — the stronger companion to the
    * add-one [[lmScore]]: absolute discounting (D = 0.75) with the
    * CONTINUATION-count backoff that makes KN the standard n-gram
    * smoother — P(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁·)
    * + (D·N₁₊(w₁·)/c(w₁·)) · N₁₊(·w₂)/N₁₊(··). Every factor is an exact
    * integer-count ratio over the bigram-type table, so the whole model is
    * four two-phase aggregates off ONE bigram count (c₂; c₁ and both
    * fan-out tables reduce the vocabulary-sized c₂, not the corpus), then
    * the corpus stream equi-joins the probability back per bigram — the
    * same linear shape as [[lmScore]]; the type total rides a broadcast
    * 1-row frame. Per-row ln + fine-decimal NLL sums, round(·, 6).
    */
  def knScore(d: DataFrame, discount: Double = 0.75): DataFrame = {
    val w = col("w")
    val bigrams = transform(sequence(lit(1), size(w) - 1),
      i => struct(element_at(w, i).as("w1"), element_at(w, i + 1).as("w2")))
    val bg = Tables.spread(d)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(w) >= 2)
      .select(col("doc_id"), explode(bigrams).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // first-token mass and forward fan-out reduce the TYPE table, not the corpus
    val c1 = c2.groupBy("w1")
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1f"))
    val nback = c2.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val ntypes = c2.agg(count(lit(1)).as("nt"))
    val pkn = (greatest(col("c2") - lit(discount), lit(0.0)) / col("c1") +
      (lit(discount) * col("n1f") / col("c1")) *
        (col("n1b").cast("double") / col("nt"))).as("p")
    bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1")).join(nback, Seq("w2"))
      .crossJoin(broadcast(ntypes))
      .select(col("doc_id"), pkn)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        dsumFine(-log(col("p"))).as("nll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("nll") / col("n_bigrams"), 6).as("avg_nll"))
      .orderBy("doc_id")
  }

  private val textKnScore = Q(
    "text_kn_score",
    (s, dir) => knScore(docsSpread(s, dir)),
    Some("""WITH d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
           |bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
           |       FROM d, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
           |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
           |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1, count(*) AS n1f
           |       FROM c2 GROUP BY w1),
           |nb AS (SELECT w2, count(*) AS n1b FROM c2 GROUP BY w2),
           |nt AS (SELECT count(*) AS nt FROM c2),
           |x AS (SELECT bg.doc_id,
           |        greatest(CAST(c2.c2 AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0.0 AS DOUBLE)) / c1.c1
           |        + (CAST(0.75 AS DOUBLE) * c1.n1f / c1.c1) * (CAST(nb.n1b AS DOUBLE) / nt.nt) AS p
           |      FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
           |      JOIN nb USING (w2) CROSS JOIN nt)
           |SELECT doc_id, count(*) AS n_bigrams,
           |  round(CAST(SUM(CAST(-ln(p) AS DECIMAL(38,20))) AS DOUBLE) / count(*), 6) AS avg_nll
           |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Per-document unigram Shannon entropy — the diversity twin of the
    * repetition signals: low entropy flags keyword-stuffed / template /
    * looped text, high entropy tracks natural prose (a standard pretraining
    * quality gate alongside [[lmScore]]). Computed as
    * H = ln(n) − (Σ c·ln c)/n over within-document token counts, so the
    * corpus pass is one explode + two-phase (doc, word) count and a per-doc
    * reduce — linear, no corpus-wide state. Per-row `ln` is bit-identical
    * across engines (the text_tfidf stance); the Σ c·ln c sum rides
    * [[dsumFine]] so partitioning can't reorder it, and the reported H is
    * round(·, 6).
    */
  def unigramEntropy(d: DataFrame): DataFrame = d
    .select(col("doc_id"), explode(words(col("text"))).as("w"))
    .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    .groupBy("doc_id")
    .agg(sum(col("c")).as("n_tokens"),
      dsumFine(col("c").cast("double") * log(col("c").cast("double")))
        .as("clc"))
    .select(col("doc_id"), col("n_tokens"),
      round(log(col("n_tokens").cast("double")) -
        col("clc") / col("n_tokens"), 6).as("entropy"))
    .orderBy("doc_id")

  private val textEntropy = Q(
    "text_entropy",
    (s, dir) => unigramEntropy(docs(s, dir)),
    Some("""WITH c AS (SELECT doc_id, w, count(*) AS c
           |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
           |        FROM documents)
           |  GROUP BY doc_id, w),
           |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           |    CAST(SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS DECIMAL(38,20))) AS DOUBLE) AS clc
           |  FROM c GROUP BY doc_id)
           |SELECT doc_id, n_tokens,
           |  round(ln(CAST(n_tokens AS DOUBLE)) - clc / n_tokens, 6) AS entropy
           |FROM d ORDER BY doc_id""".stripMargin))

  /** Count-Min sketch word frequencies, verified against exact counts —
    * the streaming-memory counting sketch alongside the Bloom filter
    * (membership), HLL (distinct) and SpaceSaving (top-k) already in the
    * suite. Four md5-derived hash rows × 512 buckets; the sketch table is
    * a CONSTANT 2048 cells no matter the corpus size, which is the whole
    * point — at 100 TB the exact (word → count) table may not fit, the
    * sketch always does, and merging shards is cell-wise addition.
    *
    * Here the exact counts DO fit (they're the oracle), so the query
    * reports, for the corpus's top-10 words, the exact count, the sketch
    * estimate, and the structural guarantee est ≥ exact — all replayed
    * hash-for-hash in DuckDB. One corpus pass for counts; everything
    * after is vocabulary-sized; the 2048-cell sketch broadcasts into the
    * estimate join.
    */
  def cmsWordCounts(d: DataFrame, depth: Int = 4, width: Int = 512): DataFrame = {
    val wc = d
      .select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val rows = wc.select(col("w"), col("c"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket",
        pmod(md5Hash32(concat(col("r").cast("string"), lit(":"), col("w"))),
          lit(width)))
    val cms = rows.groupBy("r", "bucket").agg(sum(col("c")).as("bsum"))
    val est = rows.join(broadcast(cms), Seq("r", "bucket"))
      .groupBy("w").agg(min(col("bsum")).as("cms_est"))
    wc.join(est, "w")
      .select(col("w").as("word"), col("c").as("exact_count"),
        col("cms_est"), (col("cms_est") >= col("c")).as("never_undercounts"))
  }

  private val textCmsCounts = Q(
    "text_cms_counts",
    (s, dir) => cmsWordCounts(docs(s, dir))
      .orderBy(col("exact_count").desc, col("word")).limit(10)
      .orderBy(col("exact_count").desc, col("word")),
    Some("""WITH wc AS (SELECT w, count(*) AS c
           |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           |  GROUP BY w),
           |rows_ AS (SELECT w, c, r,
           |    CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || w), 1, 8) AS BIGINT) % 512 AS bucket
           |  FROM wc, unnest(range(0, 4)) AS t(r)),
           |cms AS (SELECT r, bucket, sum(c) AS bsum FROM rows_ GROUP BY r, bucket),
           |est AS (SELECT w, CAST(min(bsum) AS BIGINT) AS cms_est
           |        FROM rows_ JOIN cms USING (r, bucket) GROUP BY w),
           |top AS (SELECT w, c FROM wc ORDER BY c DESC, w LIMIT 10)
           |SELECT top.w AS word, top.c AS exact_count, est.cms_est,
           |       est.cms_est >= top.c AS never_undercounts
           |FROM top JOIN est ON top.w = est.w
           |ORDER BY exact_count DESC, word""".stripMargin))

  /** HyperLogLog distinct-word estimate per language, built from scratch
    * and verified against exact counts — the CARDINALITY member of the
    * mergeable-sketch family ([[cmsWordCounts]] counting, BloomBuild
    * membership, SpaceSaving top-k; `agg_approx_distinct` covers Spark's
    * built-in HLL++, this one makes the register algebra itself a declared,
    * oracle-replayed capability). m = 64 registers from the md5-derived
    * 32-bit hash: idx = h mod 64, and the register keeps the MAX of
    * rho = leading-zero rank of the remaining 26 bits — so shard merge is
    * cell-wise max (two-phase, map-side combinable) and sketch state is a
    * CONSTANT 64 cells per group at any corpus size. Estimate = the
    * standard bias-corrected harmonic mean alpha·m²/Σ2^−Mⱼ with
    * linear-counting fallback below 2.5·m when empty registers remain.
    *
    * Determinism: rho is exact integer logic (bit length via `bin()`
    * string length — identical semantics in both engines, no log2
    * rounding); each 2^−Mⱼ is an exact dyadic DECIMAL(38,30) so the
    * harmonic sum is order-independent; alpha is interpolated into the
    * oracle as a 17-significant-digit double literal so both engines use
    * the identical IEEE value; every division is double/double. The
    * within_band column asserts the estimate sits inside 0.35 ≈ 2.7σ of
    * the m = 64 standard error 1.04/√m — computed identically on both
    * engines, and genuinely true of the corpus.
    */
  def hllDistinctWords(d: DataFrame): DataFrame = {
    import graft.functions.Hll
    val tok = d.select(col("lang"), explode(words(col("text"))).as("w"))
    val fin = Hll.estimate(Hll.registers(tok, col("lang"), col("w")))
      .withColumnRenamed("g", "lang")
    val exact = tok.groupBy("lang").agg(countDistinct(col("w")).as("exact_distinct"))
    exact.join(fin, "lang")
      .select(col("lang"), col("exact_distinct"),
        round(col("e"), 4).as("hll_est"), col("used").as("registers_used"),
        (abs(col("e") / col("exact_distinct") - 1) <= 0.35).as("within_band"))
      .orderBy("lang")
  }

  private val textHllDistinct = Q(
    "text_hll_distinct",
    (s, dir) => hllDistinctWords(docs(s, dir)),
    Some {
      val alpha = 0.7213 / (1 + 1.079 / 64)
      s"""WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
         |h AS (SELECT lang, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h FROM tok),
         |r AS (SELECT lang, h % 64 AS idx, h // 64 AS v FROM h),
         |regs AS (SELECT lang, idx,
         |    max(CASE WHEN v = 0 THEN 27 ELSE 27 - length(bin(v)) END) AS mreg
         |  FROM r GROUP BY lang, idx),
         |agg AS (SELECT lang, count(*) AS used,
         |    CAST(SUM(CAST(power(2, -mreg) AS DECIMAL(38,30))) AS DOUBLE)
         |      + (64 - count(*)) AS zsum
         |  FROM regs GROUP BY lang),
         |er AS (SELECT lang, used, 64 - used AS vz,
         |    CAST(${java.lang.Double.toString(alpha)} AS DOUBLE) * 4096 / zsum AS e_raw
         |  FROM agg),
         |fin AS (SELECT lang, used,
         |    CASE WHEN e_raw <= 160 AND vz > 0
         |         THEN 64 * ln(CAST(64 AS DOUBLE) / vz) ELSE e_raw END AS e
         |  FROM er),
         |ex AS (SELECT lang, count(DISTINCT w) AS exact_distinct FROM tok GROUP BY lang)
         |SELECT ex.lang AS lang, ex.exact_distinct, round(fin.e, 4) AS hll_est,
         |  fin.used AS registers_used,
         |  abs(fin.e / ex.exact_distinct - 1) <= 0.35 AS within_band
         |FROM ex JOIN fin ON ex.lang = fin.lang ORDER BY lang""".stripMargin
    })

  /** Jensen–Shannon divergence between source unigram distributions — the
    * corpus-mixture distance matrix a data-mixing run reads before setting
    * sampling weights (JSD is symmetric, bounded by ln 2, and defined even
    * where KL blows up on disjoint support). For each source pair (a, b):
    * JSD = ½KL(p‖m) + ½KL(q‖m) with m = ½(p+q), decomposed so only the
    * SHARED vocabulary is ever joined: tokens private to one side
    * contribute exactly (ln 2)/2 times their probability mass, so
    * JSD = Σ_shared [p/2·ln(2p/(p+q)) + q/2·ln(2q/(p+q))]
    *       + (1−Σ_shared p)·(ln 2)/2 + (1−Σ_shared q)·(ln 2)/2.
    *
    * Shape: per-source token counts (one two-phase aggregate), totals
    * broadcast back, one vocab-keyed self-equi-join restricted to a < b
    * (pairs ≤ sources², join rows ≤ vocab·pairs), ONE aggregate for the
    * shared-term sum and both shared masses. Probabilities are single
    * double divisions of exact longs; the ln terms sum via fine decimals
    * (order-independent); (ln 2)/2 is interpolated as the same 17-digit
    * literal into both engines. Linear in the token stream at any scale.
    */
  private val textJsdSources = Q(
    "text_jsd_sources",
    (s, dir) => {
      val halfLn2 = math.log(2.0) / 2
      val cnt = docs(s, dir)
        .select(col("source"), explode(words(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy("source").agg(sum(col("c")).as("t"))
      val withP = cnt.join(broadcast(tot), "source")
        .select(col("source"), col("w"),
          (col("c").cast("double") / col("t").cast("double")).as("p"))
      val j = withP.toDF("sa", "w", "pa")
        .join(withP.toDF("sb", "wb", "pb"),
          col("w") === col("wb") && col("sa") < col("sb"))
      j.groupBy("sa", "sb")
        .agg(count(lit(1)).as("n_shared"),
          dsumFine(col("pa") / 2 * log(lit(2.0) * col("pa") / (col("pa") + col("pb"))) +
            col("pb") / 2 * log(lit(2.0) * col("pb") / (col("pa") + col("pb"))))
            .as("sh"),
          dsumFine(col("pa")).as("ma"), dsumFine(col("pb")).as("mb"))
        .select(col("sa").as("source_a"), col("sb").as("source_b"),
          col("n_shared"),
          round(col("sh") + (lit(1.0) - col("ma")) * lit(halfLn2) +
            (lit(1.0) - col("mb")) * lit(halfLn2), 6).as("jsd"))
        .orderBy("source_a", "source_b")
    },
    Some(s"""WITH cnt AS (SELECT source, w, count(*) AS c
            |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
            |  GROUP BY source, w),
            |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY source),
            |p AS (SELECT cnt.source, w, CAST(c AS DOUBLE) / CAST(t AS DOUBLE) AS p
            |      FROM cnt JOIN tot ON cnt.source = tot.source),
            |j AS (SELECT a.source AS sa, b.source AS sb, a.p AS pa, b.p AS pb
            |      FROM p a JOIN p b ON a.w = b.w AND a.source < b.source)
            |SELECT sa AS source_a, sb AS source_b,
            |  CAST(count(*) AS BIGINT) AS n_shared,
            |  round(CAST(SUM(CAST(pa / 2 * ln(2.0 * pa / (pa + pb)) +
            |                      pb / 2 * ln(2.0 * pb / (pa + pb)) AS DECIMAL(38,20)))
            |          AS DOUBLE)
            |    + (1.0 - CAST(SUM(CAST(pa AS DECIMAL(38,20))) AS DOUBLE)) * ${math.log(2.0) / 2}
            |    + (1.0 - CAST(SUM(CAST(pb AS DECIMAL(38,20))) AS DOUBLE)) * ${math.log(2.0) / 2},
            |    6) AS jsd
            |FROM j GROUP BY sa, sb ORDER BY source_a, source_b""".stripMargin))

  /** Vocabulary coverage curve — what fraction of the corpus token MASS the
    * top-k vocabulary covers, at k ∈ {100, 1k, 10k}: the sizing readout a
    * tokenizer/vocab decision reads (BPE merge budget, OOV rate at a cap).
    * Each point is a DISTRIBUTED top-k (TakeOrderedAndProject on the
    * vocabulary-sized count frame — the text_vocab stance: no global
    * ordered window) reduced to one mass sum; three points union; the
    * total rides a broadcast 1-row frame. Tie order at the k boundary is
    * pinned by (count desc, token).
    */
  private val textNgramCoverage = Q(
    "text_ngram_coverage",
    (s, dir) => {
      val cnt = graft.Caches.track(docs(s, dir)
        .select(explode(words(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c")))
      val tot = cnt.agg(sum(col("c")).as("t"), count(lit(1)).as("n_vocab"))
      val pts = Seq(100, 1000, 10000).map { k =>
        cnt.orderBy(col("c").desc, col("w")).limit(k)
          .agg(sum(col("c")).as("covered"), count(lit(1)).as("n_terms"))
          .select(lit(k.toLong).as("k"), col("n_terms"), col("covered"))
      }.reduce(_ unionByName _)
      pts.crossJoin(broadcast(tot))
        .select(col("k"), col("n_terms"), col("covered"), col("n_vocab"),
          round(col("covered").cast("double") / col("t").cast("double"), 6)
            .as("coverage"))
        .orderBy("k")
    },
    Some("""WITH cnt AS (SELECT w, count(*) AS c
           |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           |  GROUP BY w),
           |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t,
           |               count(*) AS n_vocab FROM cnt),
           |p AS (
           |  SELECT CAST(100 AS BIGINT) AS k, count(*) AS n_terms,
           |      CAST(SUM(c) AS BIGINT) AS covered
           |    FROM (SELECT c FROM cnt ORDER BY c DESC, w LIMIT 100)
           |  UNION ALL
           |  SELECT 1000, count(*), CAST(SUM(c) AS BIGINT)
           |    FROM (SELECT c FROM cnt ORDER BY c DESC, w LIMIT 1000)
           |  UNION ALL
           |  SELECT 10000, count(*), CAST(SUM(c) AS BIGINT)
           |    FROM (SELECT c FROM cnt ORDER BY c DESC, w LIMIT 10000))
           |SELECT k, n_terms, covered, n_vocab,
           |  round(CAST(covered AS DOUBLE) / CAST(t AS DOUBLE), 6) AS coverage
           |FROM p CROSS JOIN tot ORDER BY k""".stripMargin))

  /** KMV (k-minimum-values) distinct sketch with SET-OPERATION estimates —
    * the set-algebra member of the mergeable-sketch family (HLL = pure
    * cardinality, CMS = counts, Bloom = membership, SpaceSaving = top-k):
    * only KMV signatures support union AND intersection estimation, the
    * "how much would corpus B add to corpus A?" / "how contaminated is B
    * by A?" planning readout, here over the en vs de 3-gram shingle
    * universes. The signature is the k = 128 smallest md5 hash values of
    * the distinct-shingle set: per-set via the custom grouped-top-k
    * physical operator (map-side bounded heaps — never a set-wide sort),
    * the union via `TakeOrderedAndProject`; merge of shard signatures is
    * "k smallest of concatenation", making the sketch mergeable across
    * shards/days like the HLL registers. Estimators: distinct ≈
    * (k−1)·2³²/h₍ₖ₎ (exact-count fallback below k members), Jaccard from
    * the union signature's both-sides membership fraction (Beyer et al.
    * 2007), intersection = Ĵ·Û.
    *
    * Determinism: hash values are exact longs, signatures are exact sets,
    * so every estimate is 1–2 IEEE ops on exact integers and the 3/√(k−2)
    * accuracy-band booleans (union-scale absolute band for the
    * intersection, whose error propagates from Û) compare engine-identical
    * doubles against exact counts — the agg_approx_distinct hard-check
    * convention.
    */
  /** KMV set-operations panel over a (lang, h) distinct-hash frame — see
    * [[textKmvSetops]]'s Scaladoc. `a`/`b` name the two sets (values of
    * the `lang` column); returns 4 rows (a, b, intersection, union) of
    * (set_name, exact_distinct, kmv_est, within_band).
    */
  def kmvPanel(hIn: DataFrame, a: String, b: String, k: Int = 128): DataFrame = {
    // localCheckpoint the (lang, h) input ONCE: the panel reads it ~6× —
    // per-set signatures, exact counts, the union signature, the union
    // scalar counts and two semi-join probes — and without lineage
    // truncation each branch replays the upstream shingle explode + md5
    // (the query's true cost, ~6 corpus scans). The distinct-hash frame is
    // two columns and vocabulary-sized, safe to pin; the branches
    // themselves are estimator arithmetic on exact integers.
    val h = hIn.localCheckpoint()
    // (k−1)·2³² as one literal so both engines divide the same constant
    val scale = lit((k - 1).toDouble * 4294967296.0)
    val band = lit(3.0) / sqrt(lit((k - 2).toDouble))
    def est(m: Column, kk: Column): Column =
      when(kk < k, kk.cast("double")).otherwise(scale / m.cast("double"))
    val sig = graft.plans.TopK.perGroup(h, Seq("lang"), Seq(col("h").asc), k)
    val perLang = sig.groupBy("lang")
      .agg(max(col("h")).as("m"), count(lit(1)).as("kk"))
    val exactLang = h.groupBy("lang").agg(count(lit(1)).as("exact"))
    val hu = h.select("h").distinct()
    val sigu = hu.orderBy("h").limit(k)
    val mu = sigu.agg(max(col("h")).as("m"), count(lit(1)).as("kk"))
    val stats = h.agg(
        count(when(col("lang") === a, 1)).as("ne"),
        count(when(col("lang") === b, 1)).as("nd"))
      .crossJoin(hu.agg(count(lit(1)).as("nu")))
      .select(col("ne"), col("nd"), col("nu"),
        (col("ne") + col("nd") - col("nu")).as("ni"))
    val interC = sigu
      .join(h.filter(col("lang") === a).select("h"), Seq("h"), "left_semi")
      .join(h.filter(col("lang") === b).select("h"), Seq("h"), "left_semi")
      .agg(count(lit(1)).as("c"))
    val langRows = perLang.join(exactLang, "lang")
      .select(col("lang").as("set_name"), col("exact").as("exact_distinct"),
        round(est(col("m"), col("kk")), 3).as("kmv_est"),
        (abs(est(col("m"), col("kk")) - col("exact")) <=
          band * col("exact").cast("double")).as("within_band"))
    val uRow = mu.crossJoin(broadcast(stats))
      .select(lit("union").as("set_name"), col("nu").as("exact_distinct"),
        round(est(col("m"), col("kk")), 3).as("kmv_est"),
        (abs(est(col("m"), col("kk")) - col("nu")) <=
          band * col("nu").cast("double")).as("within_band"))
    // Jaccard denominator is the ACTUAL signature size (= min(k, |union|)):
    // below k the signature is the whole union and dividing by k would
    // shrink J by |union|/k
    val iEst = (col("c").cast("double") / col("kk")) * est(col("m"), col("kk"))
    val iRow = interC.crossJoin(broadcast(mu)).crossJoin(broadcast(stats))
      .select(lit("intersection").as("set_name"),
        col("ni").as("exact_distinct"),
        round(iEst, 3).as("kmv_est"),
        (abs(iEst - col("ni")) <= band * col("nu").cast("double"))
          .as("within_band"))
    langRows.unionByName(uRow).unionByName(iRow).orderBy("set_name")
  }

  private val textKmvSetops = Q(
    "text_kmv_setops",
    (s, dir) => kmvPanel(
      // docsSpread (r19): shingle explode + per-shingle md5 pre-exchange
      docsSpread(s, dir).filter(col("lang").isin("en", "de"))
        .select(col("lang"), explode(shingles(col("text"))).as("g"))
        .select(col("lang"), md5Hash32(col("g")).as("h")).distinct(),
      a = "en", b = "de"),
    Some("""WITH w AS (SELECT lang, string_split(text,' ') AS w FROM documents
           |           WHERE lang IN ('en','de')),
           |s AS (SELECT lang, CASE WHEN len(w) < 3 THEN [array_to_string(w,' ')]
           |        ELSE list_distinct(list_transform(range(1, len(w)-1),
           |               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) END AS sh
           |      FROM w),
           |hx AS (SELECT DISTINCT lang,
           |    CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) AS h
           |  FROM (SELECT lang, unnest(sh) AS g FROM s)),
           |sig AS (SELECT lang, h FROM (SELECT lang, h,
           |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM hx)
           |  WHERE rn <= 128),
           |pl AS (SELECT lang, max(h) AS m, count(*) AS kk FROM sig GROUP BY lang),
           |ex AS (SELECT lang, count(*) AS exact FROM hx GROUP BY lang),
           |hu AS (SELECT DISTINCT h FROM hx),
           |sigu AS (SELECT h FROM (SELECT h,
           |    row_number() OVER (ORDER BY h) AS rn FROM hu) WHERE rn <= 128),
           |mu AS (SELECT max(h) AS m, count(*) AS kk FROM sigu),
           |st AS (SELECT (SELECT count(*) FROM hx WHERE lang = 'en') AS ne,
           |              (SELECT count(*) FROM hx WHERE lang = 'de') AS nd,
           |              (SELECT count(*) FROM hu) AS nu),
           |isig AS (SELECT count(*) AS c FROM sigu
           |  WHERE h IN (SELECT h FROM hx WHERE lang = 'en')
           |    AND h IN (SELECT h FROM hx WHERE lang = 'de'))
           |SELECT * FROM (
           |  SELECT lang AS set_name, CAST(exact AS BIGINT) AS exact_distinct,
           |    round(CASE WHEN kk < 128 THEN CAST(kk AS DOUBLE)
           |          ELSE 545460846592.0 / CAST(m AS DOUBLE) END, 3) AS kmv_est,
           |    abs((CASE WHEN kk < 128 THEN CAST(kk AS DOUBLE)
           |          ELSE 545460846592.0 / CAST(m AS DOUBLE) END) - exact)
           |      <= 3.0 / sqrt(126.0) * CAST(exact AS DOUBLE) AS within_band
           |  FROM pl JOIN ex USING (lang)
           |  UNION ALL
           |  SELECT 'union', CAST(nu AS BIGINT),
           |    round(CASE WHEN kk < 128 THEN CAST(kk AS DOUBLE)
           |          ELSE 545460846592.0 / CAST(m AS DOUBLE) END, 3),
           |    abs((CASE WHEN kk < 128 THEN CAST(kk AS DOUBLE)
           |          ELSE 545460846592.0 / CAST(m AS DOUBLE) END) - nu)
           |      <= 3.0 / sqrt(126.0) * CAST(nu AS DOUBLE)
           |  FROM mu CROSS JOIN st
           |  UNION ALL
           |  SELECT 'intersection', CAST(ne + nd - nu AS BIGINT),
           |    round((CAST(c AS DOUBLE) / mu.kk) *
           |      (CASE WHEN mu.kk < 128 THEN CAST(mu.kk AS DOUBLE)
           |       ELSE 545460846592.0 / CAST(mu.m AS DOUBLE) END), 3),
           |    abs((CAST(c AS DOUBLE) / mu.kk) *
           |      (CASE WHEN mu.kk < 128 THEN CAST(mu.kk AS DOUBLE)
           |       ELSE 545460846592.0 / CAST(mu.m AS DOUBLE) END) - (ne + nd - nu))
           |      <= 3.0 / sqrt(126.0) * CAST(nu AS DOUBLE)
           |  FROM isig CROSS JOIN mu CROSS JOIN st)
           |ORDER BY set_name""".stripMargin))

  /** RAKE keyword extraction (Rose 2010) over the English corpus — the
    * unsupervised keyword/topic surface beside the collocation-PMI phrase
    * miner (`text_phrase_mine` finds STATISTICALLY GLUED pairs; RAKE finds
    * SALIENT multi-word candidates): texts split into candidate phrases at
    * stopword boundaries, each word scored deg/freq (deg = Σ length of
    * containing phrases — co-occurrence degree including self), a phrase
    * scores the sum of its member words, identical candidates aggregate.
    * Scale shape: the only window is the stopword-prefix-count phrase id,
    * partitioned BY DOC (doc-length bounded); word stats are one two-phase
    * vocabulary aggregate; phrase reassembly is the order-independent
    * array_sort(collect_list(struct)) idiom per (doc, phrase) key; the
    * readout is a distributed top-20.
    *
    * Determinism: deg/freq is one IEEE division of exact longs per word;
    * phrase scores are fine-decimal sums of those (order-independent);
    * identical phrase strings provably carry identical scores (same member
    * multiset → same sum), so the dedup max() is value-stable; final
    * ordering at round(·,9) with the phrase string as tie-break.
    */
  private val textRakeKeywords = Q(
    "text_rake_keywords",
    (s, dir) => {
      // docsSpread (r19): the posexplode runs pre-exchange
      val toks = docsSpread(s, dir).filter(col("lang") === "en")
        .select(col("doc_id"), posexplode(words(col("text"))).as(Seq("pos", "w")))
        .withColumn("stop", col("w").isin(StopWords.map(x => x: Any): _*))
      val wp = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mem0 = toks
        .withColumn("pid", sum(col("stop").cast("long")).over(wp))
        .filter(!col("stop"))
        .select(col("doc_id"), col("pid"), col("pos"), col("w"))
      val plens = mem0.groupBy("doc_id", "pid").agg(count(lit(1)).as("plen"))
      val mem = mem0.join(plens, Seq("doc_id", "pid"))
      val wstats = mem.groupBy("w")
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      val scored = mem.join(wstats, "w")
        .withColumn("wsv", col("deg").cast("double") / col("freq"))
      val phrases = scored.groupBy("doc_id", "pid")
        .agg(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("w")))),
            x => x("w")), " ").as("phrase"),
          dsumFine(col("wsv")).as("score"))
      phrases.groupBy("phrase")
        .agg(count(lit(1)).as("n_occurrences"), max(col("score")).as("score"))
        .orderBy(round(col("score"), 9).desc, col("phrase")).limit(20)
        .select(col("phrase"), col("n_occurrences"),
          round(col("score"), 6).as("score"))
    },
    Some(s"""WITH toks AS (SELECT doc_id, i - 1 AS pos, w[i] AS w,
            |    list_contains([$StopWordsSql], w[i]) AS stop
            |  FROM (SELECT doc_id, string_split(text, ' ') AS w
            |        FROM documents WHERE lang = 'en') d,
            |       unnest(range(1, len(d.w) + 1)) AS t(i)),
            |ph AS (SELECT doc_id, pos, w, stop,
            |    SUM(CASE WHEN stop THEN 1 ELSE 0 END) OVER (
            |      PARTITION BY doc_id ORDER BY pos
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
            |  FROM toks),
            |mem0 AS (SELECT doc_id, pid, pos, w FROM ph WHERE NOT stop),
            |plen AS (SELECT doc_id, pid, count(*) AS plen
            |  FROM mem0 GROUP BY 1, 2),
            |mem AS (SELECT mem0.doc_id, mem0.pid, mem0.pos, mem0.w, plen.plen
            |  FROM mem0 JOIN plen USING (doc_id, pid)),
            |ws AS (SELECT w, count(*) AS freq, CAST(sum(plen) AS BIGINT) AS deg
            |  FROM mem GROUP BY w),
            |sc AS (SELECT mem.doc_id, mem.pid, mem.pos, mem.w,
            |    CAST(deg AS DOUBLE) / freq AS wsv
            |  FROM mem JOIN ws USING (w)),
            |phr AS (SELECT doc_id, pid,
            |    string_agg(w, ' ' ORDER BY pos) AS phrase,
            |    CAST(SUM(CAST(wsv AS DECIMAL(38,20))) AS DOUBLE) AS score
            |  FROM sc GROUP BY doc_id, pid),
            |agg AS (SELECT phrase, count(*) AS n_occurrences,
            |    max(score) AS score FROM phr GROUP BY phrase)
            |SELECT phrase, n_occurrences, round(score, 6) AS score
            |FROM agg ORDER BY round(score, 9) DESC, phrase LIMIT 20""".stripMargin))

  /** Rule-based suffix stemmer (Porter-lite: the first matching rule of
    * sses→ss, ies→y, -ing, -ed, -s-not-ss, each with a minimum surface
    * length) applied to the corpus vocabulary — the index-normalization
    * step (search indexing, vocabulary compaction before embedding lookup)
    * measured by what it buys: the 15 stems merging the most surface
    * forms, each row carrying the corpus-level type-compression ratio
    * |stems| / |types|. Pure string CASE logic — identical `ends_with` /
    * `substr` semantics on both engines, no locale, no regex backtracking
    * — over the per-type frame (stemming is a FUNCTION of the distinct
    * vocabulary, so the expensive map runs once per TYPE, not per token:
    * explode → distinct-count per word → stem the vocab frame). Linear:
    * one token count aggregate + one vocab-sized projection + one stem
    * aggregate.
    */
  private val textStemIndex = Q(
    "text_stem_index",
    (s, dir) => {
      val tok = docs(s, dir)
        .select(explode(graft.functions.TextFunctions.words(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("occ"))
      val n = length(col("w"))
      val stem = when(n > 5 && col("w").endsWith("sses"),
          expr("substring(w, 1, length(w) - 2)"))
        .when(n > 4 && col("w").endsWith("ies"),
          concat(expr("substring(w, 1, length(w) - 3)"), lit("y")))
        .when(n > 5 && col("w").endsWith("ing"),
          expr("substring(w, 1, length(w) - 3)"))
        .when(n > 4 && col("w").endsWith("ed"),
          expr("substring(w, 1, length(w) - 2)"))
        .when(n > 3 && col("w").endsWith("s") && !col("w").endsWith("ss"),
          expr("substring(w, 1, length(w) - 1)"))
        .otherwise(col("w"))
      val st = tok.select(col("w"), col("occ"), stem.as("stem"))
      val summary = st.agg(sum(col("occ")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        countDistinct(col("stem")).as("n_stems"))
      st.groupBy("stem")
        .agg(count(lit(1)).as("n_forms"), sum(col("occ")).as("n_occ"))
        .crossJoin(broadcast(summary))
        .select(col("stem"), col("n_forms"), col("n_occ"),
          round(col("n_stems").cast("double") / col("n_types"), 6)
            .as("type_compression"))
        .orderBy(col("n_forms").desc, col("stem"))
        .limit(15)
    },
    Some("""WITH tok AS (SELECT w, count(*) AS occ FROM (
           |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           |  GROUP BY w),
           |st AS (SELECT w, occ, CASE
           |    WHEN length(w) > 5 AND ends_with(w, 'sses')
           |      THEN substring(w, 1, length(w) - 2)
           |    WHEN length(w) > 4 AND ends_with(w, 'ies')
           |      THEN substring(w, 1, length(w) - 3) || 'y'
           |    WHEN length(w) > 5 AND ends_with(w, 'ing')
           |      THEN substring(w, 1, length(w) - 3)
           |    WHEN length(w) > 4 AND ends_with(w, 'ed')
           |      THEN substring(w, 1, length(w) - 2)
           |    WHEN length(w) > 3 AND ends_with(w, 's') AND NOT ends_with(w, 'ss')
           |      THEN substring(w, 1, length(w) - 1)
           |    ELSE w END AS stem FROM tok),
           |summary AS (SELECT CAST(sum(occ) AS BIGINT) AS n_tokens,
           |    count(*) AS n_types, count(DISTINCT stem) AS n_stems FROM st)
           |SELECT stem, count(*) AS n_forms, CAST(sum(occ) AS BIGINT) AS n_occ,
           |  round(CAST(n_stems AS DOUBLE) / n_types, 6) AS type_compression
           |FROM st CROSS JOIN summary
           |GROUP BY stem, n_stems, n_types
           |ORDER BY n_forms DESC, stem LIMIT 15""".stripMargin))

  /** Token burstiness (Fano factor of per-document counts, zero-count
    * documents included) for the corpus's 20 most frequent tokens — the
    * dispersion diagnostic behind content-word vs function-word
    * separation: a token whose occurrences CLUMP into few documents
    * (topical) has variance ≫ mean (Fano > 1); a token sprinkled evenly
    * (grammatical glue) sits near the Poisson baseline Fano ≈ 1. Directly
    * actionable for stopword induction and tf-idf sanity at corpus scale.
    *
    * Exactness: with N docs, Σc and Σc² over the (word, doc) count frame
    * are exact longs, and Fano = (N·Σc² − (Σc)²) / (N·Σc) — the
    * population-variance-over-mean identity that never materializes the
    * zero rows — is one DECIMAL(38,0) numerator/denominator pair and ONE
    * final IEEE divide. Two two-phase aggregates, linear.
    */
  private val textBurstiness = Q(
    "text_burstiness",
    (s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val d = docs(s, dir)
      val nd = d.agg(count(lit(1)).as("nd"))
      val wc = d.select(col("doc_id"),
        explode(graft.functions.TextFunctions.words(col("text"))).as("w"))
        .groupBy("w", "doc_id").agg(count(lit(1)).as("c"))
      wc.groupBy("w")
        .agg(sum(col("c")).as("s1"), sum(col("c") * col("c")).as("s2"),
          count(lit(1)).as("ndocs"))
        .crossJoin(broadcast(nd))
        .select(col("w").as("word"), col("s1").as("n_occ"),
          col("ndocs").as("n_docs_with"),
          round((col("nd").cast(dec) * col("s2") - col("s1").cast(dec) * col("s1"))
            .cast("double") /
            (col("nd").cast(dec) * col("s1")).cast("double"), 6).as("fano"))
        .orderBy(col("n_occ").desc, col("word"))
        .limit(20)
    },
    Some("""WITH nd AS (SELECT count(*) AS nd FROM documents),
           |wc AS (SELECT w, doc_id, count(*) AS c FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
           |    FROM documents) GROUP BY w, doc_id),
           |agg AS (SELECT w, CAST(sum(c) AS BIGINT) AS s1,
           |    CAST(sum(c * c) AS BIGINT) AS s2, count(*) AS ndocs
           |  FROM wc GROUP BY w)
           |SELECT w AS word, s1 AS n_occ, ndocs AS n_docs_with,
           |  round(CAST(CAST(nd AS DECIMAL(38,0)) * s2
           |      - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE) /
           |    CAST(CAST(nd AS DECIMAL(38,0)) * s1 AS DOUBLE), 6) AS fano
           |FROM agg CROSS JOIN nd
           |ORDER BY n_occ DESC, word LIMIT 20""".stripMargin))

  /** Heaps'-law fit of per-document vocabulary growth — V = k·N^β in
    * log-log OLS over (tokens, types) per document: the vocabulary-budget
    * PREDICTOR behind tokenizer sizing ("how many new types does the next
    * 10× of corpus bring?") and the companion to [[textHapax]]'s
    * point-in-time richness: β near the English-corpus norm (~0.4–0.6)
    * says normal lexical growth; β drifting up between crawls flags
    * vocabulary explosion (spam, code, boilerplate churn), β collapsing
    * flags template saturation. Fitting across DOCUMENTS (each doc one
    * (log N, log V) point) keeps the statistic a two-phase aggregate —
    * the cumulative-corpus formulation would need a sequential scan.
    *
    * Scale shape: one linear pass computing per-doc token/type counts
    * (size + array_distinct on the split — no explode), then a 6-sum
    * decimal aggregate and closed-form OLS algebra. Determinism: each ln
    * runs on an exact integer count (identical libm inputs), sums ride
    * [[graft.functions.Deterministic.dsumFine]], the slope/intercept/R²
    * are mirrored IEEE expressions with NULLIF guards, 6-dp rounds;
    * ln k is reported (not k — exp would add a second libm call).
    */
  private val textHeapsLaw = Q(
    "text_heaps_law",
    (s, dir) => {
      import graft.functions.Deterministic.dsumFine
      val pts = docs(s, dir)
        .select(size(words(col("text"))).cast("double").as("nt"),
          size(array_distinct(words(col("text")))).cast("double").as("nv"))
        .select(log(col("nt")).as("x"), log(col("nv")).as("y"))
      val sums = pts.agg(count(lit(1)).cast("double").as("n"),
        dsumFine(col("x")).as("sx"), dsumFine(col("y")).as("sy"),
        dsumFine(col("x") * col("x")).as("sxx"),
        dsumFine(col("x") * col("y")).as("sxy"),
        dsumFine(col("y") * col("y")).as("syy"))
      val sxxc = col("n") * col("sxx") - col("sx") * col("sx")
      val sxyc = col("n") * col("sxy") - col("sx") * col("sy")
      val syyc = col("n") * col("syy") - col("sy") * col("sy")
      val beta = sxyc / when(sxxc =!= 0.0, sxxc)
      sums.select(col("n").cast("long").as("n_docs"),
        round(beta, 6).as("beta"),
        round((col("sy") - beta * col("sx")) / col("n"), 6).as("ln_k"),
        round(sxyc * sxyc / when(sxxc * syyc =!= 0.0, sxxc * syyc), 6).as("r2"))
    },
    Some("""WITH p AS (SELECT ln(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS x,
           |    ln(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)) AS y
           |  FROM documents),
           |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
           |    CAST(SUM(CAST(x AS DECIMAL(38,20))) AS DOUBLE) AS sx,
           |    CAST(SUM(CAST(y AS DECIMAL(38,20))) AS DOUBLE) AS sy,
           |    CAST(SUM(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE) AS sxx,
           |    CAST(SUM(CAST(x * y AS DECIMAL(38,20))) AS DOUBLE) AS sxy,
           |    CAST(SUM(CAST(y * y AS DECIMAL(38,20))) AS DOUBLE) AS syy
           |  FROM p),
           |d AS (SELECT n, sx, sy,
           |    n * sxx - sx * sx AS sxxc,
           |    n * sxy - sx * sy AS sxyc,
           |    n * syy - sy * sy AS syyc
           |  FROM s)
           |SELECT CAST(n AS BIGINT) AS n_docs,
           |  round(sxyc / NULLIF(sxxc, 0.0), 6) AS beta,
           |  round((sy - (sxyc / NULLIF(sxxc, 0.0)) * sx) / n, 6) AS ln_k,
           |  round(sxyc * sxyc / NULLIF(sxxc * syyc, 0.0), 6) AS r2
           |FROM d""".stripMargin))

  /** Per-source character-class composition — the cheapest content-type
    * fingerprint: alpha/digit/space/other shares of the raw byte stream
    * separate prose (high alpha, ~15 % space) from tables/logs (digit-
    * heavy) from markup/code (symbol-heavy) BEFORE any tokenization, and
    * a source whose profile moves between crawls changed its content
    * pipeline, whatever its row counts say. Counts by subtractive
    * `regexp_replace` length (no per-char explode — four scalar regex
    * passes per row, all codegen), exact longs into one two-phase
    * aggregate; identical ASCII class semantics on both engines.
    */
  private val textScriptMix = Q(
    "text_script_mix",
    (s, dir) => {
      val t = col("text")
      val total = length(t)
      val alpha = total - length(regexp_replace(t, "[a-zA-Z]", ""))
      val digit = total - length(regexp_replace(t, "[0-9]", ""))
      val space = total - length(regexp_replace(t, " ", ""))
      val d = docs(s, dir).select(col("source"),
        total.cast("long").as("n"), alpha.cast("long").as("na"),
        digit.cast("long").as("nd"), space.cast("long").as("ns"))
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_chars"),
          sum(col("na")).as("a"), sum(col("nd")).as("dg"), sum(col("ns")).as("sp"))
        .select(col("source"), col("n_docs"), col("n_chars"),
          // zero guard: an all-empty source is 0/0 — NaN on Spark doubles
          // but NULL-or-NaN on DuckDB depending on its IEEE setting; the
          // when(>0) / NULLIF pair pins both engines to a clean NULL
          // (the text_heaps_law / ml_mcc_sweep convention)
          round(col("a").cast("double")
            / when(col("n_chars") > 0, col("n_chars").cast("double")), 6)
            .as("share_alpha"),
          round(col("dg").cast("double")
            / when(col("n_chars") > 0, col("n_chars").cast("double")), 6)
            .as("share_digit"),
          round(col("sp").cast("double")
            / when(col("n_chars") > 0, col("n_chars").cast("double")), 6)
            .as("share_space"),
          round((col("n_chars") - col("a") - col("dg") - col("sp")).cast("double")
            / when(col("n_chars") > 0, col("n_chars").cast("double")), 6)
            .as("share_other"))
        .orderBy("source")
    },
    Some("""WITH d AS (SELECT source, CAST(length(text) AS BIGINT) AS n,
           |    CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS BIGINT) AS na,
           |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS nd,
           |    CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS ns
           |  FROM documents),
           |g AS (SELECT source, count(*) AS n_docs,
           |    CAST(SUM(n) AS BIGINT) AS n_chars, CAST(SUM(na) AS BIGINT) AS a,
           |    CAST(SUM(nd) AS BIGINT) AS dg, CAST(SUM(ns) AS BIGINT) AS sp
           |  FROM d GROUP BY source)
           |SELECT source, n_docs, n_chars,
           |  round(CAST(a AS DOUBLE) / NULLIF(n_chars, 0), 6) AS share_alpha,
           |  round(CAST(dg AS DOUBLE) / NULLIF(n_chars, 0), 6) AS share_digit,
           |  round(CAST(sp AS DOUBLE) / NULLIF(n_chars, 0), 6) AS share_space,
           |  round(CAST(n_chars - a - dg - sp AS DOUBLE) / NULLIF(n_chars, 0), 6) AS share_other
           |FROM g ORDER BY source""".stripMargin))

  /** Tokenizer FERTILITY per language — BPE pieces per word on the
    * trained merges: THE per-language tokenizer-equity metric (a language
    * with fertility 2× the corpus norm pays 2× the context budget and 2×
    * the inference cost per word — the standard signal that the merge
    * table under-serves it and the training mixture or vocab budget needs
    * rebalancing). Rides the memoized [[bpeTrainShared]] vocabulary: per
    * distinct word the piece count is one split-length on the trained
    * segmentation, the corpus pass is one explode + broadcast dictionary
    * join + two-phase (lang) aggregate; the oracle replays the full
    * 6-round training then the same counts.
    */
  private val textBpeFertility = Q(
    "text_bpe_fertility",
    (s, dir) => {
      val seg = bpeTrainShared(s, dir)._2
        .select(col("word"),
          size(split(trim(col("s")), "  ")).cast("long").as("np"))
      docs(s, dir)
        .select(col("lang"), explode(words(col("text"))).as("word"))
        .join(broadcast(seg), "word")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"))
        .select(col("lang"), col("n_words"), col("n_pieces"),
          round(col("n_pieces").cast("double") / col("n_words").cast("double"),
            6).as("fertility"))
        .orderBy("lang")
    },
    Some(("""WITH w0 AS (SELECT word, count(*) AS freq,
            |    '  ' || array_to_string(string_split(word, ''), '  ') || '  ' AS s
            |  FROM (SELECT unnest(string_split(text,' ')) AS word FROM documents)
            |  GROUP BY word),
            |""".stripMargin +
      (1 to 6).map(bpeRoundSql).mkString(",\n") + ",\n" +
      """u AS (SELECT lang, unnest(string_split(text,' ')) AS word FROM documents),
        |j AS (SELECT u.lang, len(string_split(trim(w6.s), '  ')) AS np
        |      FROM u JOIN w6 USING (word))
        |SELECT lang, count(*) AS n_words, CAST(SUM(np) AS BIGINT) AS n_pieces,
        |  round(CAST(SUM(np) AS DOUBLE) / count(*), 6) AS fertility
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin)))

  val queries: Seq[Q] = Seq(
    textHeapsLaw, textScriptMix, textBpeFertility,
    textTokens, textTokenFreq, textTfidf, textQuality, textQualityGate,
    textNovelty, textMixtureReport, textLangid,
    textFingerprint, textNormalize, textPack, textPackSpans, textVocab,
    textHeavyHitters, textChunk, textEncode, textRedact, textRepetition,
    textBpe, textBpeEncode, textLmScore, textKnScore, textZipfHead,
    textEntropy, textCmsCounts, textPhraseMine, mlFeatureHash, mlNaiveBayes,
    mlMutualInfo, textHllDistinct, textJsdSources, textNgramCoverage,
    textKmvSetops, textRakeKeywords, textStemIndex, textBurstiness,
    textHapax, textLlrCollocations, textLangidConfusion, textEntropyRate,
    textLangidTrigram)

  /** Mutual-information feature selection: I(token-presence; source) over
    * the 2×2 contingency of each (token, source) pair — the supervised
    * vocabulary-selection step (which tokens identify which corpus slice)
    * complementing the unsupervised tf-idf ranking. All counts come from
    * TWO two-phase aggregates over the doc-distinct token stream
    * (`array_distinct` fuses the per-doc dedup into the explode — no
    * corpus-wide distinct); margins join on the token key and the 1-row /
    * per-source frames broadcast, so the MI arithmetic runs over a
    * vocabulary×sources-sized frame, never the corpus. Zero cells
    * contribute 0 by definition (guarded, not NaN-poisoned). Determinism:
    * each ln() argument is one exact-integer-ratio division, the four cell
    * terms add in fixed order, ranking uses round(·,9) + token/source
    * tie-breaks and reports at round(·,6) — the [[textTfidf]] stance.
    */
  private lazy val mlMutualInfo = Q(
    "ml_mutual_info",
    (s, dir) => {
      val d = docs(s, dir)
      val meta = d.agg(count(lit(1)).as("nn"))
      val ns = d.groupBy("source").agg(count(lit(1)).as("n_s"))
      val dt = d.select(col("source"),
        explode(array_distinct(words(col("text")))).as("token"))
      val nts = dt.groupBy("token", "source").agg(count(lit(1)).as("n_ts"))
      val nt = nts.groupBy("token").agg(sum(col("n_ts")).as("n_t"))
      def term(a: Column, r: Column, c: Column): Column =
        when(a > 0, (a.cast("double") / col("nn")) *
          log(a.cast("double") * col("nn") / (r.cast("double") * c.cast("double"))))
          .otherwise(lit(0.0))
      val mi =
        term(col("n_ts"), col("n_t"), col("n_s")) +
          term(col("n_t") - col("n_ts"), col("n_t"), col("nn") - col("n_s")) +
          term(col("n_s") - col("n_ts"), col("nn") - col("n_t"), col("n_s")) +
          term(col("nn") - col("n_t") - col("n_s") + col("n_ts"),
            col("nn") - col("n_t"), col("nn") - col("n_s"))
      nts.join(nt, "token").join(broadcast(ns), "source")
        .crossJoin(broadcast(meta))
        .select(col("token"), col("source"), col("n_ts"), mi.as("mi"))
        .orderBy(round(col("mi"), 9).desc, col("token"), col("source"))
        .limit(50)
        .select(col("token"), col("source"), col("n_ts"),
          round(col("mi"), 6).as("mi"))
    },
    Some("""WITH meta AS (SELECT count(*) AS nn FROM documents),
           |ns AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
           |dt AS (SELECT source, unnest(list_distinct(string_split(text, ' '))) AS token
           |       FROM documents),
           |nts AS (SELECT token, source, count(*) AS n_ts FROM dt GROUP BY 1, 2),
           |nt AS (SELECT token, CAST(sum(n_ts) AS BIGINT) AS n_t FROM nts GROUP BY token),
           |j AS (SELECT nts.token, nts.source, n_ts, n_t, n_s, nn
           |      FROM nts JOIN nt ON nts.token = nt.token
           |               JOIN ns ON nts.source = ns.source CROSS JOIN meta),
           |m AS (SELECT token, source, n_ts,
           |    (CASE WHEN n_ts > 0 THEN (CAST(n_ts AS DOUBLE) / nn) *
           |       ln(CAST(n_ts AS DOUBLE) * nn / (CAST(n_t AS DOUBLE) * CAST(n_s AS DOUBLE)))
           |     ELSE 0.0 END)
           |    + (CASE WHEN n_t - n_ts > 0 THEN (CAST(n_t - n_ts AS DOUBLE) / nn) *
           |       ln(CAST(n_t - n_ts AS DOUBLE) * nn / (CAST(n_t AS DOUBLE) * CAST(nn - n_s AS DOUBLE)))
           |     ELSE 0.0 END)
           |    + (CASE WHEN n_s - n_ts > 0 THEN (CAST(n_s - n_ts AS DOUBLE) / nn) *
           |       ln(CAST(n_s - n_ts AS DOUBLE) * nn / (CAST(nn - n_t AS DOUBLE) * CAST(n_s AS DOUBLE)))
           |     ELSE 0.0 END)
           |    + (CASE WHEN nn - n_t - n_s + n_ts > 0 THEN (CAST(nn - n_t - n_s + n_ts AS DOUBLE) / nn) *
           |       ln(CAST(nn - n_t - n_s + n_ts AS DOUBLE) * nn / (CAST(nn - n_t AS DOUBLE) * CAST(nn - n_s AS DOUBLE)))
           |     ELSE 0.0 END) AS mi
           |  FROM j)
           |SELECT token, source, n_ts, round(mi, 6) AS mi FROM m
           |ORDER BY round(mi, 9) DESC, token, source LIMIT 50""".stripMargin))

  /** Multinomial Naive Bayes (train + resubstitution score) predicting the
    * document language from its tokens — the classic generatively-trained
    * quality/routing classifier a curation pipeline trains in one pass:
    * log P(c|d) ∝ ln P(c) + Σ_w mult(w,d)·ln((cnt(w,c)+1)/(tot_c+V))
    * (Laplace α = 1). Training is two two-phase aggregates over the token
    * stream (token-class counts, class totals); the V×5 smoothed log-prob
    * table materializes the zero-count cells via one cross join + left
    * join — vocabulary-sized, NOT corpus-sized. Scoring joins per-doc token
    * multiplicities against that table (vocab-keyed equi-join) and reduces
    * per (doc, class) with fine-decimal sums, so the log-likelihood is
    * order-independent; the arg-max is `min(struct(-score, class))` on the
    * 9-dp-rounded score (class-name tie-break — no window, no near-tie
    * FP ambiguity). Output: the 5×5 confusion matrix, integer counts. The
    * oracle replays training and scoring end-to-end (`ln` parity
    * established by [[lmScore]]).
    */
  private lazy val mlNaiveBayes = Q(
    "ml_naive_bayes",
    (s, dir) => {
      // docsSpread (r19): the token explode and the per-doc multiplicity
      // partial aggregate run pre-exchange at scan parallelism — serialized
      // on the local single-file scan (`Probe stages`: 20 stages, 20 tasks)
      val d = docsSpread(s, dir)
      val tok = d.select(col("doc_id"), col("lang"),
        explode(words(col("text"))).as("w")).filter(length(col("w")) > 0)
      // ONE token explode (the r12 langid-trigram stance): class counts
      // derive from the per-doc multiplicity frame — Σ mult ≡ the direct
      // count, exact integers — so dm's exchange serves both the training
      // counts and the scoring join via AQE ReusedExchange instead of the
      // explode running twice
      val dm = tok.groupBy("doc_id", "lang", "w").agg(count(lit(1)).as("mult"))
      val wc = dm.groupBy("lang", "w").agg(sum(col("mult")).as("cnt"))
      val ct = wc.groupBy("lang").agg(sum(col("cnt")).as("tot"))
      val vocab = wc.select("w").distinct()
      val vsize = vocab.agg(count(lit(1)).as("v"))
      val prior = d.groupBy(col("lang").as("cls")).agg(count(lit(1)).as("nd"))
      val ndocs = d.agg(count(lit(1)).as("nn"))
      val lps = vocab.crossJoin(ct)
        .join(wc, Seq("lang", "w"), "left")
        .crossJoin(broadcast(vsize))
        .select(col("w"), col("lang").as("cls"),
          (log(coalesce(col("cnt"), lit(0L)) + 1) -
            log(col("tot") + col("v"))).as("lp"))
      // the log-prob table is vocabulary×classes — broadcast it so the
      // corpus-sized multiplicity frame never shuffles on w (r16, measured:
      // the w-exchange of dm plus the ×classes post-join exchange dominated
      // the query; with the map-side join the only wide exchange left is
      // the partially-aggregated (doc, class) score frame)
      val scored = dm.join(broadcast(lps), "w")
        .groupBy("doc_id", "lang", "cls")
        .agg(dsumFine(col("mult") * col("lp")).as("ll"))
        .join(broadcast(prior), "cls")
        .crossJoin(broadcast(ndocs))
        .select(col("doc_id"), col("lang"), col("cls"),
          round(col("ll") + log(col("nd")) - log(col("nn")), 9).as("score"))
      scored.groupBy("doc_id", "lang")
        .agg(min(struct((-col("score")).as("ns"), col("cls").as("c"))).as("t"))
        .select(col("lang"), col("t").getField("c").as("predicted"))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "predicted")
    },
    Some("""WITH tok AS (SELECT doc_id, lang, w
           |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
           |        FROM documents) WHERE len(w) > 0),
           |wc AS (SELECT lang, w, count(*) AS cnt FROM tok GROUP BY lang, w),
           |ct AS (SELECT lang, sum(cnt) AS tot FROM wc GROUP BY lang),
           |vocab AS (SELECT DISTINCT w FROM wc),
           |vs AS (SELECT count(*) AS v FROM vocab),
           |prior AS (SELECT lang AS cls, count(*) AS nd FROM documents GROUP BY lang),
           |nn AS (SELECT count(*) AS nn FROM documents),
           |lps AS (SELECT vocab.w, ct.lang AS cls,
           |    ln(COALESCE(wc.cnt, 0) + 1) - ln(ct.tot + vs.v) AS lp
           |  FROM vocab CROSS JOIN ct CROSS JOIN vs
           |    LEFT JOIN wc ON wc.lang = ct.lang AND wc.w = vocab.w),
           |dm AS (SELECT doc_id, lang, w, count(*) AS mult
           |       FROM tok GROUP BY doc_id, lang, w),
           |sc AS (SELECT dm.doc_id, dm.lang, f.cls,
           |    round(CAST(SUM(CAST(dm.mult * f.lp AS DECIMAL(38,20))) AS DOUBLE)
           |      + ln(p.nd) - ln(nn.nn), 9) AS score
           |  FROM dm JOIN lps f ON dm.w = f.w
           |    JOIN prior p ON p.cls = f.cls CROSS JOIN nn
           |  GROUP BY dm.doc_id, dm.lang, f.cls, p.nd, nn.nn),
           |pred AS (SELECT lang, cls AS predicted FROM (
           |    SELECT doc_id, lang, cls, row_number() OVER (PARTITION BY doc_id
           |      ORDER BY score DESC, cls) AS rn FROM sc) WHERE rn = 1)
           |SELECT lang, predicted, count(*) AS n_docs
           |FROM pred GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin))
}
