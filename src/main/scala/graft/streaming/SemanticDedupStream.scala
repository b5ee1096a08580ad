package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.VectorKernels

/** Streaming SEMANTIC near-dup suppression (SURVEY.md §2.12 D3/D4 under
  * §2.10 semantics) — the arrival-time twin of the batch SemDeDup path
  * (`dedup_semantic_clusters_scaled`): each arriving embedding is admitted
  * or suppressed against the recently-seen corpus, deciding AT INGEST
  * whether a vector adds information — the dedup a training-data firehose
  * runs before paying storage/tokenization for near-copies.
  *
  * Shape: the 64 seed-42 sign bits (ONE [[VectorKernels.abuckets]] kernel
  * call at the fixed 4×16 width — the `sim_hamming_topk` signature) give a
  * 16-bit BLOCKING key (band 0's bucket) and a 64-bit sketch; state lives
  * per bucket in the state store (the same hash-partitioned layout a
  * groupBy would use, no driver state) as the bucket's recently-admitted
  * (id, expiry, sketch) entries, and an arrival is suppressed when any
  * in-state sketch is within [[HammingMax]] bits (ties broken by smallest
  * admitted id). Suppressions reference the admitted original, so the
  * output is also the streaming edge list of the near-dup graph.
  *
  * Bounded state, the §2.10 contract: entries expire `ttlMs` after their
  * event time — enforced against each ARRIVING row's event time during
  * matching (so the decision function is watermark-independent and
  * batch-replayable: the `dedup_semantic_stream_replay` oracle row) — and
  * are additionally pruned against the moving watermark on every group
  * invocation; an event-time timeout clears a bucket whose entries have
  * all expired, so dead buckets leave the store. Recall matches ONE LSH
  * band (the blocking key) times the Hamming test — the batch ladder's
  * measured single-band regime. [[suppressOr]] is the OR-construction
  * deployment (r19): the same fold keyed per (band, bucket) — 4 keys per
  * arrival — with the verdicts OR-combined, trading 4× key/state traffic
  * for the 4-band collision bound (measured 0.744 → 0.95+ suppression
  * recall on the 200 k clone corpus, SURVEY §6).
  */
object SemanticDedupStream {

  /** Signature row: the blocking bucket `b0` IS word `s0` (band 0). */
  final case class SigRow(vec_id: Long, ts: Timestamp,
                          s0: Long, s1: Long, s2: Long, s3: Long)

  /** One admitted entry retained in a bucket's state. */
  final case class Entry(vec_id: Long, expiryMs: Long,
                         s0: Long, s1: Long, s2: Long, s3: Long)

  final case class BucketState(entries: List[Entry])

  /** Admit/suppress decision for one arrival (is_dup=false ⇒ admitted;
    * dup_of/hamming are −1 sentinels on admits).
    */
  final case class Decision(vec_id: Long, is_dup: Boolean,
                            dup_of: Long, hamming: Int)

  /** ≤ this many differing sign bits (of 64) counts as a near-duplicate —
    * sign-agreement 58/64 ≈ cosine ≥ ~0.96 under the hyperplane bound.
    */
  val HammingMax = 6

  private def hamming(e: Entry, r: SigRow): Int =
    java.lang.Long.bitCount(e.s0 ^ r.s0) + java.lang.Long.bitCount(e.s1 ^ r.s1) +
      java.lang.Long.bitCount(e.s2 ^ r.s2) + java.lang.Long.bitCount(e.s3 ^ r.s3)

  /** Project (vec_id, ts, embedding) to signature rows — the kernel runs
    * map-side; no shuffle until the keyed state stage.
    */
  def signatures(vecs: DataFrame): Dataset[SigRow] = {
    val s = vecs.sparkSession
    import s.implicits._
    vecs.select(col("vec_id"), col("ts"),
        VectorKernels.abuckets(col("embedding"), lit(16L), 4, 16).as("sig"))
      .select(col("vec_id"), col("ts"), col("sig").getItem(0).as("s0"),
        col("sig").getItem(1).as("s1"), col("sig").getItem(2).as("s2"),
        col("sig").getItem(3).as("s3"))
      .as[SigRow]
  }

  /** Suppress near-dups over a (possibly streaming) signature Dataset.
    * Streaming: pair with `withWatermark("ts", …)` upstream; `streaming =
    * false` runs the same function in one batch pass (no timeouts fire —
    * the StatefulSessions convention).
    */
  def suppress(rows: Dataset[SigRow], ttlMs: Long = 10 * 60 * 1000L,
               streaming: Boolean = true): Dataset[Decision] = {
    val s = rows.sparkSession
    import s.implicits._
    rows.groupByKey(_.s0)
      .flatMapGroupsWithState[BucketState, Decision](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        processBucket(ttlMs, streaming))
  }

  /** Fold a bucket's arrivals (event-time then id order — deterministic
    * under replay) into its state, emitting one decision per arrival.
    */
  def processBucket(ttlMs: Long, streaming: Boolean)(
      bucket: Long, rows: Iterator[SigRow],
      state: GroupState[BucketState]): Iterator[Decision] = {
    val wm = if (streaming) state.getCurrentWatermarkMs() else Long.MinValue
    var entries = state.getOption.map(_.entries).getOrElse(Nil)
      .filter(_.expiryMs > wm)
    if (!rows.hasNext) {
      // invoked by timeout: everything live re-arms, else the bucket dies
      if (entries.isEmpty) state.remove()
      else { state.update(BucketState(entries)); arm(state, entries, streaming) }
      return Iterator.empty
    }
    val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.vec_id))
    val out = sorted.map { r =>
      // event-time TTL (r16 ADVICE): an entry expires ttlMs after ITS
      // event time regardless of watermark lag — prune against the
      // arriving row's event time so an entry older than ttl never
      // suppresses a later arrival (batch mode, where wm = MinValue, and
      // micro-batches spanning > ttlMs both hit this). Rows are ts-sorted,
      // so the prune is monotone within the invocation.
      entries = entries.filter(_.expiryMs > r.ts.getTime)
      val near = entries.filter(e => hamming(e, r) <= HammingMax)
      if (near.nonEmpty) {
        val best = near.minBy(e => (hamming(e, r), e.vec_id))
        Decision(r.vec_id, is_dup = true, best.vec_id, hamming(best, r))
      } else {
        entries ::= Entry(r.vec_id, r.ts.getTime + ttlMs, r.s0, r.s1, r.s2, r.s3)
        Decision(r.vec_id, is_dup = false, -1L, -1)
      }
    }
    if (entries.isEmpty) state.remove()
    else { state.update(BucketState(entries)); arm(state, entries, streaming) }
    out.iterator
  }

  /** Event-time timeout at the bucket's latest expiry (must sit past the
    * current watermark; clamp for late restarts).
    */
  private def arm(state: GroupState[BucketState], entries: List[Entry],
                  streaming: Boolean): Unit =
    if (streaming) {
      val at = math.max(entries.map(_.expiryMs).max,
        state.getCurrentWatermarkMs() + 1)
      state.setTimeoutTimestamp(at)
    }

  // ------------------------------------------------------------------
  // 4-band-OR keying (r18 verdict item 1): the deployment convention the
  // single-band doc promised, as an actual operator.
  // ------------------------------------------------------------------

  /** One arrival exploded to one of its 4 band-keyed rows: `band`'s
    * blocking bucket is word s_band (the 4×16 geometry's band buckets ARE
    * the sketch words), the full sketch rides along for the Hamming test.
    */
  final case class BandSigRow(vec_id: Long, ts: Timestamp, band: Int,
                              bucket: Long, s0: Long, s1: Long, s2: Long,
                              s3: Long)

  /** One band's admit/suppress verdict for one arrival (`ts` rides along
    * so a streaming deployment can watermark the combine stage).
    */
  final case class BandDecision(vec_id: Long, ts: Timestamp, band: Int,
                                is_dup: Boolean, dup_of: Long, hamming: Int)

  /** Explode signatures to their 4 band-keyed rows — map-side, no shuffle
    * until the keyed state stage (4× the single-band key traffic, the
    * whole cost of OR-keying; state volume is also ~4× since each admitted
    * arrival parks in each band's bucket).
    */
  def bandSignatures(rows: Dataset[SigRow]): Dataset[BandSigRow] = {
    val s = rows.sparkSession
    import s.implicits._
    rows.flatMap { r =>
      val words = Array(r.s0, r.s1, r.s2, r.s3)
      (0 until 4).map(b =>
        BandSigRow(r.vec_id, r.ts, b, words(b), r.s0, r.s1, r.s2, r.s3))
    }
  }

  /** The per-band suppression fold: the SAME decision function as
    * [[suppress]] — event-time-then-id arrival order, event-time TTL,
    * minBy (hamming, vec_id) tie-break, admit-on-miss insertion — keyed by
    * (band, bucket) instead of bucket-0 alone. Band 0's slice is
    * decision-identical to [[suppress]] by construction (same key space,
    * same fold). INSERTION IS LOCAL: an arrival that misses in band b
    * parks in band b's state even when another band catches it, so a
    * suppressed arrival remains a suppression witness in the bands that
    * missed it — the only insertion rule a one-pass keyed fold can apply
    * (global admission isn't known inside one band's group), and recall
    * under the any-predecessor contract only gains from the extra
    * witnesses. dup_of therefore points at a near entry that may itself be
    * suppressed elsewhere; the survivor SET (is_dup = false after the OR)
    * is unambiguous, and edges chain to an admitted root transitively.
    */
  def suppressPerBand(rows: Dataset[BandSigRow], ttlMs: Long = 10 * 60 * 1000L,
                      streaming: Boolean = true): Dataset[BandDecision] = {
    val s = rows.sparkSession
    import s.implicits._
    rows.groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState[BucketState, BandDecision](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        processBandBucket(ttlMs, streaming))
  }

  /** [[processBucket]] generalized to the (band, bucket) key. */
  def processBandBucket(ttlMs: Long, streaming: Boolean)(
      key: (Int, Long), rows: Iterator[BandSigRow],
      state: GroupState[BucketState]): Iterator[BandDecision] = {
    val wm = if (streaming) state.getCurrentWatermarkMs() else Long.MinValue
    var entries = state.getOption.map(_.entries).getOrElse(Nil)
      .filter(_.expiryMs > wm)
    if (!rows.hasNext) {
      if (entries.isEmpty) state.remove()
      else { state.update(BucketState(entries)); arm(state, entries, streaming) }
      return Iterator.empty
    }
    val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.vec_id))
    def ham(e: Entry, r: BandSigRow): Int =
      java.lang.Long.bitCount(e.s0 ^ r.s0) + java.lang.Long.bitCount(e.s1 ^ r.s1) +
        java.lang.Long.bitCount(e.s2 ^ r.s2) + java.lang.Long.bitCount(e.s3 ^ r.s3)
    val out = sorted.map { r =>
      entries = entries.filter(_.expiryMs > r.ts.getTime)
      val near = entries.filter(e => ham(e, r) <= HammingMax)
      if (near.nonEmpty) {
        val best = near.minBy(e => (ham(e, r), e.vec_id))
        BandDecision(r.vec_id, r.ts, key._1, is_dup = true, best.vec_id,
          ham(best, r))
      } else {
        entries ::= Entry(r.vec_id, r.ts.getTime + ttlMs, r.s0, r.s1, r.s2, r.s3)
        BandDecision(r.vec_id, r.ts, key._1, is_dup = false, -1L, -1)
      }
    }
    if (entries.isEmpty) state.remove()
    else { state.update(BucketState(entries)); arm(state, entries, streaming) }
    out.iterator
  }

  /** OR-combine the 4 per-band verdicts into one [[Decision]]-shaped row
    * per arrival: suppressed if ANY band suppressed, the referenced
    * original the (hamming, dup_of)-min over the hitting bands — a total,
    * replayable tie-break. Plain aggregation: batch callers use it
    * directly; a streaming deployment runs it windowed-by-`ts` under a
    * watermark downstream of [[suppressPerBand]] (each arrival's 4
    * verdicts carry one event time, so any window groups them intact).
    */
  def combineBandDecisions(dec: DataFrame): DataFrame =
    dec.groupBy(col("vec_id"))
      .agg(max(col("is_dup")).as("is_dup"),
        min(when(col("is_dup"), struct(col("hamming"), col("dup_of")))).as("b"))
      .select(col("vec_id"), col("is_dup"),
        coalesce(col("b.dup_of"), lit(-1L)).as("dup_of"),
        coalesce(col("b.hamming"), lit(-1)).as("hamming"))

  /** Batch entry point for the OR-keyed suppressor (the declared
    * `dedup_semantic_stream_or` row's machinery): explode → per-band fold
    * → OR-combine. Measured on the 200 k/100-rep clone corpus the OR
    * keying lifts suppression recall 0.744 → ≥0.95 of the in-contract
    * pairs (SemStreamProbe, SURVEY §6 r19) — the single band-0 key was
    * ceiling-bound at its 0.778 collision probability; four independent
    * 16-bit keys bound the miss at the 4-band OR collision bound (0.984
    * measured on the same corpus).
    */
  def suppressOr(rows: Dataset[SigRow], ttlMs: Long = 10 * 60 * 1000L,
                 streaming: Boolean = false): DataFrame =
    combineBandDecisions(
      suppressPerBand(bandSignatures(rows), ttlMs, streaming).toDF())
}
