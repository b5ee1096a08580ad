package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Analysis-time input validation (Spark 4 hides `ExpectsInputTypes` from
  * external expressions — same pattern as
  * [[graft.functions.VecTypeCheck]]): these are SQL-exposed, so a
  * wrong-typed call must fail analysis, not read garbage.
  */
private[functions] object TextTypeCheck {
  def expect(ok: Boolean, fn: String, want: String,
             got: DataType): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn expects $want, got ${got.catalogString}")
}

/** Custom Catalyst expressions for the text-dedup hot path.
  *
  * The higher-order-function formulation (`transform` + `xxhash64` +
  * `element_at` lambdas) evaluates one interpreted expression tree per
  * ELEMENT — profiled at ~4s just to shingle 5k docs at sf0.1. These kernels
  * do the same work in one compiled Scala loop per ROW (CodegenFallback:
  * a single virtual eval call per row; everything inside is JIT-compiled).
  *
  * Hash values are engine-internal (band buckets, join keys, signatures) —
  * never oracle-compared — so the exact hash family is free to choose:
  * FNV-1a 64 over UTF-8 bytes per word, polynomial combine across a
  * shingle, splitmix64 re-mix per MinHash permutation.
  */
object TextHash {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  /** FNV-1a 64 over the UTF-8 bytes of a word. */
  def fnv(word: UTF8String): Long = {
    val bytes = word.getBytes
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= FnvPrime; i += 1 }
    h
  }

  /** splitmix64 finalizer — decorrelates MinHash permutations. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Sorted distinct n-word shingle hashes of a whitespace-tokenized text. */
  def shingleHashes(text: UTF8String, n: Int): Array[Long] = {
    val words = text.split(UTF8String.fromString(" "), -1)
    if (words.length < n) return Array(fnv(text))
    val wh = new Array[Long](words.length)
    var i = 0
    while (i < words.length) { wh(i) = fnv(words(i)); i += 1 }
    val out = new Array[Long](words.length - n + 1)
    i = 0
    while (i <= words.length - n) {
      var h = FnvOffset
      var j = 0
      while (j < n) { h = h * 31 + wh(i + j); j += 1 }
      out(i) = h
      i += 1
    }
    java.util.Arrays.sort(out)
    var w = 1
    i = 1
    while (i < out.length) {
      if (out(i) != out(i - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, w)
  }

  /** Banded MinHash over a shingle-hash set: `bands` keys, each combining
    * `numPerm / bands` permutation minima.
    */
  def minhashBands(sh: Array[Long], numPerm: Int, bands: Int): Array[Long] = {
    val rows = numPerm / bands
    val sig = new Array[Long](numPerm)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      val h = sh(i)
      var p = 0
      while (p < numPerm) {
        val v = mix(h ^ (p * 0x9e3779b97f4a7c15L))
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = FnvOffset
      var j = 0
      while (j < rows) { h = h * 31 + sig(b * rows + j); j += 1 }
      out(b) = h
      b += 1
    }
    out
  }

  /** Count-weighted 64-bit SimHash over whitespace tokens (bag-of-words —
    * permutation invariant by construction).
    */
  def simhash(text: UTF8String): Long = {
    val words = text.split(UTF8String.fromString(" "), -1)
    val counts = new java.util.HashMap[Long, Int](words.length * 2)
    var i = 0
    while (i < words.length) {
      val h = fnv(words(i))
      counts.put(h, counts.getOrDefault(h, 0) + 1)
      i += 1
    }
    val votes = new Array[Long](64)
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h = e.getKey
      val c = e.getValue.toLong
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += c else votes(b) -= c
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }
}

/** `shingle_hash64(text)` → sorted distinct array<long> of 3-word shingle
  * hashes. See /root/reference/glue_job_script.py for the reference's (absent)
  * text surface — this is [EXT] SURVEY.md §2.12 D3 machinery.
  */
case class ShingleHash64(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash64"
  override def checkInputDataTypes(): TypeCheckResult =
    TextTypeCheck.expect(child.dataType == StringType, prettyName,
      "string", child.dataType)
  override def nullSafeEval(t: Any): Any =
    new GenericArrayData(TextHash.shingleHashes(t.asInstanceOf[UTF8String], n))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhash_bands(shingle_hashes, numPerm, bands)` → array<long> of `bands`
  * band-bucket keys: permutation i's signature is min over the shingle set of
  * splitmix64-mixed hashes; each band key combines `numPerm/bands`
  * consecutive signatures polynomially. Two docs collide in a band iff all
  * that band's signatures agree — the standard LSH banding construction.
  */
case class MinHashBands(child: Expression, numPerm: Int, bands: Int)
    extends UnaryExpression with CodegenFallback {
  private val rows = numPerm / bands
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"
  override def checkInputDataTypes(): TypeCheckResult =
    TextTypeCheck.expect(child.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }, prettyName, "array<bigint>", child.dataType)

  override def nullSafeEval(a: Any): Any =
    new GenericArrayData(
      TextHash.minhashBands(a.asInstanceOf[ArrayData].toLongArray(), numPerm, bands))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `simhash64(text)` → 64-bit SimHash over count-weighted whitespace tokens:
  * bit k of the signature is set iff the sum over distinct tokens of
  * (count × ±1 depending on bit k of the token hash) is positive. Entirely
  * per-row — replaces an explode + two groupBy shuffles.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes(): TypeCheckResult =
    TextTypeCheck.expect(child.dataType == StringType, prettyName,
      "string", child.dataType)

  override def nullSafeEval(t: Any): Any =
    TextHash.simhash(t.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `shingle_explode(text)` → rows of (pos, g): a TRUE table function (custom
  * Catalyst `Generator`, the UDTF leg of §2.11) streaming the sorted
  * distinct shingle hashes of a document straight into the `Generate`
  * operator — the fused form of `posexplode(shingle_hash64(text))` without
  * materializing the intermediate array per row.
  */
case class ShingleExplode(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with CodegenFallback {

  override def elementSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("g", LongType, nullable = false)))
  override def prettyName: String = "shingle_explode"
  override def checkInputDataTypes(): TypeCheckResult =
    TextTypeCheck.expect(child.dataType == StringType, prettyName,
      "string", child.dataType)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) Iterator.empty
    else {
      val hashes = TextHash.shingleHashes(t.asInstanceOf[UTF8String], n)
      new Iterator[InternalRow] {
        private var i = 0
        override def hasNext: Boolean = i < hashes.length
        override def next(): InternalRow = {
          val r = InternalRow(i, hashes(i)); i += 1; r
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `pair_explode(g, ds, cap)` → rows (doc_a, doc_b, n_a, n_b): ONE pass over
  * an inverted-index posting list `ds: array<struct<doc_id: long, n: int>>`
  * that emits both df-cap regimes so the (expensive, index-sized) input
  * never needs a second scan:
  *
  *  - sub-cap list (2 ≤ df ≤ cap): every unordered doc pair, id-ordered
  *    (`doc_a < doc_b`, `n_b ≥ 1`) — the candidate-join feed;
  *  - hot list (df > cap): one MEMBERSHIP row per posting, tagged
  *    `n_b = -1`, with `doc_a` = member doc id and `doc_b` = the shingle
  *    hash `g` — the exact-correction feed (`hotA ∩ hotB`).
  *
  * Downstream splits the two regimes on the `n_b` sign. A true `Generator`
  * for the same reason as [[ShingleExplode]]: the higher-order-function
  * formulation dispatches an interpreted lambda per PAIR, this is one
  * compiled loop per LIST streaming straight into `Generate`.
  */
case class PairExplode(g: Expression, ds: Expression, cap: Int)
    extends org.apache.spark.sql.catalyst.expressions.Expression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with CodegenFallback {

  override def children: Seq[Expression] = Seq(g, ds)

  override def elementSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_a", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("doc_b", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_a",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_b",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
  override def prettyName: String = "pair_explode"
  override def checkInputDataTypes(): TypeCheckResult = {
    val dsOk = ds.dataType match {
      case ArrayType(s: org.apache.spark.sql.types.StructType, _)
        if s.length == 2 && s(0).dataType == LongType &&
          s(1).dataType == org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    TextTypeCheck.expect(g.dataType == LongType && dsOk, prettyName,
      "(bigint, array<struct<bigint,int>>)",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("g", g.dataType),
        org.apache.spark.sql.types.StructField("ds", ds.dataType))))
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = ds.eval(input)
    if (arr == null) Iterator.empty
    else {
      val a = arr.asInstanceOf[ArrayData]
      val k0 = a.numElements()
      if (k0 < 2) Iterator.empty
      else {
        val raw = new Array[Long](k0)
        val rawNs = new Array[Int](k0)
        var i = 0
        while (i < k0) {
          val r = a.getStruct(i, 2)
          raw(i) = r.getLong(0)
          rawNs(i) = r.getInt(1)
          i += 1
        }
        // Sort by doc_id and compact duplicates (keep-first). collect_list
        // gives no ordering guarantee, so a doc_id repeated in the posting
        // list (un-deduped input) can land non-adjacently; each doc must
        // contribute exactly ONE pair endpoint / membership — the DISTINCT
        // the pre-Generator join formulation got from its index build.
        // Dedup before the cap test, so duplicate inflation can't misroute
        // a genuinely sub-cap list down the hot-membership path. Sorting
        // also fixes doc_a < doc_b by construction.
        val order = Array.range(0, k0)
        PairExplode.sortIndicesByKey(order, raw)
        val ids = new Array[Long](k0)
        val ns = new Array[Int](k0)
        var k = 0
        i = 0
        while (i < k0) {
          val j = order(i)
          if (k == 0 || ids(k - 1) != raw(j)) { ids(k) = raw(j); ns(k) = rawNs(j); k += 1 }
          i += 1
        }
        if (k < 2) Iterator.empty
        else if (k > cap) {
          // hot posting list: memberships only, never the O(df²) pairs.
          // A null group key can't produce a usable membership row (doc_b
          // carries the key); internal callers never pass null, so direct
          // SQL misuse degrades to "no rows" rather than an executor NPE.
          val gRaw = g.eval(input)
          if (gRaw == null) return Iterator.empty
          val gv = gRaw.asInstanceOf[Long]
          val kk = k
          new Iterator[InternalRow] {
            private var m = 0
            override def hasNext: Boolean = m < kk
            override def next(): InternalRow = {
              val r = InternalRow(ids(m), gv, ns(m), -1); m += 1; r
            }
          }
        } else {
          val kk = k
          new Iterator[InternalRow] {
            private var x = 0
            private var y = 1
            override def hasNext: Boolean = x < kk - 1
            override def next(): InternalRow = {
              val r = InternalRow(ids(x), ids(y), ns(x), ns(y))
              y += 1
              if (y == kk) { x += 1; y = x + 1 }
              r
            }
          }
        }
      }
    }
  }

  override def nullable: Boolean = false
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(g = newChildren(0), ds = newChildren(1))
}

object PairExplode {
  /** Stable sort of `order` by `raw(i)` with no boxing: a
    * `scala.util.Sorting.stableSort` with an `(Int, Int) => Boolean`
    * comparator boxes every comparison, and this runs once per posting
    * list in the generator's hot loop — over-cap lists are exactly the
    * large ones. Plain top-down merge sort; ties keep left-first order,
    * which is what preserves the first-occurrence `n` for duplicate ids.
    */
  private[functions] def sortIndicesByKey(order: Array[Int], raw: Array[Long]): Unit = {
    val n = order.length
    val buf = new Array[Int](n)
    def merge(lo: Int, mid: Int, hi: Int): Unit = {
      System.arraycopy(order, lo, buf, lo, hi - lo)
      var i = lo; var j = mid; var k = lo
      while (i < mid && j < hi) {
        if (raw(buf(j)) < raw(buf(i))) { order(k) = buf(j); j += 1 }
        else { order(k) = buf(i); i += 1 }
        k += 1
      }
      while (i < mid) { order(k) = buf(i); i += 1; k += 1 }
      while (j < hi) { order(k) = buf(j); j += 1; k += 1 }
    }
    def sortRange(lo: Int, hi: Int): Unit =
      if (hi - lo > 1) {
        val mid = (lo + hi) >>> 1
        sortRange(lo, mid); sortRange(mid, hi); merge(lo, mid, hi)
      }
    sortRange(0, n)
  }
}

/** Packed char-trigram keys (r20, the r19 "not yet optimized" item 3).
  *
  * `codes("abcd")` = [pack(a,b,c), pack(b,c,d)] with
  * pack(c1,c2,c3) = c1·2^42 + c2·2^21 + c3 over Unicode CODE POINTS —
  * exactly the trigrams `transform(sequence(1, length−2),
  * i => substr(text, i, 3))` enumerates (Spark's `length`/`substr` count
  * code points; UTF-8 has no surrogates, so a 4-byte sequence is one code
  * point on both paths). The packing is a bijection into [0, 2^63): every
  * code point is < 0x110000 < 2^21, so three fit a non-negative long —
  * trigram EQUALITY is preserved exactly, and so is ORDER: UTF-8 byte
  * order (Spark string comparison) equals code-point order, and for
  * fixed-length-3 sequences lexicographic code-point order equals numeric
  * order of the packed key. Any aggregation, join, or (cnt desc, g asc)
  * tie-break over the packed keys is therefore value-identical to the same
  * plan over the trigram strings, as long as the key never reaches the
  * output (langid's does not — it emits only language names and counts).
  *
  * Why: the string formulation allocates one UTF8String per trigram
  * (~1 per character), re-scans the text from offset 0 on every `substr`
  * call (O(n²) per document), and keys TWO corpus-scale hash aggregates
  * and an exchange on 3-char strings; the packed key is one O(n) pass per
  * document and narrows the agg hash tables and the shuffle to fixed-width
  * longs. Profiled 11 s of task time over 1.5 M string-keyed rows at
  * sf0.1 (r19).
  */
object TrigramPack {
  def codes(s: UTF8String): ArrayData = {
    val str = s.toString
    val len = str.length
    val n = str.codePointCount(0, len)
    if (n < 3) return new GenericArrayData(Array.emptyLongArray)
    val cps = new Array[Int](n)
    var i = 0
    var k = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      cps(k) = cp
      k += 1
      i += Character.charCount(cp)
    }
    val out = new Array[Long](n - 2)
    var j = 0
    while (j < n - 2) {
      out(j) = (cps(j).toLong << 42) | (cps(j + 1).toLong << 21) | cps(j + 2).toLong
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Column form of [[TrigramPack.codes]]: array<bigint> of the text's packed
  * trigram keys in document order (empty below 3 code points). Codegen is a
  * single static call per row — the per-trigram loop is compiled Scala, not
  * an interpreted lambda per element.
  */
case class TrigramCodes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "trigram_codes"
  override def checkInputDataTypes(): TypeCheckResult =
    TextTypeCheck.expect(child.dataType == StringType, prettyName,
      "string", child.dataType)

  override def nullSafeEval(a: Any): Any =
    TrigramPack.codes(a.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TrigramPack.codes($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level API for the text kernels (built from [[Kernel]]). */
object TextKernels {
  def shingleHash64(text: Column): Column = Kernel.shingleHash64(text)
  def minhashBands(sh: Column): Column = Kernel.minhashBands(sh)
  def simhash64(text: Column): Column = Kernel.simhash64(text)
  def shingleExplode(text: Column): Column = Kernel.shingleExplode(text)
  def trigramCodes(text: Column): Column = Kernel.trigramCodes(text)
  def pairExplode(g: Column, ds: Column, cap: Int): Column =
    Kernel.pairExplode(g, ds, org.apache.spark.sql.functions.lit(cap))
}
