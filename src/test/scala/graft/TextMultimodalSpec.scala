package graft

import graft.operators.{Multimodal, TextAnalysis}
import org.apache.spark.sql.functions._

class TextMultimodalSpec extends SparkSuite {

  test("langId identifies real sentences (the testdata soup can't)") {
    import spark.implicits._
    val samples = Seq(
      ("the quick brown fox jumps over the lazy dog and that is that", "en"),
      ("der hund ist nicht ein katze und das ist gut", "de"),
      ("le chat est sur la table et les enfants sont une famille", "fr"),
      ("el perro es que las casas una para los gatos", "es"),
      ("这是一个中文句子", "zh"))
    val got = samples.toDF("text", "expected")
      .withColumn("guess", TextAnalysis.langId(col("text")))
      .collect()
    got.foreach(r => assert(r.getAs[String]("guess") == r.getAs[String]("expected"),
      s"text='${r.getString(0)}'"))
  }

  test("redactPii scrubs every PII form to its typed sentinel") {
    import spark.implicits._
    val raw = "mail bob.smith+x@corp.example.org or call +44-201-5551 " +
      "from 192.168.0.1 ssn 078-05-1120 end"
    val got = Seq(raw).toDF("text")
      .select(TextAnalysis.redactPii(col("text")).as("r"))
      .collect().head.getString(0)
    assert(got == "mail <email> or call <phone> from <ip> ssn <ssn> end", got)
    // non-PII digits survive the scrub (no over-redaction)
    val plain = Seq("version 2 build 14 of part 9").toDF("text")
      .select(TextAnalysis.redactPii(col("text")).as("r"))
      .collect().head.getString(0)
    assert(plain == "version 2 build 14 of part 9", plain)
  }

  test("repetition signals separate spam from varied text") {
    import spark.implicits._
    val d = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "a b c d e f g h i j k l")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val spam = got(1L)
    assert(spam.getAs[String]("top_bigram") == "spam spam")
    assert(spam.getAs[Double]("top_bigram_frac") == 1.0)
    assert(spam.getAs[Double]("dup_trigram_frac") == 0.75) // 4 trigrams, 1 distinct
    assert(spam.getAs[Int]("n_consec_repeats") == 5)
    assert(!spam.getAs[Boolean]("keep"))
    val varied = got(2L)
    assert(varied.getAs[Double]("dup_trigram_frac") == 0.0)
    assert(varied.getAs[Int]("n_consec_repeats") == 0)
    assert(math.abs(varied.getAs[Double]("top_bigram_frac") - 1.0 / 11) < 1e-6)
    // all-unique bigrams tie: greatest (count, bigram) struct → last bigram
    assert(varied.getAs[String]("top_bigram") == "k l")
    assert(varied.getAs[Boolean]("keep"))
  }

  test("unigram entropy: zero for constant text, ln k for uniform text") {
    import spark.implicits._
    val d = Seq(
      (1L, "same same same same"),            // one symbol → H = 0
      (2L, "a b c d"),                        // uniform over 4 → H = ln 4
      (3L, "a a a b")).toDF("doc_id", "text") // skewed: ln4 − (3·ln3)/4
    val got = TextAnalysis.unigramEntropy(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("entropy")).toMap
    assert(got(1L) == 0.0, got.toString)
    assert(math.abs(got(2L) - math.log(4)) < 1e-6, got.toString)
    val expected3 = math.log(4) - 3 * math.log(3) / 4
    assert(math.abs(got(3L) - expected3) < 1e-6, got.toString)
  }

  test("count-min sketch never undercounts; wide sketch is exact") {
    import spark.implicits._
    val d = Seq((1L, "x x x y y z"), (2L, "x w z z q r s t u v")).toDF("doc_id", "text")
    // 8 distinct words in 2048 cells: collisions vanishingly unlikely →
    // estimates equal exact counts; the ≥ guarantee must hold always
    val wide = TextAnalysis.cmsWordCounts(d).collect()
    assert(wide.nonEmpty)
    wide.foreach { r =>
      assert(r.getAs[Boolean]("never_undercounts"), r.toString)
      assert(r.getAs[Long]("cms_est") == r.getAs[Long]("exact_count"), r.toString)
    }
    // width 1: every word lands in the same bucket per row → every
    // estimate is the total token count (the guarantee still holds)
    val narrow = TextAnalysis.cmsWordCounts(d, depth = 2, width = 1).collect()
    val totalTokens = narrow.map(r => r.getAs[Long]("exact_count")).sum
    narrow.foreach { r =>
      assert(r.getAs[Long]("cms_est") == totalTokens, r.toString)
      assert(r.getAs[Boolean]("never_undercounts"), r.toString)
    }
  }

  test("bpe merges replay the hand-computed training on a crafted corpus") {
    import spark.implicits._
    // word freqs: low×3, lower×2, newest×1.
    // round 1: (l,o)=5 ties (o,w)=5 → left tie-break picks (l,o)
    // round 2: low→[lo,w]×3 + lower→[lo,w,..]×2 gives (lo,w)=5
    // round 3: (low,e)=2 ties (e,r)=2 → 'e' < 'low' picks (e,r)
    val d = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "newest"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(d, rounds = 3).orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, "l", "o", 5L), (2, "lo", "w", 5L), (3, "e", "r", 2L)),
      got.mkString(","))
  }

  test("bpe encode: piece stream reproduces the hand-trained segmentation " +
      "and concatenates back to the source text") {
    import spark.implicits._
    val d = Seq((1L, "low low low"), (2L, "lower lower"), (3L, "newest"))
      .toDF("doc_id", "text")
    // merges learned above: (l,o), (lo,w), (e,r) → "low" fuses to one piece,
    // "lower" to ["low","er"], "newest" stays six characters (no merge hits)
    val got = TextAnalysis.bpeEncode(d, rounds = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got(1L) == (3L, "low  low  low"), got(1L).toString)
    assert(got(2L) == (4L, "low  er  low  er"), got(2L).toString)
    assert(got(3L) == (6L, "n  e  w  e  s  t"), got(3L).toString)
    // lossless: stripping piece/word separators recovers the source chars
    for ((id, (_, enc)) <- got) {
      val src = d.filter(col("doc_id") === id).head().getString(1)
      assert(enc.replace(" ", "") == src.replace(" ", ""))
    }
  }

  test("lm score: common phrasing scores lower NLL than one-off gibberish") {
    import spark.implicits._
    val common = "the cat sat on the mat"
    val docs = (1L to 10L).map(i => (i, common)) :+
      ((99L, "zqx jvw kpl mno qrs tuv"))
    val s = TextAnalysis.lmScore(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s(99L) > s(1L), s"gibberish=${s(99L)} common=${s(1L)}")
  }

  test("sorted-token fingerprint is permutation-invariant, rolling hash is not") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"),
      (3L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val fp = df.select(
      col("doc_id"),
      md5(array_join(sort_array(split(col("text"), " ")), " ")).as("sorted"),
      aggregate(split(col("text"), " "), lit(0L),
        (acc, t) => (acc * 31 + graft.functions.Deterministic.md5Hash32(t)) % 2147483647L)
        .as("rolling"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(fp(1L)._1 == fp(2L)._1) // permutation → same sorted fingerprint
    assert(fp(1L)._1 != fp(3L)._1) // different tokens → different fingerprint
    assert(fp(1L)._2 != fp(2L)._2) // rolling hash is order-sensitive
  }

  test("shingle_explode generator matches posexplode of the array kernel") {
    import org.apache.spark.sql.functions._
    val d = Tables.load(spark, sfDir, "documents").limit(50)
    val viaGenerator = d.select(col("doc_id"),
        graft.functions.TextKernels.shingleExplode(col("text")))
      .select("doc_id", "pos", "g")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val viaArray = d.select(col("doc_id"),
        posexplode(graft.functions.TextKernels.shingleHash64(col("text"))))
      .toDF("doc_id", "pos", "g")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaGenerator == viaArray && viaGenerator.nonEmpty)
    // generator is null-safe: null text contributes zero rows
    import spark.implicits._
    val withNull = Seq((1L, "a b c d"), (2L, null)).toDF("doc_id", "text")
    val rows = withNull.select(col("doc_id"),
      graft.functions.TextKernels.shingleExplode(col("text"))).collect()
    assert(rows.forall(_.getLong(0) == 1L) && rows.length == 2) // 4 words → 2 shingles
  }

  test("real PNG payloads decode to true dimensions and pixel statistics") {
    import spark.implicits._
    // synthesize tiny real PNGs: a solid mid-gray 8×6 and a black/white
    // 4×4 checkerboard, so the expected luminance is known exactly
    def png(w: Int, h: Int, rgbAt: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgbAt(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val gray = png(8, 6, (_, _) => 0x808080)            // every channel 128
    val checker = png(4, 4, (x, y) => if ((x + y) % 2 == 0) 0xffffff else 0x000000)
    val d = Seq((1L, gray), (2L, checker)).toDF("doc_id", "payload")
    val decoded = Multimodal.decodeImages(spark, d).collect().sortBy(_.doc_id)
    assert(decoded(0).width == 8 && decoded(0).height == 6)
    assert(decoded(0).mean_intensity == 128.0)
    assert(decoded(1).width == 4 && decoded(1).height == 4)
    assert(decoded(1).mean_intensity == 127.5) // half white (255), half black
    // resize the checkerboard 4×4 → 2×2: nearest-neighbor keeps pure pixels
    val resized = Multimodal.resizeImages(spark, d, outW = 2, outH = 2)
      .collect().sortBy(_.doc_id)
    assert(resized.forall(r => r.out_width == 2 && r.out_height == 2))
    assert(resized(0).mean_intensity == 128.0) // solid gray survives resample
    assert(resized(1).mean_intensity >= 0 && resized(1).mean_intensity <= 255)
  }

  test("media resize: fixed target shape, deterministic, intensity in range") {
    val d = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val r1 = Multimodal.resizeImages(spark, d).collect().sortBy(_.doc_id)
    val r2 = Multimodal.resizeImages(spark, d).collect().sortBy(_.doc_id)
    assert(r1.length == 500 && r1.toSeq == r2.toSeq)
    r1.foreach { m =>
      assert(m.out_width == 32 && m.out_height == 32)
      assert(m.mean_intensity >= 0 && m.mean_intensity < 256)
    }
  }

  test("aHash: one picture through two encodings collides, a different one doesn't") {
    import spark.implicits._
    def encode(fmt: String, rgbAt: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, rgbAt(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val halves = (x: Int, _: Int) => if (x < 8) 0x000000 else 0xffffff
    val bands = (_: Int, y: Int) => if (y < 8) 0x000000 else 0xffffff
    val d = Seq(
      (1L, encode("png", halves)), (2L, encode("bmp", halves)),
      (3L, encode("png", bands))).toDF("doc_id", "payload")
    val hs = Multimodal.imageHashes(spark, d).collect()
      .map(m => m.doc_id -> m).toMap
    // same pixels, different container → identical perceptual hash
    assert(hs(1L).ahash == hs(2L).ahash, s"${hs(1L)} vs ${hs(2L)}")
    // a genuinely different picture lands elsewhere
    assert(hs(1L).ahash != hs(3L).ahash)
    // exactly the bright half of the 8×8 grid sets bits
    assert(hs(1L).n_set_bits == 32, hs(1L).toString)
  }

  test("frame sampling: 1→N fan-out with stride, deterministic checksums") {
    val d = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val frames = Multimodal.sampleFrames(spark, d).collect()
    val byDoc = frames.groupBy(_.doc_id)
    assert(byDoc.size == 500)
    byDoc.values.foreach { fs =>
      // stride 4: frame indices are 0, 4, 8, …
      assert(fs.map(_.frame_idx).forall(_ % 4 == 0))
      assert(fs.forall(f => f.n_bytes > 0 && f.n_bytes <= 64))
    }
    // fan-out actually happened for long docs
    assert(frames.length > 500, s"expected multi-frame docs, got ${frames.length}")
    val again = Multimodal.sampleFrames(spark, d).collect()
    assert(frames.sortBy(f => (f.doc_id, f.frame_idx)).toSeq ==
      again.sortBy(f => (f.doc_id, f.frame_idx)).toSeq)
  }

  test("animated GIF payloads decode to one pixel-exact row per true frame") {
    import spark.implicits._
    // three solid-primary 5×4 frames: primaries survive GIF palette
    // quantization exactly, so the expected checksums are computable from
    // the ORIGINAL colors alone — a genuine pixel-exactness assertion, not
    // a round-trip through the same decoder
    val colors = Seq(0xFF0000, 0x00FF00, 0x0000FF)
    def frame(rgb: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(5, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 5) img.setRGB(x, y, rgb)
      img
    }
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    colors.foreach(c => writer.writeToSequence(
      new javax.imageio.IIOImage(frame(c), null, null), null))
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    val gif = bos.toByteArray
    def fnvSolid(rgb: Int): Long = {
      var acc = 0xcbf29ce484222325L
      for (_ <- 0 until 5 * 4; b <- Seq((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)) {
        acc ^= b; acc *= 0x100000001b3L
      }
      acc
    }
    val d = Seq((1L, gif)).toDF("doc_id", "payload")
    val rows = Multimodal.sampleFrames(spark, d, stride = 1)
      .collect().sortBy(_.frame_idx)
    assert(rows.length == 3, s"expected 3 true frames, got ${rows.length}")
    rows.zip(colors).zipWithIndex.foreach { case ((r, c), i) =>
      assert(r.frame_idx == i)
      assert(r.n_bytes == 3 * 5 * 4, r.toString)
      assert(r.checksum == fnvSolid(c), s"frame $i not pixel-exact: $r")
    }
    // stride applies to true frames too
    assert(Multimodal.sampleFrames(spark, d, stride = 2).collect().length == 2)
  }

  test("chunking tiles every document: full coverage, stride overlap, content fps") {
    val chunks = Queries.byName("text_chunk").run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .groupBy(_._1)
    val nTokens = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    nTokens.foreach { case (id, n) =>
      val cs = chunks(id).sortBy(_._2)
      // starts advance by the stride from zero; last chunk reaches the end
      assert(cs.head._3 == 0 && cs.map(_._3).toSeq == cs.indices.map(_ * 40))
      assert(cs.last._3 + cs.last._4 == n, s"doc $id tail uncovered")
      // every chunk takes the full window or whatever the doc has left
      cs.foreach { c =>
        assert(c._4 == math.min(50, n - c._3), s"doc $id chunk ${c._2} len ${c._4}")
      }
      // no chunk is contained in its predecessor: ends strictly increase,
      // so every chunk contributes new tokens
      cs.map(c => c._3 + c._4).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(b > a, s"doc $id emits a contained chunk")
        case _ =>
      }
    }
  }

  test("vocab encoding round-trips: ids decode back to the original tokens") {
    val vocab = TextAnalysis.rankedVocab(
      Tables.load(spark, sfDir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq")))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val encoded = TextAnalysis.encode(Tables.load(spark, sfDir, "documents"))
      .select("doc_id", "ids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val texts = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, text) =>
      assert(encoded(id).map(vocab).mkString(" ") == text, s"doc $id mismatch")
    }
  }

  test("pack spans: per-doc spans cover the doc, every non-final bin is exactly full") {
    val spans = Queries.byName("text_pack_spans").run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(4)))
    val nTokens = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    // coverage: each doc's spans sum to its token count
    spans.groupBy(_._1).foreach { case (id, ss) =>
      assert(ss.map(_._4).sum == nTokens(id), s"doc $id spans don't cover it")
    }
    // packing: within a language, every bin except the last holds exactly 2048
    spans.groupBy(_._2).foreach { case (lang, ss) =>
      val perBin = ss.groupBy(_._3).view.mapValues(_.map(_._4).sum).toMap
      val lastBin = perBin.keys.max
      perBin.foreach { case (bin, total) =>
        if (bin != lastBin) assert(total == 2048L, s"$lang bin $bin holds $total")
        else assert(total <= 2048L, s"$lang last bin overfull: $total")
      }
    }
  }

  test("resize fallback is total: empty payloads yield a zero-intensity frame") {
    import spark.implicits._
    val d = Seq((1L, Array.empty[Byte]), (2L, "abc".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val got = Multimodal.resizeImages(spark, d).collect()
      .map(r => r.doc_id -> r.mean_intensity).toMap
    assert(got(1L) == 0.0)
    assert(got(2L) > 0.0)
  }

  test("heavy-hitters sketch is exact while the vocabulary fits its capacity") {
    val got = Queries.byName("text_heavy_hitters").run(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val exact = Queries.byName("text_token_freq").run(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).take(20)
    assert(got.toSeq == exact.toSeq,
      s"sketch=${got.take(5).mkString(",")} exact=${exact.take(5).mkString(",")}")
  }

  test("media decode: deterministic, right batch shape, plausible values") {
    val d = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val r1 = Multimodal.decodeImages(spark, d).collect().sortBy(_.doc_id)
    val r2 = Multimodal.decodeImages(spark, d).collect().sortBy(_.doc_id)
    assert(r1.length == 500)
    assert(r1.toSeq == r2.toSeq)
    r1.foreach { m =>
      assert(m.width >= 16 && m.width < 256)
      assert(m.height >= 16 && m.height < 256)
      assert(m.n_channels == 3)
      assert(m.mean_intensity > 0 && m.mean_intensity < 256)
    }
  }
}
