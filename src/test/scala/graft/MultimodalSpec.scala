package graft

import org.apache.spark.sql.functions._

/** The pluggable decode boundary: a real codec-backed detector /
  * transcoder is a config swap away (class name in
  * spark.graft.media.*), and the default surrogate binding keeps the
  * oracle-tested behavior. */
class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  test("detector binding is swappable via spark.graft.media.detector") {
    val key = multimodal.Multimodal.DetectorConfKey
    spark.conf.set(key, classOf[FixedDetector].getName)
    try {
      val out = multimodal.Multimodal.udfInference(spark, sf)
      // the fixed impl emits exactly one sentinel detection per frame
      assert(out.groupBy("frame_id").count()
        .filter(col("count") =!= 1).count() == 0)
      assert(out.select("cls").distinct().as[Long].collect().toSeq == Seq(999L))
    } finally spark.conf.unset(key)
    // default binding restored: surrogate emits 1-3 detections and
    // never class 999
    val dflt = multimodal.Multimodal.udfInference(spark, sf)
    assert(dflt.filter(col("cls") === 999).count() == 0)
    assert(dflt.groupBy("frame_id").count()
      .filter(col("count") > 1).count() > 0)
  }

  test("transcoder binding is swappable via spark.graft.media.transcoder") {
    val key = multimodal.Multimodal.TranscoderConfKey
    spark.conf.set(key, classOf[UpperTagTranscoder].getName)
    try {
      val out = multimodal.Multimodal.udfTranscode(spark, sf)
      assert(out.filter(!col("transcoded").startsWith("WEBM:")).count() == 0)
    } finally spark.conf.unset(key)
    val dflt = multimodal.Multimodal.udfTranscode(spark, sf)
    assert(dflt.filter(!col("transcoded").startsWith("mp4:")).count() == 0)
  }
  test("L5d caption alignment: every even/odd pair scored once, flag matches threshold") {
    import spark.implicits._
    val out = multimodal.Multimodal.mmCaptionAlign(spark, sf).cache()
    val n = Tables.embeddings(spark, sf).count()
    assert(out.count() == n / 2)
    assert(out.select("pair_id").distinct().count() == n / 2)
    // cosine of same-space embeddings stays in [-1, 1] (round 4)
    assert(out.filter(col("cos") < -1.0001 || col("cos") > 1.0001).count() == 0)
    // kept is exactly the threshold predicate over the rounded score
    assert(out.filter(
      (col("cos") >= 0.25).cast("int") =!= col("kept")).count() == 0)
    // threshold actually separates at this sf: both classes non-empty
    assert(out.filter(col("kept") === 1).count() > 0)
    assert(out.filter(col("kept") === 0).count() > 0)
    out.unpersist()
  }

  test("L5f phash dedup: identical payloads at hamming 0, one-pixel " +
    "perturbation within threshold, unrelated payloads not candidates") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val docs = Seq(
      (1L, base),
      (2L, base),                          // exact payload dup
      (3L, base.dropRight(1) + "Z"),       // tail perturbation
      (4L, "completely different content with other words entirely " * 5))
      .toDF("doc_id", "text")
    val got = multimodal.Multimodal.mmPhashDedupOn(docs)
      .as[(Long, Long, Long)].collect().toSeq
    val asMap = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(asMap((1L, 2L)) == 0L, s"identical payloads must hash equal: $got")
    // the perturbed copy shares at least one band and lands within the
    // hamming threshold
    assert(asMap.contains((1L, 3L)) && asMap((1L, 3L)) <= 8L, got.toString)
    // nothing pairs the unrelated doc
    assert(!got.exists(r => r._1 == 4L || r._2 == 4L), got.toString)
    // corpus run: pairs are ordered, hamming bounded by the threshold
    val corpus = multimodal.Multimodal.mmPhashDedup(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(corpus.forall(r => r._1 < r._2 && r._3 >= 0 && r._3 <= 8))
  }

  test("L5d scene cuts: segments tile each video, boundaries and interiors obey the threshold") {
    import spark.implicits._
    def luma(doc: Long, f: Long): Long =
      ((doc * 7919 + (f / 8) * 104729) % 1000000007L) % 256
    val out = multimodal.Multimodal.mmSceneCuts(spark, sf)
      .select("doc_id", "seg", "start_frame", "end_frame", "n_frames")
      .as[(Long, Long, Int, Int, Long)].collect()
    val expected = Tables.documents(spark, sf)
      .select(col("doc_id"), (length(col("text")) % 50 + 10).as("nf"))
      .as[(Long, Int)].collect().toMap
    out.groupBy(_._1).foreach { case (doc, segs) =>
      val s = segs.sortBy(_._2)
      // contiguous tiling of [0, n_frames)
      assert(s.head._3 == 0 && s.last._4 == expected(doc) - 1)
      assert(s.sliding(2).forall {
        case Array(a, b) => b._3 == a._4 + 1; case _ => true })
      assert(s.map(_._5).sum == expected(doc))
      // independently recomputed luma: every boundary jumps > 25,
      // every within-segment neighbor stays <= 25
      s.foreach { case (_, _, st, en, _) =>
        if (st > 0)
          assert(math.abs(luma(doc, st) - luma(doc, st - 1)) > 25)
        (st + 1 to en).foreach { f =>
          assert(math.abs(luma(doc, f) - luma(doc, f - 1)) <= 25)
        }
      }
    }
  }

  test("L5h audio VAD: segments replay the hangover merge exactly; " +
    "every survivor meets the min-duration floor with bridges <= max gap") {
    import spark.implicits._
    def energy(doc: Long, f: Long): Long =
      ((doc * 104729 + (f / 4) * 7919) % 1000000007L) % 100
    val out = multimodal.Multimodal.mmAudioVad(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val nf = Tables.documents(spark, sf)
      .select(col("doc_id"),
        (length(col("text")) % 80 + 20).cast("long").as("nf"))
      .as[(Long, Long)].collect().toMap
    // independent imperative replay: threshold filter, break on a
    // silence run longer than the hangover, drop short segments;
    // seg ids count RAW segments (dropped ones keep their slot)
    val expected = nf.toSeq.flatMap { case (doc, n) =>
      val speech = (0L until n).filter(energy(doc, _) >= 40)
      if (speech.isEmpty) Seq.empty
      else {
        val segs = scala.collection.mutable.ArrayBuffer(
          scala.collection.mutable.ArrayBuffer(speech.head))
        speech.sliding(2).foreach {
          case Seq(a, b) =>
            if (b - a > 3) segs += scala.collection.mutable.ArrayBuffer(b)
            else segs.last += b
          case _ => ()
        }
        segs.zipWithIndex.collect { case (fs, i) if fs.length >= 3 =>
          (doc, i.toLong, fs.head, fs.last, fs.length.toLong,
            fs.last - fs.head + 1 - fs.length)
        }
      }
    }.toSet
    assert(out.nonEmpty && out.toSet == expected)
    // survivors meet the floor; bridged silence never exceeds what
    // the hangover permits per inter-speech gap
    assert(out.forall(r => r._5 >= 3 && r._6 >= 0))
  }

  test("L5g interleave: images land at their hashed slots, offsets " +
      "accumulate text and vision tokens") {
    import spark.implicits._
    // doc 0: 33 tokens -> chunks of 16/16/1; doc 1: 5 tokens -> 1 chunk
    val docs = Seq(
      (0L, (1 to 33).map(i => s"w$i").mkString(" ")),
      (1L, (1 to 5).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    // vec 0 -> doc 0 slot pmod(0,3)=0 (before chunk 0); vec 500 ->
    // doc 0 slot pmod(500*2654435761,3)=2 (before chunk 2); vec 7 has
    // no host page (doc 7 absent) and must drop out
    val imgs = Seq(0L, 500L, 7L).toDF("vec_id")
      .withColumn("embedding", array(lit(0.0f)))
    val got = multimodal.Multimodal.mmInterleaveOn(docs, imgs)
      .as[(Long, Int, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 1, "image", 0L, 64L, 0L),      // slot 0 image first
      (0L, 2, "text", 0L, 16L, 64L),
      (0L, 3, "text", 1L, 16L, 80L),
      (0L, 4, "image", 500L, 64L, 96L),   // slot 2 image before chunk 2
      (0L, 5, "text", 2L, 1L, 160L),
      (1L, 1, "text", 0L, 5L, 0L)))
    // corpus invariants: dense seq per doc, offsets monotone, image
    // token cost constant
    val c = multimodal.Multimodal.mmInterleave(spark, sf).cache()
    val perDoc = c.groupBy("doc_id").agg(
      count(lit(1)).as("n"), max(col("seq_i")).as("mx"))
    assert(perDoc.filter(col("n") =!= col("mx")).count() == 0)
    assert(c.filter(col("kind") === "image" && col("n_toks") =!= 64)
      .count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("seq_i")
    assert(c.withColumn("prev",
        lag(col("tok_offset") + col("n_toks"), 1).over(w))
      .filter(col("prev").isNotNull && col("tok_offset") =!= col("prev"))
      .count() == 0)
    assert(c.filter(col("kind") === "image").count() > 0)
    c.unpersist()
  }

  test("resolution filter: verdicts partition the corpus, small wins " +
    "over aspect, kept dims are inside both gates") {
    import org.apache.spark.sql.functions._
    val out = multimodal.Multimodal.mmResolutionFilter(spark, sf)
      .localCheckpoint(true)
    assert(out.count() > 0)
    assert(out.where(col("n_kept") + col("n_small") + col("n_aspect")
      =!= col("n_total")).count() == 0)
    // replay the gate on the metadata relation: counts must reconcile
    val md = multimodal.Multimodal.mmMetadata(spark, sf)
      .join(Tables.documents(spark, sf).select("doc_id", "source"),
        "doc_id")
    val kept = md.where(least(col("width"), col("height")) >= 64 &&
      col("width") <= col("height") * 2 &&
      col("height") <= col("width") * 2).count()
    val total = out.agg(sum("n_kept")).collect()(0).getLong(0)
    assert(total == kept)
  }

  test("BmpDecoder parses a hand-written byte fixture (not just its " +
    "own encoder): 2x2 bottom-up BMP with stride padding") {
    import multimodal.Codecs
    // 2x2, 24bpp: stride = ((2*3+3)/4)*4 = 8 (2 pad bytes per row).
    // File rows bottom-up: file row 0 = image row 1.
    // Pixels (top-down RGB): (255,0,0) (0,255,0) / (0,0,255) (10,20,30)
    val hdr = Array[Int](
      'B', 'M', 70, 0, 0, 0, 0, 0, 0, 0, 54, 0, 0, 0,
      40, 0, 0, 0, 2, 0, 0, 0, 2, 0, 0, 0, 1, 0, 24, 0,
      0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
      0, 0, 0, 0, 0, 0, 0, 0)
    val rows = Array[Int]( // BGR per pixel, bottom row first
      255, 0, 0, 30, 20, 10, 0, 0, // (0,0,255) (10,20,30) + pad
      0, 0, 255, 0, 255, 0, 0, 0) // (255,0,0) (0,255,0) + pad
    val bytes = (hdr ++ rows).map(_.toByte)
    val im = new Codecs.BmpDecoder().decode(bytes)
    assert(im.width == 2 && im.height == 2)
    assert(im.rgb.map(_ & 0xff).toSeq == Seq(
      255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30))
  }

  test("BMP/WAV round-trip identity across stride paddings and odd " +
    "sample counts; WAV decoder walks an interposed chunk") {
    import multimodal.Codecs
    val dec = new Codecs.BmpDecoder()
    // widths spanning all four stride pad cases
    for (w <- 5 to 8; h <- Seq(1, 3)) {
      val px = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
      val im = dec.decode(Codecs.bmpEncode(w, h, px))
      assert(im.width == w && im.height == h)
      assert(im.rgb.toSeq == px.toSeq, s"w=$w h=$h")
    }
    val adec = new Codecs.WavDecoder()
    for (n <- Seq(1, 2, 160, 223)) {
      val smp = Array.tabulate(n)(i => ((i * 997) % 4096 - 2048).toShort)
      val au = adec.decode(Codecs.wavEncode(8000, smp))
      assert(au.sampleRate == 8000 && au.channels == 1)
      assert(au.samples.toSeq == smp.toSeq, s"n=$n")
    }
    // real-world chunk layout: a LIST chunk between fmt and data
    // (odd-length, so the even-padding rule is exercised too)
    val smp = Array.tabulate(7)(i => (i * 100 - 300).toShort)
    val canon = Codecs.wavEncode(8000, smp)
    val fmtChunk = canon.slice(12, 36)
    val dataChunk = canon.slice(36, canon.length)
    val listChunk = Array[Byte]('L', 'I', 'S', 'T', 5, 0, 0, 0,
      'I', 'N', 'F', 'O', 'x', 0) // len 5 + 1 pad byte
    val riffLen = 4 + fmtChunk.length + listChunk.length + dataChunk.length
    val reshuffled = canon.slice(0, 12) ++ fmtChunk ++ listChunk ++ dataChunk
    // patch the RIFF size field
    reshuffled(4) = (riffLen & 0xff).toByte
    reshuffled(5) = ((riffLen >> 8) & 0xff).toByte
    val au = adec.decode(reshuffled)
    assert(au.samples.toSeq == smp.toSeq)
  }

  test("mm_phash_real: brightness-shifted same-base images hash " +
    "IDENTICALLY through the real decode (aHash invariance, provable " +
    "on the cross-multiplied bit rule); banding is lossless vs the " +
    "brute-force Hamming<=2 pair set") {
    import multimodal.Codecs
    val out = multimodal.Multimodal.mmPhashReal(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.nonEmpty)
    // brute-force replay: hash every doc imperatively (same pattern,
    // through the same real codec), then all-pairs Hamming
    val ids = Tables.documents(spark, sf).select("doc_id")
      .as[Long].collect().sorted
    val dec = new Codecs.BmpDecoder()
    def hash(id: Long): (Long, Long) = {
      val g = id % 97; val o = ((id / 97) % 3).toInt
      val w = (16 + g % 16).toInt; val h = (12 + g % 8).toInt
      val px = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (((g * 7 + x * 13 + y * 31) % 240) + o).toByte
        val base = (y * w + x) * 3
        px(base) = v; px(base + 1) = v; px(base + 2) = v
      }
      val im = dec.decode(Codecs.bmpEncode(w, h, px))
      val bs = new Array[Long](64); val bn = new Array[Long](64)
      var tot = 0L
      for (y <- 0 until im.height; x <- 0 until im.width) {
        val gray = im.rgb((y * im.width + x) * 3) & 0xff
        val b = (y * 8 / im.height) * 8 + (x * 8 / im.width)
        bs(b) += gray; bn(b) += 1; tot += gray
      }
      val n = im.width.toLong * im.height
      var h0 = 0L; var h1 = 0L
      for (b <- 0 until 64 if bs(b) * n > tot * bn(b))
        if (b < 32) h0 |= 1L << b else h1 |= 1L << (b - 32)
      (h0, h1)
    }
    val hs = ids.map(i => i -> hash(i)).toMap
    // invariance: same base group => identical hash despite the
    // brightness offset
    ids.groupBy(_ % 97).values.filter(_.length >= 2).foreach { grp =>
      assert(grp.map(hs).distinct.length == 1, s"group ${grp.head % 97}")
    }
    val brute = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      (a0, a1) = hs(ids(i)); (b0, b1) = hs(ids(j))
      d = java.lang.Long.bitCount(a0 ^ b0) + java.lang.Long.bitCount(a1 ^ b1)
      if d <= 2
    } yield (ids(i), ids(j), d.toLong)).toSet
    assert(out.toSet == brute, s"engine ${out.size} vs brute ${brute.size}")
  }

  test("mm_decode_image / mm_decode_audio consume REAL encoded bytes: " +
    "decoded stats match the pattern arithmetic and the closed-form " +
    "container sizes; decoder binding is conf-swappable") {
    import multimodal.Codecs
    val img = multimodal.Multimodal.mmDecodeImage(spark, sf)
      .as[(Long, Long, Int, Int, Long, Long, Long)].collect()
    assert(img.nonEmpty)
    img.foreach { case (id, nb, w, h, sr, sg, sb) =>
      assert(w == 16 + id % 16 && h == 12 + id % 8)
      assert(nb == 54L + Codecs.bmpStride(w).toLong * h)
      var er = 0L; var eg = 0L; var eb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        er += (id * 7 + x * 13 + y * 31) % 256
        eg += (id * 11 + x * 17 + y * 5) % 256
        eb += (id * 3 + x * 29 + y * 23) % 256
      }
      assert(sr == er && sg == eg && sb == eb, s"doc $id")
    }
    val au = multimodal.Multimodal.mmDecodeAudio(spark, sf)
      .as[(Long, Long, Int, Long, Long, Long)].collect()
    assert(au.nonEmpty)
    au.foreach { case (id, nb, rate, n, sumAbs, maxAbs) =>
      assert(rate == 8000 && n == 160 + id % 64 && nb == 44 + 2 * n)
      val exp = (0L until n).map(i =>
        math.abs((id * 37 + i * i * 13) % 4096 - 2048))
      assert(sumAbs == exp.sum && maxAbs == exp.max, s"doc $id")
    }
    // a broken decoder binding must change the answer (proves the
    // emitted stats really flow through the pluggable decode)
    val key = multimodal.Multimodal.ImageDecoderConfKey
    spark.conf.set(key, classOf[ZeroImageDecoder].getName)
    try {
      val z = multimodal.Multimodal.mmDecodeImage(spark, sf)
        .agg(sum("sum_r")).collect()(0).getLong(0)
      assert(z == 0L)
    } finally spark.conf.unset(key)
  }

  test("AVI round-trip identity across stride paddings; decoder " +
    "survives layout variations the encoder never emits (JUNK chunk, " +
    "idx1, 00dc tag, top-down negative-height strf)") {
    import multimodal.Codecs
    val dec = new Codecs.AviDecoder()
    for (w <- 5 to 8; nf <- Seq(1, 3)) {
      val h = 4
      val frames = (0 until nf).map(f =>
        Array.tabulate(w * h * 3)(i => ((i * 31 + f * 97 + 7) % 256).toByte))
      val v = dec.decode(Codecs.aviEncode(w, h, 10, frames))
      assert(v.width == w && v.height == h && v.fps == 10)
      assert(v.frames.length == nf, s"w=$w nf=$nf")
      for (f <- 0 until nf)
        assert(v.frames(f).toSeq == frames(f).toSeq, s"w=$w f=$f")
    }
    // layout variations: take a canonical file and rewrite it the way
    // real muxers do — extra chunks, a different frame tag, top-down
    // rows — the parsed rasters must not change.
    val w = 6; val h = 3
    val frames = (0 until 2).map(f =>
      Array.tabulate(w * h * 3)(i => ((i * 53 + f * 19) % 256).toByte))
    val canon = Codecs.aviEncode(w, h, 10, frames)
    val stride = Codecs.bmpStride(w)
    val frameBytes = stride * h
    // (a) JUNK between hdrl and movi + trailing idx1; patched RIFF size
    val junk = Array[Byte]('J', 'U', 'N', 'K', 6, 0, 0, 0, 1, 2, 3, 4, 5, 6)
    val idx1 = Array[Byte]('i', 'd', 'x', '1', 4, 0, 0, 0, 0, 0, 0, 0)
    val varied = canon.slice(0, 212) ++ junk ++
      canon.slice(212, canon.length) ++ idx1
    val newLen = varied.length - 8
    varied(4) = (newLen & 0xff).toByte
    varied(5) = ((newLen >> 8) & 0xff).toByte
    val v1 = dec.decode(varied)
    assert(v1.frames.length == 2 &&
      v1.frames(1).toSeq == frames(1).toSeq)
    // (b) 00dc tag instead of 00db
    val dc = canon.clone()
    for (f <- 0 until 2) dc(224 + f * (8 + frameBytes) + 3) = 'c'
    assert(dec.decode(dc).frames(0).toSeq == frames(0).toSeq)
    // (c) top-down: negate biHeight and reverse each frame's row order
    val td = canon.clone()
    val negH = -h
    for (i <- 0 until 4) td(180 + i) = ((negH >> (8 * i)) & 0xff).toByte
    for (f <- 0 until 2) {
      val base = 224 + f * (8 + frameBytes) + 8
      val rows = (0 until h).map(r =>
        canon.slice(base + r * stride, base + (r + 1) * stride))
      for (r <- 0 until h)
        System.arraycopy(rows(h - 1 - r), 0, td, base + r * stride, stride)
    }
    val v3 = dec.decode(td)
    for (f <- 0 until 2)
      assert(v3.frames(f).toSeq == frames(f).toSeq, s"top-down f=$f")
  }

  test("AVI decoder fails fast on corrupt bytes: negative chunk " +
    "length, truncated buffer, frame chunk shorter than the raster, " +
    "frame before headers") {
    import multimodal.Codecs
    val dec = new Codecs.AviDecoder()
    val frames = Seq(Array.tabulate(6 * 3 * 3)(i => (i % 256).toByte))
    val canon = Codecs.aviEncode(6, 3, 10, frames)
    // negative movi LIST length
    val neg = canon.clone()
    neg(216) = -1; neg(217) = -1; neg(218) = -1; neg(219) = -1
    intercept[IllegalArgumentException](dec.decode(neg))
    // truncated mid-frame
    intercept[IllegalArgumentException](
      dec.decode(canon.slice(0, canon.length - 4)))
    // frame chunk claims fewer bytes than stride*h needs
    val short = canon.clone()
    short(228) = 4; short(229) = 0; short(230) = 0; short(231) = 0
    intercept[IllegalArgumentException](dec.decode(short))
    // movi before hdrl: frame with no stream headers yet
    val hdrl = canon.slice(12, 212)
    val movi = canon.slice(212, canon.length)
    val swapped = canon.slice(0, 12) ++ movi ++ hdrl
    intercept[IllegalArgumentException](dec.decode(swapped))
  }

  test("mm_decode_video consumes REAL RIFF/AVI bytes: decoded stats " +
    "match the pattern arithmetic and the closed-form container size; " +
    "decoder binding is conf-swappable") {
    import multimodal.Codecs
    val out = multimodal.Multimodal.mmDecodeVideo(spark, sf)
      .as[(Long, Long, Int, Int, Long, Int, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, nb, w, h, nf, fps, sumRgb, nCuts) =>
      assert(w == 8 + id % 8 && h == 6 + id % 5 && nf == 3 + id % 4)
      assert(fps == 10 && nb == Codecs.aviSize(w, h, nf.toInt))
      var exp = 0L
      var cuts = 0L
      var prevM = -1L
      for (f <- 0L until nf) {
        var fs = 0L
        for (y <- 0 until h; x <- 0 until w) {
          fs += (id * 7 + f * 41 + x * 13 + y * 31) % 256
          fs += (id * 11 + f * 19 + x * 17 + y * 5) % 256
          fs += (id * 3 + f * 53 + x * 29 + y * 23) % 256
        }
        exp += fs
        val m = fs * 1000 / (w.toLong * h * 3)
        if (prevM >= 0 && math.abs(m - prevM) >= 20000) cuts += 1
        prevM = m
      }
      assert(sumRgb == exp && nCuts == cuts, s"doc $id")
    }
    val key = multimodal.Multimodal.VideoDecoderConfKey
    spark.conf.set(key, classOf[ZeroVideoDecoder].getName)
    try {
      val z = multimodal.Multimodal.mmDecodeVideo(spark, sf)
        .agg(sum("sum_rgb")).collect()(0).getLong(0)
      assert(z == 0L)
    } finally spark.conf.unset(key)
  }

  test("two-stream AVI: round-trip identity for BOTH modalities from " +
    "one parse; the video-only decoder reads the same file's video " +
    "stream (skipping 01wb and the audio strf); corrupt/missing " +
    "audio fails fast") {
    import multimodal.Codecs
    val w = 6; val h = 3; val spf = 10
    val frames = (0 until 3).map(f =>
      Array.tabulate(w * h * 3)(i => ((i * 43 + f * 29) % 256).toByte))
    val samples = Array.tabulate(3 * spf)(i => ((i * 211) % 4096 - 2048).toShort)
    val bytes = Codecs.aviEncodeAv(w, h, 10, frames, spf, samples)
    assert(bytes.length == Codecs.aviAvSize(w, h, 3, spf))
    val av = new Codecs.AviAvDecoder().decode(bytes)
    assert(av.video.width == w && av.video.height == h &&
      av.video.fps == 10 && av.video.frames.length == 3)
    for (f <- 0 until 3)
      assert(av.video.frames(f).toSeq == frames(f).toSeq, s"f=$f")
    assert(av.audio.sampleRate == 100 && av.audio.channels == 1)
    assert(av.audio.samples.toSeq == samples.toSeq)
    // interop: the video-only decoder handles the SAME two-stream
    // container (routes nothing from 01wb, ignores the audio strf)
    val v = new Codecs.AviDecoder().decode(bytes)
    assert(v.frames.length == 3 && v.frames(2).toSeq == frames(2).toSeq)
    // likewise the MP4 video decoder takes the 'vide' trak of a
    // two-track MP4 and leaves the 'soun' trak alone
    val mv = new Codecs.Mp4VideoDecoder().decode(
      Codecs.mp4EncodeAv(600, 60, w, h, frames, spf, samples))
    assert(mv.width == w && mv.height == h && mv.fps == 10 &&
      mv.frames.length == 3 && mv.frames(2).toSeq == frames(2).toSeq)
    // a single-stream file has no audio -> the AV decoder refuses
    val videoOnly = Codecs.aviEncode(w, h, 10, frames)
    intercept[IllegalArgumentException](
      new Codecs.AviAvDecoder().decode(videoOnly))
  }

  test("mm_decode_av: both modality stats from ONE parsed container " +
    "match the pattern arithmetic; binding conf-swappable") {
    import multimodal.Codecs
    val out = multimodal.Multimodal.mmDecodeAv(spark, sf)
      .as[(Long, Long, Int, Int, Long, Int, Int, Long, Long, Long)]
      .collect()
    assert(out.nonEmpty)
    out.foreach { case (id, nb, w, h, nf, fps, rate, ns, sumRgb, sumAbs) =>
      val spf = (20 + (id % 10) * 2).toInt
      assert(w == 8 + id % 6 && h == 5 + id % 4 && nf == 2 + id % 3)
      assert(fps == 10 && rate == 10 * spf && ns == nf * spf)
      assert(nb == Codecs.aviAvSize(w, h, nf.toInt, spf))
      var eRgb = 0L
      for (f <- 0L until nf; y <- 0 until h; x <- 0 until w) {
        eRgb += (id * 5 + f * 37 + x * 11 + y * 19) % 256
        eRgb += (id * 13 + f * 23 + x * 7 + y * 3) % 256
        eRgb += (id * 17 + f * 29 + x * 31 + y * 41) % 256
      }
      val eAbs = (0L until ns).map(i =>
        math.abs((id * 53 + i * i * 7) % 4096 - 2048)).sum
      assert(sumRgb == eRgb && sumAbs == eAbs, s"doc $id")
    }
  }

  test("mm_crop_clip: decode -> bbox slice -> re-encode -> decode " +
    "chain emits the cropped sub-video's stats (the reference's " +
    "sample-emission loop on real bytes)") {
    import multimodal.Codecs
    val out = multimodal.Multimodal.mmCropClip(spark, sf)
      .as[(Long, Long, Long, Int, Int, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, sb, cb, cw, ch, nf, sum) =>
      val w = (8 + id % 8).toInt; val h = (6 + id % 5).toInt
      val x1 = (id % 2).toInt; val y1 = ((id / 2) % 2).toInt
      assert(cw == w - x1 - 1 && ch == h - y1 - 1 && nf == 3 + id % 4)
      assert(sb == Codecs.aviSize(w, h, nf.toInt) &&
        cb == Codecs.aviSize(cw, ch, nf.toInt))
      var exp = 0L
      for (f <- 0L until nf; y <- y1 until (y1 + ch);
           x <- x1 until (x1 + cw)) {
        exp += (id * 7 + f * 41 + x * 13 + y * 31) % 256
        exp += (id * 11 + f * 19 + x * 17 + y * 5) % 256
        exp += (id * 3 + f * 53 + x * 29 + y * 23) % 256
      }
      assert(sum == exp, s"doc $id")
    }
  }

  test("ref_ep3_real: the full step-3 chain on real bytes — spans " +
    "match mm_video_segments, the bbox is the pad-1 clamped hull of " +
    "the span's argmax track, the sub-video size is the closed form " +
    "of the crop dims") {
    import multimodal.Codecs
    val out = multimodal.Multimodal.refEp3Real(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(out.nonEmpty)
    val segs = multimodal.Multimodal.mmVideoSegments(spark, sf)
      .select("doc_id", "seg", "start_frame", "end_frame")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out.map(r => (r._1, r._2, r._3, r._4)).toSet == segs)
    out.foreach { case (id, _, s0, end, x1, y1, cw, ch, sb, _) =>
      val w = 8 + id % 4; val h = 6 + id % 3
      assert(x1 >= 0 && y1 >= 0 && cw >= 1 && ch >= 1 &&
        x1 + cw <= w && y1 + ch <= h, s"doc $id")
      assert(sb == Codecs.aviSize(cw.toInt, ch.toInt, (end - s0).toInt))
      // replay the argmax track of this span; hull + pad-1 clamp
      val track = (s0 until end).map { f =>
        var best = -1L; var bx = 0L; var by = 0L
        for (y <- 0 until h.toInt; x <- 0 until w.toInt) {
          val lum = (id * 7 + f * 41 + x * 13 + y * 31) % 256 +
            (id * 11 + f * 19 + x * 17 + y * 5) % 256 +
            (id * 3 + f * 53 + x * 29 + y * 23) % 256
          if (lum > best) { best = lum; bx = x; by = y }
        }
        (bx, by)
      }
      assert(x1 == math.max(0, track.map(_._1).min - 1), s"doc $id x1")
      assert(x1 + cw - 1 ==
        math.min(w - 1, track.map(_._1).max + 1), s"doc $id x2")
      assert(y1 == math.max(0, track.map(_._2).min - 1), s"doc $id y1")
      assert(y1 + ch - 1 ==
        math.min(h - 1, track.map(_._2).max + 1), s"doc $id y2")
    }
  }

  test("mm_av_sync_audit: per-frame cross-modal flags consistent, " +
    "frame spans complete, span length derived from the parsed " +
    "streams") {
    val out = multimodal.Multimodal.mmAvSyncAudit(spark, sf)
      .as[(Long, Long, Long, Long, Boolean, Boolean, Boolean)]
      .collect().toSeq
    assert(out.nonEmpty)
    out.foreach { case (_, _, rgbM, absM, bright, loud, mm) =>
      assert(rgbM >= 0 && rgbM <= 765000 && absM >= 0 && absM <= 2048)
      assert(bright == (rgbM >= 382500) && loud == (absM >= 1024))
      assert(mm == (bright != loud))
    }
    out.groupBy(_._1).foreach { case (id, rows) =>
      assert(rows.map(_._2).sorted == (0L until (2 + id % 3)), s"doc $id")
    }
  }

  test("codec fuzz: seeded byte corruptions of valid BMP/WAV/AVI " +
    "containers either decode or fail fast with require() — never a " +
    "raw array error, never a hang (the external-bytes contract)") {
    import multimodal.Codecs
    val bmp = Codecs.bmpEncode(6, 4,
      Array.tabulate(6 * 4 * 3)(i => (i % 256).toByte))
    val wav = Codecs.wavEncode(8000,
      Array.tabulate(50)(i => ((i * 321) % 4096 - 2048).toShort))
    val frames = (0 until 2).map(f =>
      Array.tabulate(5 * 3 * 3)(i => ((i + f * 17) % 256).toByte))
    val avi = Codecs.aviEncode(5, 3, 10, frames)
    val avAvi = Codecs.aviEncodeAv(5, 3, 10, frames, 8,
      Array.tabulate(16)(i => (i * 100).toShort))
    val bd = new Codecs.BmpDecoder()
    val wd = new Codecs.WavDecoder()
    val vd = new Codecs.AviDecoder()
    val ad = new Codecs.AviAvDecoder()
    // deterministic LCG over (container, trial): flip 1-4 bytes to
    // adversarial values at pseudorandom offsets. Every draw reads the
    // state's high bits (s >>> 33, never negative): a power-of-two
    // LCG's low two bits repeat every four draws, which would tie each
    // value to its offset's low bits.
    def corrupt(base: Array[Byte], seed: Long): Array[Byte] = {
      val b = base.clone()
      var s = seed * 6364136223846793005L + 1442695040888963407L
      val flips = 1 + ((s >>> 33) % 4).toInt
      for (_ <- 0 until flips) {
        s = s * 6364136223846793005L + 1442695040888963407L
        val off = ((s >>> 33) % b.length).toInt
        s = s * 6364136223846793005L + 1442695040888963407L
        b(off) = Seq(0x00, 0xff, 0x7f, 0x80)(((s >>> 33) % 4).toInt).toByte
      }
      b
    }
    def run(name: String, dec: Array[Byte] => Any,
        base: Array[Byte]): Unit =
      for (t <- 0 until 300) {
        val b = corrupt(base, t * 7919L + name.hashCode)
        try { dec(b); () } catch {
          case _: IllegalArgumentException => () // require: the contract
          case e: Throwable =>
            fail(s"$name trial $t threw ${e.getClass.getName}: " +
              s"${e.getMessage}")
        }
      }
    run("bmp", bd.decode, bmp)
    run("wav", wd.decode, wav)
    run("wav_g711", wd.decode, Codecs.wavEncodeG711(8000,
      Array.tabulate(50)(i => ((i * 37) % 256).toByte), mulaw = true))
    run("avi", vd.decode, avi)
    run("avi_av", ad.decode, avAvi)
    run("avi_av_g711", ad.decode, Codecs.aviEncodeAvG711(5, 4, 10,
      Seq(Array.tabulate(5 * 4 * 3)(i => (i * 11 % 256).toByte)), 12,
      Array.tabulate(12)(i => ((i * 37) % 256).toByte), mulaw = true))
    val png = Codecs.pngEncode(6, 5,
      Array.tabulate(6 * 5 * 3)(i => (i * 13 % 256).toByte))
    run("png", new Codecs.PngDecoder().decode, png)
    val mp4v = Codecs.mp4EncodeVideo(600, 40, 5, 4, (0 until 2).map(
      f => Array.tabulate(5 * 4 * 3)(i => ((i + f * 9) % 256).toByte)))
    run("mp4video", new Codecs.Mp4VideoDecoder().decode, mp4v)
    val mp4av = Codecs.mp4EncodeAv(600, 200, 5, 4, (0 until 2).map(
      f => Array.tabulate(5 * 4 * 3)(i => ((i + f * 9) % 256).toByte)),
      6, Array.tabulate(12)(i => (i * 211).toShort))
    run("mp4av", new Codecs.Mp4AvDecoder().decode, mp4av)
    val gif = Codecs.gifEncode(7, 5,
      Array.tabulate(35)(i => (i * 23 % 256).toByte))
    run("gif", new Codecs.GifLzwDecoder().decode, gif)
    val mjpeg = multimodal.Jpeg.aviEncodeMjpeg(16, 8, 10, (0 until 2).map(
      f => multimodal.Jpeg.encodeGray(16, 8,
        Array.tabulate(16 * 8)(i => ((i / 8) * 40 + f * 90).toByte))))
    val md = new multimodal.Jpeg.MjpegAviDecoder()
    run("mjpeg", md.decode, mjpeg)
    val probe = new Codecs.Mp4Probe()
    val mp4 = Codecs.mp4Encode(600, 6, 50, 5, 4,
      Array.tabulate(23)(i => (i * 5).toByte))
    run("mp4probe", probe.probe, mp4)
    val indexer = new Codecs.Mp4Indexer()
    val mp4idx = Codecs.mp4EncodeIndexed(600, 50, 5, 4, Array(6, 0, 9),
      Array.tabulate(15)(i => (i * 3).toByte))
    run("mp4indexer", indexer.index, mp4idx)
    // every truncation and every single-byte corruption (each offset
    // set to each adversarial value) of every container reader's input
    // must also fail fast or succeed: the seeded table samples ~750
    // flips per reader, the sweep covers every offset and value.
    def failsFast(what: String)(run: => Any): Unit =
      try { run; () } catch {
        case _: IllegalArgumentException => ()
        case e: Throwable => fail(s"$what threw ${e.getClass.getName}")
      }
    for ((name, d, base) <- Seq[(String, Array[Byte] => Any,
        Array[Byte])](("wav", wd.decode, wav), ("avi", vd.decode, avi),
        ("avi_av", ad.decode, avAvi), ("mjpeg", md.decode, mjpeg),
        ("mp4probe", probe.probe, mp4), ("mp4indexer", indexer.index, mp4idx),
        ("mp4video", new Codecs.Mp4VideoDecoder().decode, mp4v),
        ("mp4av", new Codecs.Mp4AvDecoder().decode, mp4av))) {
      for (n <- 0 until base.length)
        failsFast(s"$name truncation $n")(d(base.take(n)))
      for (off <- base.indices; v <- Seq(0x00, 0xff, 0x7f, 0x80))
        failsFast(s"$name byte $off := $v")(d(base.updated(off, v.toByte)))
    }
  }

  test("container writers are byte-stable: SHA-256 of every AVI, WAV " +
    "and BMP writer over widths 5-8 (every stride pad), odd and even " +
    "G.711 spans (the RIFF pad byte) and odd-length M-JPEG frames; " +
    "lengths equal the closed-form sizes") {
    import multimodal.{Codecs, Jpeg}
    def sha(parts: Seq[Array[Byte]]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      parts.foreach(md.update)
      md.digest().map(x => f"${x & 0xff}%02x").mkString
    }
    val h = 3; val nf = 2
    def frames(w: Int): Seq[Array[Byte]] = (0 until nf).map(f =>
      Array.tabulate(w * h * 3)(i => ((i * 29 + f * 71 + w) % 256).toByte))
    val avi = (5 to 8).map { w =>
      val b = Codecs.aviEncode(w, h, 10, frames(w))
      assert(b.length == Codecs.aviSize(w, h, nf), s"aviSize w=$w")
      b
    }
    val av = for (w <- 5 to 8; spf <- Seq(7, 8)) yield {
      val s = Array.tabulate(nf * spf)(i => ((i * 1237) % 65536 - 32768).toShort)
      val b = Codecs.aviEncodeAv(w, h, 10, frames(w), spf, s)
      assert(b.length == Codecs.aviAvSize(w, h, nf, spf), s"aviAvSize w=$w")
      b
    }
    def g711(mu: Boolean) = for (w <- 5 to 8; spf <- Seq(7, 8)) yield {
      val c = Array.tabulate(nf * spf)(i => ((i * 53 + 7) % 256).toByte)
      val b = Codecs.aviEncodeAvG711(w, h, 10, frames(w), spf, c, mu)
      assert(b.length == Codecs.aviAvG711Size(w, h, nf, spf),
        s"aviAvG711Size w=$w spf=$spf mu=$mu")
      b
    }
    // the muxer never reads its payloads, so plain byte strings of odd
    // and even lengths stand in for entropy-coded JPEG frames
    val mjpeg = Seq(Seq(13, 10, 1), Seq(6), Seq(7, 7)).zipWithIndex.map {
      case (lens, k) => Jpeg.aviEncodeMjpeg(16 + k, 8 + k, 12 + k,
        lens.map(n => Array.tabulate(n)(i => (i * 19 + n + k).toByte)))
    }
    val wav = Seq(50, 51).map(n => Codecs.wavEncode(8000 + n,
      Array.tabulate(n)(i => ((i * 321) % 4096 - 2048).toShort)))
    val wavG711 = for (n <- Seq(50, 51); mu <- Seq(true, false))
      yield Codecs.wavEncodeG711(8000 + n,
        Array.tabulate(n)(i => ((i * 37) % 256).toByte), mu)
    val bmp = (5 to 8).map(w => Codecs.bmpEncode(w, h, frames(w).head))
    // MP4: both box orders (moov first / mdat first) at widths 5 and 13
    val mp4Cases = for (w <- Seq(5, 13); last <- Seq(false, true))
      yield (w, last)
    val mp4 = mp4Cases.map { case (w, last) =>
      val p = Array.tabulate(11 + w)(i => (i * 37 + w).toByte)
      val b = Codecs.mp4Encode(600, 3, 200, w, h, p, last)
      assert(b.length == Codecs.mp4Size(p.length), s"mp4Size w=$w")
      b
    }
    val mp4Indexed = mp4Cases.map { case (w, last) =>
      val sizes = Array(3, 0, 7 + w)
      val p = Array.tabulate(sizes.sum)(i => (i * 41 + w).toByte)
      val b = Codecs.mp4EncodeIndexed(600, 50, w, h, sizes, p, last)
      assert(b.length == Codecs.mp4SizeIndexed(sizes.length, p.length),
        s"mp4SizeIndexed w=$w")
      b
    }
    val mp4Video = mp4Cases.map { case (w, last) =>
      val b = Codecs.mp4EncodeVideo(600, 300, w, h, frames(w), last)
      assert(b.length == Codecs.mp4SizeVideo(nf * w * h * 3),
        s"mp4SizeVideo w=$w")
      b
    }
    val mp4Av = for ((w, last) <- mp4Cases; spf <- Seq(7, 8)) yield {
      val s = Array.tabulate(nf * spf)(i => ((i * 1237) % 65536 - 32768).toShort)
      val b = Codecs.mp4EncodeAv(30, 3, w, h, frames(w), spf, s, last)
      assert(b.length == Codecs.mp4SizeAv(w, h, nf, spf), s"mp4SizeAv w=$w")
      b
    }
    // JPEG: widths and heights off the 8- and 16-pixel grids; flat
    // blocks (EOB runs) beside textured ones (long AC runs, ZRL)
    val jpegDims = Seq((13, 11), (37, 19))
    def gray(w: Int, hh: Int): Array[Byte] = Array.tabulate(w * hh) { i =>
      val (x, y) = (i % w, i / w)
      (if ((x / 8 + y / 8) % 3 == 0) 96 + 2 * (x / 8)
       else (x * x * 7 + y * 13 + x * y) % 256).toByte
    }
    def rgb(w: Int, hh: Int): Array[Byte] = Array.tabulate(w * hh * 3) { i =>
      val (p, c) = (i / 3, i % 3)
      ((p % w) * (11 + 5 * c) + (p / w) * (7 + 3 * c) + c * 40).toByte
    }
    // the bytes before the entropy data are GrayHeaderLen less EOI,
    // grown by the 6-byte DRI segment when one is written
    def grayJpeg(restart: Int) = jpegDims.map { case (w, hh) =>
      val b = Jpeg.encodeGray(w, hh, gray(w, hh), restart)
      val sos = b.indexOfSlice(Seq(0xff, 0xda).map(_.toByte))
      assert(sos + 10 == Jpeg.GrayHeaderLen - 2 + (if (restart > 0) 6 else 0),
        s"encodeGray header w=$w restart=$restart")
      assert(b.takeRight(2).toSeq == Seq(0xff, 0xd9).map(_.toByte))
      b
    }
    def jpeg(enc: (Int, Int) => Array[Byte]) =
      jpegDims.map { case (w, hh) => enc(w, hh) }
    val got = Map("aviEncode" -> sha(avi), "aviEncodeAv" -> sha(av),
      "aviEncodeAvG711 mu-law" -> sha(g711(true)),
      "aviEncodeAvG711 A-law" -> sha(g711(false)),
      "aviEncodeMjpeg" -> sha(mjpeg), "wavEncode" -> sha(wav),
      "wavEncodeG711" -> sha(wavG711), "bmpEncode" -> sha(bmp),
      "mp4Encode" -> sha(mp4), "mp4EncodeIndexed" -> sha(mp4Indexed),
      "mp4EncodeVideo" -> sha(mp4Video), "mp4EncodeAv" -> sha(mp4Av),
      "encodeGray" -> sha(grayJpeg(0)), "encodeGray DRI" -> sha(grayJpeg(2)),
      "encodeGrayProgressive" ->
        sha(jpeg((w, hh) => Jpeg.encodeGrayProgressive(w, hh, gray(w, hh)))),
      "encodeGrayProgressiveSA" ->
        sha(jpeg((w, hh) => Jpeg.encodeGrayProgressiveSA(w, hh, gray(w, hh)))),
      "encodeColor444" ->
        sha(jpeg((w, hh) => Jpeg.encodeColor444(w, hh, rgb(w, hh)))),
      "encodeColor420" ->
        sha(jpeg((w, hh) => Jpeg.encodeColor420(w, hh, rgb(w, hh)))))
    val pinned = Map(
      "aviEncode" ->
        "a2a84d9d58271b71b815dc72eced4fa5e25f9a7573565bc944f17fb3e703ff9b",
      "aviEncodeAv" ->
        "b4bec3604a1505b23d9aaabdcce31c6fb8ad699f449fc0b174bebc17ab28c80b",
      "aviEncodeAvG711 mu-law" ->
        "eebed1cff05f26a992c43dde86af943c412b4cef5403e8013c60bdd370394ea5",
      "aviEncodeAvG711 A-law" ->
        "5a88181692a40d72ede9235534b1fa98eb60f8d7024850133736bfa16eeaf4cc",
      "aviEncodeMjpeg" ->
        "03cf35a8282b275103c27bf9f59d94f7e9d313cd3add074a9401ee4a6d436d7e",
      "wavEncode" ->
        "831202f65343b3f7688f673219a4a94e34969534594b7d5e97016f5482d31385",
      "wavEncodeG711" ->
        "dac5554d9d2028147a5344c70a2accc4f5539faea6f1fc8006e1d617c0a376ae",
      "bmpEncode" ->
        "5042102abe70b47351ed522e459b75df16036d10fe267732513a0fcbec75ba62",
      "mp4Encode" ->
        "d2e69ee1a9c8e4dffc6fc9f742f673c21ad9c845605776df93c24130f94a740f",
      "mp4EncodeIndexed" ->
        "6976cf520406094f8cb1edcfeafee34e65bb329fb629b7972e9874926a3cda3d",
      "mp4EncodeVideo" ->
        "77f717ec0a285a09cf1e6e82dc441e0f8a63249cd1403beaa53bd35d5521aae3",
      "mp4EncodeAv" ->
        "8e6b810fb08e41fef2511f270451bbd669835bc3b1c688be4d980971c85d2f70",
      "encodeGray" ->
        "93142077e4616ecc25ed8d505d1dd18e535195eaf67c22a4ba336a0c9c94fce5",
      "encodeGray DRI" ->
        "786f5e1edfd3cd96ff75be969744e1d74e03f8448430ad8ada4b31ced6f6ea4e",
      "encodeGrayProgressive" ->
        "8dfead8a76751704f003367da1e4f78937a23a6be96a672df4ae352ecb310a06",
      "encodeGrayProgressiveSA" ->
        "d5c1c6c5a301313791bef0c25be7c1bcdfdc7f2ac884427f8bcec3bb5e752dc3",
      "encodeColor444" ->
        "d83e285cd2f5f9ad8056e04a5b01dc4c19f7aedd2bda0ff9f36196f65ff13544",
      "encodeColor420" ->
        "c53eb20abcd99be075aeea77ad60999577fd591528abe289829b5e932c55fc06")
    assert(got == pinned)
  }

  test("writers reject what their 16-bit fields cannot hold: every MP4 " +
    "and JPEG writer and gifEncode throw at width 65536 and mp4EncodeAv " +
    "at an audio rate of 65536; at 65535 each writes a file that decodes " +
    "at that width or rate") {
    import multimodal.{Codecs, Jpeg}
    def writers(w: Int): Seq[(String, () => Array[Byte])] = {
      val (g, rgb) = (new Array[Byte](w), new Array[Byte](3 * w))
      Seq(
        "mp4Encode" -> (() => Codecs.mp4Encode(30, 1, 1, w, 1, Array[Byte](1))),
        "mp4EncodeIndexed" -> (() =>
          Codecs.mp4EncodeIndexed(30, 1, w, 1, Array(1), Array[Byte](1))),
        "mp4EncodeVideo" -> (() => Codecs.mp4EncodeVideo(30, 1, w, 1, Seq(rgb))),
        "mp4EncodeAv" -> (() =>
          Codecs.mp4EncodeAv(30, 1, w, 1, Seq(rgb), 1, Array[Short](7))),
        "encodeGray" -> (() => Jpeg.encodeGray(w, 1, g)),
        "encodeGray DRI" -> (() => Jpeg.encodeGray(w, 1, g, 5)),
        "encodeGrayProgressive" -> (() => Jpeg.encodeGrayProgressive(w, 1, g)),
        "encodeGrayProgressiveSA" ->
          (() => Jpeg.encodeGrayProgressiveSA(w, 1, g)),
        "encodeColor444" -> (() => Jpeg.encodeColor444(w, 1, rgb)),
        "encodeColor420" -> (() => Jpeg.encodeColor420(w, 1, rgb)),
        "gifEncode" -> (() => Codecs.gifEncode(w, 1, g)))
    }
    writers(65536).foreach { case (n, write) =>
      withClue(n)(intercept[IllegalArgumentException](write()))
    }
    val ok = writers(65535).map { case (n, write) => n -> write() }.toMap
    val mp4v = new Codecs.Mp4VideoDecoder().decode(ok("mp4EncodeVideo"))
    assert(mp4v.width == 65535 && mp4v.frames.head.length == 3 * 65535)
    assert(new Codecs.Mp4Probe().probe(ok("mp4Encode")).width == 65535)
    assert(new Codecs.Mp4AvDecoder().decode(ok("mp4EncodeAv")).video.width ==
      65535)
    val jpeg = new Jpeg.JpegDecoder()
    for (n <- ok.keys.filter(_.startsWith("encode")))
      assert(jpeg.decode(ok(n)).width == 65535, n)
    assert(new Codecs.GifLzwDecoder().decode(ok("gifEncode")).width == 65535)
    // the 'sowt' entry's rate is 16.16 fixed: 32 fps x 2048 samples does
    // not fit, 15 fps x 4369 = 65535 does
    val frame = new Array[Byte](3)
    intercept[IllegalArgumentException](Codecs.mp4EncodeAv(32, 1, 1, 1,
      Seq(frame), 2048, new Array[Short](2048)))
    val av = Codecs.mp4EncodeAv(15, 1, 1, 1, Seq(frame), 4369,
      new Array[Short](4369))
    assert(new Codecs.Mp4AvDecoder().decode(av).audio.sampleRate == 65535)
  }

  test("one writer per container family: no MP4 box size is a literal and " +
    "ftyp/mvhd are written once in Codecs.scala; one JFIF header, one SOS " +
    "writer and one DC and one AC magnitude coder in the JPEG encoders") {
    import scala.jdk.CollectionConverters._
    def lines(name: String): IndexedSeq[String] = {
      val f = new java.io.File(s"src/main/scala/graft/multimodal/$name")
      assert(f.isFile, f.getAbsolutePath)
      java.nio.file.Files.readAllLines(f.toPath).asScala.toIndexedSeq
    }
    def where(name: String, ls: IndexedSeq[String], is: Seq[Int]) =
      is.map(i => s"$name:${i + 1}: ${ls(i).trim}").mkString("\n")
    def at(ls: IndexedSeq[String], r: scala.util.matching.Regex) =
      ls.indices.filter(i => r.findFirstIn(ls(i)).isDefined)
    val codecs = lines("Codecs.scala")
    val sized = at(codecs, """\bbox\(\s*\d""".r)
    assert(sized.isEmpty, where("Codecs.scala", codecs, sized))
    // a reader matches a box type with `case "mvhd" =>`; a writer names it
    for (tp <- Seq("ftyp", "mvhd")) {
      val written = at(codecs, ("(?<!case )\"" + tp + "\"").r)
      assert(written.size == 1, where("Codecs.scala", codecs, written))
    }
    val jpeg = lines("Jpeg.scala")
    val jfif = at(jpeg, "\"JFIF\"".r)
    assert(jfif.size == 1, where("Jpeg.scala", jpeg, jfif))
    val sos = at(jpeg, """marker\([^)]*0xda\)""".r)
    assert(sos.size == 1, where("Jpeg.scala", jpeg, sos))
    val encoder = jpeg.indexWhere(_.contains("// Encoder.")) until
      jpeg.indexWhere(_.contains("// Decoder."))
    assert(encoder.nonEmpty)
    val magnitude = at(jpeg, """bitLength\(math\.abs\(""".r)
      .filter(encoder.contains)
    assert(magnitude.size <= 2, where("Jpeg.scala", jpeg, magnitude))
  }

  test("mm_argmax_track: per-frame argmax detections from decoded " +
    "frames — frame spans complete, first step zero, steps bounded " +
    "by frame dims, detector genuinely reads the decoded bytes") {
    val out = multimodal.Multimodal.mmArgmaxTrack(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (id, rows) =>
      val nf = 3 + id % 4
      assert(rows.map(_._2).sorted == (0L until nf), s"doc $id")
      val w = 8 + id % 8; val h = 6 + id % 5
      rows.foreach { case (_, f, x, y, v, st) =>
        assert(x < w && y < h && v >= 0 && v <= 765)
        assert(if (f == 0) st == 0 else st <= (w - 1) + (h - 1))
      }
    }
    val key = multimodal.Multimodal.VideoDecoderConfKey
    spark.conf.set(key, classOf[ZeroVideoDecoder].getName)
    try {
      val z = multimodal.Multimodal.mmArgmaxTrack(spark, sf)
        .agg(max("v_max"), max("f")).collect()(0)
      assert(z.getLong(0) == 0L && z.getLong(1) == 0L)
    } finally spark.conf.unset(key)
  }

  test("mm_video_segments replays the reference's segment rule " +
    "(fps*2 frames per segment, +1 overlap frame, trailing drop) " +
    "over genuinely decoded AVI frames") {
    val out = multimodal.Multimodal.mmVideoSegments(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out.nonEmpty)
    val byDoc = out.groupBy(_._1)
    byDoc.foreach { case (id, segs) =>
      val nf = 6 + id % 8
      val fq = 4L // fps 2 x segment_length_sec 2
      // expected segment spans straight from raw_to_samples.py:336-341
      val exp = (0L until nf by fq).flatMap { s0 =>
        val end = math.min(s0 + fq + 1, nf)
        if (end - s0 < fq) None else Some((s0 / fq, s0, end))
      }
      assert(segs.map(r => (r._2, r._3, r._4)).sorted == exp.sorted, id)
      // every full-length segment shares its last frame with the next
      // segment's first (the +1 overlap the reference encodes)
      segs.sortBy(_._2).sliding(2).foreach {
        case Seq(a, b) => assert(a._4 == b._3 + 1, s"doc $id overlap")
        case _ => ()
      }
      segs.foreach { case (_, _, s0, end, n, sumRgb, mean) =>
        assert(n == end - s0)
        val w = 8 + id % 4; val h = 6 + id % 3
        assert(mean == sumRgb * 1000 / (n * w * h * 3))
      }
    }
    // docs with nf < 4 produce no segment (none exist: min nf is 6);
    // docs with nf >= 4 all appear
    assert(byDoc.keySet ==
      Tables.documents(spark, sf).select("doc_id").as[Long]
        .collect().toSet)
  }

  test("Mp4Probe round-trips both real muxer box orders and survives " +
    "a free box; every field comes from the parsed tree") {
    import multimodal.Codecs
    val probe = new Codecs.Mp4Probe()
    val payload = Array.tabulate(37)(i => ((i * 11 + 3) % 251).toByte)
    for (moovLast <- Seq(false, true)) {
      val bytes = Codecs.mp4Encode(600, 48, 25, 320, 240, payload,
        moovLast = moovLast)
      assert(bytes.length == Codecs.mp4Size(37))
      val m = probe.probe(bytes)
      assert(m.brand == "isom" && m.timescale == 600, s"moovLast=$moovLast")
      assert(m.duration == 48L * 25 && m.nTracks == 1 && m.handler == "vide")
      assert(m.width == 320 && m.height == 240)
      assert(m.nSamples == 48L && m.sampleDelta == 25)
      assert(m.mdatBytes == 37L &&
        m.payloadSum == payload.map(_ & 0xff).map(_.toLong).sum)
    }
    // a 'free' box between ftyp and moov (real muxers leave them after
    // in-place edits) must not change the parse
    val canon = Codecs.mp4Encode(600, 12, 50, 64, 48, payload)
    val free = new Array[Byte](16)
    free(3) = 16; free(4) = 'f'; free(5) = 'r'; free(6) = 'e'; free(7) = 'e'
    val varied = canon.slice(0, 32) ++ free ++ canon.slice(32, canon.length)
    val a = probe.probe(canon)
    val b = probe.probe(varied)
    assert(a == b)
  }

  test("Mp4Probe scopes fields per trak: a second audio track (0x0 " +
    "tkhd dims, its own stts) never corrupts the video fields, in " +
    "either trak order; two video tracks are rejected") {
    import multimodal.Codecs
    val probe = new Codecs.Mp4Probe()
    val payload = Array.tabulate(21)(i => ((i * 3 + 2) % 251).toByte)
    val canon = Codecs.mp4Encode(600, 30, 20, 128, 96, payload)
    // canonical moov-first layout: ftyp 0..31, moov at 32 (mvhd at 40,
    // trak at 148 size 213), mdat at 361
    val trak = canon.slice(148, 361)
    // forge an audio trak from the video one: hdlr 'soun' (hdlr box at
    // trak+140, handler_type at +16), tkhd dims zeroed (tkhd at trak+8,
    // width/height at +84/+88), different stts (box at trak+189:
    // sample_count at +16, delta at +20)
    val soun = trak.clone()
    soun(156) = 's'; soun(157) = 'o'; soun(158) = 'u'; soun(159) = 'n'
    for (i <- 92 until 100) soun(i) = 0
    soun(205) = 0; soun(206) = 0; soun(207) = 0; soun(208) = 77
    soun(209) = 0; soun(210) = 0; soun(211) = 3; soun(212) = -25 // 999
    def withMoovSize(bytes: Array[Byte], delta: Int): Array[Byte] = {
      val out = bytes.clone()
      val sz = ((out(32) & 0xff) << 24) | ((out(33) & 0xff) << 16) |
        ((out(34) & 0xff) << 8) | (out(35) & 0xff)
      val ns = sz + delta
      out(32) = ((ns >> 24) & 0xff).toByte; out(33) = ((ns >> 16) & 0xff).toByte
      out(34) = ((ns >> 8) & 0xff).toByte; out(35) = (ns & 0xff).toByte
      out
    }
    // audio trak AFTER the video trak
    val after = withMoovSize(
      canon.slice(0, 361) ++ soun ++ canon.slice(361, canon.length), 213)
    // audio trak BEFORE the video trak
    val before = withMoovSize(
      canon.slice(0, 148) ++ soun ++ canon.slice(148, canon.length), 213)
    for ((name, f) <- Seq("after" -> after, "before" -> before)) {
      val m = probe.probe(f)
      assert(m.nTracks == 2, name)
      assert(m.handler == "vide" && m.width == 128 && m.height == 96, name)
      assert(m.nSamples == 30L && m.sampleDelta == 20, name)
      assert(m.mdatBytes == 21L, name)
    }
    // a duplicated VIDEO trak is ambiguous and must be rejected
    val twoVide = withMoovSize(
      canon.slice(0, 361) ++ trak ++ canon.slice(361, canon.length), 213)
    intercept[IllegalArgumentException](probe.probe(twoVide))
  }

  test("Mp4Probe fails fast on corrupt bytes: zero/large box size, " +
    "64-bit largesize, stts entry overrun, truncation, missing moov") {
    import multimodal.Codecs
    val probe = new Codecs.Mp4Probe()
    val payload = Array.tabulate(20)(i => (i % 251).toByte)
    val canon = Codecs.mp4Encode(600, 12, 50, 64, 48, payload)
    def be32set(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = ((v >> 24) & 0xff).toByte; b(off + 1) = ((v >> 16) & 0xff).toByte
      b(off + 2) = ((v >> 8) & 0xff).toByte; b(off + 3) = (v & 0xff).toByte
    }
    // size 0 ("to end of file") is rejected, not misparsed
    val zero = canon.clone(); be32set(zero, 32, 0)
    intercept[IllegalArgumentException](probe.probe(zero))
    // size 1 (64-bit largesize) is rejected as unsupported
    val large = canon.clone(); be32set(large, 32, 1)
    intercept[IllegalArgumentException](probe.probe(large))
    // a child box size overrunning its parent fails at the parent wall
    val over = canon.clone(); be32set(over, 40, 5000)
    intercept[IllegalArgumentException](probe.probe(over))
    // stts claiming more entries than its box holds
    val stts = canon.clone()
    val sttsOff = canon.indexOfSlice("stts".getBytes("US-ASCII").toSeq) - 4
    be32set(stts, sttsOff + 12, 99)
    intercept[IllegalArgumentException](probe.probe(stts))
    // truncated mid-moov
    intercept[IllegalArgumentException](
      probe.probe(canon.slice(0, canon.length - payload.length - 12)))
    // ftyp alone (no moov): missing-metadata contract
    intercept[IllegalArgumentException](probe.probe(canon.slice(0, 32)))
    // an empty 8-byte mvhd as the file's last box: its size is checked
    // before its version byte (which would lie past the buffer) is read
    val bareMvhd = canon.slice(0, 32) ++ Array[Byte](0, 0, 0, 16,
      'm', 'o', 'o', 'v', 0, 0, 0, 8, 'm', 'v', 'h', 'd')
    intercept[IllegalArgumentException](probe.probe(bareMvhd))
  }

  test("Mp4Indexer resolves stsz/stsc/stco to real byte ranges in both " +
    "box orders; extracted slices equal the encoder's sample inputs") {
    import multimodal.Codecs
    val idx = new Codecs.Mp4Indexer()
    val sizes = Array(5, 0, 17, 3) // a zero-length sample is legal
    val payload = Array.tabulate(25)(i => ((i * 7 + 1) % 251).toByte)
    for (moovLast <- Seq(false, true)) {
      val bytes = Codecs.mp4EncodeIndexed(600, 50, 32, 24, sizes, payload,
        moovLast = moovLast)
      assert(bytes.length == Codecs.mp4SizeIndexed(4, 25))
      val samples = idx.index(bytes)
      assert(samples.map(_.size).toSeq == sizes.toSeq, s"moovLast=$moovLast")
      // offsets are absolute and box-order-dependent: slice the REAL
      // container at them and compare with the original sample bytes
      var rel = 0
      samples.foreach { sm =>
        val got = bytes.slice(sm.off.toInt, sm.off.toInt + sm.size).toSeq
        assert(got == payload.slice(rel, rel + sm.size).toSeq,
          s"moovLast=$moovLast k=${sm.k}")
        rel += sm.size
      }
      // the probe still reads the same file's metadata (shared walk)
      val m = new Codecs.Mp4Probe().probe(bytes)
      assert(m.nSamples == 4L && m.width == 32 && m.height == 24)
    }
  }

  test("Mp4Indexer fails fast on corrupt index boxes: stsz table " +
    "overrun, stco pointing outside the container, stsc/stsz mismatch") {
    import multimodal.Codecs
    val idx = new Codecs.Mp4Indexer()
    val sizes = Array(6, 7)
    val payload = Array.tabulate(13)(i => (i % 251).toByte)
    val canon = Codecs.mp4EncodeIndexed(600, 50, 32, 24, sizes, payload)
    def be32set(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = ((v >> 24) & 0xff).toByte; b(off + 1) = ((v >> 16) & 0xff).toByte
      b(off + 2) = ((v >> 8) & 0xff).toByte; b(off + 3) = (v & 0xff).toByte
    }
    def boxOff(tag: String): Int =
      canon.indexOfSlice(tag.getBytes("US-ASCII").toSeq) - 4
    // stsz claiming more samples than its table holds
    val overrun = canon.clone()
    be32set(overrun, boxOff("stsz") + 16, 999)
    intercept[IllegalArgumentException](idx.index(overrun))
    // stco anchored past the buffer: the per-sample extent check fires
    val outside = canon.clone()
    be32set(outside, boxOff("stco") + 16, canon.length - 3)
    intercept[IllegalArgumentException](idx.index(outside))
    // stsc samples-per-chunk disagreeing with the stsz count
    val mismatch = canon.clone()
    be32set(mismatch, boxOff("stsc") + 20, 7)
    intercept[IllegalArgumentException](idx.index(mismatch))
    // fixed-size stsz with a negative size (0xFFFFFFFF) and a huge
    // count: fails the size check, never reaches the allocation
    val negFixed = canon.clone()
    be32set(negFixed, boxOff("stsz") + 12, -1)
    be32set(negFixed, boxOff("stsz") + 16, Int.MaxValue)
    intercept[IllegalArgumentException](idx.index(negFixed))
    // the same stsz in a decodable file (fixed form already)
    val video = Codecs.mp4EncodeVideo(600, 50, 4, 3,
      Seq(Array.tabulate(4 * 3 * 3)(i => (i * 7).toByte)))
    val vStsz = video.indexOfSlice("stsz".getBytes("US-ASCII").toSeq) - 4
    be32set(video, vStsz + 12, -1)
    be32set(video, vStsz + 16, Int.MaxValue)
    intercept[IllegalArgumentException](
      new Codecs.Mp4VideoDecoder().decode(video))
  }

  test("mm_mp4_extract reads sample bytes at index-resolved offsets: " +
    "sizes, absolute offsets and slice sums match the arithmetic; " +
    "indexer binding is conf-swappable") {
    import multimodal.Codecs
    val out = multimodal.Multimodal.mmMp4Extract(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (id, rows) =>
      val nf = (6 + id % 6).toInt
      assert(rows.length == nf, s"doc $id sample count")
      val sizes = Array.tabulate(nf)(k => 10 + ((id + k * 7) % 20))
      val base = if (id % 2 == 0) 40L
        else 437L + 4 * nf // moov-first: mdat payload after the tree
      var rel = 0L
      var g0 = 0L
      rows.sortBy(_._2).foreach { case (_, k, sb, off, ssum) =>
        assert(sb == sizes(k.toInt), s"doc $id k=$k size")
        assert(off == base + rel, s"doc $id k=$k offset")
        var exp = 0L
        for (g <- g0 until g0 + sb) exp += (id * 13 + g * g * 3) % 251
        assert(ssum == exp, s"doc $id k=$k slice sum")
        rel += sb; g0 += sb
      }
    }
    val key = multimodal.Multimodal.Mp4IndexerConfKey
    spark.conf.set(key, classOf[FixedMp4Indexer].getName)
    try {
      val n = multimodal.Multimodal.mmMp4Extract(spark, sf)
        .groupBy("doc_id").count().select("count").distinct()
        .as[Long].collect().toSeq
      assert(n == Seq(1L)) // the fixed indexer emits ONE sample per doc
    } finally spark.conf.unset(key)
  }

  test("mm_mp4_probe consumes REAL ISO-BMFF bytes: parsed metadata " +
    "matches the parameter arithmetic and the closed-form size; probe " +
    "binding is conf-swappable") {
    import multimodal.Codecs
    val out = multimodal.Multimodal.mmMp4Probe(spark, sf)
      .as[(Long, Long, String, Int, Long, Long, Int, String, Int, Int,
        Long, Int, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, nb, brand, ts, dur, durMs, ntr, hdl, w, h,
        nf, fps, mdat, psum) =>
      val delta = 20 + (id % 4) * 10
      val nfE = 24 + id % 48
      val plen = nfE * (7 + id % 9)
      assert(brand == "isom" && ts == 600 && ntr == 1 && hdl == "vide")
      assert(w == 32 + (id % 8) * 16 && h == 24 + (id % 6) * 16)
      assert(nf == nfE && fps == 600 / delta)
      assert(dur == nfE * delta && durMs == nfE * delta * 1000 / 600)
      assert(nb == Codecs.mp4Size(plen.toInt) && mdat == plen)
      var exp = 0L
      for (i <- 0L until plen) exp += (id * 31 + i * i * 5) % 251
      assert(psum == exp, s"doc $id payload sum")
    }
    val key = multimodal.Multimodal.Mp4ProbeConfKey
    spark.conf.set(key, classOf[FixedMp4Probe].getName)
    try {
      val brands = multimodal.Multimodal.mmMp4Probe(spark, sf)
        .select("brand").distinct().as[String].collect().toSeq
      assert(brands == Seq("fake"))
    } finally spark.conf.unset(key)
  }

  test("PNG codec: exhaustive lossless round trip over ALL 256 " +
    "distinct raster classes (the mm_decode_png pattern repeats with " +
    "period 256), DEFLATE beats the stored bound on every class, all " +
    "five filter types genuinely exercised") {
    import multimodal.Codecs
    val dec = new Codecs.PngDecoder()
    for (id <- 0L until 256L) {
      val w = (16 + id % 16).toInt
      val h = (12 + id % 8).toInt
      val px = Array.tabulate(w * h * 3) { j =>
        val p = j / 3; val x = p % w; val y = p / w
        (j % 3 match {
          case 0 => (id * 5 + x * 19 + y * 37) % 256
          case 1 => (id * 13 + x * 7 + y * 11) % 256
          case _ => (id * 17 + x * 23 + y * 3) % 256
        }).toByte
      }
      val png = Codecs.pngEncode(w, h, px)
      val im = dec.decode(png)
      assert(im.width == w && im.height == h, s"class $id dims")
      assert(java.util.Arrays.equals(im.rgb, px), s"class $id pixels")
      // the checked column's bound: compressed PNG strictly beats
      // signature + IHDR + IEND + one stored IDAT of the raw stream
      assert(png.length < 57 + Codecs.pngRawLen(w, h),
        s"class $id: ${png.length} !< ${57 + Codecs.pngRawLen(w, h)}")
      // the mm_transcode_png flag: PNG beats the BMP container too
      assert(png.length < Codecs.bmpEncode(w, h, px).length,
        s"class $id: png not smaller than bmp")
      // h >= 12 rows, filters cycle y % 5 => all five types appear
      assert(h >= 5)
      // the Adam7 encoder leg (the mm_transcode_png
      // lossless_adam7_ok theorem): interlaced round trip exact on
      // every class
      val im7 = dec.decode(Codecs.pngEncodeAdam7(w, h, px))
      assert(im7.width == w && im7.height == h, s"class $id adam7 dims")
      assert(java.util.Arrays.equals(im7.rgb, px),
        s"class $id adam7 pixels")
    }
  }

  test("PNG cross-implementation conformance with the JDK's ImageIO: " +
    "our bytes decode identically in ImageIO, and ImageIO-ENCODED " +
    "bytes (a foreign filter/chunking strategy) decode identically " +
    "in our decoder — the codec is spec-compliant, not merely " +
    "self-consistent") {
    import multimodal.Codecs
    val dec = new Codecs.PngDecoder()
    for (id <- Seq(0L, 1L, 7L, 42L, 130L, 255L)) {
      val w = (16 + id % 16).toInt
      val h = (12 + id % 8).toInt
      val px = Array.tabulate(w * h * 3) { j =>
        val p = j / 3; val x = p % w; val y = p / w
        ((id * (3 + j % 3 * 4) + x * 13 + y * 29) % 256).toByte
      }
      // direction 1: our encoder -> ImageIO reader
      val ours = Codecs.pngEncode(w, h, px)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(ours))
      assert(img != null && img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        val argb = img.getRGB(x, y)
        val base = (y * w + x) * 3
        assert(((argb >> 16) & 0xff) == (px(base) & 0xff) &&
          ((argb >> 8) & 0xff) == (px(base + 1) & 0xff) &&
          (argb & 0xff) == (px(base + 2) & 0xff),
          s"class $id ImageIO pixel ($x,$y)")
      }
      // direction 2: ImageIO encoder (its own filter choices, its own
      // IDAT layout, ancillary chunks) -> our decoder
      val bi = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val base = (y * w + x) * 3
        bi.setRGB(x, y, ((px(base) & 0xff) << 16) |
          ((px(base + 1) & 0xff) << 8) | (px(base + 2) & 0xff))
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, "png", bos))
      val im = dec.decode(bos.toByteArray)
      assert(im.width == w && im.height == h, s"class $id foreign dims")
      assert(java.util.Arrays.equals(im.rgb, px),
        s"class $id foreign pixels")
    }
  }

  test("Adam7 interlaced PNG decodes pixel-exact: hand-built files " +
    "(pass-split sub-images, per-pass filter cycling, empty-pass " +
    "elision) across dims below/above every pass stride, plus " +
    "ImageIO-written progressive PNGs as foreign interlaced bytes") {
    import multimodal.Codecs
    val dec = new Codecs.PngDecoder()
    val passes = Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
      (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b)
      val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    def buildInterlaced(w: Int, h: Int, px: Array[Byte]): Array[Byte] = {
      val filtered = new java.io.ByteArrayOutputStream()
      for ((x0, y0, dx, dy) <- passes) {
        val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
        val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
        if (pw > 0 && ph > 0) {
          val rl = pw * 3
          val sub = new Array[Byte](ph * rl)
          for (j <- 0 until ph; i <- 0 until pw; c <- 0 until 3)
            sub((j * pw + i) * 3 + c) =
              px(((y0 + j * dy) * w + (x0 + i * dx)) * 3 + c)
          for (j <- 0 until ph) {
            val ft = j % 5 // cycle all five filters within each pass
            filtered.write(ft)
            for (x <- 0 until rl) {
              val cur = sub(j * rl + x) & 0xff
              val left = if (x >= 3) sub(j * rl + x - 3) & 0xff else 0
              val up = if (j > 0) sub((j - 1) * rl + x) & 0xff else 0
              val ul =
                if (x >= 3 && j > 0) sub((j - 1) * rl + x - 3) & 0xff
                else 0
              val pred = ft match {
                case 0 => 0
                case 1 => left
                case 2 => up
                case 3 => (left + up) / 2
                case _ => paeth(left, up, ul)
              }
              filtered.write((cur - pred) & 0xff)
            }
          }
        }
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(filtered.toByteArray); defl.finish()
      val idat = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](512)
      while (!defl.finished()) idat.write(buf, 0, defl.deflate(buf))
      defl.end()
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a,
        0x1a, 0x0a))
      def wbe32(v: Int): Array[Byte] = Array((v >> 24).toByte,
        (v >> 16).toByte, (v >> 8).toByte, v.toByte)
      def chunk(tp: String, data: Array[Byte]): Unit = {
        out.write(wbe32(data.length))
        val tb = tp.getBytes("US-ASCII")
        out.write(tb)
        out.write(data)
        val crc = new java.util.zip.CRC32()
        crc.update(tb); crc.update(data)
        out.write(wbe32(crc.getValue.toInt))
      }
      val ihdr = new java.io.ByteArrayOutputStream()
      ihdr.write(wbe32(w)); ihdr.write(wbe32(h))
      ihdr.write(8); ihdr.write(2); ihdr.write(0); ihdr.write(0)
      ihdr.write(1) // Adam7
      chunk("IHDR", ihdr.toByteArray)
      chunk("IDAT", idat.toByteArray)
      chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }
    for (w <- Seq(1, 2, 3, 4, 5, 7, 8, 9, 16);
         h <- Seq(1, 2, 3, 5, 8, 9, 11, 16)) {
      val px = Array.tabulate(w * h * 3) { j =>
        val p = j / 3; val x = p % w; val y = p / w
        ((x * 13 + y * 29 + j % 3 * 47 + w * 3 + h * 7) % 256).toByte
      }
      val im = dec.decode(buildInterlaced(w, h, px))
      assert(im.width == w && im.height == h, s"${w}x$h dims")
      assert(java.util.Arrays.equals(im.rgb, px),
        s"${w}x$h deinterlace not pixel-exact")
    }
    // foreign interlaced bytes: the JDK PNG writer's progressive mode
    // (its own filter heuristics and IDAT chunking) through our decoder
    for ((w, h) <- Seq((17, 11), (8, 8), (3, 19), (33, 5))) {
      val px = Array.tabulate(w * h * 3)(j => ((j * 31 + w + h) % 256)
        .toByte)
      val bi = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val base = (y * w + x) * 3
        bi.setRGB(x, y, ((px(base) & 0xff) << 16) |
          ((px(base + 1) & 0xff) << 8) | (px(base + 2) & 0xff))
      }
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("png").next()
      val prm = writer.getDefaultWriteParam
      assert(prm.canWriteProgressive, "JDK PNG writer lost progressive")
      prm.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(bi, null, null), prm)
      writer.dispose(); ios.close()
      val foreign = bos.toByteArray
      assert(foreign(8 + 8 + 12) == 1, "ImageIO did not write Adam7")
      val im = dec.decode(foreign)
      assert(im.width == w && im.height == h, s"${w}x$h foreign dims")
      assert(java.util.Arrays.equals(im.rgb, px),
        s"${w}x$h foreign interlaced pixels")
      // and the reverse direction: OUR Adam7 encoder's bytes through
      // ImageIO's deinterlacer, pixel-exact
      val img2 = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(
          multimodal.Codecs.pngEncodeAdam7(w, h, px)))
      assert(img2 != null && img2.getWidth == w && img2.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        val argb = img2.getRGB(x, y)
        val base = (y * w + x) * 3
        assert(((argb >> 16) & 0xff) == (px(base) & 0xff) &&
          ((argb >> 8) & 0xff) == (px(base + 1) & 0xff) &&
          (argb & 0xff) == (px(base + 2) & 0xff),
          s"${w}x$h our-adam7-through-ImageIO pixel ($x,$y)")
      }
    }
  }

  test("PNG decoder fails fast on corrupt bytes: flipped IDAT byte is " +
    "a CRC error, bad signature, truncations, lying IHDR dims, and " +
    "an unknown filter type are all require() failures") {
    import multimodal.Codecs
    val dec = new Codecs.PngDecoder()
    val px = Array.tabulate(8 * 6 * 3)(i => (i * 7 % 256).toByte)
    val png = Codecs.pngEncode(8, 6, px)
    // flip one byte inside the first IDAT's data: CRC must catch it
    val idatOff = {
      var o = 8
      while (new String(png, o + 4, 4, "US-ASCII") != "IDAT")
        o += 12 + ((png(o) & 0xff) << 24 | (png(o + 1) & 0xff) << 16 |
          (png(o + 2) & 0xff) << 8 | (png(o + 3) & 0xff))
      o
    }
    val flipped = png.clone()
    flipped(idatOff + 10) = (flipped(idatOff + 10) ^ 0x5a).toByte
    val crcErr = intercept[IllegalArgumentException](dec.decode(flipped))
    assert(crcErr.getMessage.contains("CRC"))
    // bad signature
    val badSig = png.clone(); badSig(0) = 'X'
    intercept[IllegalArgumentException](dec.decode(badSig))
    // every truncation fails fast (or would succeed — impossible here
    // since IEND is last), never a raw array/NPE error
    for (n <- 0 until png.length)
      try { dec.decode(png.take(n)); fail(s"truncation $n decoded") }
      catch { case _: IllegalArgumentException => () }
    // same sweep over the Adam7 layout: truncated interlaced files
    // must fail fast too, never scatter partial passes
    val png7 = Codecs.pngEncodeAdam7(8, 6, px)
    for (n <- 0 until png7.length)
      try { dec.decode(png7.take(n)); fail(s"adam7 truncation $n decoded") }
      catch { case _: IllegalArgumentException => () }
    // lying IHDR dims: claim a taller image than IDAT holds (patch
    // height at offset 8+8+4, then fix the IHDR CRC so the walk
    // reaches the inflate-length check)
    val tall = png.clone()
    tall(8 + 8 + 7) = 100.toByte
    val crc = new java.util.zip.CRC32()
    crc.update(tall, 12, 4 + 13)
    val cv = crc.getValue.toInt
    tall(8 + 8 + 13) = (cv >> 24).toByte
    tall(8 + 8 + 14) = (cv >> 16).toByte
    tall(8 + 8 + 15) = (cv >> 8).toByte
    tall(8 + 8 + 16) = cv.toByte
    val short = intercept[IllegalArgumentException](dec.decode(tall))
    assert(short.getMessage.contains("inflates"))
  }

  test("mm_decode_png: decoded channel sums match the pattern (PNG " +
    "round trip is lossless through real DEFLATE), every row reports " +
    "compressed=true, decoder binding is conf-swappable") {
    val out = multimodal.Multimodal.mmDecodePng(spark, sf)
      .as[(Long, Int, Int, Long, Long, Long, Boolean)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, w, h, sr, sg, sb, comp) =>
      assert(w == 16 + id % 16 && h == 12 + id % 8, s"doc $id dims")
      var er = 0L; var eg = 0L; var eb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        er += (id * 5 + x * 19 + y * 37) % 256
        eg += (id * 13 + x * 7 + y * 11) % 256
        eb += (id * 17 + x * 23 + y * 3) % 256
      }
      assert(sr == er && sg == eg && sb == eb, s"doc $id sums")
      assert(comp, s"doc $id not compressed")
    }
    val key = multimodal.Multimodal.PngDecoderConfKey
    spark.conf.set(key, classOf[ZeroImageDecoder].getName)
    try {
      val z = multimodal.Multimodal.mmDecodePng(spark, sf)
        .agg(max("sum_r"), max("width")).collect()(0)
      assert(z.getLong(0) == 0L && z.getInt(1) == 1)
    } finally spark.conf.unset(key)
  }

  test("mm_transcode_png: BMP -> PNG format conversion is lossless " +
    "on every row (byte-compare against the original raster) and the " +
    "compressed container beats the uncompressed one") {
    val out = multimodal.Multimodal.mmTranscodePng(spark, sf)
      .as[(Long, Long, Int, Int, Long, Boolean, Boolean)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, bb, w, h, sum, lossless, smaller) =>
      assert(lossless, s"doc $id lossy")
      assert(smaller, s"doc $id png not smaller")
      val stride = ((w * 3 + 3) / 4) * 4
      assert(bb == 54 + stride * h, s"doc $id bmp size")
    }
    // the Adam7 twin: same raster class through the interlaced layout
    val out7 = multimodal.Multimodal.mmTranscodePngAdam7(spark, sf)
      .as[(Long, Long, Int, Int, Long, Boolean, Boolean)].collect()
    assert(out7.length == out.length)
    out7.zip(out).foreach { case (a, b) =>
      assert(a._6 && a._7, s"doc ${a._1} adam7 flags")
      // identical decoded identity — only the container layout differs
      assert(a._5 == b._5 && a._3 == b._3 && a._4 == b._4,
        s"doc ${a._1} adam7 decode drifted from sequential")
    }
  }

  test("TIFF codec: lossless round trip over raster classes in BOTH " +
    "compressions (none / PackBits) and strip shapes, PackBits " +
    "beats the stored strips on run-heavy content, ImageIO " +
    "conformance both directions, fail-fast on corrupt/truncated/" +
    "unsupported-shape bytes") {
    import multimodal.Codecs
    val dec = new Codecs.TiffDecoder()
    // round trip: dims below/at/above the 4-row strip size, both
    // compressions, general content (TIFF is lossless — no class
    // restriction needed)
    for (id <- 0L until 64L; pb <- Seq(false, true)) {
      val w = (5 + id % 13).toInt
      val h = (3 + id % 9).toInt
      val px = Array.tabulate(w * h * 3) { j =>
        val p = j / 3; val x = p % w; val y = p / w
        ((id * 7 + x * 13 + y * 31 + j % 3 * 47) % 256).toByte
      }
      val tiff = Codecs.tiffEncode(w, h, px, packbits = pb)
      assert(Codecs.sniff(tiff) == "tiff", s"class $id sniff")
      val im = dec.decode(tiff)
      assert(im.width == w && im.height == h, s"class $id pb=$pb dims")
      assert(java.util.Arrays.equals(im.rgb, px),
        s"class $id pb=$pb pixels")
    }
    // PackBits genuinely compresses run-heavy (gray-blocky) content
    for (id <- 0L until 16L) {
      val w = 32; val h = 24
      val px = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        px((y * w + x) * 3 + c) =
          (2 * ((id * 5 + (x / 8) * 19 + (y / 8) * 37) % 96) + 32).toByte
      val plain = Codecs.tiffEncode(w, h, px, packbits = false)
      val packed = Codecs.tiffEncode(w, h, px, packbits = true)
      assert(packed.length < plain.length,
        s"class $id: ${packed.length} !< ${plain.length}")
      assert(java.util.Arrays.equals(dec.decode(packed).rgb, px))
    }
    // the mm_decode_tiff size_ok theorem over the pattern's FULL
    // 96-class period: stored containers equal the closed form
    // exactly, PackBits AND LZW containers beat it
    for (id <- 0L until 96L) {
      val w = (16 + id % 16).toInt
      val h = (12 + id % 8).toInt
      val px = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        px((y * w + x) * 3 + c) =
          (2 * ((id * 5 + (x / 8) * 19 + (y / 8) * 37) % 96) + 32).toByte
      val nStrips = (h + Codecs.TiffRowsPerStrip - 1) /
        Codecs.TiffRowsPerStrip
      val plainSize = 140 + 3 * w * h + 8 * nStrips
      assert(Codecs.tiffEncode(w, h, px, packbits = false).length ==
        plainSize, s"class $id stored size")
      assert(Codecs.tiffEncode(w, h, px, packbits = true).length <
        plainSize, s"class $id packbits not smaller")
      assert(Codecs.tiffEncodeLzw(w, h, px).length <
        plainSize, s"class $id lzw not smaller")
    }
    // cross-implementation: our bytes (BOTH compressions) through
    // ImageIO's TIFF reader, and ImageIO's TIFF writer output (its
    // own strip/IFD/byte-order choices) through our decoder
    val w = 21; val h = 11
    val px = Array.tabulate(w * h * 3)(j => ((j * 31 + 7) % 256).toByte)
    for (pb <- Seq(false, true)) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(
          Codecs.tiffEncode(w, h, px, packbits = pb)))
      assert(img != null && img.getWidth == w && img.getHeight == h,
        s"ImageIO cannot read our TIFF (pb=$pb)")
      for (y <- 0 until h; x <- 0 until w) {
        val argb = img.getRGB(x, y)
        val base = (y * w + x) * 3
        assert(((argb >> 16) & 0xff) == (px(base) & 0xff) &&
          ((argb >> 8) & 0xff) == (px(base + 1) & 0xff) &&
          (argb & 0xff) == (px(base + 2) & 0xff),
          s"pb=$pb ImageIO pixel ($x,$y)")
      }
    }
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val base = (y * w + x) * 3
      bi.setRGB(x, y, ((px(base) & 0xff) << 16) |
        ((px(base + 1) & 0xff) << 8) | (px(base + 2) & 0xff))
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "tiff", bos),
      "JDK lost its TIFF writer")
    val foreign = bos.toByteArray
    val im = dec.decode(foreign)
    assert(im.width == w && im.height == h, "foreign dims")
    assert(java.util.Arrays.equals(im.rgb, px), "foreign pixels")
    // fail-fast: truncations at every length, corrupted magic,
    // unsupported shape (grayscale photometric)
    val tiff = Codecs.tiffEncode(9, 7,
      Array.tabulate(9 * 7 * 3)(i => (i * 11 % 256).toByte),
      packbits = true)
    for (n <- 0 until tiff.length)
      try { dec.decode(tiff.take(n)); fail(s"truncation $n decoded") }
      catch { case _: IllegalArgumentException => () }
    val badMagic = tiff.clone(); badMagic(0) = 'X'
    intercept[IllegalArgumentException](dec.decode(badMagic))
    // 300-trial byte-corruption fuzz: require() or correct, never raw
    var s0 = 12345L
    for (t <- 0 until 300) {
      val b = tiff.clone()
      s0 = s0 * 6364136223846793005L + 1442695040888963407L
      b(((s0 >>> 33) % b.length).toInt) =
        Seq(0x00, 0xff, 0x7f, 0x80)((t % 4)).toByte
      try { dec.decode(b); () }
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"trial $t threw ${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  test("TIFF LZW (compression 5, MSB-first early change): exact " +
    "round trips both general and run-heavy content, genuinely " +
    "compresses runs, the big-table path (width 9->12 + mid-stream " +
    "Clear) survives both our round trip AND ImageIO both " +
    "directions, a hand-built predictor-2 file un-differences " +
    "correctly, and corruption never escapes IllegalArgument") {
    import multimodal.Codecs
    val dec = new Codecs.TiffDecoder()
    // round trips across strip-boundary dims, general content
    for (id <- 0L until 64L) {
      val w = (5 + id % 13).toInt
      val h = (3 + id % 9).toInt
      val px = Array.tabulate(w * h * 3) { j =>
        val p = j / 3; val x = p % w; val y = p / w
        ((id * 7 + x * 13 + y * 31 + j % 3 * 47) % 256).toByte
      }
      val tiff = Codecs.tiffEncodeLzw(w, h, px)
      assert(Codecs.sniff(tiff) == "tiff", s"class $id sniff")
      val im = dec.decode(tiff)
      assert(im.width == w && im.height == h, s"class $id dims")
      assert(java.util.Arrays.equals(im.rgb, px), s"class $id pixels")
    }
    // LZW beats stored on run-heavy (gray-blocky) content
    for (id <- 0L until 16L) {
      val w = 32; val h = 24
      val px = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        px((y * w + x) * 3 + c) =
          (2 * ((id * 5 + (x / 8) * 19 + (y / 8) * 37) % 96) + 32).toByte
      val plain = Codecs.tiffEncode(w, h, px, packbits = false)
      val lzw = Codecs.tiffEncodeLzw(w, h, px)
      assert(lzw.length < plain.length,
        s"class $id: ${lzw.length} !< ${plain.length}")
      assert(java.util.Arrays.equals(dec.decode(lzw).rgb, px))
    }
    // direct codec round trip through the FULL width ladder: ~60 KB
    // of low-redundancy bytes forces 9->10->11->12-bit codes and a
    // mid-stream Clear at entry 4094
    var seed = 424242L
    val big = Array.tabulate(60000) { _ =>
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (seed >>> 33).toByte
    }
    assert(java.util.Arrays.equals(
      Codecs.lzwDecompress(Codecs.lzwCompress(big), 0,
        Codecs.lzwCompress(big).length, big.length), big),
      "big-table LZW round trip")
    // the same ladder through ImageIO BOTH directions: one wide
    // image = 12 KB strips, enough adds per strip to clear the table
    val bw = 1000; val bh = 8
    seed = 99L
    val bpx = Array.tabulate(bw * bh * 3) { _ =>
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (seed >>> 33).toByte
    }
    val bigTiff = Codecs.tiffEncodeLzw(bw, bh, bpx)
    assert(java.util.Arrays.equals(dec.decode(bigTiff).rgb, bpx))
    val bimg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bigTiff))
    assert(bimg != null && bimg.getWidth == bw && bimg.getHeight == bh,
      "ImageIO cannot read our LZW TIFF")
    for (y <- 0 until bh; x <- 0 until bw) {
      val argb = bimg.getRGB(x, y)
      val base = (y * bw + x) * 3
      assert(((argb >> 16) & 0xff) == (bpx(base) & 0xff) &&
        ((argb >> 8) & 0xff) == (bpx(base + 1) & 0xff) &&
        (argb & 0xff) == (bpx(base + 2) & 0xff),
        s"ImageIO LZW pixel ($x,$y)")
    }
    // ImageIO's own LZW writer output through our decoder
    val w = 21; val h = 11
    val px = Array.tabulate(w * h * 3)(j => ((j * 31 + 7) % 256).toByte)
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val base = (y * w + x) * 3
      bi.setRGB(x, y, ((px(base) & 0xff) << 16) |
        ((px(base + 1) & 0xff) << 8) | (px(base + 2) & 0xff))
    }
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val wparam = writer.getDefaultWriteParam
    wparam.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    wparam.setCompressionType("LZW")
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(bi, null, null), wparam)
    ios.close(); writer.dispose()
    val foreign = bos.toByteArray
    val fim = dec.decode(foreign)
    assert(fim.width == w && fim.height == h, "foreign LZW dims")
    assert(java.util.Arrays.equals(fim.rgb, px), "foreign LZW pixels")
    // hand-built predictor-2 file (horizontal differencing, TIFF 6.0
    // §14): difference each row per channel, LZW the single strip,
    // write the 11-entry IFD with tag 317=2 — our decoder must
    // un-difference back to the raster
    val pw = 13; val ph = 5
    val ppx = Array.tabulate(pw * ph * 3)(j => ((j * 53 + 11) % 256).toByte)
    val diff = ppx.clone()
    for (y <- 0 until ph; x <- (pw * 3 - 1) to 3 by -1) {
      val base = y * pw * 3
      diff(base + x) = (diff(base + x) - ppx(base + x - 3)).toByte
    }
    val strip = Codecs.lzwCompress(diff)
    val hand = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { hand.write(v & 0xff); hand.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
    val bpsOff = 8 + strip.length
    val ifdOff = bpsOff + 6
    hand.write('I'); hand.write('I'); w16(42); w32(ifdOff)
    hand.write(strip, 0, strip.length)
    w16(8); w16(8); w16(8)
    def entry(tag: Int, tpe: Int, count: Int, value: Int): Unit = {
      w16(tag); w16(tpe); w32(count)
      if (tpe == 3 && count == 1) { w16(value); w16(0) } else w32(value)
    }
    w16(11)
    entry(256, 4, 1, pw); entry(257, 4, 1, ph)
    entry(258, 3, 3, bpsOff); entry(259, 3, 1, 5)
    entry(262, 3, 1, 2); entry(273, 4, 1, 8)
    entry(277, 3, 1, 3); entry(278, 4, 1, ph)
    entry(279, 4, 1, strip.length); entry(284, 3, 1, 1)
    entry(317, 3, 1, 2)
    w32(0)
    val pim = dec.decode(hand.toByteArray)
    assert(pim.width == pw && pim.height == ph, "predictor dims")
    assert(java.util.Arrays.equals(pim.rgb, ppx), "predictor pixels")
    // predictor-2 ENCODE (the symmetric rung): our differenced-LZW
    // bytes round-trip through our decoder, ImageIO reads them
    // pixel-exact, and on smooth content the predictor genuinely
    // helps (differenced rows are near-constant -> longer LZW runs)
    val sw = 40; val sh = 16
    val smooth = new Array[Byte](sw * sh * 3)
    for (y <- 0 until sh; x <- 0 until sw; c <- 0 until 3)
      smooth((y * sw + x) * 3 + c) = (30 + x * 3 + y * 2 + c * 5).toByte
    val pred = Codecs.tiffEncodeLzw(sw, sh, smooth, predictor2 = true)
    assert(java.util.Arrays.equals(dec.decode(pred).rgb, smooth),
      "predictor-2 encode round trip")
    assert(pred.length <
      Codecs.tiffEncodeLzw(sw, sh, smooth).length,
      "predictor 2 not smaller on smooth content")
    val pimg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(pred))
    assert(pimg != null, "ImageIO cannot read our predictor-2 LZW")
    for (y <- 0 until sh; x <- 0 until sw) {
      val argb = pimg.getRGB(x, y)
      val base = (y * sw + x) * 3
      assert(((argb >> 16) & 0xff) == (smooth(base) & 0xff) &&
        ((argb >> 8) & 0xff) == (smooth(base + 1) & 0xff) &&
        (argb & 0xff) == (smooth(base + 2) & 0xff),
        s"ImageIO predictor-2 pixel ($x,$y)")
    }
    // hand-built BIG-ENDIAN (MM) file: the decoder's byte-order
    // branch on real bytes, not just the sniffer's magic check
    val mw = 6; val mh = 3
    val mpx = Array.tabulate(mw * mh * 3)(j => ((j * 37 + 3) % 256).toByte)
    val mm = new java.io.ByteArrayOutputStream()
    def b16(v: Int): Unit = { mm.write((v >> 8) & 0xff); mm.write(v & 0xff) }
    def b32(v: Int): Unit = { b16((v >>> 16) & 0xffff); b16(v & 0xffff) }
    val mBpsOff = 8 + mpx.length
    val mIfdOff = mBpsOff + 6
    mm.write('M'); mm.write('M'); b16(42); b32(mIfdOff)
    mm.write(mpx, 0, mpx.length)
    b16(8); b16(8); b16(8)
    def mEntry(tag: Int, tpe: Int, count: Int, value: Int): Unit = {
      b16(tag); b16(tpe); b32(count)
      if (tpe == 3 && count == 1) { b16(value); b16(0) } else b32(value)
    }
    b16(10)
    mEntry(256, 4, 1, mw); mEntry(257, 4, 1, mh)
    mEntry(258, 3, 3, mBpsOff); mEntry(259, 3, 1, 1)
    mEntry(262, 3, 1, 2); mEntry(273, 4, 1, 8)
    mEntry(277, 3, 1, 3); mEntry(278, 4, 1, mh)
    mEntry(279, 4, 1, mpx.length); mEntry(284, 3, 1, 1)
    b32(0)
    val mim = dec.decode(mm.toByteArray)
    assert(mim.width == mw && mim.height == mh, "MM dims")
    assert(java.util.Arrays.equals(mim.rgb, mpx), "MM pixels")
    // fail-fast: truncations + 300-trial corruption fuzz
    val small = Codecs.tiffEncodeLzw(9, 7,
      Array.tabulate(9 * 7 * 3)(i => (i * 11 % 256).toByte))
    for (n <- 0 until small.length)
      try { dec.decode(small.take(n)); fail(s"truncation $n decoded") }
      catch { case _: IllegalArgumentException => () }
    var s0 = 54321L
    for (t <- 0 until 300) {
      val b = small.clone()
      s0 = s0 * 6364136223846793005L + 1442695040888963407L
      b(((s0 >>> 33) % b.length).toInt) =
        Seq(0x00, 0xff, 0x7f, 0x80)((t % 4)).toByte
      try { dec.decode(b); () }
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"trial $t threw ${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  test("G.711 mu-law/A-law: expansion matches the javax.sound " +
    "reference bit-for-bit on all 256 codewords of both laws, " +
    "compress(expand(c)) == c (A-law bijective on all 256; mu-law's " +
    "negative zero 0x7F folds to 0xFF — the G.711 dual zero), " +
    "quantization error bounded over the FULL 16-bit range, and " +
    "G.711 WAVE containers decode through the real RIFF walk") {
    import multimodal.Codecs
    import javax.sound.sampled._
    def reference(codes: Array[Byte],
        enc: AudioFormat.Encoding): Array[Short] = {
      val fmt = new AudioFormat(enc, 8000f, 8, 1, 1, 8000f, false)
      val in = new AudioInputStream(
        new java.io.ByteArrayInputStream(codes), fmt, codes.length)
      val pcmFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, false)
      val pcm = AudioSystem.getAudioInputStream(pcmFmt, in)
      val buf = pcm.readAllBytes()
      Array.tabulate(buf.length / 2)(i =>
        ((buf(2 * i) & 0xff) | (buf(2 * i + 1) << 8)).toShort)
    }
    val all = Array.tabulate(256)(i => i.toByte)
    val refMu = reference(all, AudioFormat.Encoding.ULAW)
    val refA = reference(all, AudioFormat.Encoding.ALAW)
    assert(refMu.length == 256 && refA.length == 256)
    for (c <- 0 until 256) {
      assert(Codecs.mulawDecode(all(c)) == refMu(c),
        s"mu-law $c: ${Codecs.mulawDecode(all(c))} vs ref ${refMu(c)}")
      assert(Codecs.alawDecode(all(c)) == refA(c),
        s"A-law $c: ${Codecs.alawDecode(all(c))} vs ref ${refA(c)}")
    }
    // compress(expand) — the invertible-class theorem per codeword
    for (c <- 0 until 256) {
      val mu = Codecs.mulawEncode(Codecs.mulawDecode(all(c)))
      if (c == 0x7f) assert(mu == 0xff.toByte, "negative zero folds")
      else assert(mu == all(c), s"mu-law compress(expand($c)) = $mu")
      assert(Codecs.alawEncode(Codecs.alawDecode(all(c))) == all(c),
        s"A-law compress(expand($c))")
    }
    // quantization bound over the full 16-bit range: error < the
    // segment step (mu-law top step 8<<5=256 on the 14-bit grid ->
    // 1024 after clip headroom; A-law top step 16 on the 13-bit grid
    // -> 1024 after <<3). Scan exhaustively and pin the worst case.
    var worstMu = 0; var worstA = 0
    var x = Short.MinValue.toInt
    while (x <= Short.MaxValue) {
      val s = x.toShort
      val em = math.abs(Codecs.mulawDecode(Codecs.mulawEncode(s)) - x)
      val ea = math.abs(Codecs.alawDecode(Codecs.alawEncode(s)) - x)
      if (em > worstMu) worstMu = em
      if (ea > worstA) worstA = ea
      x += 1
    }
    assert(worstMu <= 1024, s"mu-law worst quantization error $worstMu")
    assert(worstA <= 1024, s"A-law worst quantization error $worstA")
    // the container path: G.711 WAVs decode through the RIFF walk;
    // odd sample counts get the RIFF pad byte (chunks pad to even),
    // the data size field stays at n, and the file length is even
    val dec = new Codecs.WavDecoder()
    val codes = Array.tabulate(300)(i => ((i * 37 + 11) % 256).toByte)
    for (mu <- Seq(true, false); n <- Seq(300, 299)) {
      val cs = codes.take(n)
      val wav = Codecs.wavEncodeG711(8000, cs, mu)
      assert(wav.length == 44 + n + (n % 2) && wav.length % 2 == 0,
        s"RIFF even-length padding for n=$n")
      val au = dec.decode(wav)
      assert(au.sampleRate == 8000 && au.samples.length == n)
      for (i <- 0 until n) {
        val want = if (mu) Codecs.mulawDecode(cs(i))
          else Codecs.alawDecode(cs(i))
        assert(au.samples(i) == want, s"mu=$mu n=$n sample $i")
      }
      // a strict foreign reader accepts the padded file too
      val ais = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      assert(ais.getFrameLength == n, s"javax.sound frames for n=$n")
    }
    // foreign bytes: javax.sound WRITES a ULAW/ALAW WAVE file; our
    // RIFF walk + expander must read it sample-exact
    for ((enc, mu) <- Seq((AudioFormat.Encoding.ULAW, true),
      (AudioFormat.Encoding.ALAW, false))) {
      val fmt = new AudioFormat(enc, 8000f, 8, 1, 1, 8000f, false)
      val in = new AudioInputStream(
        new java.io.ByteArrayInputStream(codes), fmt, codes.length)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(in, AudioFileFormat.Type.WAVE, bos)
      val au = dec.decode(bos.toByteArray)
      assert(au.samples.length == 300, s"foreign $enc length")
      for (i <- 0 until 300) {
        val want = if (mu) Codecs.mulawDecode(codes(i))
          else Codecs.alawDecode(codes(i))
        assert(au.samples(i) == want, s"foreign $enc sample $i")
      }
    }
  }

  test("mm_transcode_gif: BMP -> GIF palettization is exact on the " +
    "palette-image corpus (index plane AND resolved RGB byte-compared " +
    "through the interleaved gray/interlaced layouts), every " +
    "container beats the stored bound") {
    val out = multimodal.Multimodal.mmTranscodeGif(spark, sf)
      .as[(Long, Long, Int, Int, Long, Boolean, Boolean)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, bb, w, h, _, lossless, compressed) =>
      assert(lossless, s"doc $id palettization lossy")
      assert(compressed, s"doc $id lzw not compressed")
      val stride = ((w * 3 + 3) / 4) * 4
      assert(bb == 54 + stride * h, s"doc $id bmp size")
    }
  }

  test("Mp4VideoDecoder: REAL frame decode from the MP4 container — " +
    "round trip is byte-exact in both muxer box orders, fps comes " +
    "from parsed mdhd/stts, and non-'raw ' or non-24-bit sample " +
    "entries are rejected (the compressed-codec boundary)") {
    import multimodal.Codecs
    val dec = new Codecs.Mp4VideoDecoder()
    val frames = (0 until 4).map(f =>
      Array.tabulate(6 * 5 * 3)(i => ((i * 11 + f * 31) % 256).toByte))
    for (moovLast <- Seq(false, true)) {
      val bytes = Codecs.mp4EncodeVideo(600, 40, 6, 5, frames, moovLast)
      assert(bytes.length == Codecs.mp4SizeVideo(4 * 6 * 5 * 3))
      val v = dec.decode(bytes)
      assert(v.width == 6 && v.height == 5 && v.fps == 15)
      assert(v.frames.length == 4)
      v.frames.zip(frames).zipWithIndex.foreach { case ((got, exp), f) =>
        assert(java.util.Arrays.equals(got, exp),
          s"frame $f moovLast=$moovLast")
      }
      // the probe and indexer read the SAME bytes consistently
      val meta = new Codecs.Mp4Probe().probe(bytes)
      assert(meta.handler == "vide" && meta.nSamples == 4 &&
        meta.width == 6 && meta.height == 5)
      val idx = new Codecs.Mp4Indexer().index(bytes)
      assert(idx.length == 4 && idx.forall(_.size == 6 * 5 * 3))
    }
    // patch the stsd fourcc: a compressed-codec entry must be refused
    val bytes = Codecs.mp4EncodeVideo(600, 40, 6, 5, frames)
    def find(pat: String): Int = {
      val p = pat.getBytes("US-ASCII")
      (0 to bytes.length - p.length).find(i =>
        p.indices.forall(j => bytes(i + j) == p(j))).get
    }
    val h264 = bytes.clone()
    "avc1".getBytes("US-ASCII").copyToArray(h264, find("raw "))
    val e1 = intercept[IllegalArgumentException](dec.decode(h264))
    assert(e1.getMessage.contains("avc1"))
    // patch the depth field (entry offset 82 from the fourcc - 4)
    val d16 = bytes.clone()
    val entry = find("raw ") - 4
    d16(entry + 82) = 0; d16(entry + 83) = 16
    val e2 = intercept[IllegalArgumentException](dec.decode(d16))
    assert(e2.getMessage.contains("depth-24"))
  }

  test("GIF codec: exhaustive index-exact round trip over ALL 768 " +
    "distinct raster classes (pattern period lcm(256,12,6)) through " +
    "a from-scratch variable-width LZW; compression beats the " +
    "stored bound on every class; palette resolves per the formula") {
    import multimodal.Codecs
    val dec = new Codecs.GifLzwDecoder()
    for (id <- 0L until 768L) {
      val w = (16 + id % 12).toInt
      val h = (10 + id % 6).toInt
      val idx = Array.tabulate(w * h) { p =>
        val x = p % w; val y = p / w
        ((id * 3 + x * 7 + (y % 3) * 11) % 256).toByte
      }
      val gif = Codecs.gifEncode(w, h, idx)
      val im = dec.decode(gif)
      assert(im.width == w && im.height == h, s"class $id dims")
      assert(java.util.Arrays.equals(im.indices, idx),
        s"class $id indices")
      // decoded RGB resolves through the parsed palette
      for (p <- Seq(0, w * h / 2, w * h - 1)) {
        val (r, g, b) = Codecs.gifPalette(idx(p) & 0xff)
        assert((im.rgb(p * 3) & 0xff) == r &&
          (im.rgb(p * 3 + 1) & 0xff) == g &&
          (im.rgb(p * 3 + 2) & 0xff) == b, s"class $id pixel $p")
      }
      val bound = 794 + w * h + (w * h + 254) / 255
      assert(gif.length < bound,
        s"class $id: ${gif.length} !< $bound")
      // the mm_transcode_gif theorems in BOTH layouts: the INTERLACED
      // encoder round-trips index-exact (the decoder undoes the
      // four-pass row order) and still beats the stored bound
      val gifI = Codecs.gifEncode(w, h, idx, interlaced = true)
      assert((gifI(13 + 768 + 9) & 0x40) != 0, s"class $id: no flag")
      val imI = dec.decode(gifI)
      assert(java.util.Arrays.equals(imI.indices, idx),
        s"class $id interlaced indices")
      assert(gifI.length < bound,
        s"class $id interlaced: ${gifI.length} !< $bound")
    }
    // LZW genuinely exercises table growth past the 9-bit boundary on
    // a large high-entropy raster (distinct-phrase count > 512), and
    // the round trip still holds
    val bw = 200; val bh = 100
    val big = Array.tabulate(bw * bh)(p =>
      ((p * 131 + (p / bw) * 17 + (p % 7) * p) % 256).toByte)
    val bigGif = Codecs.gifEncode(bw, bh, big)
    assert(java.util.Arrays.equals(dec.decode(bigGif).indices, big))
  }

  test("GIF cross-implementation conformance with the JDK's ImageIO: " +
    "our LZW bytes decode identically in ImageIO, and ImageIO's GIF " +
    "output (its own LZW, 89a extensions) decodes identically in our " +
    "decoder") {
    import multimodal.Codecs
    val dec = new Codecs.GifLzwDecoder()
    for (id <- Seq(0L, 5L, 77L, 300L, 767L)) {
      val w = (16 + id % 12).toInt
      val h = (10 + id % 6).toInt
      val idx = Array.tabulate(w * h) { p =>
        val x = p % w; val y = p / w
        ((id * 3 + x * 7 + (y % 3) * 11) % 256).toByte
      }
      // direction 1: our encoder -> ImageIO reader (palette-resolved)
      val ours = Codecs.gifEncode(w, h, idx)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(ours))
      assert(img != null && img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = Codecs.gifPalette(idx(y * w + x) & 0xff)
        val argb = img.getRGB(x, y)
        assert(((argb >> 16) & 0xff) == r && ((argb >> 8) & 0xff) == g &&
          (argb & 0xff) == b, s"class $id ImageIO pixel ($x,$y)")
      }
      // direction 2: ImageIO's GIF writer (its own LZW stream, 89a
      // header/extensions, its own palette handling) -> our decoder;
      // compare RESOLVED RGB, since the writer may reindex
      val pr = new Array[Byte](256); val pg = new Array[Byte](256)
      val pb = new Array[Byte](256)
      for (i <- 0 until 256) {
        val (r, g, b) = Codecs.gifPalette(i)
        pr(i) = r.toByte; pg(i) = g.toByte; pb(i) = b.toByte
      }
      val cm = new java.awt.image.IndexColorModel(8, 256, pr, pg, pb)
      val bi = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = Codecs.gifPalette(idx(y * w + x) & 0xff)
        bi.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bi, "gif", bos))
      val im = dec.decode(bos.toByteArray)
      assert(im.width == w && im.height == h, s"class $id foreign dims")
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = Codecs.gifPalette(idx(y * w + x) & 0xff)
        val p = (y * w + x) * 3
        assert((im.rgb(p) & 0xff) == r && (im.rgb(p + 1) & 0xff) == g &&
          (im.rgb(p + 2) & 0xff) == b, s"class $id foreign ($x,$y)")
      }
    }
  }

  test("GIF decoder fails fast on corrupt bytes: bad signature, " +
    "truncations at every length, lying dims (LZW overrun/underrun), " +
    "and a bad LZW code size are all require() failures") {
    import multimodal.Codecs
    val dec = new Codecs.GifLzwDecoder()
    val idx = Array.tabulate(9 * 7)(p => (p * 31 % 256).toByte)
    val gif = Codecs.gifEncode(9, 7, idx)
    val bad = gif.clone(); bad(3) = '9'; bad(4) = '9'
    intercept[IllegalArgumentException](dec.decode(bad))
    // a truncation either fails fast with require() or — when only
    // trailing bytes past the complete image data are cut — decodes
    // to the exact original raster; never a raw array error
    for (n <- 0 until gif.length)
      try {
        val im = dec.decode(gif.take(n))
        assert(java.util.Arrays.equals(im.indices, idx),
          s"truncation $n decoded WRONG data")
      } catch { case _: IllegalArgumentException => () }
    // same sweep over the INTERLACED layout: a truncated interlaced
    // file must never scatter partial passes into a wrong answer
    val gifI = Codecs.gifEncode(9, 7, idx, interlaced = true)
    for (n <- 0 until gifI.length)
      try {
        val im = dec.decode(gifI.take(n))
        assert(java.util.Arrays.equals(im.indices, idx),
          s"interlaced truncation $n decoded WRONG data")
      } catch { case _: IllegalArgumentException => () }
    // lie about the height in the image descriptor: the LZW stream
    // then yields too few pixels
    val tall = gif.clone()
    val imgOff = 13 + 768 // image descriptor offset
    tall(imgOff + 7) = 100.toByte
    val e = intercept[IllegalArgumentException](dec.decode(tall))
    assert(e.getMessage.contains("LZW"))
    val wide = gif.clone()
    wide(imgOff + 5) = 3.toByte // narrower: stream overruns raster
    val e2 = intercept[IllegalArgumentException](dec.decode(wide))
    assert(e2.getMessage.contains("overruns") ||
      e2.getMessage.contains("LZW"))
    val badCode = gif.clone()
    badCode(imgOff + 10) = 13.toByte
    val e3 = intercept[IllegalArgumentException](dec.decode(badCode))
    assert(e3.getMessage.contains("code size"))
    // a positioned sub-image (left/top != 0) is refused, not silently
    // decoded as if it were the full logical screen
    val offset = gif.clone()
    offset(imgOff + 1) = 2.toByte
    val e4 = intercept[IllegalArgumentException](dec.decode(offset))
    assert(e4.getMessage.contains("offset"))
  }

  test("mm_decode_gif: decoded channel sums match the palette-" +
    "resolved pattern, every row compressed, binding conf-swappable") {
    val out = multimodal.Multimodal.mmDecodeGif(spark, sf)
      .as[(Long, Int, Int, Long, Long, Long, Boolean)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, w, h, sr, sg, sb, comp) =>
      assert(w == 16 + id % 12 && h == 10 + id % 6, s"doc $id dims")
      var er = 0L; var eg = 0L; var eb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val idx = (id * 3 + x * 7 + (y % 3) * 11) % 256
        er += idx * 37 % 256; eg += idx * 113 % 256; eb += idx * 211 % 256
      }
      assert(sr == er && sg == eg && sb == eb, s"doc $id sums")
      assert(comp, s"doc $id not compressed")
    }
    val key = multimodal.Multimodal.GifDecoderConfKey
    spark.conf.set(key, classOf[ZeroGifDecoder].getName)
    try {
      val z = multimodal.Multimodal.mmDecodeGif(spark, sf)
        .agg(max("sum_r"), max("width")).collect()(0)
      assert(z.getLong(0) == 0L && z.getInt(1) == 1)
    } finally spark.conf.unset(key)
  }

  test("sniff: every encoder's output is detected from magic bytes " +
    "alone; garbage, truncated, and misleading bytes tag as unknown " +
    "without throwing") {
    import multimodal.Codecs
    val px = Array.tabulate(4 * 3 * 3)(i => (i * 5 % 256).toByte)
    assert(Codecs.sniff(Codecs.bmpEncode(4, 3, px)) == "bmp")
    assert(Codecs.sniff(Codecs.pngEncode(4, 3, px)) == "png")
    assert(Codecs.sniff(Codecs.gifEncode(4, 3,
      Array.tabulate(12)(i => (i * 9).toByte))) == "gif")
    assert(Codecs.sniff(Codecs.wavEncode(8000,
      Array.tabulate(10)(i => (i * 50).toShort))) == "wav")
    assert(Codecs.sniff(Codecs.aviEncode(4, 3, 10, Seq(px))) == "avi")
    assert(Codecs.sniff(Codecs.mp4EncodeVideo(600, 60, 4, 3,
      Seq(px))) == "mp4")
    assert(Codecs.sniff(Codecs.mp4EncodeVideo(600, 60, 4, 3,
      Seq(px), moovLast = true)) == "mp4")
    assert(Codecs.sniff(Codecs.tiffEncode(4, 3, px,
      packbits = true)) == "tiff")
    assert(Codecs.sniff(Array[Byte]('M', 'M', 0, 42, 0, 0, 0, 8))
      == "tiff") // big-endian magic too
    assert(Codecs.sniff(null) == "unknown")
    assert(Codecs.sniff(Array.emptyByteArray) == "unknown")
    assert(Codecs.sniff(Array[Byte](1, 2, 3, 4)) == "unknown")
    assert(Codecs.sniff("RIFFxxxxJUNK".getBytes("US-ASCII")) == "unknown")
    assert(Codecs.sniff("GIF7".getBytes("US-ASCII")) == "unknown")
  }

  test("mm_sniff_decode: EIGHT container formats interleaved in one " +
    "corpus (the lossy JPEG since round 10, TIFF with both strip " +
    "layouts since round 12), every format detected from content and " +
    "routed to its real decoder — format census complete, sums " +
    "format-consistent") {
    val out = multimodal.Multimodal.mmSniffDecode(spark, sf)
      .as[(Long, String, Long)].collect()
    assert(out.nonEmpty)
    val expected =
      Seq("bmp", "png", "gif", "wav", "avi", "mp4", "jpeg", "tiff")
    out.foreach { case (id, fmt, sum) =>
      assert(fmt == expected((id % 8).toInt), s"doc $id sniffed $fmt")
      assert(sum > 0, s"doc $id empty content")
    }
    // parity classes all present at this corpus size
    assert(out.map(_._2).distinct.sorted.toSeq == expected.sorted)
  }

  test("mm_decode_quarantine: the error channel on real bytes — " +
    "magic-corrupted docs quarantine as unknown_format before any " +
    "parse, CRC-corrupted PNGs AND strip-corrupted TIFFs as " +
    "decode_error, everything else decodes; all three channels " +
    "present, every doc accounted for") {
    val out = multimodal.Multimodal.mmDecodeQuarantine(spark, sf)
      .as[(Long, String, String, Option[Long])].collect()
    assert(out.nonEmpty)
    val nDocs = Tables.documents(spark, sf).count()
    assert(out.length == nDocs, "a channel dropped rows")
    out.foreach { case (id, status, fmt, sum) =>
      val magic = (id / 8) % 5 == 2
      val body = id % 8 == 1 && (id / 8) % 5 == 3
      val strip = id % 8 == 7 && (id / 8) % 5 == 3
      if (magic) {
        assert(status == "unknown_format" && fmt == "unknown" &&
          sum.isEmpty, s"doc $id")
      } else if (body) {
        assert(status == "decode_error" && fmt == "png" && sum.isEmpty,
          s"doc $id")
      } else if (strip) {
        assert(status == "decode_error" && fmt == "tiff" && sum.isEmpty,
          s"doc $id")
      } else {
        assert(status == "ok" && sum.exists(_ > 0), s"doc $id")
      }
    }
    assert(out.map(_._2).distinct.length == 3, "a channel is empty")
    // both CRC-less-format (tiff) and CRC-format (png) decode_error
    // slices are present at this corpus size
    assert(out.exists(r => r._2 == "decode_error" && r._3 == "tiff"),
      "no strip-corrupted TIFF at this sf")
    assert(out.exists(r => r._2 == "decode_error" && r._3 == "png"),
      "no CRC-corrupted PNG at this sf")
  }

  test("G.711-in-AVI: the companded two-stream container round-trips " +
    "sample-exact through the one-parse AV walk (both laws, odd and " +
    "even spans incl. the RIFF pad), the closed size form holds, and " +
    "PCM clips are unaffected") {
    import multimodal.Codecs
    val dec = new Codecs.AviAvDecoder()
    val w = 6; val h = 5
    val frames = (0 until 3).map(f =>
      Array.tabulate(w * h * 3)(i => ((i * 13 + f * 29) % 256).toByte))
    for (mu <- Seq(true, false); spf <- Seq(10, 11)) {
      val codes = Array.tabulate(3 * spf)(i => ((i * 53 + 7) % 256).toByte)
      val bytes = Codecs.aviEncodeAvG711(w, h, 10, frames, spf, codes, mu)
      assert(bytes.length == Codecs.aviAvG711Size(w, h, 3, spf),
        s"size form mu=$mu spf=$spf")
      val av = dec.decode(bytes)
      assert(av.video.width == w && av.video.height == h &&
        av.video.frames.length == 3 && av.video.fps == 10)
      av.video.frames.zip(frames).foreach { case (got, exp) =>
        assert(java.util.Arrays.equals(got, exp), s"mu=$mu spf=$spf")
      }
      assert(av.audio.sampleRate == 10 * spf &&
        av.audio.samples.length == 3 * spf)
      for (i <- 0 until 3 * spf) {
        val want = if (mu) Codecs.mulawDecode(codes(i))
          else Codecs.alawDecode(codes(i))
        assert(av.audio.samples(i) == want, s"mu=$mu spf=$spf sample $i")
      }
    }
  }

  test("mm_pipeline_full planted-skew: a pathological corpus (90% one " +
    "format class, ~45% quarantine) keeps every dedup-window " +
    "partition bounded under the op's OWN key — quarantined rows are " +
    "singletons, ok partitions bounded by content multiplicity, and " +
    "the UNSALTED key demonstrably concentrates the quarantine into " +
    "one giant partition") {
    import spark.implicits._
    import multimodal.Multimodal
    // 90% JPEG class (id % 8 == 6); even k takes the magic-corrupt
    // quotient residue (q % 5 == 2) -> ~half of those quarantine;
    // 10% spread over the other seven format classes (incl. TIFF)
    val ids: Seq[Long] = (0 until 6000).map { k =>
      if (k < 5400) {
        val q = if (k % 2 == 0) 5L * (k / 2) + 2 else 5L * (k / 2)
        8L * q + 6
      } else {
        val r = k % 7
        8L * (k - 5400) + (if (r == 6) 7 else r)
      }
    }
    val decoded = Multimodal.mmPipelineDecodedOn(
      spark.createDataset(ids)).cache()
    try {
      val nQuar = decoded.filter(col("status") =!= "ok").count()
      assert(nQuar >= 2500, s"corpus not pathological enough: $nQuar")
      // partition sizes of the SAME key the op's window partitions by
      val keyed = decoded
        .groupBy(Multimodal.mmPipelineDedupKey: _*)
        .agg(count(lit(1)).as("n"),
          sum(when(col("status") =!= "ok", 1L).otherwise(0L))
            .as("n_quar"))
        .select("n", "n_quar").as[(Long, Long)].collect()
      // 1. every quarantined row is its own window partition: the
      //    zero-stat rows can never form a skew partition
      assert(keyed.filter(_._2 > 0).forall(r => r._1 == 1L),
        "a quarantined row shared a window partition")
      // 2. ok partitions are bounded by content multiplicity (this
      //    planted JPEG stride's ok ids are 8q+6 with q=5m: dims from
      //    q%3/q%2, gray blocks from id*5 mod 96 — identities have a
      //    short period in m, 7 content families, largest 675
      //    copies), never by corpus size or quarantine share —
      //    at 100 TB the bound is the copy count of the most-
      //    duplicated document, which exact dedup cannot avoid
      //    colocating
      val maxOk = keyed.filter(_._2 == 0).map(_._1).max
      assert(maxOk <= 704, s"ok partition grew past multiplicity: $maxOk")
      // 3. counterfactual: WITHOUT the status salt, all unknown_format
      //    rows share one (format,0,0,0,0) key — the skew partition
      //    the salt exists to prevent
      val maxUnsalted = decoded
        .groupBy(col("format"), col("w"), col("h"), col("content_sum"),
          col("payload"))
        .agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).as[Long].head()
      assert(maxUnsalted >= nQuar / 2 && maxUnsalted >= 4 * maxOk,
        s"counterfactual lost its point: $maxUnsalted vs $nQuar/$maxOk")
      // 4. the stages run on the planted corpus and account for
      //    every row
      val funnel = Multimodal.mmPipelineStagesOn(decoded)
        .select(col("n_total"), col("n_quarantined"), col("n_dup"),
          col("n_small"), col("n_kept"))
        .as[(Long, Long, Long, Long, Long)].collect()
      assert(funnel.map(_._1).sum == 6000L, "funnel dropped rows")
      assert(funnel.forall(r => r._1 == r._2 + r._3 + r._4 + r._5),
        "funnel stages do not partition the census")
      assert(funnel.map(_._2).sum == nQuar)
    } finally decoded.unpersist()
  }

  test("Mp4AvDecoder: both modalities from ONE two-track MP4 parse " +
    "through the MULTI-CHUNK stco index (one chunk per frame per " +
    "trak) — round trip byte-exact in both box orders, probe/indexer " +
    "interop, foreign formats and index mismatches rejected") {
    import multimodal.Codecs
    val dec = new Codecs.Mp4AvDecoder()
    val frames = (0 until 3).map(f =>
      Array.tabulate(6 * 4 * 3)(i => ((i * 7 + f * 29) % 256).toByte))
    val samples = Array.tabulate(3 * 10)(i =>
      ((i * 317) % 4096 - 2048).toShort)
    for (moovLast <- Seq(false, true)) {
      val bytes = Codecs.mp4EncodeAv(600, 200, 6, 4, frames, 10,
        samples, moovLast)
      assert(bytes.length == Codecs.mp4SizeAv(6, 4, 3, 10))
      val av = dec.decode(bytes)
      assert(av.video.width == 6 && av.video.height == 4 &&
        av.video.fps == 3 && av.video.frames.length == 3)
      av.video.frames.zip(frames).foreach { case (got, exp) =>
        assert(java.util.Arrays.equals(got, exp), s"moovLast=$moovLast")
      }
      assert(av.audio.sampleRate == 30 && av.audio.channels == 1)
      assert(av.audio.samples.toSeq == samples.toSeq)
      // the single-track probe reads the same two-track bytes
      // consistently (vide fields win, track census correct)
      val meta = new Codecs.Mp4Probe().probe(bytes)
      assert(meta.nTracks == 2 && meta.handler == "vide" &&
        meta.width == 6 && meta.height == 4 && meta.nSamples == 3)
    }
    val bytes = Codecs.mp4EncodeAv(600, 200, 6, 4, frames, 10, samples)
    def find(pat: String): Int = {
      val p = pat.getBytes("US-ASCII")
      (0 to bytes.length - p.length).find(i =>
        p.indices.forall(j => bytes(i + j) == p(j))).get
    }
    // a compressed audio entry must be refused
    val aac = bytes.clone()
    "mp4a".getBytes("US-ASCII").copyToArray(aac, find("sowt"))
    val e1 = intercept[IllegalArgumentException](dec.decode(aac))
    assert(e1.getMessage.contains("mp4a"))
    // breaking the audio stsc samples-per-chunk breaks the
    // chunks x spc == stsz-count invariant — the multi-chunk check
    val badSpc = bytes.clone()
    val soundStsc = {
      // the audio trak's stsc is the second one in the file
      val first = find("stsc")
      val p = "stsc".getBytes("US-ASCII")
      (first + 1 to bytes.length - 4).find(i =>
        p.indices.forall(j => bytes(i + j) == p(j))).get
    }
    // from the tag: verflags(4) + entry_count(4) + first_chunk(4)
    // put samples_per_chunk at tag+16; patch its low byte
    badSpc(soundStsc + 19) = 99.toByte
    val e2 = intercept[IllegalArgumentException](dec.decode(badSpc))
    assert(e2.getMessage.contains("chunks"))
  }

  test("mm_mp4_decode_av: both modality stats from ONE parsed " +
    "two-track MP4 match the pattern arithmetic and the closed-form " +
    "size; decoder binding is conf-swappable") {
    import multimodal.Codecs
    val out = multimodal.Multimodal.mmMp4DecodeAv(spark, sf)
      .as[(Long, Long, Int, Int, Long, Int, Int, Long, Long, Long)]
      .collect()
    assert(out.nonEmpty)
    out.foreach { case (id, nb, w, h, nf, fps, rate, ns, sumRgb,
        sumAbs) =>
      val ew = (8 + id % 5).toInt; val eh = (5 + id % 3).toInt
      val enf = (2 + id % 3).toInt; val espf = (16 + (id % 8) * 2).toInt
      assert(w == ew && h == eh && nf == enf, s"doc $id dims")
      assert(nb == Codecs.mp4SizeAv(ew, eh, enf, espf), s"doc $id size")
      assert(fps == 3 && rate == 3 * espf && ns == enf * espf,
        s"doc $id timing")
      var er = 0L
      for (f <- 0 until enf; y <- 0 until eh; x <- 0 until ew)
        er += (id * 7 + f * 31 + x * 17 + y * 13) % 256 +
          (id * 19 + f * 11 + x * 23 + y * 29) % 256 +
          (id * 3 + f * 41 + x * 37 + y * 7) % 256
      assert(sumRgb == er, s"doc $id sum_rgb")
      var ea = 0L
      for (i <- 0 until enf * espf)
        ea += math.abs((id * 61 + i.toLong * i * 11) % 4096 - 2048)
      assert(sumAbs == ea, s"doc $id sum_abs")
    }
    val key = multimodal.Multimodal.Mp4AvDecoderConfKey
    spark.conf.set(key, classOf[FixedAvDecoder].getName)
    try {
      val z = multimodal.Multimodal.mmMp4DecodeAv(spark, sf)
        .agg(max("sum_rgb"), max("n_samples")).collect()(0)
      assert(z.getLong(0) == 0L && z.getLong(1) == 1L)
    } finally spark.conf.unset(key)
  }

  test("ref_ep3_mp4: the full step-3 chain on genuine MP4 bytes " +
    "equals ref_ep3_real on every column except the container size " +
    "(the container-independence theorem), and each sample's size is " +
    "the mp4SizeVideo closed form") {
    import multimodal.Codecs
    val mp4 = multimodal.Multimodal.refEp3Mp4(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    val avi = multimodal.Multimodal.refEp3Real(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(mp4.nonEmpty && mp4.length == avi.length)
    mp4.zip(avi).foreach { case (m, a) =>
      // all columns but sub_bytes (index 8) identical across containers
      assert(m._1 == a._1 && m._2 == a._2 && m._3 == a._3 &&
        m._4 == a._4 && m._5 == a._5 && m._6 == a._6 &&
        m._7 == a._7 && m._8 == a._8 && m._10 == a._10,
        s"row $m vs $a")
      val nSeg = (m._4 - m._3).toInt
      assert(m._9 == Codecs.mp4SizeVideo(nSeg * m._7.toInt * m._8.toInt * 3),
        s"doc ${m._1} seg ${m._2} sub size")
    }
  }

  test("mm_mp4_decode_frames: per-doc stats come from genuinely " +
    "parsed MP4 bytes (closed-form size, stts fps, frame count), " +
    "and the decoder binding is conf-swappable") {
    import multimodal.Codecs
    val out = multimodal.Multimodal.mmMp4DecodeFrames(spark, sf)
      .as[(Long, Long, Int, Int, Long, Int, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, nb, w, h, nf, fps, sum, cuts) =>
      val ew = (8 + id % 6).toInt; val eh = (6 + id % 4).toInt
      val enf = (3 + id % 4).toInt
      assert(w == ew && h == eh && nf == enf, s"doc $id dims")
      assert(nb == Codecs.mp4SizeVideo(enf * ew * eh * 3), s"doc $id size")
      assert(fps == 600 / (20 + (id % 3) * 20), s"doc $id fps")
      assert(cuts >= 0 && cuts < nf, s"doc $id cuts")
      var es = 0L
      for (f <- 0 until enf; y <- 0 until eh; x <- 0 until ew)
        es += (id * 9 + f * 43 + x * 11 + y * 29) % 256 +
          (id * 15 + f * 23 + x * 19 + y * 7) % 256 +
          (id * 5 + f * 47 + x * 31 + y * 17) % 256
      assert(sum == es, s"doc $id sum_rgb")
    }
    val key = multimodal.Multimodal.Mp4VideoDecoderConfKey
    spark.conf.set(key, classOf[ZeroVideoDecoder].getName)
    try {
      val z = multimodal.Multimodal.mmMp4DecodeFrames(spark, sf)
        .agg(max("sum_rgb"), max("n_frames")).collect()(0)
      assert(z.getLong(0) == 0L && z.getLong(1) == 1L)
    } finally spark.conf.unset(key)
  }

  test("one definition per decision in Multimodal.scala: conf lookups " +
    "and reflection only in the decoder binding, pixel loops only in " +
    "`raster`, one gray-to-RGB replication, one id source") {
    import scala.jdk.CollectionConverters._
    val f = new java.io.File("src/main/scala/graft/multimodal/Multimodal.scala")
    assert(f.isFile, f.getAbsolutePath)
    val lines = java.nio.file.Files.readAllLines(f.toPath).asScala.toIndexedSeq
    // a member's lines: its opening line through its closing brace
    def member(open: String): Range = {
      val a = lines.indexWhere(_.startsWith(open))
      assert(a >= 0, open)
      a to lines.indexWhere(_ == "  }", a)
    }
    def at(s: String): Seq[Int] = lines.indices.filter(lines(_).contains(s))
    def where(is: Seq[Int]) = is.map(i => s"Multimodal.scala:${i + 1}")
      .mkString("\n")
    val binding = member("  private[multimodal] final class Binding[") ++
      member("  private[multimodal] final case class Bound[")
    val rasterDef = member("  private def raster(")
    for (s <- Seq("conf.get(", "instantiate[", ".newInstance()"))
      assert(at(s).forall(binding.contains), s"$s\n" + where(at(s)))
    assert(at("conf.get(").size == 1, where(at("conf.get(")))
    val pixelLoops = at("while (x < w)")
    assert(pixelLoops.size == 1 && rasterDef.contains(pixelLoops.head),
      where(pixelLoops))
    assert(at("rgb(3 * i) = g(i)").size == 1, where(at("rgb(3 * i) = g(i)")))
    val idSource = at("""Tables.documents(s, dir).select(col("doc_id"))""")
    assert(idSource.size == 1, where(idSource))
  }

  test("codec operators are output-stable: SHA-256 of the sorted rows " +
    "of every catalog codec operator, mm_mp4_probe through ref_ep3_mp4") {
    // pins the engine-side patterns without DuckDB: a raster, waveform,
    // binding or body edit that moves any output moves its hash
    val names = Seq("mm_mp4_probe", "mm_mp4_extract", "mm_mp4_decode_frames",
      "mm_mp4_decode_av", "mm_decode_png", "mm_decode_gif", "mm_decode_jpeg",
      "mm_decode_jpeg_prog", "mm_decode_jpeg_prog_sa", "mm_decode_mjpeg",
      "mm_pipeline_full", "ref_ep3_mjpeg", "ref_pipeline_e2e",
      "mm_transcode_jpeg", "mm_transcode_jpeg420", "mm_sniff_decode",
      "mm_decode_quarantine", "mm_transcode_png", "mm_transcode_png_adam7",
      "mm_transcode_gif", "mm_phash_real", "mm_decode_image",
      "mm_decode_audio", "mm_decode_g711", "mm_decode_tiff",
      "mm_transcode_tiff", "mm_transcode_tiff_lzw", "mm_transcode_g711",
      "mm_decode_video", "mm_video_segments", "mm_argmax_track",
      "mm_transcode_real", "mm_decode_av", "mm_av_sync_audit",
      "mm_av_sync_g711", "mm_crop_clip", "ref_ep3_real", "ref_ep3_mp4")
    import org.apache.spark.sql.types._
    val got = names.map { n =>
      val df = multimodal.Multimodal.queries(n)(spark, sf)
      df.schema.fields.foreach(f => assert(f.dataType match {
        case IntegerType | LongType | BooleanType | StringType => true
        case _ => false
      }, s"$n.${f.name}: ${f.dataType}"))
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update((df.schema.simpleString +: df.collect().map(_.toString)
        .sorted).mkString("\n").getBytes("UTF-8"))
      n -> md.digest().map(x => f"${x & 0xff}%02x").mkString
    }.toMap
    val pinned = Map(
      "mm_mp4_probe" ->
        "9766909912ffaf2a82e08e0688a1a731f3f9da2fa149cd327dc85103e712264b",
      "mm_mp4_extract" ->
        "58cbe74f264b805284bbeb5ac203bbd4414868eaa2ef911ef57b7795f8cfa05d",
      "mm_mp4_decode_frames" ->
        "2e53f09098c20007a9ffd037c8fe6c4240a0c978bee2ea1f0cd73054fc8692eb",
      "mm_mp4_decode_av" ->
        "237d0671fae9eec6c05f5f34f4531fa12a65ce3ed1817bea089b00946d99ad1c",
      "mm_decode_png" ->
        "c682d23ac5bcde80c189e59a8714ac3b1aea8a8e4ac1d17b6c07bb66e1ab57fc",
      "mm_decode_gif" ->
        "72ba2e6dc5b5d9b63b55238c1021e14431d6f9d0d850388210f8fa8da6cdc84d",
      "mm_decode_jpeg" ->
        "7c27b982735796093395a20c6043a8075a676948df878571232fa5131483017e",
      "mm_decode_jpeg_prog" ->
        "67f4c67c9482c1e812951995136cc219da86b7f33c443e7eb3d48e58b1ac7882",
      "mm_decode_jpeg_prog_sa" ->
        "67f4c67c9482c1e812951995136cc219da86b7f33c443e7eb3d48e58b1ac7882",
      "mm_decode_mjpeg" ->
        "71ae1e927a70225bb4a73f0721436a20acb8f55d24febf948d0cc83f045b3175",
      "mm_pipeline_full" ->
        "bbe2aa4da5c22d9d9fce15cd21a0e8bd64b7d79695d63307a2e906839804bb16",
      "ref_ep3_mjpeg" ->
        "c29480d6f56cb2c2f910fbe521b6a42c408c49bfcaecb6443b93ae26b722bf74",
      "ref_pipeline_e2e" ->
        "e24861994aede9096033ab509d0e61fb986d35c37b106dc7150f21583e029990",
      "mm_transcode_jpeg" ->
        "e0997502ea2c68253007d2de065dabf40fb209c44aaf0ae14211f1b578b41a77",
      "mm_transcode_jpeg420" ->
        "e0997502ea2c68253007d2de065dabf40fb209c44aaf0ae14211f1b578b41a77",
      "mm_sniff_decode" ->
        "16441a41ed44724f3cf4c4ef397d2e12f83478888d3c396a8d51c9081026e059",
      "mm_decode_quarantine" ->
        "8460a070df19751b7b6877464e3142d208b127a3a9d10714f3948aa358bb2aa5",
      "mm_transcode_png" ->
        "1e860401ff419f3e1263655f720dacdbfa5248de5cbc8d9dd8de320f937855f0",
      "mm_transcode_png_adam7" ->
        "1e860401ff419f3e1263655f720dacdbfa5248de5cbc8d9dd8de320f937855f0",
      "mm_transcode_gif" ->
        "c9d9586a3114116513ca8fad1a8542d8339bb8a945dd811554aaf4740a756938",
      "mm_phash_real" ->
        "813b7ded1e0d76e7053e8dd610d1d694ed4ae8e1de17cd32aac77f1302109b33",
      "mm_decode_image" ->
        "2dcb5eddf8f2ed6853cc955626fce782fc90523650b35f2d5f1feb1ccb80727a",
      "mm_decode_audio" ->
        "ce8aa6e9d9f3b9451c7f27c96209af09c41d3e1c302148463e03b36f6ff334fa",
      "mm_decode_g711" ->
        "32b75e961b33ac8b5a27d99fe862b08e109676d901f9c7b6f174f80fdd6ce67c",
      "mm_decode_tiff" ->
        "ac52b717afdbbd066af7dfd1852ac1a1f1520047b4bc73323e4856ac9b2fc6b2",
      "mm_transcode_tiff" ->
        "100004917d89c15dcdcac5efa76ec902a9edecd856cd8fca9dcc6c94179dad52",
      "mm_transcode_tiff_lzw" ->
        "558b48ad49fa0bfbeab10544ab0f18e144eeea16128b3933a4e19ed989600e82",
      "mm_transcode_g711" ->
        "e697c2cc0cd94f824984546eb03e761c5323a7c4721213f12b5933b8e135ea65",
      "mm_decode_video" ->
        "48a8377a67d3989560b178f74ec9c424bef16be35c4f4d09789106eb86e3916d",
      "mm_video_segments" ->
        "6eb05b0e261df4dae444ea33ec2e10d8759d1c82bae91537668e027c08c9ef3e",
      "mm_argmax_track" ->
        "5eccff08bc84adfcb0d4dd7a0a9f886a773f630b57318d10bf4d90a873d782c6",
      "mm_transcode_real" ->
        "83094e2ec62779038d7c940ae749ef1bd40a260b110d610779b05c938479a62f",
      "mm_decode_av" ->
        "ae4761783370c51af35751dae026b63de53a5f96a5123fd0a1bb4e67ad7446c1",
      "mm_av_sync_audit" ->
        "e16e443166bcaaee412cbf4accd20dddca26c692919b8680884be1e569d321b2",
      "mm_av_sync_g711" ->
        "d81f40414731539eaff2d56d66169a455cd09d31482b415fd77b12937eb02b41",
      "mm_crop_clip" ->
        "5c9fc037483b15432e34c5959235e3b2d9490f0468e83938e829ed6eb8151151",
      "ref_ep3_real" ->
        "7b0474746ab057d0971a28c269fdbccc80c7cee121af64e1ad10629f063aba06",
      "ref_ep3_mp4" ->
        "dabed41628d8aa32b57d2b74690ec2b80010a732397bcf130c3da32ff2fdc89a")
    names.foreach(n => assert(got(n) == pinned(n), n))
  }
}

/** Test-only indexer that ignores the bytes — proves the catalog
  * op's outputs flow through the pluggable indexer binding. */
class FixedMp4Indexer extends multimodal.Codecs.ContainerIndexer {
  def index(bytes: Array[Byte]): Array[multimodal.Codecs.Mp4Sample] =
    Array(multimodal.Codecs.Mp4Sample(0, 0L, 0))
}

/** Test-only container probe that ignores the bytes — proves the
  * catalog op's outputs flow through the pluggable probe binding. */
class FixedMp4Probe extends multimodal.Codecs.ContainerProbe {
  def probe(bytes: Array[Byte]): multimodal.Codecs.Mp4Meta =
    multimodal.Codecs.Mp4Meta("fake", 600, 600L, 1, "vide",
      1, 1, 1L, 600, 0L, 0L)
}

/** Test-only image decoder that ignores the bytes — used to prove the
  * catalog op's outputs flow through the pluggable decode binding. */
class ZeroImageDecoder extends multimodal.Codecs.ImageDecoder {
  def decode(bytes: Array[Byte]): multimodal.Codecs.DecodedImage =
    multimodal.Codecs.DecodedImage(1, 1, new Array[Byte](3))
}

/** Test-only video decoder that ignores the bytes — proves the
  * catalog op's outputs flow through the pluggable decode binding. */
class ZeroVideoDecoder extends multimodal.Codecs.VideoDecoder {
  def decode(bytes: Array[Byte]): multimodal.Codecs.DecodedVideo =
    multimodal.Codecs.DecodedVideo(1, 1, 10,
      Array(new Array[Byte](3)))
}

/** Test-only GIF decoder that ignores the bytes — proves the catalog
  * op's outputs flow through the pluggable decode binding. */
class ZeroGifDecoder extends multimodal.Codecs.GifDecoder {
  def decode(bytes: Array[Byte]): multimodal.Codecs.DecodedGif =
    multimodal.Codecs.DecodedGif(1, 1, new Array[Byte](1),
      new Array[Byte](3))
}

/** Test-only AV decoder that ignores the bytes — proves the catalog
  * op's outputs flow through the pluggable decode binding. */
class FixedAvDecoder extends multimodal.Codecs.AvDecoder {
  def decode(bytes: Array[Byte]): multimodal.Codecs.DecodedAv =
    multimodal.Codecs.DecodedAv(
      multimodal.Codecs.DecodedVideo(1, 1, 3, Array(new Array[Byte](3))),
      multimodal.Codecs.DecodedAudio(30, 1, new Array[Short](1)))
}

/** Test-only detector standing in for a real codec-backed impl. */
class FixedDetector extends multimodal.Multimodal.FrameDetector {
  def detect(f: Long): Seq[multimodal.Multimodal.Detection] =
    Seq(multimodal.Multimodal.Detection(f, 0, 0L, 999L, 0L, 0L, 1L, 1L))
}

/** Test-only transcoder with a different container tag. */
class UpperTagTranscoder extends multimodal.Multimodal.Transcoder {
  def transcode(bytes: Array[Byte]): String =
    if (bytes == null) null else "WEBM:" + bytes.length
}
