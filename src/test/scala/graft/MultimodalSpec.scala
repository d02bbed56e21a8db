package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions.{col, encode}
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val payloads =
    Seq((1L, "hello world of binary payloads"),
      (2L, "another opaque media blob")).toDF("doc_id", "txt")
      .select(col("doc_id"), encode(col("txt"), "UTF-8").as("payload"))

  test("decodeFeatures: deterministic fake decode, correct shape") {
    val f = Multimodal.decodeFeatures(payloads).collect()
      .sortBy(_.doc_id)
    assert(f.length == 2)
    assert(f(0).byte_len == 30)
    assert(f(0).histogram.length == 16)
    assert(math.abs(f(0).histogram.sum - 1f) < 1e-5) // normalized
    // deterministic: same input -> same features
    val again = Multimodal.decodeFeatures(payloads).collect()
      .sortBy(_.doc_id)
    assert(f(0).histogram.toSeq == again(0).histogram.toSeq)
  }

  test("BMP codec: encode(w,h) decodes back byte-exactly") {
    for ((w, h) <- Seq((1, 1), (2, 3), (64, 48), (101, 7))) {
      val bytes = Multimodal.encodeBmp(w, h)
      assert(bytes.length == 54 + ((3 * w + 3) / 4) * 4 * h)
      assert(Multimodal.decodeBmpDims(bytes).contains((w, h)))
    }
    assert(Multimodal.decodeBmpDims("not a bitmap at all".getBytes).isEmpty)
  }

  test("WAV codec: header round-trips channels/rate") {
    val wav = Multimodal.encodeWav(channels = 2, sampleRate = 44100,
      bitsPerSample = 16, numFrames = 100)
    assert(wav.length == 44 + 100 * 2 * 2)
    assert(Multimodal.decodeWavMeta(wav).contains((2, 44100, 16)))
    assert(Multimodal.decodeWavMeta(Multimodal.encodeBmp(4, 4)).isEmpty)
  }

  test("decodeFeatures uses the real decoder for media payloads") {
    val media = Seq(
      (10L, Multimodal.encodeBmp(32, 20)),
      (11L, Multimodal.encodeWav(1, 16000, 16, 50)),
      (12L, "plain text falls back to fake".getBytes("UTF-8"))
    ).toDF("doc_id", "payload")
    val f = Multimodal.decodeFeatures(media).collect().sortBy(_.doc_id)
    assert((f(0).width, f(0).height) == (32, 20)) // BMP pixel dims
    assert((f(1).width, f(1).height) == (16000, 1)) // WAV rate/channels
    assert(f(2).width >= 16 && f(2).width < 80) // fake fallback range
  }

  test("resizeBmp: dims halve, pixels sampled from the source grid") {
    // paint a horizontal gradient so sampling is observable
    val src = Multimodal.encodeBmp(16, 12)
    val rowSize = ((3 * 16 + 3) / 4) * 4
    for (y <- 0 until 12; x <- 0 until 16) {
      src(54 + y * rowSize + x * 3) = (x * 16).toByte // blue channel
    }
    val out = Multimodal.resizeBmp(src, 8, 6)
    assert(Multimodal.decodeBmpDims(out).contains((8, 6)))
    val outRow = ((3 * 8 + 3) / 4) * 4
    for (x <- 0 until 8) {
      // nearest-neighbor: dst x samples src x*2
      assert(out(54 + x * 3) == (x * 2 * 16).toByte, s"x=$x")
    }
  }

  test("wavRmsWindows: square wave RMS is exactly amp/32768; " +
      "silence is 0; non-WAV degrades to zeros") {
    val sq = Multimodal.encodeWavSquare(8000, 800, 8, 16384)
    val rms = Multimodal.wavRmsWindows(sq, 4)
    assert(rms.length == 4)
    // every sample is ±16384 → RMS exactly 16384/32768 = 0.5
    assert(rms.forall(_ == 0.5f), rms.toSeq.toString)
    val silent = Multimodal.encodeWav(1, 8000, 16, 800)
    assert(Multimodal.wavRmsWindows(silent, 4).forall(_ == 0f))
    assert(Multimodal.wavRmsWindows("not audio".getBytes, 3).toSeq ==
      Seq(0f, 0f, 0f))
  }

  test("audioRmsStage: per-partition batch decode, peak column") {
    val df = Seq(
      (1L, Multimodal.encodeWavSquare(8000, 800, 8, 16384)),
      (2L, Multimodal.encodeWav(1, 8000, 16, 800))) // silence
      .toDF("doc_id", "payload").repartition(2)
    val got = Multimodal.audioRmsStage(df, 4).collect()
      .map(r => r.getLong(0) -> r.getFloat(2)).toMap
    assert(got(1L) == 0.5f)
    assert(got(2L) == 0f)
  }

  test("dHash: identical images collide, row-0 inversion flips at " +
      "most 8 bits, all in the top band") {
    val a = Multimodal.dHashBmp(Multimodal.encodeBmpPattern(30, 27, 41L,
      invertRow0 = false))
    val a2 = Multimodal.dHashBmp(Multimodal.encodeBmpPattern(30, 27, 41L,
      invertRow0 = false))
    assert(a == a2, "dHash must be deterministic")
    val b = Multimodal.dHashBmp(Multimodal.encodeBmpPattern(30, 27, 41L,
      invertRow0 = true))
    val ham = java.lang.Long.bitCount(a ^ b)
    assert(ham > 0 && ham <= 8, s"planted edit must flip 1..8 bits, got $ham")
    // row 0's comparisons are the TOP 8 bits — the remaining 56 bits
    // (bands 1-8) must be untouched, which is what makes the 9-band
    // bucket join recover every planted pair
    assert(((a ^ b) & 0x00FFFFFFFFFFFFFFL) == 0L,
      "inversion must only affect the first sampled row's bits")
    // resize invariance: scaling the same pattern's canvas does not
    // change which gradient cells the 9x8 NN grid samples into a
    // radically different hash — a genuinely different seed does
    val c = Multimodal.dHashBmp(Multimodal.encodeBmpPattern(30, 27, 42L,
      invertRow0 = false))
    assert(java.lang.Long.bitCount(a ^ c) > 8,
      "different content should not sit within the near-dup threshold")
  }

  test("q148 banded pairs equal brute-force hamming<=8 pairs (recall " +
      "1 by pigeonhole) on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q148_phash_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over the same synthesized hashes
    val hs = Tables.documents(spark, dir).select(col("doc_id"))
      .as[Long].collect().sorted.map { id =>
        val g = id / 5
        val seed = if (id % 5 <= 1) g * 7919 + 1 else id * 104729 + 17
        id -> Multimodal.dHashBmp(Multimodal.encodeBmpPattern(
          (24 + g % 13).toInt, (24 + g % 11).toInt, seed, id % 5 == 1))
      }
    val expected = (for {
      i <- hs.indices.iterator; j <- (i + 1) until hs.length
      h = java.lang.Long.bitCount(hs(i)._2 ^ hs(j)._2) if h <= 8
    } yield (hs(i)._1, hs(j)._1, h)).toSet
    assert(got == expected,
      s"banded join must recover exactly the hamming<=8 pair set " +
        s"(got ${got.size}, expected ${expected.size})")
    // every planted (5g, 5g+1) pair is present
    val planted = hs.map(_._1).filter(_ % 5 == 0)
      .filter(id => hs.exists(_._1 == id + 1))
    assert(planted.forall(id => got.exists(p => p._1 == id && p._2 == id + 1)),
      "every planted near-dup pair must be recovered")
  }

  test("q367 two-stage MIH pairs equal brute-force rep-level " +
      "hamming<=8 pairs (recall 1 by 4-band radius-2 pigeonhole)") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q367_media_neardup_scale")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSet
    // brute force: same hashes → exact collapse → all rep pairs
    val hs = Tables.documents(spark, dir).select(col("doc_id"))
      .as[Long].collect().sorted
      .map(id => id -> Multimodal.fixturePhash(id))
    val reps = hs.groupBy(_._2).map { case (h, members) =>
      (h, members.map(_._1).min, members.length.toLong)
    }.toArray.sortBy(_._2)
    // the fixture's exact-dup plant must actually collapse: clusters
    // of >= 3 exist (ids {5g, 5g+2, 5g+3} share an image)
    assert(reps.exists(_._3 >= 3), "stage-1 collapse found no cluster")
    val expected = (for {
      i <- reps.indices.iterator; j <- (i + 1) until reps.length
      h = java.lang.Long.bitCount(reps(i)._1 ^ reps(j)._1) if h <= 8
    } yield (reps(i)._2, reps(j)._2, h, reps(i)._3, reps(j)._3)).toSet
    assert(got == expected,
      s"MIH probe join must recover exactly the rep-level hamming<=8 " +
        s"pair set (got ${got.size}, expected ${expected.size})")
    // every planted near-dup (cluster rep 5g vs inverted 5g+1) whose
    // hashes actually differ must surface as a rep pair
    val byId = hs.toMap
    val planted = hs.map(_._1).filter(id => id % 5 == 0 &&
      byId.contains(id + 1) && byId(id) != byId(id + 1))
    assert(planted.forall(id =>
      got.exists(p => p._1 == id && p._2 == id + 1)),
      "every planted near-dup cluster pair must be recovered")
  }

  test("q368 cross-modal ledger equals local union-find over " +
      "text-exact + image-exact + image-near edges (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q368_crossmodal_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // local reference: same hashes, same signals, textbook union-find
    val rows = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val ids = rows.map(_._1)
    val hash = rows
      .map { case (id, _) => id -> Multimodal.fixturePhash(id) }.toMap
    val parent = scala.collection.mutable.HashMap(
      ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    // mirror lower(trim(text)) exactly: SQL trim strips SPACES only
    // (not \n\t like String.trim), lower is locale-independent
    def norm(s: String): String = s.replaceAll("^ +| +$", "")
      .toLowerCase(java.util.Locale.ROOT)
    rows.groupBy(r => norm(r._2)).values
      .foreach(g => g.sliding(2).foreach {
        case Array(a, b) => union(a._1, b._1); case _ => })
    ids.groupBy(hash).values
      .foreach(g => g.sliding(2).foreach {
        case Array(a, b) => union(a, b); case _ => })
    val reps = ids.groupBy(hash).map { case (h, g) => (h, g.min) }.toSeq
    for {
      i <- reps.indices; j <- (i + 1) until reps.length
      if java.lang.Long.bitCount(reps(i)._1 ^ reps(j)._1) <= 8
    } union(reps(i)._2, reps(j)._2)
    val cid = ids.map(i => i -> find(i)).toMap
    val csz = cid.values.groupBy(identity).map {
      case (c, g) => c -> g.size.toLong }
    val expected = ids.map(i => (i, cid(i), csz(cid(i))))
    assert(got.length == expected.length)
    assert(got.toSeq == expected.toSeq,
      "cross-modal components must equal local union-find " +
        got.toSeq.diff(expected.toSeq).take(5).toString)
    // the fixture's planted image clusters must be visible as
    // multi-doc entities
    assert(got.count(_._3 >= 3) > 0, "no cluster of >= 3 surfaced")
  }

  test("q370 incremental media dedup: all four statuses realized " +
      "and equal to local brute force (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q370_media_dedup_incremental")(
        spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1 else r.getInt(3)))
    val ids = Tables.documents(spark, dir).select(col("doc_id"))
      .as[Long].collect().sorted
    val hash = ids
      .map(id => id -> Multimodal.fixturePhash(id, effFold = true))
      .toMap
    val batch = ids.filter(_ % 4 == 0)
    val index = ids.filter(_ % 4 != 0).groupBy(hash)
      .map { case (h, g) => (h, g.min) }
    val firstOf = batch.groupBy(hash).map { case (h, g) => (h, g.min) }
    val expected = batch.map { id =>
      val h = hash(id)
      index.get(h) match {
        case Some(i) => (id, "dup_exact", i, 0)
        case None =>
          val near = index.toSeq.flatMap { case (ih, iid) =>
            val d = java.lang.Long.bitCount(h ^ ih)
            if (d >= 1 && d <= 8) Some((d, iid)) else None
          }
          if (near.nonEmpty) {
            val (d, iid) = near.min
            (id, "dup_near", iid, d)
          } else if (firstOf(h) != id) (id, "dup_batch", firstOf(h), -1)
          else (id, "new", -1L, -1)
      }
    }
    assert(got.toSeq == expected.toSeq,
      "q370 must equal local brute-force classification; diff: " +
        got.toSeq.diff(expected.toSeq).take(5).toString)
    val byStatus = expected.groupBy(_._2).view.mapValues(_.length).toMap
    for (st <- Seq("dup_exact", "dup_near", "dup_batch", "new"))
      assert(byStatus.getOrElse(st, 0) > 0,
        s"designed-truth branch '$st' not realized: $byStatus")
  }

  test("encodeWavEnvelope: every RMS window recovers its amplitude " +
      "exactly through the real decode path") {
    val amps = Array.tabulate(16)(w => ((w * 3 + 1) << 9).toShort)
    val wav = Multimodal.encodeWavEnvelope(8000, 800, amps)
    val rms = Multimodal.wavRmsWindows(wav, 16)
    val back = rms.map(r => (math.round(r * 32768.0) >> 9).toInt)
    assert(back.toSeq == (0 until 16).map(_ * 3 + 1),
      s"envelope must round-trip: ${back.toSeq}")
    // boundary-exactness also at a non-divisible frame count
    val wav2 = Multimodal.encodeWavEnvelope(8000, 803, amps)
    val back2 = Multimodal.wavRmsWindows(wav2, 16)
      .map(r => (math.round(r * 32768.0) >> 9).toInt)
    assert(back2.toSeq == (0 until 16).map(_ * 3 + 1),
      s"windows must align at non-divisible frame counts: ${back2.toSeq}")
  }

  test("q152 banded pairs equal brute-force n_diff<=2 pairs on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q152_audio_fingerprint")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def fp(id: Long): Seq[Int] = (0 until 16).map { w =>
      val g = id / 4
      if (id % 4 == 1 && w == (g % 16).toInt)
        (1 + ((g * 31 + w * 7 + 29) % 63)).toInt
      else if (id % 4 <= 1) (1 + ((g * 31 + w * 7) % 63)).toInt
      else (1 + ((id * 1009 + w * 7919) % 63)).toInt
    }
    val ids = Tables.documents(spark, dir).select(col("doc_id"))
      .as[Long].collect().sorted
    val expected = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.length
      d = fp(ids(i)).zip(fp(ids(j))).count { case (x, y) => x != y }
      if d <= 2
    } yield (ids(i), ids(j), d)).toSet
    assert(got == expected,
      s"banded join must recover exactly the n_diff<=2 pair set " +
        s"(got ${got.size}, expected ${expected.size})")
    val planted = ids.filter(id => id % 4 == 0 && ids.contains(id + 1))
    assert(planted.forall(id => got.exists(p => p._1 == id && p._2 == id + 1)),
      "every planted single-window edit must be recovered")
  }

  test("sampleFrames: stride-2 sampling of 8-byte frames") {
    val frames = Multimodal.sampleFrames(payloads, frameBytes = 8, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2)))
    // doc 1: 30 bytes -> 3 full frames -> idx 0, 2 kept
    val d1 = frames.filter(_._1 == 1L).map(_._2).sorted
    assert(d1.toSeq == Seq(0, 2))
    val first = frames.find(f => f._1 == 1L && f._2 == 0).get._3
    assert(new String(first, "UTF-8") == "hello wo")
  }

  test("PNG codec: real ImageIO round-trip is pixel-exact and " +
      "dHash matches the BMP path bit-for-bit") {
    val (w, h, seed) = (31, 26, 7919L * 3 + 1)
    val png = Multimodal.encodeImagePattern("png", w, h, seed,
      invertRow0 = false)
    // it is a REAL PNG (magic + IHDR), not a renamed bitmap
    assert((png(0) & 0xFF) == 0x89 && png(1) == 'P'.toByte
      && png(2) == 'N'.toByte && png(3) == 'G'.toByte)
    val img = Multimodal.decodeImage(png).get
    assert(img.getWidth == w && img.getHeight == h)
    // golden pixels: every decoded luminance equals the generative
    // formula (lossless codec ⇒ exact)
    for (y <- 0 until h; x <- 0 until w) {
      val want = ((seed * 31 + x * 17 + y * 29 + x.toLong * y * 13)
        % 256).toInt
      assert((img.getRGB(x, y) & 0xFF) == want,
        s"pixel ($x,$y): got ${img.getRGB(x, y) & 0xFF}, want $want")
    }
    // dHash through the compressed path == dHash through the BMP
    // path on the same pattern — the property the q362 oracle rides
    val bmp = Multimodal.encodeBmpPattern(w, h, seed, invertRow0 = false)
    def dHash(payload: Array[Byte]) =
      Multimodal.decodeImage(payload).map(Multimodal.dHashDecoded).get
    assert(dHash(png) == Multimodal.dHashBmp(bmp))
    // and the inverted-row-0 near-dup plant stays within the q148
    // hamming budget through the compressed codec too
    val pngInv = Multimodal.encodeImagePattern("png", w, h, seed,
      invertRow0 = true)
    val d = java.lang.Long.bitCount(dHash(png) ^ dHash(pngInv))
    assert(d > 0 && d <= 8, s"row-0 inversion flipped $d bits")
  }

  test("GIF animation codec: multi-frame container round-trips " +
      "pixel-exactly, frames in order") {
    val (w, h, seed, nf) = (30, 26, 7919L * 5 + 1, 4)
    val gif = Multimodal.encodeGifAnimation(w, h, seed, nf)
    assert(new String(gif.take(6), "US-ASCII") == "GIF89a")
    val frames = Multimodal.gifFrames(gif)
    assert(frames.length == nf, s"expected $nf frames, got ${frames.length}")
    for (f <- 0 until nf) {
      val img = frames(f)
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        val want = ((seed * 31 + x * 17 + y * 29 + x.toLong * y * 13
          + f * 41L) % 128).toInt
        assert((img.getRGB(x, y) & 0xFF) == want,
          s"frame $f pixel ($x,$y)")
      }
    }
  }

  test("JPEG codec: real lossy round-trip keeps dims exact and " +
      "pixels within tolerance on a smooth gradient") {
    val (w, h) = (32, 24)
    // smooth horizontal gradient: the well-conditioned JPEG case
    // (the q148 pattern is high-frequency noise — DCT ringing there
    // would test the encoder's quality setting, not our plumbing)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val l = x * 255 / (w - 1)
      img.setRGB(x, y, (l << 16) | (l << 8) | l)
    }
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", baos))
    val jpg = baos.toByteArray
    assert(jpg(0) == 0xFF.toByte && jpg(1) == 0xD8.toByte, "JFIF SOI")
    val back = Multimodal.decodeImage(jpg).get
    assert(back.getWidth == w && back.getHeight == h)
    var errSum = 0L
    for (y <- 0 until h; x <- 0 until w)
      errSum += math.abs((back.getRGB(x, y) & 0xFF)
        - (img.getRGB(x, y) & 0xFF))
    val meanErr = errSum.toDouble / (w * h)
    assert(meanErr < 8.0, s"mean abs pixel error $meanErr")
    // realDecode routes JPEG through the ImageIO branch (not fake):
    // dims come from the actual pixel decode
    val mf = Multimodal.realDecode(42L, jpg)
    assert(mf.width == w && mf.height == h)
  }

  test("corrupt payloads: decodeImage is None and gifFrames is " +
      "empty/partial — never a thrown RuntimeException") {
    // ImageIO readers raise RuntimeExceptions (AIOOBE, NegativeArray,
    // IllegalArgument), not just IOException, on malformed bytes; a
    // corrupt payload in a large corpus must fall through, not kill
    // the job (ADVICE r14 #1/#2).
    val png = Multimodal.encodeImagePattern("png", 24, 20, 99L, false)
    // valid magic + mangled body: the reader is selected, then fails
    // mid-decode — the path that used to escape the IOException-only
    // catch
    for (cut <- Seq(12, 20, png.length / 2)) {
      val truncated = png.take(cut)
      assert(Multimodal.decodeImage(truncated).isEmpty,
        s"truncated PNG at $cut bytes must decode to None")
    }
    val garbled = png.clone()
    for (i <- 16 until math.min(64, garbled.length))
      garbled(i) = (garbled(i) ^ 0x5A).toByte
    Multimodal.decodeImage(garbled) // must not throw (None or junk ok)

    val gif = Multimodal.encodeGifAnimation(16, 12, 31L, 3)
    val whole = Multimodal.gifFrames(gif)
    assert(whole.length == 3)
    // truncate mid-sequence: contract says empty-or-partial prefix,
    // never a throw
    for (cut <- Seq(10, gif.length / 3, gif.length / 2,
        gif.length - 5)) {
      val part = Multimodal.gifFrames(gif.take(cut))
      assert(part.length <= 3,
        s"truncated GIF at $cut bytes: ${part.length} frames")
    }
    // non-image bytes: no reader matches → empty, and realDecode
    // falls through to the deterministic fake rather than crashing
    val junk = Array.tabulate[Byte](256)(i => (i * 37).toByte)
    assert(Multimodal.gifFrames(junk).isEmpty)
    assert(Multimodal.decodeImage(junk).isEmpty)
    Multimodal.realDecode(7L, junk)
  }
}
