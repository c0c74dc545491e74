package graft

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.operators.{MediaHeaders, Multimodal}

/** The multimodal decode is a REAL header parse — these tests pin it
  * against containers produced by INDEPENDENT encoders (the JDK's
  * javax.imageio PNG/JPEG writers and javax.sound.sampled WAV writer),
  * not just our own builders, plus round-trip and fixture checks.
  */
class MultimodalSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  /** Fresh-session simulation: drop the memoized modality cluster tables. */
  private def forgetModalityClusters(): Unit = graft.engine.PublishGuard
    .forget("image_phash_clusters", "audio_fp_clusters", "video_fh_clusters")

  lazy val spark: SparkSession = graft.engine.Sessions
    .builder("graft-test").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private def jdkImage(w: Int, h: Int, format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, format, out),
      s"JDK has no $format writer")
    out.toByteArray
  }

  test("PNG parser reads dimensions/channels from a JDK-encoded real PNG") {
    val bytes = jdkImage(17, 9, "png")
    assert(MediaHeaders.isPng(bytes))
    assert(MediaHeaders.sniff(bytes) ===
      Some(MediaHeaders.ImageInfo(17, 9, 3)))
  }

  test("JPEG parser reads dimensions/components from a JDK-encoded real JPEG") {
    val bytes = jdkImage(33, 21, "jpg")
    assert(MediaHeaders.isJpeg(bytes))
    assert(MediaHeaders.sniff(bytes) ===
      Some(MediaHeaders.ImageInfo(33, 21, 3)))
  }

  test("WAV parser reads channels/rate/frames from a JDK-encoded real WAV") {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val pcm = new Array[Byte](8000) // 2000 frames at 2ch × 16-bit
    val stream = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, pcm.length / 4)
    val out = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      stream, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val bytes = out.toByteArray
    assert(MediaHeaders.isWav(bytes))
    val info = MediaHeaders.sniff(bytes)
    assert(info === Some(MediaHeaders.AudioInfo(2, 8000, 16, 8000)))
    // payload section is exactly the data chunk
    assert(MediaHeaders.payloadSection(bytes).toSeq === pcm.toSeq)
  }

  test("builders round-trip through the parsers (PNG/JPEG/WAV)") {
    val payload = "the quick brown fox".getBytes("UTF-8")
    val png = MediaHeaders.buildPng(200, 100, payload)
    assert(MediaHeaders.sniff(png) === Some(MediaHeaders.ImageInfo(200, 100, 3)))
    assert(MediaHeaders.payloadSection(png).toSeq === payload.toSeq)
    val jpg = MediaHeaders.buildJpeg(640, 480, payload)
    assert(MediaHeaders.sniff(jpg) === Some(MediaHeaders.ImageInfo(640, 480, 3)))
    assert(MediaHeaders.payloadSection(jpg).toSeq === payload.toSeq)
    val wav = MediaHeaders.buildWav(2, 44100, payload)
    assert(MediaHeaders.sniff(wav) ===
      Some(MediaHeaders.AudioInfo(2, 44100, 16, payload.length)))
    assert(MediaHeaders.payloadSection(wav).toSeq === payload.toSeq)
  }

  test("built PNG chunks carry real CRC32s (a strict chunk walker verifies)") {
    val png = MediaHeaders.buildPng(5, 7, "abc".getBytes("UTF-8"))
    var i = 8
    var chunks = List.empty[String]
    while (i + 8 <= png.length) {
      val len = ((png(i) & 0xff) << 24) | ((png(i + 1) & 0xff) << 16) |
        ((png(i + 2) & 0xff) << 8) | (png(i + 3) & 0xff)
      val typ = new String(png, i + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(png, i + 4, 4 + len)
      val stored = ((png(i + 8 + len) & 0xffL) << 24) |
        ((png(i + 9 + len) & 0xffL) << 16) |
        ((png(i + 10 + len) & 0xffL) << 8) | (png(i + 11 + len) & 0xffL)
      assert(crc.getValue === stored, s"bad CRC on $typ")
      chunks ::= typ
      i += 12 + len
    }
    assert(chunks.reverse === List("IHDR", "IDAT", "IEND"))
  }

  test("attachMedia → decodeFeatures round-trips the encoder's parameters") {
    val docs = Tables.documents(spark, sf)
    val feats = Multimodal.decodeFeatures(
      spark, Multimodal.attachMedia(docs)).collect()
    assert(feats.nonEmpty)
    val textLen = docs.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").getBytes("UTF-8").length).toMap
    feats.foreach { f =>
      val n = textLen(f.doc_id)
      f.media_type match {
        case "image" =>
          // dimensions parsed from the container header must equal what
          // the encoder derived from the payload size
          assert(f.width === n % 251 + 1, s"doc ${f.doc_id}")
          assert(f.height === (n * 7 + 13) % 251 + 1, s"doc ${f.doc_id}")
          assert(f.channels === 3 && f.n_frames === 1)
          assert(f.size_bytes === n + (if (f.doc_id % 6 == 0) 57 else 37))
        case "audio" =>
          val ch = (1 + f.doc_id % 2).toInt
          assert(f.channels === ch && f.width === 0 && f.height === 0)
          assert(f.n_frames === n / (ch * 2), s"doc ${f.doc_id}")
          assert(f.size_bytes === n + 44)
        case "video" =>
          assert(f.channels === 0 && f.width === 0 && f.height === 0)
          assert(f.size_bytes === n && f.n_frames === n / 100 + 1)
      }
    }
  }

  test("JPEG parser skips APPn/COM markers and handles a missing SOF") {
    // APP0-prefixed stream (like a JFIF file): APP0 then SOF0
    val out = new ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8)
    out.write(0xff); out.write(0xe0); out.write(0); out.write(4)
    out.write(0); out.write(0) // APP0 body
    val sof = MediaHeaders.buildJpeg(12, 34, Array.emptyByteArray)
    out.write(sof, 2, sof.length - 2) // reuse everything after SOI
    assert(MediaHeaders.sniff(out.toByteArray) ===
      Some(MediaHeaders.ImageInfo(12, 34, 3)))
    // SOI + EOI only: no SOF → None
    assert(MediaHeaders.parseJpeg(
      Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)) === None)
  }

  test("pixel decoder reads ImageIO's adaptive-filtered PNGs byte-exactly") {
    // ImageIO's PNG writer picks per-row filters (Sub/Up/Average/Paeth),
    // so decoding its output byte-exactly exercises ALL the unfilter
    // paths against an independent encoder
    val rnd = new scala.util.Random(7)
    val (w, h) = (23, 17) // odd sizes: no accidental alignment
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, rnd.nextInt(1 << 24))
    val out = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out))
    val f = MediaHeaders.decodePixelPng(out.toByteArray)
      .getOrElse(fail("ImageIO PNG did not decode"))
    assert(f.width === w && f.height === h && f.channels === 3)
    for (y <- 0 until h; x <- 0 until w) {
      val argb = img.getRGB(x, y)
      val o = (y * w + x) * 3
      assert((f.pixels(o) & 0xff) === ((argb >> 16) & 0xff), s"R at ($x,$y)")
      assert((f.pixels(o + 1) & 0xff) === ((argb >> 8) & 0xff), s"G at ($x,$y)")
      assert((f.pixels(o + 2) & 0xff) === (argb & 0xff), s"B at ($x,$y)")
    }
  }

  test("ImageIO reads our zlib PNGs; the codec round-trips; opaque blobs refuse") {
    val rnd = new scala.util.Random(11)
    val (w, h) = (12, 5)
    val rgb = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
    val png = MediaHeaders.buildPixelPng(w, h, rgb)
    // our own decode round-trips exactly
    val f = MediaHeaders.decodePixelPng(png)
      .getOrElse(fail("own PNG did not decode"))
    assert(f.width === w && f.height === h && f.channels === 3)
    assert(f.pixels.toSeq === rgb.toSeq)
    // the INDEPENDENT decoder agrees pixel-for-pixel
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img != null, "ImageIO rejected our PNG")
    assert(img.getWidth === w && img.getHeight === h)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      val argb = img.getRGB(x, y)
      assert(((argb >> 16) & 0xff) === (rgb(o) & 0xff), s"R at ($x,$y)")
      assert(((argb >> 8) & 0xff) === (rgb(o + 1) & 0xff), s"G at ($x,$y)")
      assert((argb & 0xff) === (rgb(o + 2) & 0xff), s"B at ($x,$y)")
    }
    // header-fixture PNGs (opaque IDAT) and non-PNGs refuse cleanly
    assert(MediaHeaders.decodePixelPng(
      MediaHeaders.buildPng(3, 3, Array[Byte](1, 2, 3))) === None)
    assert(MediaHeaders.decodePixelPng("not a png".getBytes) === None)
  }

  test("perceptual hashes match the generator formula; near-dup pairs equal brute force") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.attachPixelImages(docs)
    val hashes = Multimodal.imagePerceptualHash(spark, media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes.nonEmpty)
    // the decoded-pixel dHash equals the generator's block formula
    // (md5 recomputed HERE via MessageDigest — a second derivation, the
    // oracle SQL being the third)
    def formulaHash(id: Long): Long = {
      val seed = (id % 40).toInt; val p = (id / 40 % 5).toInt
      def g(bx: Int, by: Int) = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"${seed}_${bx}_${by}".getBytes("UTF-8"))
        (d(0) & 0xff) % 200 + (if (bx == p && by == p) 40 else 0)
      }
      (for (by <- 0 until 7; bx <- 0 until 8 if g(bx + 1, by) > g(bx, by))
        yield 1L << (by * 8 + bx)).sum
    }
    hashes.foreach { case (id, ph) =>
      assert(ph === formulaHash(id), s"doc $id hash diverged from the pixels")
    }
    // pair operator == brute-force all-pairs hamming <= 6 (banding is
    // complete by pigeonhole, so these must be EQUAL, not a subset)
    val got = Multimodal.imageNearDupPairs(spark, media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ids = hashes.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.size
      hd = java.lang.Long.bitCount(hashes(ids(i)) ^ hashes(ids(j)))
      if hd <= 6
    } yield (ids(i), ids(j), hd)).toSet
    assert(got === brute, s"banded pairs diverge from brute force " +
      s"(got ${got.size}, brute ${brute.size})")
    assert(brute.nonEmpty, "fixture produced no near-dup pairs to check")
    // same-seed same-perturb docs are exact dups (hamming 0)
    val exact = got.filter(_._3 == 0)
    exact.foreach { case (a, b, _) =>
      assert(a % 40 === b % 40, "hamming-0 pair with different seeds")
    }
  }

  test("image clusters: co-paired images co-cluster and labels are cluster minima") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.attachPixelImages(docs)
    val pairs = Multimodal.imageNearDupPairs(spark, media)
      .select("doc_a", "doc_b")
    val clusters = graft.operators.Dedup
      .clustersFromPairs(media.select("doc_id"), pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every image doc labeled
    assert(clusters.size === media.count())
    // paired docs share a label
    pairs.collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(clusters(a) === clusters(b), s"pair ($a,$b) split across clusters")
    }
    // each label is its cluster's min member (and a member itself)
    clusters.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keys.min === lbl, s"cluster $lbl not labeled by its min")
    }
  }

  test("phash search: per-query top-k equals the brute-force ranking") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.attachPixelImages(docs)
    val queries = Multimodal.syntheticQueryImages(
      spark, Seq((3, 5), (17, 6), (29, 5)))
    val got = Multimodal.phashSearch(spark, media, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    val store = Multimodal.imagePerceptualHash(spark, media).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val qh = Multimodal.imagePerceptualHash(spark, queries).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val expect = qh.flatMap { case (qid, h) =>
      store.map { case (did, ph) =>
        (qid, did, java.lang.Long.bitCount(h ^ ph)) }
        .sortBy(t => (t._3, t._2)).take(5).zipWithIndex
        .map { case ((q, d, hd), i) => (q, i + 1, d, hd) }
    }.sortBy(t => (t._1, t._2)).toSeq
    assert(got.toSeq === expect)
    // ranked hammings are non-decreasing per query
    got.groupBy(_._1).values.foreach { rs =>
      val hs = rs.sortBy(_._2).map(_._4)
      assert(hs.zip(hs.tail).forall { case (a, b) => a <= b })
    }
  }

  test("audio features equal an independent LE-short decode; JDK WAVs parse identically") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.attachMedia(docs)
    val feats = Multimodal.audioContentFeatures(spark, media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(feats.nonEmpty)
    // independent derivation: java.nio's little-endian short view over
    // the RAW TEXT BYTES (the WAV data chunk is the text verbatim)
    val texts = docs.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    feats.foreach { case (id, (n, sum, peak, zc)) =>
      val bytes = texts(id).getBytes("UTF-8")
      val sb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
      val samples = Array.tabulate(sb.remaining())(sb.get(_).toInt)
      assert(n === samples.length.toLong, s"doc $id n_samples")
      assert(sum === samples.map(s => math.abs(s.toLong)).sum, s"doc $id sum_abs")
      assert(peak === (if (samples.isEmpty) 0L
                       else samples.map(s => math.abs(s.toLong)).max), s"doc $id peak")
      val expZc = samples.sliding(2).count {
        case Array(a, b) => (a >= 0) != (b >= 0); case _ => false
      }
      assert(zc === expZc.toLong, s"doc $id zero_crossings")
    }
    // a WAV produced by the INDEPENDENT JDK encoder decodes to the same
    // features as one of ours around the same PCM payload
    import spark.implicits._
    val pcm = Array.tabulate(400)(i => ((i * 37 % 251) - 125).toByte)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val out = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, pcm.length / 2),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val two = Seq(
      Multimodal.MediaRecord(1L, "audio", out.toByteArray),
      Multimodal.MediaRecord(2L, "audio", MediaHeaders.buildWav(1, 8000, pcm)))
      .toDF()
    val rows = Multimodal.audioContentFeatures(spark, two).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(rows(1L) === rows(2L), "JDK WAV and built WAV decode differently")
  }

  test("audio fingerprint pairs equal brute-force hamming; exact-dup audio lands at 0") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.attachMedia(docs)
    val fps = Multimodal.audioFingerprint(spark, media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps.nonEmpty)
    val got = Multimodal.audioNearDupPairs(spark, media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ids = fps.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.size
      hd = java.lang.Long.bitCount(fps(ids(i)) ^ fps(ids(j)))
      if hd <= 6
    } yield (ids(i), ids(j), hd)).toSet
    assert(got === brute, s"banded audio pairs diverge from brute force " +
      s"(got ${got.size}, brute ${brute.size})")
    // identical texts → identical PCM → hamming-0 pairs must exist in
    // this corpus (the dedup fixture ships exact dups)
    assert(got.exists(_._3 == 0), "no exact-dup audio pair found")
  }

  test("crafted 32-bit chunk sizes terminate, never hang the walkers") {
    // WAV whose first chunk claims size 0xFFFFFFF8 (reads back as -8, a
    // zero-or-backward advance): must be a parse failure, not a spin
    val wav = new ByteArrayOutputStream()
    wav.write("RIFF".getBytes("US-ASCII")); (0 until 4).foreach(_ => wav.write(0xff))
    wav.write("WAVE".getBytes("US-ASCII"))
    wav.write("junk".getBytes("US-ASCII"))
    // LE f8 ff ff ff = 0xFFFFFFF8 → -8 as Int → advance 8 + (-8) + 0 = 0
    wav.write(0xf8); wav.write(0xff); wav.write(0xff); wav.write(0xff)
    wav.write(new Array[Byte](16))
    val evilWav = wav.toByteArray
    assert(MediaHeaders.parseWav(evilWav) === None)
    assert(MediaHeaders.payloadSection(evilWav).isEmpty)
    // ...and an over-long (but positive) size is equally malformed
    val wav2 = MediaHeaders.buildWav(1, 8000, Array[Byte](1, 2, 3, 4))
    wav2(19) = 0x7f // fmt chunk size (LE u32 at 16): high byte → huge
    assert(MediaHeaders.parseWav(wav2) === None)
    // PNG whose IHDR length field has the u32 high bit set (-12 as Int):
    // the payload walk must stop at the malformation
    val png = MediaHeaders.buildPng(3, 3, Array[Byte](9, 9, 9))
    val evilPng = png.clone()
    evilPng(8) = 0xff.toByte // IHDR length 0x FF 00 00 0D → negative Int
    assert(MediaHeaders.payloadSection(evilPng).isEmpty)
    // the untampered fixtures still parse (the guards reject nothing real)
    assert(MediaHeaders.parseWav(
      MediaHeaders.buildWav(1, 8000, Array[Byte](1, 2, 3, 4))).nonEmpty)
    assert(MediaHeaders.payloadSection(png).toSeq === Seq[Byte](9, 9, 9))
  }

  test("video containers split + decode; per-frame dHash matches the generator formula") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.attachVideoFrames(docs)
    val frames = Multimodal.videoFrameHashes(spark, media).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), (r.getInt(2), r.getInt(3), r.getLong(4))))
      .toMap
    assert(frames.nonEmpty)
    val nVideos = media.count()
    assert(frames.size === nVideos * Multimodal.VideoFrames,
      "every video must decode all its frames")
    // the per-frame dHash equals the generator's (seed, p) formula —
    // md5 recomputed HERE via MessageDigest, a second derivation (the
    // oracle SQL being the third)
    def g(seed: Int, p: Int)(bx: Int, by: Int) = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${seed}_${bx}_${by}".getBytes("UTF-8"))
      (d(0) & 0xff) % 200 + (if (bx == p && by == p) 40 else 0)
    }
    def formulaHash(seed: Int, p: Int): Long =
      (for (by <- 0 until 7; bx <- 0 until 8
            if g(seed, p)(bx + 1, by) > g(seed, p)(bx, by))
        yield 1L << (by * 8 + bx)).sum
    frames.foreach { case ((id, f), (w, h, fhash)) =>
      assert(w === 36 && h === 28, s"frame dims diverged at ($id,$f)")
      val u = id / 3
      val seed = (u % Multimodal.VideoSeeds).toInt
      val p = ((u / Multimodal.VideoSeeds % Multimodal.VideoOffsets).toInt + f) %
        Multimodal.VideoOffsets
      assert(fhash === formulaHash(seed, p),
        s"frame hash diverged from the pixels at ($id,$f)")
    }
    // ...and the split walker returns exactly the member blobs, each an
    // independently decodable PNG
    val onePayload = media.limit(1).collect()(0).getAs[Array[Byte]]("payload")
    val split = MediaHeaders.splitConcatenatedPngs(onePayload)
    assert(split.size === Multimodal.VideoFrames)
    split.foreach(fr => assert(MediaHeaders.decodePixelPng(fr).nonEmpty))
    // a truncated container yields the clean prefix, never a throw
    val truncated = java.util.Arrays.copyOfRange(
      onePayload, 0, onePayload.length - 7)
    assert(MediaHeaders.splitConcatenatedPngs(truncated).size ===
      Multimodal.VideoFrames - 1)
    assert(MediaHeaders.splitConcatenatedPngs(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("video scenes: imperative recompute agrees; every scene video cuts exactly at frame 3") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.attachSceneVideos(docs)
    val got = Multimodal.videoSceneBoundaries(spark, media).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        r.getBoolean(3), r.getLong(4)))
    assert(got.nonEmpty)
    // imperative recompute from the (independently pinned) frame hashes
    val hashes = Multimodal.videoFrameHashes(spark, media).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getLong(4))).toMap
    got.groupBy(_._1).foreach { case (id, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (0 until 6), s"frame track gap at $id")
      var scene = 0L
      sorted.foreach { case (_, f, hp, bound, sid) =>
        if (f == 0) {
          assert(hp.isEmpty && !bound, s"first frame of $id must not cut")
        } else {
          val expect = java.lang.Long.bitCount(
            hashes((id, f)) ^ hashes((id, f - 1)))
          assert(hp.contains(expect), s"hamming at ($id,$f)")
          assert(bound === (expect > 8), s"boundary at ($id,$f)")
        }
        if (bound) scene += 1
        assert(sid === scene, s"scene_id at ($id,$f)")
      }
      // the fixture's hard cut: exactly one boundary, at frame 3 — the
      // generator separates exhaustively (within-scene <= 3, cross >= 16)
      assert(sorted.map(t => (t._2, t._4)).filter(_._2).map(_._1).toSeq
        === Seq(3), s"video $id must cut exactly at frame 3")
      assert(sorted.last._5 === 1L, s"video $id must have exactly 2 scenes")
    }
  }

  test("scene keyframes: one keyframe per scene, derived exactly from the boundary labels") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.attachSceneVideos(docs)
    val kf = Multimodal.sceneKeyframes(spark, media).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(2), r.getLong(3))))
      .toMap
    // recompute the grouping from the (already-verified) scene labels
    val scenes = Multimodal.videoSceneBoundaries(spark, media).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getInt(1)))
    val expect = scenes.groupBy(t => (t._1, t._2)).map { case (k, rows) =>
      k -> (rows.map(_._3).min, rows.length.toLong)
    }
    assert(kf === expect, "keyframe selection diverged from the scene labels")
    // the fixture shape: every video yields keyframes 0 and 3, 3 frames each
    kf.groupBy(_._1._1).foreach { case (id, perVideo) =>
      assert(perVideo.values.toSet === Set((0, 3L), (3, 3L)),
        s"video $id keyframes diverged from the two-scene fixture")
    }
  }

  test("modality cluster tables are compute-once published with stale-key detection") {
    val docs = Tables.documents(spark, sf)
    val base = java.nio.file.Files
      .createTempDirectory("graft-mm-warehouse").toString
    val key = s"mmclusters-${System.nanoTime()}"
    def toMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // published == the live (unpublished) computation, per modality
    val livePairs = Seq(
      ("image", toMap(Multimodal.sharedImageClusters(spark, docs, "", base)),
        () => Multimodal.sharedImageClusters(spark, docs, key, base)),
      ("audio", toMap(Multimodal.sharedAudioClusters(spark, docs, "", base)),
        () => Multimodal.sharedAudioClusters(spark, docs, key, base)),
      ("video", toMap(Multimodal.sharedVideoClusters(spark, docs, "", base)),
        () => Multimodal.sharedVideoClusters(spark, docs, key, base)))
    livePairs.foreach { case (m, live, shared) =>
      assert(toMap(shared()) === live, s"$m published clusters diverged")
    }
    // fresh session: the result must come from the PUBLISHED tables
    forgetModalityClusters()
    livePairs.foreach { case (m, live, shared) =>
      val reread = shared()
      assert(reread.inputFiles.nonEmpty &&
        reread.inputFiles.forall(_.contains("_clusters")),
        s"$m fresh-session reuse did not read the published table")
      assert(toMap(reread) === live)
    }
    // stale key: same key, different data ⇒ loud error, never stale serves
    forgetModalityClusters()
    val err = intercept[IllegalStateException] {
      Multimodal.sharedImageClusters(spark, docs.limit(10), key, base).count()
    }
    assert(err.getMessage.contains("DIFFERENT input"))
  }

  test("audio cluster publish goes stale when text changes under an unchanged doc_id set") {
    val docs = Tables.documents(spark, sf)
    val base = java.nio.file.Files
      .createTempDirectory("graft-mm-stale-audio").toString
    val keyA = s"audiofp-${System.nanoTime()}"
    val keyI = s"imgfp-${System.nanoTime()}"
    Multimodal.sharedAudioClusters(spark, docs, keyA, base).count()
    Multimodal.sharedImageClusters(spark, docs, keyI, base).count()
    // same doc_id set, DIFFERENT text: audio WAVs are built from the
    // text bytes, so the published audio clusters are stale — the reuse
    // must fail loudly, not silently serve old clusters
    import org.apache.spark.sql.functions.{col, concat, lit}
    val changed = docs.withColumn(
      "text", concat(col("text"), lit(" drifted")))
    forgetModalityClusters()
    val err = intercept[IllegalStateException] {
      Multimodal.sharedAudioClusters(spark, changed, keyA, base).count()
    }
    assert(err.getMessage.contains("DIFFERENT input"))
    // image payloads are a pure function of doc_id: the SAME text change
    // leaves the published image clusters valid, and reuse still serves
    forgetModalityClusters()
    val reread = Multimodal.sharedImageClusters(spark, changed, keyI, base)
    assert(reread.inputFiles.nonEmpty &&
      reread.inputFiles.forall(_.contains("_clusters")),
      "image reuse under a text-only change did not read the published table")
  }

  test("JPEG DHT: an overfull BITS array is rejected, not decoded in-bounds to garbage") {
    val (w, h) = (16, 8)
    val gray = Array.tabulate(w * h)(i => (i * 7 % 256).toByte)
    val jpg = MediaHeaders.buildPixelJpeg(w, h, gray)
    assert(MediaHeaders.decodePixelJpeg(jpg).isDefined)
    // find a DHT table with ≥ 3 codes and pile ALL its counts onto code
    // length 1 — more than 2 codes of length 1 overflows the 1-bit code
    // space while keeping total count and segment length intact, so the
    // ONLY invalidity is canonical (pre-fix this decoded to garbage
    // pixels via in-bounds table lookups and returned Some)
    def dhtBitsOffsets(b: Array[Byte]): Seq[Int] =
      (0 until b.length - 1).filter(i =>
        (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xc4).map(_ + 5)
    val off = dhtBitsOffsets(jpg).find { o =>
      (0 until 16).map(j => jpg(o + j) & 0xff).sum >= 3
    }.getOrElse(fail("no DHT table with ≥ 3 codes in our own JPEG"))
    val total = (0 until 16).map(j => jpg(off + j) & 0xff).sum
    assert(total <= 255)
    val bad = jpg.clone()
    (0 until 16).foreach(j => bad(off + j) = 0)
    bad(off) = total.toByte
    assert(MediaHeaders.decodePixelJpeg(bad) === None,
      "overfull Huffman BITS array was not rejected")
  }

  test("audio silence segments: generator-formula recompute agrees; planted runs are found") {
    val docs = Tables.documents(spark, sf)
    val got = Multimodal.audioSilenceSegments(
      spark, Multimodal.attachSegmentedAudio(docs)).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.nonEmpty)
    got.foreach { case (id, (nQuiet, nSeg, longest)) =>
      val u = id / 3
      val qa = u % 20; val la = u % 5
      val qb = 30 + u % 15; val lb = 2 + u % 4
      // third derivation of the window math (the WAV path and the
      // oracle SQL being the others): amplitudes straight from the
      // generator formula, the same integer cross-multiplied cut
      val sums = new Array[Long](57); val cnts = new Array[Long](57)
      for (i <- 0 until 570) {
        val w = i / 10
        val quietRange = (la > 0 && w >= qa && w < qa + la) ||
          (w >= qb && w < qb + lb)
        val x = if (quietRange) 0L
          else (u * 7919L + i * 104729L + i.toLong * i * 31L) % 4001L - 2000L
        sums(w) += math.abs(x); cnts(w) += 1
      }
      val smTot = sums.sum
      var eq = 0L; var es = 0L; var el = 0L; var run = 0L
      for (b <- 0 until 57) {
        if (sums(b) * 4 * 570 < smTot * cnts(b)) {
          eq += 1; run += 1; if (run == 1) es += 1; if (run > el) el = run
        } else run = 0
      }
      assert((nQuiet, nSeg, longest) === ((eq, es, el)),
        s"segments diverged from the formula recompute at doc $id")
      // planted structure is a LOWER bound: the zeroed runs are always
      // quiet; a low-energy speech window may legitimately join them
      assert(nQuiet >= la + lb && longest >= math.max(la, lb) && nSeg >= 1,
        s"planted silence not found at doc $id")
    }
  }

  test("video near-dup pairs equal brute-force frame-set intersection") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.attachVideoFrames(docs)
    val frameSets = Multimodal.videoFrameHashes(spark, media).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(4)).toSet }
    val got = Multimodal.videoNearDupPairs(spark, media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ids = frameSets.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.size
      shared = (frameSets(ids(i)) intersect frameSets(ids(j))).size
      if shared >= 2
    } yield (ids(i), ids(j), shared.toLong)).toSet
    assert(got === brute, s"frame-overlap pairs diverge from brute force " +
      s"(got ${got.size}, brute ${brute.size})")
    assert(brute.nonEmpty, "fixture produced no video near-dups to check")
    // full duplicates (same seed, same offset) must surface with all
    // frames shared
    assert(got.exists(_._3 == Multimodal.VideoFrames),
      "no full-duplicate video pair found")
    // the hot-frame df cut drops flood hashes: with hotCap=1 nothing
    // can pair (every shared frame is by definition in >= 2 videos)
    assert(Multimodal.videoNearDupPairs(spark, media, hotCap = 1).count() === 0)
  }

  test("multimodal release gate = text gate minus non-canonical images") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.attachPixelImages(docs)
    val imgClusters = graft.operators.Dedup.clustersFromPairs(
      media.select("doc_id"),
      Multimodal.imageNearDupPairs(spark, media).select("doc_a", "doc_b"))
    val textClusters = graft.operators.Dedup.nearDupClusters(docs)
    val gate = graft.operators.Curation
      .multimodalReleaseGate(docs, textClusters, imgClusters)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val curated = graft.operators.Curation
      .curatedCorpusFromClusters(docs, textClusters)
      .collect().map(_.getLong(0)).toSet
    val imgLabel = imgClusters.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the gate is EXACTLY the text gate minus docs whose image is a
    // non-canonical near-dup copy
    val expected = curated.filter(id =>
      imgLabel.get(id).forall(_ == id))
    assert(gate.keySet === expected)
    assert(gate.nonEmpty, "empty gate proves nothing")
    // has_image reflects the image modality; both kinds must appear
    gate.foreach { case (id, hasImg) =>
      assert(hasImg === imgLabel.contains(id), s"has_image wrong for $id")
    }
    assert(gate.values.exists(identity) && gate.values.exists(!_))
    // and at least one curated doc was actually dropped for carrying a
    // non-canonical image (otherwise the modality check proved nothing)
    assert((curated -- gate.keySet).nonEmpty,
      "no doc was gated on image canonicality — fixture too weak")
  }

  test("baseline JPEG codec: lossless on block-constant images, ImageIO pins both directions") {
    val rnd = new scala.util.Random(31)
    val (w, h) = (24, 16) // 3x2 JPEG blocks
    val gray = new Array[Byte](w * h)
    val blocks = Array.fill(6)(rnd.nextInt(256))
    for (y <- 0 until h; x <- 0 until w)
      gray(y * w + x) = blocks((y / 8) * 3 + (x / 8)).toByte
    val jpg = MediaHeaders.buildPixelJpeg(w, h, gray)
    // block-constant content carries only DC coefficients, and the
    // flat-8 quant step divides 8*(g-128) exactly: LOSSLESS round-trip
    val f = MediaHeaders.decodePixelJpeg(jpg)
      .getOrElse(fail("own JPEG did not decode"))
    assert(f.width === w && f.height === h && f.channels === 1)
    assert(f.pixels.toSeq === gray.toSeq)
    // the INDEPENDENT decoder reads our file to the same bytes
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    assert(img != null, "ImageIO rejected our JPEG")
    assert(img.getWidth === w && img.getHeight === h)
    for (y <- 0 until h; x <- 0 until w)
      assert(img.getRaster.getSample(x, y, 0) === (gray(y * w + x) & 0xff),
        s"ImageIO diverged at ($x,$y)")
    // NOISY content (real ACs, runs, ZRL, odd dims → edge-padded
    // blocks): same file through both decoders — two conforming IDCTs
    // may differ by at most ±1 (ISO 10918-1 decoder accuracy)
    val (nw, nh) = (21, 13)
    val noisy = Array.fill(nw * nh)(rnd.nextInt(256).toByte)
    val jn = MediaHeaders.buildPixelJpeg(nw, nh, noisy)
    val fn = MediaHeaders.decodePixelJpeg(jn)
      .getOrElse(fail("noisy JPEG did not decode"))
    val in2 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jn))
    assert(in2 != null && in2.getWidth === nw && in2.getHeight === nh)
    for (y <- 0 until nh; x <- 0 until nw) {
      val d = math.abs((fn.pixels(y * nw + x) & 0xff) -
        in2.getRaster.getSample(x, y, 0))
      assert(d <= 1, s"decoders diverged by $d at ($x,$y)")
    }
    // the REVERSE pin: an ImageIO-ENCODED grayscale JPEG (standard
    // Annex K tables, real quality-75 quantization) through our decoder
    // vs ImageIO's own decode of the same bytes — ±1 again
    val src = new java.awt.image.BufferedImage(
      23, 17, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 17; x <- 0 until 23)
      src.getRaster.setSample(x, y, 0, rnd.nextInt(256))
    val out = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(src, "jpg", out))
    val ioJpg = out.toByteArray
    val fio = MediaHeaders.decodePixelJpeg(ioJpg)
      .getOrElse(fail("ImageIO JPEG did not decode"))
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(ioJpg))
    assert(fio.width === 23 && fio.height === 17)
    for (y <- 0 until 17; x <- 0 until 23) {
      val d = math.abs((fio.pixels(y * 23 + x) & 0xff) -
        ref.getRaster.getSample(x, y, 0))
      assert(d <= 1, s"our decode diverged from ImageIO by $d at ($x,$y)")
    }
    // header-fixture JPEGs (text bytes as entropy data) and garbage
    // refuse cleanly — the phash path just drops them, as before
    assert(MediaHeaders.decodePixelJpeg(
      MediaHeaders.buildJpeg(3, 3, Array[Byte](1, 2, 3))) === None)
    assert(MediaHeaders.decodePixelJpeg("not a jpeg".getBytes) === None)
  }

  test("mixed PNG/JPEG corpus hashes to the same generator formula") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.attachPixelImagesMixed(docs)
    val hashes = Multimodal.imagePerceptualHash(spark, media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // EVERY image doc hashes — the JPEG half is not dropped
    assert(hashes.size === media.count())
    def g(seed: Int, p: Int)(bx: Int, by: Int) = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${seed}_${bx}_${by}".getBytes("UTF-8"))
      (d(0) & 0xff) % 200 + (if (bx == p && by == p) 40 else 0)
    }
    hashes.foreach { case (id, ph) =>
      val seed = (id % 40).toInt; val p = (id / 40 % 5).toInt
      val want = (for (by <- 0 until 7; bx <- 0 until 8
                       if g(seed, p)(bx + 1, by) > g(seed, p)(bx, by))
        yield 1L << (by * 8 + bx)).sum
      assert(ph === want,
        s"doc $id (${if (id / 3 % 2 == 0) "png" else "jpeg"}) hash diverged")
    }
    // both container formats are actually present in the fixture
    assert(hashes.keys.exists(id => id / 3 % 2 == 0) &&
      hashes.keys.exists(id => id / 3 % 2 != 0))
  }

  test("crafted IHDR dimensions refuse cleanly, never overflow the allocation") {
    val rnd = new scala.util.Random(23)
    val good = MediaHeaders.buildPixelPng(6, 4, Array.fill(6 * 4 * 3)(rnd.nextInt(256).toByte))
    // width 2^30, RGB: height*(1+width*3) int-overflows NEGATIVE — before
    // the long-arithmetic guard this threw NegativeArraySizeException
    // (escaping the Option contract) instead of returning None
    val evilWide = good.clone()
    evilWide(16) = 0x40; evilWide(17) = 0; evilWide(18) = 0; evilWide(19) = 0
    assert(MediaHeaders.decodePixelPng(evilWide) === None)
    // merely-huge dims (fits Int, but a ~1.2 GB buffer no IDAT this size
    // could fill): rejected by the zlib max-expansion bound, not allocated
    val evilBig = good.clone()
    evilBig(16) = 0; evilBig(17) = 0; evilBig(18) = 0x4e.toByte; evilBig(19) = 0x20.toByte // 20000
    evilBig(20) = 0; evilBig(21) = 0; evilBig(22) = 0x4e.toByte; evilBig(23) = 0x20.toByte
    assert(MediaHeaders.decodePixelPng(evilBig) === None)
    // the untampered blob still decodes (the guard rejects nothing real)
    assert(MediaHeaders.decodePixelPng(good).nonEmpty)
  }

  test("full multimodal gate = text gate minus non-canonical copies in ANY modality") {
    val docs = Tables.documents(spark, sf)
    val img = Multimodal.attachPixelImages(docs)
    val med = Multimodal.attachMedia(docs)
    val vid = Multimodal.attachVideoFrames(docs)
    def labels(cl: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      cl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val imgCl = labels(graft.operators.Dedup.clustersFromPairs(
      img.select("doc_id"),
      Multimodal.imageNearDupPairs(spark, img).select("doc_a", "doc_b")))
    val audCl = labels(graft.operators.Dedup.clustersFromPairs(
      med.where(org.apache.spark.sql.functions.col("media_type") === "audio")
        .select("doc_id"),
      Multimodal.audioNearDupPairs(spark, med).select("doc_a", "doc_b")))
    val vidCl = labels(graft.operators.Dedup.clustersFromPairs(
      vid.select("doc_id"),
      Multimodal.videoNearDupPairs(spark, vid).select("doc_a", "doc_b")))
    val textClusters = graft.operators.Dedup.nearDupClusters(docs)
    import spark.implicits._
    val gate = graft.operators.Curation.multimodalReleaseGateFull(
      docs, textClusters,
      imgCl.toSeq.toDF("doc_id", "cluster_id"),
      audCl.toSeq.toDF("doc_id", "cluster_id"),
      vidCl.toSeq.toDF("doc_id", "cluster_id"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(4), r.getBoolean(5), r.getBoolean(6))).toMap
    val curated = graft.operators.Curation
      .curatedCorpusFromClusters(docs, textClusters)
      .collect().map(_.getLong(0)).toSet
    val expected = curated.filter { id =>
      imgCl.get(id).forall(_ == id) &&
        audCl.get(id).forall(_ == id) && vidCl.get(id).forall(_ == id)
    }
    assert(gate.keySet === expected)
    assert(gate.nonEmpty, "empty gate proves nothing")
    gate.foreach { case (id, (hi, ha, hv)) =>
      assert(hi === imgCl.contains(id) && ha === audCl.contains(id) &&
        hv === vidCl.contains(id), s"modality flags wrong for $id")
    }
    // every modality flag appears somewhere, and at least one curated
    // doc is gated by a NON-image modality (else audio/video composition
    // proved nothing beyond the image-only gate)
    assert(gate.values.exists(_._1) && gate.values.exists(_._2) &&
      gate.values.exists(_._3))
    assert((curated -- gate.keySet).exists(id =>
      audCl.get(id).exists(_ != id) || vidCl.get(id).exists(_ != id)),
      "no doc gated on audio/video canonicality — fixture too weak")
  }

  test("video clusters equal union-find over the brute-force pair set") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.attachVideoFrames(docs)
    val got = graft.operators.Dedup.clustersFromPairs(
      media.select(org.apache.spark.sql.functions.col("doc_id")),
      Multimodal.videoNearDupPairs(spark, media).select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // union-find over the (already brute-force-verified) pair set
    val ids = media.select("doc_id").collect().map(_.getLong(0)).sorted
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    Multimodal.videoNearDupPairs(spark, media).collect().foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val expect = ids.map { i =>
      i -> ids.filter(j => find(j) == find(i)).min
    }.toMap
    assert(got === expect)
    // full-duplicate videos (same seed+offset) must co-cluster, and at
    // least one non-trivial cluster exists in the fixture
    assert(expect.values.toSet.size < ids.length,
      "fixture produced no non-trivial video cluster")
  }

  test("video search: per-query top-k equals brute-force shared-frame ranking") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.attachVideoFrames(docs)
    val queries = Multimodal.syntheticQueryVideos(
      spark, Seq((3, 0), (9, 5), (17, 2)))
    // the query container is REAL: it splits into 2 decodable frames
    val qBlob = queries.collect().head.getAs[Array[Byte]]("payload")
    val qFrames = MediaHeaders.splitConcatenatedPngs(qBlob)
    assert(qFrames.length === 2)
    assert(qFrames.forall(f => MediaHeaders.decodePixelPng(f).nonEmpty))
    val got = Multimodal.videoSearch(spark, media, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val store = Multimodal.videoFrameHashes(spark, media).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(_.getLong(4)).toSet }
    val qh = Multimodal.videoFrameHashes(spark, queries).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(_.getLong(4)).toSet }
    val expect = qh.toSeq.sortBy(_._1).flatMap { case (qid, qset) =>
      store.toSeq
        .map { case (did, fset) => (did, (qset intersect fset).size.toLong) }
        .filter(_._2 >= 1)
        .sortBy { case (did, n) => (-n, did) }.take(5).zipWithIndex
        .map { case ((did, n), i) => (qid, i + 1, did, n) }
    }
    assert(got.toSeq === expect)
    // queries share 2 frames with same-seed stores whose window covers
    // both query offsets — the top rank must reflect that
    assert(got.count(_._4 == 2L) > 0, "no 2-frame overlap surfaced")
  }

  test("audio search: per-query top-k equals brute force; query decode is real") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.attachMedia(docs)
    val queries = Multimodal.syntheticQueryAudio(spark, Seq(11, 23, 42))
    // the query WAV is a REAL container: the JDK's own WAV reader
    // agrees on its geometry (1 channel, 8000 Hz, 570 frames)
    val qBlob = queries.collect().head.getAs[Array[Byte]]("payload")
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(qBlob))
    assert(ais.getFormat.getChannels === 1)
    assert(ais.getFormat.getSampleRate === 8000f)
    assert(ais.getFrameLength === 570L)
    val got = Multimodal.audioSearch(spark, media, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    val store = Multimodal.audioFingerprint(spark, media).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val qh = Multimodal.audioFingerprint(spark, queries).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(qh.length === 3)
    val expect = qh.flatMap { case (qid, h) =>
      store.map { case (did, fp) =>
        (qid, did, java.lang.Long.bitCount(h ^ fp)) }
        .sortBy(t => (t._3, t._2)).take(5).zipWithIndex
        .map { case ((q, d, hd), i) => (q, i + 1, d, hd) }
    }.sortBy(t => (t._1, t._2)).toSeq
    assert(got.toSeq === expect)
    // the fingerprint really derives from the generator: recompute one
    // query's 56 bits directly from the closed-form samples
    val seed = 11
    val samples = Array.tabulate(570)(i =>
      ((seed * 7919 + i * 104729 + i * i * 31) % 4001) - 2000)
    val sums = new Array[Long](57); val cnts = new Array[Long](57)
    samples.zipWithIndex.foreach { case (x, i) =>
      val b = i * 57 / 570; sums(b) += math.abs(x.toLong); cnts(b) += 1 }
    var sig = 0L
    (0 until 56).foreach { b =>
      if (sums(b + 1) * cnts(b) > sums(b) * cnts(b + 1)) sig |= 1L << b }
    assert(qh.toMap.apply(0L) === sig)
  }
}
