package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRow

/** The multimodal plumbing contract: schema, batch shape, partition
  * preservation, null handling, and stub determinism. */
class MultimodalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def media(n: Int) = {
    import spark.implicits._
    (0 until n).map(i =>
      MediaRow(i.toLong, "image", "image/png", s"payload-$i".getBytes("UTF-8")))
      .toDS().repartition(3)
  }

  test("decode emits typed schema and deterministic values") {
    val out = Multimodal.decode(media(10))
    assert(out.schema.fieldNames.toSeq ==
      Seq("media_id", "kind", "width", "height", "n_frames", "features",
        "pmd5", "phash"))
    val rows = out.collect().sortBy(_.media_id)
    assert(rows.length == 10)
    assert(rows.forall(r => r.width >= 16 && r.height >= 16 && r.n_frames == 1))
    assert(rows.forall(_.features.length == Multimodal.FeatureDim))
    // determinism: second run bit-identical
    val again = Multimodal.decode(media(10)).collect().sortBy(_.media_id)
    assert(rows.zip(again).forall { case (a, b) =>
      a.width == b.width && a.features.sameElements(b.features) })
  }

  test("real PNG/BMP payloads decode through ImageIO with exact pixel means") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // an 8×6 image with known pixels: left half solid red, right half
    // solid blue → channel means are exactly computable
    val img = new BufferedImage(8, 6, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0xFF0000 else 0x0000FF)
    def bytes(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val png = bytes("png")
    val bmp = bytes("bmp")
    assert(Multimodal.looksLikeImage(png) && Multimodal.looksLikeImage(bmp))
    val ds = Seq(
      MediaRow(1L, "image", "image/png", png),
      MediaRow(2L, "image", "image/bmp", bmp),
      MediaRow(3L, "image", "image/png", "not an image".getBytes("UTF-8")))
      .toDS()
    val rows = Multimodal.decode(ds).collect().sortBy(_.media_id).toSeq
    // real containers: true dimensions and exact channel means
    for (r <- rows.take(2)) {
      assert(r.width == 8 && r.height == 6 && r.n_frames == 1, r)
      val Array(a, red, g, b) = r.features
      assert(a == 1.0, s"alpha mean $a")          // opaque
      assert(red == 0.5 && b == 0.5 && g == 0.0,  // half red, half blue
        s"channel means ${r.features.mkString(",")}")
    }
    // a payload without an image signature keeps the stub's oracle values
    val stub = Multimodal.stubDecode(
      MediaRow(3L, "image", "image/png", "not an image".getBytes("UTF-8")))
    assert(rows(2).width == stub.width && rows(2).height == stub.height &&
      rows(2).features.sameElements(stub.features))
  }

  test("real WAV payloads decode through javax.sound with exact PCM statistics") {
    import spark.implicits._
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 100 PCM16 mono samples with known values: s(i) = 300*i - 15000
    val samples = (0 until 100).map(i => (300 * i - 15000).toShort)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, samples.length),
      AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    assert(Multimodal.looksLikeWav(wav))
    val rows = Multimodal.decode(
      Seq(MediaRow(1L, "audio", "audio/wav", wav)).toDS()).collect()
    val r = rows.head
    assert(r.width == 8000 && r.height == 1 && r.n_frames == 100, r)
    val expAbs = samples.map(s => math.abs(s.toLong)).sum.toDouble / 100 / 32768.0
    val expRms = math.sqrt(samples.map(s => s.toLong * s).sum.toDouble / 100) / 32768.0
    assert(r.features(0) == expAbs && r.features(1) == expRms)
    assert(r.features(2) == -15000 / 32768.0 && r.features(3) == 14700 / 32768.0)
    // an image-kind row with WAV bytes keeps the stub (kind routing)
    val asImage = Multimodal.decode(
      Seq(MediaRow(2L, "image", "image/png", wav)).toDS()).collect().head
    val stub = Multimodal.stubDecode(MediaRow(2L, "image", "image/png", wav))
    assert(asImage.width == stub.width && asImage.features.sameElements(stub.features))
  }

  test("a bomb header (gigapixel dims) falls back to the stub, no allocation") {
    import spark.implicits._
    // minimal BMP header declaring ~2^30 x 2^30 pixels: looksLikeImage
    // sniffs true, but the dimension cap must reject it BEFORE ImageIO
    // allocates the raster
    val b = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
    b.putInt(40).putInt(1 << 30).putInt(1 << 30) // BITMAPINFOHEADER w, h
    b.putShort(1).putShort(24).putInt(0).putInt(0)
    val bomb = b.array()
    assert(Multimodal.looksLikeImage(bomb))
    val m = MediaRow(9L, "image", "image/bmp", bomb)
    val got = Multimodal.decode(Seq(m).toDS()).collect().head
    val stub = Multimodal.stubDecode(m)
    assert(got.width == stub.width && got.features.sameElements(stub.features))
  }

  test("decode is a narrow transform (partitioning preserved, no shuffle)") {
    val ds = media(100)
    val out = Multimodal.decode(ds)
    assert(out.rdd.getNumPartitions == ds.rdd.getNumPartitions)
    val shuffles = out.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    // the input repartition is the only exchange; decode adds none
    assert(shuffles <= 1, out.queryExecution.executedPlan.toString)
  }

  test("null/empty payloads are dropped, not crashed") {
    import spark.implicits._
    val ds = Seq(
      MediaRow(1L, "image", "image/png", "ok".getBytes),
      MediaRow(2L, "image", "image/png", null),
      MediaRow(3L, "image", "image/png", Array.empty[Byte])).toDS()
    assert(Multimodal.decode(ds).collect().map(_.media_id).toSeq == Seq(1L))
  }

  test("batched processing sees BatchSize-bounded groups") {
    // 100 rows in 1 partition -> ceil(100/64) = 2 decode batches
    import spark.implicits._
    val one = media(100).coalesce(1).as[MediaRow]
    val batches = one.mapPartitions(it =>
      it.grouped(Multimodal.BatchSize).map(_.size).toIterator).collect()
    assert(batches.toSeq == Seq(64, 36))
  }

  test("resize rewrites metadata, frameSample yields k distinct indices") {
    val dec = Multimodal.decode(media(5))
    val rs = Multimodal.resize(dec, 224, 224).collect()
    assert(rs.forall(d => d.width == 224 && d.height == 224))
    val fs = Multimodal.frameSample(dec, 3).collect()
    assert(fs.forall(_.getSeq[Long](1) == Seq(0L))) // images: 1 frame
  }

  // ---- real video container metadata ------------------------------------

  /** Build an ISO-BMFF box: 4-byte BE size + fourcc + payload. */
  private def box(typ: String, payload: Array[Byte]): Array[Byte] = {
    val size = payload.length + 8
    val out = java.nio.ByteBuffer.allocate(size)
    out.putInt(size).put(typ.getBytes("US-ASCII")).put(payload)
    out.array()
  }
  private def be(xs: Int*): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(xs.length * 4)
    xs.foreach(bb.putInt)
    bb.array()
  }

  test("real MP4 moov/trak headers yield true dims and stts frame count") {
    // a minimal but structurally REAL MP4: ftyp + moov[mvhd,
    // trak[tkhd(v0, 640x360 as 16.16), mdia[hdlr(vide),
    // minf[stbl[stts(2 entries: 100x1 + 150x1 = 250 frames)]]]]]
    // plus an AUDIO trak with MORE samples that must NOT win (hdlr routing)
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be(0x200) ++
      "isomiso2".getBytes("US-ASCII"))
    val mvhd = box("mvhd", be(0, 0, 0, 1000, 30000) ++ Array.fill[Byte](80)(0))
    def tkhd(w: Int, h: Int) = box("tkhd",
      be(0, 0, 0, 1, 0, 30000) ++ Array.fill[Byte](52)(0) ++
        be(w << 16, h << 16))
    def hdlr(t: String) = box("hdlr",
      be(0, 0) ++ t.getBytes("US-ASCII") ++ Array.fill[Byte](13)(0))
    def stts(entries: (Int, Int)*) = box("stts",
      be(0 +: entries.length +: entries.flatMap(e => Seq(e._1, e._2)): _*))
    def trak(w: Int, h: Int, handler: String, samples: (Int, Int)*) =
      box("trak", tkhd(w, h) ++ box("mdia",
        hdlr(handler) ++ box("minf", box("stbl", stts(samples: _*)))))
    val mp4 = ftyp ++ box("moov",
      mvhd ++
        trak(640, 360, "vide", (100, 1), (150, 1)) ++
        trak(0, 0, "soun", (48000, 1)))
    val m = MediaRow(1L, "video", "video/mp4", mp4)
    val d = Multimodal.videoDecode(m)
    assert((d.width, d.height, d.n_frames) == (640, 360, 250), d)
    // routed through decode() by signature, not just direct calls
    import spark.implicits._
    val viaDecode = Multimodal.decode(Seq(m).toDS()).collect().head
    assert(viaDecode.n_frames == 250)
    // frame sampling over the REAL count
    val fs = Multimodal.frameSample(Multimodal.decode(Seq(m).toDS()), 5).collect()
    assert(fs.head.getSeq[Long](1) == Seq(0L, 50L, 100L, 150L, 200L))
  }

  test("real AVI avih header yields dwTotalFrames and dimensions") {
    def le(xs: Int*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(xs.length * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      xs.foreach(bb.putInt)
      bb.array()
    }
    def chunk(id: String, payload: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le(payload.length) ++ payload ++
        (if (payload.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    // avih: usec/frame, maxbytes, padding, flags, TOTALFRAMES, initial,
    // streams, bufsize, WIDTH, HEIGHT, reserved x4
    val avih = chunk("avih", le(33333, 0, 0, 0, 480, 0, 1, 0, 320, 240, 0, 0, 0, 0))
    val hdrl = chunk("LIST", "hdrl".getBytes("US-ASCII") ++ avih)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl
    val avi = chunk("RIFF", body)
    val d = Multimodal.videoDecode(MediaRow(2L, "video", "video/avi", avi))
    assert((d.width, d.height, d.n_frames) == (320, 240, 480), d)
  }

  test("hostile/truncated video containers fall back to the stub") {
    // box size escaping the payload window
    val bad = box("ftyp", "isom".getBytes("US-ASCII")) ++
      java.nio.ByteBuffer.allocate(8).putInt(Int.MaxValue)
        .put("moov".getBytes("US-ASCII")).array()
    val m = MediaRow(3L, "video", "video/mp4", bad)
    def same(a: Multimodal.DecodedMedia, b: Multimodal.DecodedMedia): Boolean =
      a.media_id == b.media_id && a.width == b.width && a.height == b.height &&
        a.n_frames == b.n_frames && a.features.toSeq == b.features.toSeq
    val d = Multimodal.videoDecode(m)
    assert(same(d, Multimodal.stubDecode(m))) // loud fallback, no crash
    // synthetic (text) payloads keep the stub oracle unchanged
    val synth = MediaRow(4L, "video", "video/mp4",
      "not a container".getBytes("UTF-8"))
    import spark.implicits._
    assert(same(Multimodal.decode(Seq(synth).toDS()).collect().head,
      Multimodal.stubDecode(synth)))
  }

  test("q_multimodal_dedup: identical payloads share a bucket, keeper is the min") {
    val rows = SparkEntry.queries("q_multimodal_dedup")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    // identical payloads -> identical features -> one bucket: distinct
    // payload count within a bucket can never exceed its media count,
    // and a bucket holding one distinct payload with several media rows
    // is the exact-duplicate case the stage exists to collapse
    rows.foreach { r =>
      assert(r.getAs[Long]("n_payloads") >= 1 &&
        r.getAs[Long]("n_payloads") <= r.getAs[Long]("n_media"), r.toString)
    }
    // the keeper per bucket is the minimum media_id: re-derive from the
    // decode path directly
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dec = graft.multimodal.Multimodal.decode(
      graft.multimodal.Multimodal.fromDocuments(docs)).toDF()
    val expect = dec.select(col("media_id"),
      (floor(col("features").getItem(0) * 16) +
        floor(col("features").getItem(1) * 16) * 16 +
        floor(col("features").getItem(2) * 16) * 256 +
        floor(col("features").getItem(3) * 16) * 4096).cast("long").as("bucket"))
      .groupBy("bucket").agg(min("media_id").as("keep"))
      .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("keep")).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("keep_media") == expect(r.getAs[Long]("bucket")),
        r.toString)
    }
  }

  // ---- real DCT pHash --------------------------------------------------

  private def patternImage(side: Int, f: (Int, Int) => Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      side, side, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until side; x <- 0 until side) img.setRGB(x, y, f(x, y))
    img
  }

  private def encodeImg(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  private def gray(v: Int): Int = (v << 16) | (v << 8) | v

  test("pHash: same pixels through PNG and BMP containers hash identically") {
    val img = patternImage(64, (x, y) => gray((x * 3 + y * 2) % 200))
    val viaPng = Multimodal.imageDecode(
      MediaRow(1L, "image", "image/png", encodeImg(img, "png"))).phash
    val viaBmp = Multimodal.imageDecode(
      MediaRow(2L, "image", "image/bmp", encodeImg(img, "bmp"))).phash
    assert(viaPng == viaBmp, "container re-encode changed the perceptual hash")
    assert(viaPng >= 0, "pHash must be non-negative (bit 63 clear)")
  }

  test("pHash: the same pattern at 64x64 and 128x128 is a near-duplicate") {
    def pat(side: Int) = patternImage(side,
      (x, y) => gray(((x * 255 / side) + (y * 200 / side)) % 230))
    val small = Multimodal.pHash64(pat(64))
    val large = Multimodal.pHash64(pat(128))
    assert(hamming(small, large) <= 8,
      s"resized twin drifted ${hamming(small, large)} bits")
  }

  test("pHash: uniform brightness shift leaves the AC signature intact") {
    val base = patternImage(64, (x, y) => gray(40 + (x * 2 + y) % 150))
    val brighter = patternImage(64, (x, y) => gray(48 + (x * 2 + y) % 150))
    val d = hamming(Multimodal.pHash64(base), Multimodal.pHash64(brighter))
    // +8 luminance moves only the DC coefficient; every thresholded AC
    // coefficient is shift-invariant (box filter is exact integer mean)
    assert(d <= 2, s"brightness shift moved $d AC bits")
  }

  test("pHash: different content is far apart; stub path is deterministic") {
    val gradient = patternImage(64, (x, y) => gray((x * 4) % 256))
    val checker = patternImage(64,
      (x, y) => gray(if (((x / 8) + (y / 8)) % 2 == 0) 30 else 220))
    val d = hamming(Multimodal.pHash64(gradient), Multimodal.pHash64(checker))
    assert(d >= 16, s"distinct content only $d bits apart")
    // text payloads (no image signature) take the stub — equal to the
    // documented arithmetic, non-negative, stable across calls
    val m = MediaRow(7L, "image", "image/png", "hello world".getBytes("UTF-8"))
    val h = graft.functions.TextHash.polyHash("hello world")
    assert(Multimodal.stubDecode(m).phash == Multimodal.stubPHash(h))
    assert(Multimodal.stubPHash(h) >= 0)
  }

  test("decode folds pmd5 and phash into the pass (no second payload scan)") {
    import spark.implicits._
    val text = "payload text for md5"
    val bytes = text.getBytes("UTF-8")
    val img = patternImage(32, (x, y) => gray((x * 7 + y * 5) % 256))
    val png = encodeImg(img, "png")
    val out = Multimodal.decode(Seq(
      MediaRow(1L, "image", "image/png", bytes), // stub (no signature)
      MediaRow(2L, "image", "image/png", png)    // real ImageIO decode
    ).toDS()).collect().sortBy(_.media_id)
    def md5hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map("%02x".format(_)).mkString
    assert(out(0).pmd5 == md5hex(bytes))
    assert(out(1).pmd5 == md5hex(png))
    assert(out(0).phash ==
      Multimodal.stubPHash(graft.functions.TextHash.polyHash(text)))
    assert(out(1).phash == Multimodal.pHash64(img))
    assert(out.forall(_.phash >= 0))
  }

  // ---- gain-invariant audio fingerprint ----------------------------------

  private def fpOf(wav: Array[Byte]): Long = {
    import spark.implicits._
    Multimodal.decode(
      Seq(MediaRow(1L, "audio", "audio/wav", wav)).toDS()).collect().head.phash
  }

  private def pcm16Of(wav: Array[Byte]): Array[Short] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val data = ais.readAllBytes()
    Array.tabulate(data.length / 2)(i =>
      (((data(2 * i + 1) << 8) | (data(2 * i) & 0xff))).toShort)
  }

  test("audioFp: synth → real WAV decode → Goertzel recovers the pattern EXACTLY") {
    val rnd = new java.util.Random(7L)
    (1 to 5).foreach { _ =>
      val pattern = rnd.nextLong() & ((1L << 63) - 1)
      assert(fpOf(Multimodal.synthWav(pattern, 512, 250.0, 8000)) == pattern)
    }
  }

  test("audioFp: a PCM-domain gain change keeps every bit; md5 and amplitude stats miss it") {
    import spark.implicits._
    val pattern = 0x3a5c96e1f04b7d28L & ((1L << 63) - 1)
    val wav = Multimodal.synthWav(pattern, 512, 250.0, 8000)
    // apply gain 0.6 to the DECODED samples (a true volume change on the
    // payload, not a re-synthesis) and re-wrap
    val quiet = Multimodal.wavBytes(pcm16Of(wav).map(s =>
      math.rint(s * 0.6).toShort), 8000)
    val rows = Multimodal.decode(Seq(
      MediaRow(1L, "audio", "audio/wav", wav),
      MediaRow(2L, "audio", "audio/wav", quiet)).toDS())
      .collect().sortBy(_.media_id)
    assert(rows(0).phash == pattern && rows(1).phash == pattern,
      s"gain change flipped bits: ${java.lang.Long.toBinaryString(rows(0).phash ^ rows(1).phash)}")
    assert(rows(0).pmd5 != rows(1).pmd5, "exact md5 must miss a gain change")
    // every amplitude statistic scales with the gain — the old stat
    // buckets cannot catch this twin
    assert(rows(0).features.zip(rows(1).features).forall { case (a, b) =>
      math.abs(b) < math.abs(a) * 0.75 })
  }

  test("audioFp: a resampled re-encode (different rate + length) fingerprints identically") {
    val pattern = 0x15f2c83b9ae06d47L & ((1L << 63) - 1)
    val a = Multimodal.synthWav(pattern, 512, 250.0, 8000)
    val b = Multimodal.synthWav(pattern, 768, 137.0, 12000) // new rate, length AND gain
    assert(fpOf(a) == pattern && fpOf(b) == pattern)
    // the envelope metadata differs (it IS a different encoding)
    import spark.implicits._
    val rows = Multimodal.decode(Seq(
      MediaRow(1L, "audio", "audio/wav", a),
      MediaRow(2L, "audio", "audio/wav", b)).toDS()).collect().sortBy(_.media_id)
    assert(rows(0).width == 8000 && rows(1).width == 12000)
    assert(rows(0).n_frames != rows(1).n_frames)
  }

  test("audioFp: small additive noise stays near; different content is far") {
    val rnd = new java.util.Random(11L)
    val pattern = rnd.nextLong() & ((1L << 63) - 1)
    val wav = Multimodal.synthWav(pattern, 512, 250.0, 8000)
    val noisy = Multimodal.wavBytes(pcm16Of(wav).map(s =>
      (s + rnd.nextInt(17) - 8).toShort), 8000)
    assert(java.lang.Long.bitCount(fpOf(noisy) ^ pattern) <= 2,
      "±8 sample noise must not move the fingerprint")
    val other = rnd.nextLong() & ((1L << 63) - 1)
    val far = java.lang.Long.bitCount(
      fpOf(Multimodal.synthWav(other, 512, 250.0, 8000)) ^ pattern)
    assert(far == java.lang.Long.bitCount(other ^ pattern) && far >= 16,
      s"different content must be far apart (got $far)")
  }

  // ---- sampled-frame video hashes ----------------------------------------

  private def animatedGif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    w.setOutput(ios)
    w.prepareWriteSequence(null)
    frames.foreach(f =>
      w.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
    w.endWriteSequence(); w.dispose(); ios.close()
    bos.toByteArray
  }

  // a slowly-varying scene: gradient morphing into a checkerboard
  private def blendFrame(side: Int, t: Double): java.awt.image.BufferedImage =
    patternImage(side, (x, y) => gray((
      (1 - t) * ((x * 255 / side + y * 200 / side) % 230) +
        t * (if (((x / 8) + (y / 8)) % 2 == 0) 30 else 220)).toInt))

  test("framePHashes: animated GIF gets REAL per-frame hashes; a resize re-encode stays near") {
    val n = 8
    def gif(side: Int) = animatedGif((0 until n).map(f =>
      blendFrame(side, f.toDouble / (n - 1))))
    val a = Multimodal.framePHashes(
      MediaRow(1L, "video", "image/gif", gif(64)), 4)
    val b = Multimodal.framePHashes(
      MediaRow(2L, "video", "image/gif", gif(96)), 4)
    assert(a.length == 4 && b.length == 4)
    assert(a.distinct.length >= 3, "frames vary, so slot hashes must vary")
    val perSlot = a.zip(b).map { case (x, y) => hamming(x, y) }
    assert(perSlot.forall(_ <= 10),
      s"resize re-encode drifted per-slot: ${perSlot.mkString(",")}")
    // different content (the morph played backwards) is far in the sum
    val rev = Multimodal.framePHashes(
      MediaRow(3L, "video", "image/gif",
        animatedGif((0 until n).map(f =>
          blendFrame(64, 1.0 - f.toDouble / (n - 1))))), 4)
    val farSum = a.zip(rev).map { case (x, y) => hamming(x, y) }.sum
    assert(farSum >= 30, s"reversed clip only $farSum bits from the original")
  }

  test("framePHashes: a truncated tail realigns onto nearby frames of a slow scene") {
    val side = 64
    val full = (0 until 12).map(f => blendFrame(side, f.toDouble / 11))
    val a = Multimodal.framePHashes(
      MediaRow(1L, "video", "image/gif", animatedGif(full)), 4)
    val tr = Multimodal.framePHashes(
      MediaRow(2L, "video", "image/gif", animatedGif(full.take(9))), 4)
    val perSlot = a.zip(tr).map { case (x, y) => hamming(x, y) }
    info(s"truncation per-slot hamming: ${perSlot.mkString(",")}")
    assert(perSlot.sum <= 24,
      s"truncated twin drifted ${perSlot.sum} bits: ${perSlot.mkString(",")}")
  }

  test("decodeFrames: k slot-aligned rows per clip; stub equals the documented arithmetic") {
    import spark.implicits._
    val text = "video payload text"
    val rows = Multimodal.decodeFrames(Seq(
      MediaRow(5L, "video", "video/mp4", text.getBytes("UTF-8"))).toDS(), 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._2)
    val h = graft.functions.TextHash.polyHash(text)
    val expected = Multimodal.stubFramePHashes(h, 4)
    assert(rows.length == 4)
    rows.foreach { case (id, slot, fh) =>
      assert(id == 5L && fh == expected(slot) && fh >= 0)
    }
    // slot hashes of one clip spread (independent re-mixes, so band-LSH
    // over the stub path doesn't collapse)
    assert(expected.distinct.length == 4)
  }

  test("audioFp: clips under the analysis floor keep the stub hash") {
    import spark.implicits._
    // 100 frames: 100/9 = 11 < AudioMinSeg → stub
    val samples = Array.tabulate(100)(i => (300 * i - 15000).toShort)
    val wav = Multimodal.wavBytes(samples, 8000)
    val r = Multimodal.decode(
      Seq(MediaRow(1L, "audio", "audio/wav", wav)).toDS()).collect().head
    val expected = Multimodal.stubPHash(graft.functions.TextHash.polyHash(
      new String(wav, java.nio.charset.StandardCharsets.UTF_8)))
    assert(r.phash == expected)
  }
}
