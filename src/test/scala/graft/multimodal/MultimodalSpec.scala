package graft.multimodal

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {

  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val out = Array.fill[Byte](33)(0)
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0, 0, 0, 13, 'I', 'H', 'D', 'R')                  // IHDR length + tag
      .zipWithIndex.foreach { case (b, i) => out(i) = b.toByte }
    out(16) = (w >> 24).toByte; out(17) = (w >> 16).toByte
    out(18) = (w >> 8).toByte; out(19) = w.toByte
    out(20) = (h >> 24).toByte; out(21) = (h >> 16).toByte
    out(22) = (h >> 8).toByte; out(23) = h.toByte
    out
  }

  private def gifBytes(w: Int, h: Int): Array[Byte] = {
    val out = Array.fill[Byte](13)(0)
    "GIF89a".getBytes.zipWithIndex.foreach { case (b, i) => out(i) = b }
    out(6) = (w & 0xff).toByte; out(7) = (w >> 8).toByte
    out(8) = (h & 0xff).toByte; out(9) = (h >> 8).toByte
    out
  }

  private def jpegBytes(w: Int, h: Int): Array[Byte] = {
    // SOI, APP0 (length 4, empty), SOF0 with the dimensions
    val app0 = Array(0xff, 0xe0, 0x00, 0x04, 0x00, 0x00)
    val sof0 = Array(0xff, 0xc0, 0x00, 0x0b, 0x08,
      (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff, 0x01, 0x00)
    (Array(0xff, 0xd8) ++ app0 ++ sof0).map(_.toByte)
  }

  test("image header parsing: PNG/GIF/JPEG dimensions from raw bytes") {
    assert(Multimodal.parseImageHeader(pngBytes(640, 480)) === Some(("png", 640, 480)))
    assert(Multimodal.parseImageHeader(gifBytes(320, 200)) === Some(("gif", 320, 200)))
    assert(Multimodal.parseImageHeader(jpegBytes(1920, 1080)) === Some(("jpeg", 1920, 1080)))
    assert(Multimodal.parseImageHeader("plain text".getBytes) === None)
    assert(Multimodal.parseImageHeader(Array[Byte]()) === None)
  }

  test("decode uses real headers for images, stub otherwise") {
    import spark.implicits._
    val blobs = Seq(
      MediaBlob(1L, "image", pngBytes(100, 50)),
      MediaBlob(2L, "image", "not an image".getBytes)).toDS()
    val metas = Multimodal.decode(blobs).collect().sortBy(_.doc_id)
    // header-only synthetic PNG (no pixel data): dimensions from the
    // header, no pixel hash
    assert(metas(0).fmt === "png" && metas(0).width === 100 && metas(0).height === 50)
    assert(metas(0).px_hash === None)
    // non-image falls back to the deterministic stub
    assert(metas(1) === Multimodal.decodeStub(
      MediaBlob(2L, "image", "not an image".getBytes)))
  }

  test("real image blobs decode pixels via ImageIO: true dims + stable CRC") {
    val metas = Multimodal.decode(Multimodal.fixtureImageBlobs(spark))
      .collect().sortBy(-_.doc_id).toSeq
    assert(metas.map(m => (m.doc_id, m.fmt, m.width, m.height, m.px_hash)) === Seq(
      (-1L, "png", 3, 2, Some(Multimodal.FixturePngCrc)),
      (-2L, "gif", 2, 2, Some(Multimodal.FixtureGifCrc))))
  }

  test("aHash via PNG-encode -> ImageIO-decode equals the pure-arithmetic hash") {
    val got = Multimodal.aHashImages(Multimodal.patternImageBlobs(spark))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (i <- 0 until 6)
      assert(got(-11L - i) === Multimodal.patternAHash(i), s"pattern $i")
  }

  test("perceptual near-dup pairs exactly the perturbed twins") {
    val pairs = Multimodal.phashNearDup(
        Multimodal.aHashImages(Multimodal.patternImageBlobs(spark)), maxHam = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // twins are (img, img+1) for img = 0, 2, 4 -> ids (-11,-12), (-13,-14), (-15,-16)
    assert(pairs === Seq((-16L, -15L), (-14L, -13L), (-12L, -11L)))
  }

  test("phashNearDup has full recall at ham == maxHam spread across bands") {
    import spark.implicits._
    // four flipped bits land in four DIFFERENT 16-bit quarters — the
    // adversarial shape a fixed 4-band blocking misses at maxHam = 4;
    // (maxHam+1)-band blocking must still pair them (pigeonhole)
    val h = 0x0123456789abcdefL
    val far = h ^ (1L | (1L << 16) | (1L << 32) | (1L << 48))
    val hashes = Seq((1L, h), (2L, far)).toDF("doc_id", "ahash")
    val pairs = Multimodal.phashNearDup(hashes, maxHam = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pairs === Seq((1L, 2L, 4L)))
    // and a negative control: 5 flipped bits exceed maxHam
    val tooFar = Seq((1L, h), (2L, far ^ (1L << 8))).toDF("doc_id", "ahash")
    assert(Multimodal.phashNearDup(tooFar, maxHam = 4).isEmpty)
  }

  test("WAV decode: AudioSystem round-trip equals the pure-arithmetic fixture values") {
    import spark.implicits._
    val mixed = Multimodal.fixtureWavBlobs(spark, 2).unionByName(Seq(
      graft.multimodal.MediaBlob(7L, "audio", "not a wav at all".getBytes("UTF-8")),
      graft.multimodal.MediaBlob(8L, "audio",
        Multimodal.makeWav(8000, 1, Array.tabulate(4)(_.toShort)).take(20))
    ).toDS())
    val got = Multimodal.decodeAudio(mixed).collect()
      .map(m => m.doc_id -> m).toMap
    // text bytes and the truncated header are dropped by the PCM gate
    assert(got.keySet === Set(-21L, -22L))
    for (i <- 0 until 2) {
      val (rate, ch, samples) = Multimodal.fixtureWavSamples(i)
      val m = got(-21L - i)
      assert(m.sample_rate === rate && m.channels === ch && m.bits === 16)
      assert(m.n_frames === samples.length / ch)
      assert(m.duration_ms === m.n_frames * 1000L / rate)
      // the decoded PCM byte stream fingerprint equals the CRC of the
      // synthesized data chunk — proof the real codec ran losslessly
      assert(m.pcm_hash === Multimodal.fixtureWavCrc(i))
    }
  }

  test("resize via PNG-encode -> ImageIO-decode equals the pure-arithmetic CRC") {
    val blobs = Multimodal.patternImageBlobs(spark)
    for (dim <- Seq(8, 32)) {
      val got = Multimodal.resizeImages(blobs, dim, dim)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      for (i <- 0 until 6)
        assert(got(-11L - i) === Multimodal.patternResizedCrc(i, dim, dim),
          s"pattern $i at ${dim}x$dim")
    }
  }

  test("MP4 container walk: mvhd v0/v1, trak count, gate on non-MP4 and malformed") {
    // round-trip the v0 fixture builder
    assert(Multimodal.parseMp4Meta(Multimodal.makeMp4(600, 7207, 2))
      === Some((600L, 7207L, 2L, 12011L)))
    assert(Multimodal.parseMp4Meta(Multimodal.makeMp4(90000, 450000, 1))
      === Some((90000L, 450000L, 1L, 5000L)))
    // hand-build a version-1 mvhd (64-bit times/duration)
    val v1 = {
      val p = new Array[Byte](112) // v1 layout: 4 + 8 + 8 + 4 + 8 + rest
      p(0) = 1 // version
      def be32(off: Int, v: Int): Unit = {
        p(off) = (v >>> 24).toByte; p(off + 1) = (v >>> 16).toByte
        p(off + 2) = (v >>> 8).toByte; p(off + 3) = v.toByte
      }
      be32(20, 1000)       // timescale
      be32(24, 0); be32(28, 98765) // duration as u64
      val box = new Array[Byte](8 + p.length)
      be32WithTarget(box, 0, box.length); copy4cc(box, 4, "mvhd")
      System.arraycopy(p, 0, box, 8, p.length); box
    }
    val moov = {
      val b = new Array[Byte](8 + v1.length)
      be32WithTarget(b, 0, b.length); copy4cc(b, 4, "moov")
      System.arraycopy(v1, 0, b, 8, v1.length); b
    }
    val ftyp = Multimodal.makeMp4(1, 0, 0).take(16)
    assert(Multimodal.parseMp4Meta(ftyp ++ moov) === Some((1000L, 98765L, 0L, 98765L)))
    // gate: text bytes, empty, truncated box all None
    assert(Multimodal.parseMp4Meta("just some text".getBytes) === None)
    assert(Multimodal.parseMp4Meta(Array.emptyByteArray) === None)
    val truncated = Multimodal.makeMp4(600, 7207, 2).dropRight(5)
    assert(Multimodal.parseMp4Meta(truncated) === None)
    // an empty 8-byte mvhd that ends the file, with and without a
    // trailing box after moov
    val emptyMvhd = new Array[Byte](8)
    be32WithTarget(emptyMvhd, 0, 8); copy4cc(emptyMvhd, 4, "mvhd")
    val moovEmpty = new Array[Byte](16)
    be32WithTarget(moovEmpty, 0, 16); copy4cc(moovEmpty, 4, "moov")
    System.arraycopy(emptyMvhd, 0, moovEmpty, 8, 8)
    val free = new Array[Byte](8)
    be32WithTarget(free, 0, 8); copy4cc(free, 4, "free")
    assert((ftyp ++ moovEmpty).length === 32)
    assert(Multimodal.parseMp4Meta(ftyp ++ moovEmpty) === None)
    assert(Multimodal.parseMp4Meta(ftyp ++ moovEmpty ++ free) === None)
  }

  test("MP4 sample table: stsz/stsc/stco expansion matches independent arithmetic") {
    // per-sample sizes 16+i, chunk pattern 3,4,4,... with a partial tail
    val sizes = Array.tabulate(25)(16 + _)
    val bytes = Multimodal.makeMp4WithSamples(1000, 25000, sizes, Seq((1, 3), (2, 4)))
    val got = Multimodal.parseMp4SampleTable(bytes).get
    assert(got.length === 25)
    val dataStart = Multimodal.mp4SampleDataStart(25, 7, 2, constantStsz = false)
    // chunks are contiguous -> offsets are plain prefix sums of sizes
    var off = dataStart
    sizes.zipWithIndex.foreach { case (sz, i) =>
      assert(got(i) === (off, sz.toLong), s"sample $i")
      off += sz
    }
    assert(off === bytes.length.toLong, "last sample ends at EOF")

    // constant-sample_size stsz form, one chunk
    val const = Multimodal.makeMp4WithSamples(
      30, 300, Array.fill(10)(20), Seq((1, 10)), constantStsz = true)
    val gotC = Multimodal.parseMp4SampleTable(const).get
    val dsC = Multimodal.mp4SampleDataStart(10, 1, 1, constantStsz = true)
    assert(gotC.toSeq === (0 until 10).map(i => (dsC + 20 * i, 20L)))

    // size==0 trailing mdat ("extends to end of file") still parses
    val zeroMdat = bytes.clone()
    val mdatHdr = (dataStart - 8).toInt
    zeroMdat(mdatHdr) = 0; zeroMdat(mdatHdr + 1) = 0
    zeroMdat(mdatHdr + 2) = 0; zeroMdat(mdatHdr + 3) = 0
    assert(Multimodal.parseMp4SampleTable(zeroMdat).get.toSeq === got.toSeq)
    assert(Multimodal.parseMp4Meta(zeroMdat).isDefined)

    // gate: a container without a sample table yields None, not garbage
    assert(Multimodal.parseMp4SampleTable(Multimodal.makeMp4(600, 7207, 2)) === None)
    assert(Multimodal.parseMp4SampleTable("plain text".getBytes) === None)
  }

  test("MP4 time-to-sample: mdhd timescale + stts cumulative deltas across runs") {
    val timed = Multimodal.makeMp4WithSamples(1000, 2000,
      Array.tabulate(12)(24 + _), Seq((1, 5)),
      timeDeltas = Seq((8, 100), (4, 250)), mediaTimescale = 1000)
    val (scale, starts) = Multimodal.parseMp4FrameTimes(timed).get
    assert(scale === 1000L)
    assert(starts.toSeq ===
      (0 until 8).map(i => 100L * i) ++ (0 until 4).map(j => 800L + 250L * j))
    // the byte-range half still parses on the same container
    val samples = Multimodal.parseMp4SampleTable(timed).get
    assert(samples.length === 12)
    val ds = Multimodal.mp4SampleDataStart(12, 3, 1, constantStsz = false,
      timeRuns = 2)
    assert(samples(0) === (ds, 24L))
    // a container without stts has no frame times
    val untimed = Multimodal.makeMp4WithSamples(1000, 2000,
      Array.tabulate(12)(24 + _), Seq((1, 5)))
    assert(Multimodal.parseMp4FrameTimes(untimed) === None)
  }

  test("windowed audio energy: decode path reproduces raw-array window stats") {
    import spark.implicits._
    val (rate, ch, samples) = Multimodal.fixtureWavSamples(2)
    val blob = MediaBlob(-23L, "audio", Multimodal.makeWav(rate, ch, samples))
    val got = Multimodal.decodeAudioWindows(Seq(blob).toDS(), win = 32)
      .orderBy("win_id").collect()
    val want = samples.grouped(32).zipWithIndex.map { case (w, i) =>
      (i.toLong, w.length, w.map(s => s.toLong * s).sum,
        w.map(s => math.abs(s.toInt)).max)
    }.toSeq
    assert(got.map(a => (a.win_id, a.n, a.sumsq, a.peak)).toSeq === want)
    // fixture 2's design: first window exactly silent, later ones not
    assert(got.head.sumsq === 0L && got.head.peak === 0)
    assert(got.tail.forall(_.sumsq > 0L))
  }

  test("2:1 audio decimation: per-channel pairing, exact floor averages, " +
    "odd trailing frame dropped") {
    import spark.implicits._
    val (rate, ch, samples) = Multimodal.fixtureWavSamples(1) // stereo
    val blob = MediaBlob(-22L, "audio", Multimodal.makeWav(rate, ch, samples))
    val got = Multimodal.downsampleAudio2x(Seq(blob).toDS()).head()
    assert(got.rate_in === rate && got.rate_out === rate / 2)
    assert(got.channels === ch)
    assert(got.n_frames_in === samples.length / ch)
    assert(got.n_frames_out === samples.length / ch / 2)
    // independent path: raw arrays -> per-channel floorDiv pairs -> CRC
    val crc = new java.util.zip.CRC32
    (0 until (samples.length / ch / 2)).foreach { t =>
      (0 until ch).foreach { c =>
        val v = java.lang.Math.floorDiv(
          samples(2 * t * ch + c) + samples((2 * t + 1) * ch + c), 2)
        crc.update(v & 0xff); crc.update((v >> 8) & 0xff)
      }
    }
    assert(got.pcm_crc_out === crc.getValue)
    // 41 mono frames decimate to 20 (trailing frame dropped), and a
    // negative odd sum floors (not truncates): (-3 + -2) / 2 = -3
    val odd = Array[Short](-3, -2) ++ Array.tabulate(39)(i => (i - 5).toShort)
    val b2 = MediaBlob(-8L, "audio", Multimodal.makeWav(8000, 1, odd))
    val g2 = Multimodal.downsampleAudio2x(Seq(b2).toDS()).head()
    assert(g2.n_frames_out === 20)
    val crc2 = new java.util.zip.CRC32
    odd.take(40).grouped(2).foreach { p =>
      val v = java.lang.Math.floorDiv(p(0) + p(1), 2)
      crc2.update(v & 0xff); crc2.update((v >> 8) & 0xff)
    }
    assert(g2.pcm_crc_out === crc2.getValue)
  }

  test("scene fixture: pattern revisit opens a new scene (cuts at 0,3,5,6)") {
    import spark.implicits._
    val frames = Multimodal.decodeVideoFrames(
      Multimodal.fixtureAviSceneBlob(spark)).orderBy("frame_idx").collect()
    assert(frames.length === Multimodal.fixtureAviScenePatterns.length)
    val crcs = frames.map(_.px_crc)
    // frames with equal patterns decode to equal fingerprints, and the
    // frame-5 revisit of pattern A reproduces frame 0's fingerprint
    assert(crcs(0) === crcs(1) && crcs(1) === crcs(2))
    assert(crcs(3) === crcs(4) && crcs(6) === crcs(7))
    assert(crcs(5) === crcs(0))
    val cuts = crcs.zipWithIndex
      .filter { case (c, f) => f == 0 || c != crcs(f - 1) }.map(_._2)
    assert(cuts.toSeq === Seq(0, 3, 5, 6))
  }

  test("windowed audio energy: non-WAV bytes and partial windows") {
    import spark.implicits._
    val text = MediaBlob(1L, "text", "not audio at all".getBytes)
    assert(Multimodal.decodeAudioWindows(Seq(text).toDS(), 32).count() === 0L)
    // 40 mono samples at win=32 -> windows of 32 and 8
    val s40 = Array.tabulate(40)(i => (i * 100).toShort)
    val b = MediaBlob(-9L, "audio", Multimodal.makeWav(8000, 1, s40))
    val ns = Multimodal.decodeAudioWindows(Seq(b).toDS(), 32)
      .orderBy("win_id").collect().map(_.n).toSeq
    assert(ns === Seq(32, 8))
  }

  test("MP4 and WAV writer bytes are pinned on every fixture") {
    def lenCrc(b: Array[Byte]): (Int, Long) = {
      val c = new java.util.zip.CRC32()
      c.update(b)
      (b.length, c.getValue)
    }
    assert(Seq(Multimodal.makeMp4(600, 7207, 2), Multimodal.makeMp4(90000, 450000, 1))
      .map(lenCrc) === Seq((148, 743445646L), (140, 12659985L)))
    assert(Seq(
      Multimodal.makeMp4WithSamples(1000, 25000, Array.tabulate(25)(16 + _), Seq((1, 3), (2, 4))),
      Multimodal.makeMp4WithSamples(30, 300, Array.fill(10)(20), Seq((1, 10)), constantStsz = true),
      Multimodal.makeMp4WithSamples(1000, 2000, Array.tabulate(12)(24 + _), Seq((1, 5)),
        timeDeltas = Seq((8, 100), (4, 250)), mediaTimescale = 1000)
    ).map(lenCrc) === Seq((1076, 1522674250L), (440, 2031043076L), (714, 4016548003L)))
    assert((0 until 3).map { i =>
      val (rate, ch, samples) = Multimodal.fixtureWavSamples(i)
      lenCrc(Multimodal.makeWav(rate, ch, samples))
    } === Seq((172, 1189024224L), (236, 3431308527L), (236, 145131086L)))
  }

  private def be32WithTarget(a: Array[Byte], off: Int, v: Int): Unit = {
    a(off) = (v >>> 24).toByte; a(off + 1) = (v >>> 16).toByte
    a(off + 2) = (v >>> 8).toByte; a(off + 3) = v.toByte
  }
  private def copy4cc(a: Array[Byte], off: Int, s: String): Unit =
    System.arraycopy(s.getBytes("ISO-8859-1"), 0, a, off, 4)
}
