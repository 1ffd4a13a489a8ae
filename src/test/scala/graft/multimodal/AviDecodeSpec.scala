package graft.multimodal

import graft.SparkSpec

/** REAL video pixel decode (uncompressed-DIB AVI). Three layers:
  * byte-level ground truth (a hand-written DIB frame with distinct
  * corner colors proves the bottom-up/BGR/stride conventions — a
  * writer+parser that agreed on the WRONG convention would pass a
  * round-trip but fail this), round-trip over the pattern fixtures
  * (odd width exercises row padding), and gate behavior (non-AVI RIFF,
  * text, MP4 all rejected).
  */
class AviDecodeSpec extends SparkSpec {

  test("hand-written DIB bytes decode to the right pixel positions") {
    // 2x2 frame, one distinct color per corner:
    //   top-left RED, top-right GREEN, bottom-left BLUE, bottom-right WHITE
    // DIB stores rows bottom-up and samples as BGR, stride 8 (2*3 -> 8).
    val bottomRow = Array[Byte](
      -1, 0, 0, /*BLUE (B=ff)*/ -1, -1, -1, /*WHITE*/ 0, 0 /*pad*/ )
    val topRow = Array[Byte](
      0, 0, -1, /*RED (R=ff)*/ 0, -1, 0, /*GREEN*/ 0, 0 /*pad*/ )
    val dib = bottomRow ++ topRow

    // wrap it in a container authored by makeAviDib, then splice our
    // hand-written frame bytes over its single frame payload
    val px = Array.fill(4)(0)
    val avi = Multimodal.makeAviDib(2, 2, 40000, Seq(px))
    System.arraycopy(dib, 0, avi, avi.length - dib.length, dib.length)

    val Some((w, h, us, frames)) = Multimodal.parseAviDib(avi)
    assert((w, h, us) == (2, 2, 40000) && frames.size == 1)
    assert(frames.head.toSeq ==
      Seq(0xff0000 /*RED*/, 0x00ff00 /*GREEN*/, 0x0000ff /*BLUE*/, 0xffffff))
  }

  test("write->parse round-trip recovers every fixture frame exactly") {
    for (i <- 0 until 3) {
      val (w, h, us, frames) = Multimodal.fixtureAviFrames(i)
      val Some((pw, ph, pus, parsed)) =
        Multimodal.parseAviDib(Multimodal.makeAviDib(w, h, us, frames))
      assert((pw, ph, pus) == (w, h, us))
      assert(parsed.size == frames.size)
      parsed.zip(frames).foreach { case (p, f) => assert(p.sameElements(f)) }
    }
  }

  test("the gate rejects everything that is not an uncompressed-DIB AVI") {
    assert(Multimodal.parseAviDib("no media here".getBytes("UTF-8")).isEmpty)
    // RIFF but WAVE
    assert(Multimodal.parseAviDib(
      Multimodal.makeWav(8000, 1, Array.tabulate(8)(_.toShort))).isEmpty)
    // MP4 (no RIFF at all)
    assert(Multimodal.parseAviDib(Multimodal.makeMp4(600, 1200, 1)).isEmpty)
    // truncated AVI
    val avi = Multimodal.makeAviDib(2, 2, 1000, Seq(Array.fill(4)(0)))
    assert(Multimodal.parseAviDib(avi.take(avi.length - 3)).isEmpty)
  }

  test("distributed decode emits one row per frame with still-image-compatible CRCs") {
    import spark.implicits._
    val rows = Multimodal.decodeVideoFrames(Multimodal.fixtureAviBlobs(spark))
      .collect().sortBy(r => (r.doc_id, r.frame_idx))
    assert(rows.map(_.doc_id).distinct.toSeq == Seq(-53L, -52L, -51L))
    assert(rows.count(_.doc_id == -51L) == 4 && rows.count(_.doc_id == -52L) == 3
      && rows.count(_.doc_id == -53L) == 2)
    // CRC space is shared with stills: recompute from the pattern arrays
    val (w, h, _, frames) = Multimodal.fixtureAviFrames(0)
    val expect = frames.map(Multimodal.pixelCrcInts)
    assert(rows.filter(_.doc_id == -51L).map(_.px_crc).toSeq == expect)
    assert(rows.forall(r => r.width > 0 && r.height > 0))
    // videos 0 and 1 share two frame patterns -> shared fingerprints
    val h0 = rows.filter(_.doc_id == -51L).map(_.px_crc).toSet
    val h1 = rows.filter(_.doc_id == -52L).map(_.px_crc).toSet
    assert((h0 & h1).size == 2)
  }

  test("MJPEG AVI: container walk extracts frames whose pixels equal a direct ImageIO round-trip") {
    val (w, h, us, jpegs) = Multimodal.fixtureMjpgJpegs
    val avi = Multimodal.makeAviMjpg(w, h, us, jpegs)
    val Some((pw, ph, pus, frames)) = Multimodal.parseAviMjpg(avi)
    assert((pw, ph, pus) == (w, h, us))
    assert(frames.size == jpegs.size)
    // pixel-exact vs decoding the SAME jpeg bytes without the container:
    // the container walk must not touch the payload
    frames.zip(jpegs).foreach { case (px, j) =>
      val Some((jw, jh, direct)) = Multimodal.decodeJpegPx(j)
      assert((jw, jh) == (w, h) && px.sameElements(direct))
    }
    // JPEG is lossy (edge ringing spikes single pixels) but the decoded
    // frame must still track the source pattern on average
    val src = Array.tabulate(w * h) { i =>
      Multimodal.patternGray(0, (i % w) % Multimodal.PatternSize,
        (i / w) % Multimodal.PatternSize)
    }
    val meanErr = frames.head.zip(src).map { case (p, g) =>
      math.abs((p & 0xff) - g) }.sum.toDouble / src.length
    assert(meanErr <= 16.0, s"mean channel error $meanErr")
  }

  test("MJPEG gate: DIB AVIs, corrupt JPEG payloads, and non-AVI bytes are rejected or dropped") {
    // a DIB AVI is NOT an MJPG AVI (and vice versa)
    val (w, h, us, frames) = Multimodal.fixtureAviFrames(0)
    assert(Multimodal.parseAviMjpg(Multimodal.makeAviDib(w, h, us, frames)).isEmpty)
    val (mw, mh, mus, jpegs) = Multimodal.fixtureMjpgJpegs
    assert(Multimodal.parseAviDib(Multimodal.makeAviMjpg(mw, mh, mus, jpegs)).isEmpty)
    assert(Multimodal.parseAviMjpg("plain text".getBytes("UTF-8")).isEmpty)
    // corrupt one frame's JPEG entropy bytes: that frame drops, others survive
    val garbled = jpegs.updated(1, jpegs(1).take(4) ++ Array.fill[Byte](16)(0x55))
    val Some((_, _, _, kept)) = Multimodal.parseAviMjpg(
      Multimodal.makeAviMjpg(mw, mh, mus, garbled))
    assert(kept.size == jpegs.size - 1)
  }

  private def lenCrc(b: Array[Byte]): (Int, Long) = {
    val c = new java.util.zip.CRC32()
    c.update(b)
    (b.length, c.getValue)
  }

  /** `a` with the little-endian int at `off` set to `v`. */
  private def withLe32(a: Array[Byte], off: Int, v: Int): Array[Byte] = {
    val b = a.clone()
    java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(off, v)
    b
  }

  test("AVI writer bytes are pinned: makeAviDib on the fixtures, " +
    "makeAviMjpg on even and odd payloads") {
    val dib = (0 until 3).map(Multimodal.fixtureAviFrames) :+
      Multimodal.fixtureAviSceneFrames
    assert(dib.map { case (w, h, us, frames) =>
      lenCrc(Multimodal.makeAviDib(w, h, us, frames))
    } === Seq((2560, 238301977L), (1976, 869569781L), (624, 2454982656L),
      (4896, 1194979616L)))
    // ImageIO's JPEG bytes are JDK-specific: pin the container on
    // synthetic payloads, an odd one between and after even ones
    val even = Array.fill[Byte](36)(7)
    val odd = Array.fill[Byte](37)(9)
    assert(Seq(Seq(even, odd), Seq(odd, even, odd)).map(fs =>
      lenCrc(Multimodal.makeAviMjpg(16, 12, 66000, fs))) ===
      Seq((314, 3933984704L), (360, 985057436L)))
  }

  /** `avi` with a second, audio stream: an `auds` strl (56-byte strh,
    * 40-byte WAVEFORMATEXTENSIBLE strf: 16-bit PCM stereo at 48 kHz)
    * appended to its `hdrl` list, the LIST and RIFF sizes grown to match.
    */
  private def withAudioStream(avi: Array[Byte]): Array[Byte] = {
    def le(n: Int)(put: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      put(bb)
      bb.array()
    }
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le(4)(_.putInt(body.length)) ++ body
    val strh = le(56)(_.put("auds".getBytes("US-ASCII")).putInt(0).putInt(0)
      .putInt(0).putInt(0).putInt(1).putInt(48000))
    val pcmGuid = Array(1, 0, 0, 0, 0, 0, 0x10, 0, 0x80, 0, 0, 0xaa, 0, 0x38, 0x9b, 0x71)
      .map(_.toByte)
    val strf = le(40)(_.putShort(0xfffe.toShort).putShort(2).putInt(48000)
      .putInt(192000).putShort(4).putShort(16).putShort(22).putShort(16)
      .putInt(3).put(pcmGuid))
    val strl = chunk("LIST",
      "strl".getBytes("US-ASCII") ++ chunk("strh", strh) ++ chunk("strf", strf))
    val in = java.nio.ByteBuffer.wrap(avi).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val hdrlEnd = 20 + in.getInt(16)
    withLe32(withLe32(avi.take(hdrlEnd) ++ strl ++ avi.drop(hdrlEnd),
      16, in.getInt(16) + strl.length), 4, in.getInt(4) + strl.length)
  }

  test("a DIB or MJPEG AVI with a second, audio stream decodes its video stream") {
    val (w, h, us, frames) = Multimodal.fixtureAviFrames(0)
    val (mw, mh, mus, jpegs) = Multimodal.fixtureMjpgJpegs
    for ((avi, parse) <- Seq[(Array[Byte], Array[Byte] => Option[(Int, Int, Int, Seq[Array[Int]])])](
        Multimodal.makeAviDib(w, h, us, frames) -> Multimodal.parseAviDib,
        Multimodal.makeAviMjpg(mw, mh, mus, jpegs) -> Multimodal.parseAviMjpg)) {
      val Some((pw, ph, pus, want)) = parse(avi)
      val withAudio = withAudioStream(avi)
      assert(withAudio.length == avi.length + 124)
      val Some((aw, ah, aus, got)) = parse(withAudio)
      assert((aw, ah, aus) == (pw, ph, pus) && got.size == want.size)
      got.zip(want).foreach { case (a, b) => assert(a.sameElements(b)) }
    }
  }

  test("malformed AVIs parse to None in both parsers") {
    // byte offsets of the layout both writers emit: avih body at 32
    // (width 64, height 68), strh fccType at 108, strf size at 168,
    // LIST movi size at 216,
    // 'movi' at 220, first frame chunk header at 224
    val (w, h, us, frames) = Multimodal.fixtureAviFrames(0)
    val (mw, mh, mus, jpegs) = Multimodal.fixtureMjpgJpegs
    val dib = Multimodal.makeAviDib(w, h, us, frames)
    val mjpg = Multimodal.makeAviMjpg(mw, mh, mus, jpegs)
    assert(Multimodal.parseAviDib(dib).isDefined && Multimodal.parseAviMjpg(mjpg).isDefined)
    for (avi <- Seq(dib, mjpg)) {
      val moviSize = java.nio.ByteBuffer.wrap(avi)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(216)
      val cases = Seq(
        "avih overruns hdrl" -> withLe32(avi, 28, 200),
        "strf overruns strl" -> withLe32(avi, 168, 100),
        "frame overruns movi" -> withLe32(avi, 228, moviSize),
        "w*h > MaxDecodePixels" -> withLe32(withLe32(avi, 64, 65536), 68, 65536),
        "negative height" -> withLe32(avi, 68, -12),
        "empty movi" -> withLe32(withLe32(avi.take(224), 4, 216), 216, 4),
        "no vids strh" -> {
          val b = avi.clone()
          System.arraycopy("auds".getBytes("US-ASCII"), 0, b, 108, 4)
          b
        })
      for ((what, bytes) <- cases) {
        assert(Multimodal.parseAviDib(bytes).isEmpty, what)
        assert(Multimodal.parseAviMjpg(bytes).isEmpty, what)
      }
    }
  }

  test("MJPEG AVI: odd-length payloads survive a write->parse round trip") {
    val (w, h, us, jpegs) = Multimodal.fixtureMjpgJpegs
    // the JPEG reader stops at EOI, so a trailing byte leaves the image
    // intact while making the payload length odd
    val odd = jpegs.map(j => if (j.length % 2 == 0) j :+ 0.toByte else j)
    assert(odd.forall(_.length % 2 == 1))
    val avi = Multimodal.makeAviMjpg(w, h, us, odd)
    assert(avi.length == 224 + odd.map(j => 8 + j.length + 1).sum)
    val Some((pw, ph, pus, frames)) = Multimodal.parseAviMjpg(avi)
    assert((pw, ph, pus) == (w, h, us) && frames.size == odd.size)
    frames.zip(jpegs).foreach { case (px, j) =>
      assert(px.sameElements(Multimodal.decodeJpegPx(j).get._3))
    }
  }

  test("distributed MJPEG decode matches the fixture's expected rows") {
    val rows = Multimodal.decodeVideoFrames(Multimodal.fixtureMjpgBlobs(spark))
      .collect().sortBy(_.frame_idx)
      .map(r => (r.doc_id, r.frame_idx, r.width, r.height, r.px_crc))
    assert(rows.toSeq == Multimodal.fixtureMjpgExpected)
  }
}
