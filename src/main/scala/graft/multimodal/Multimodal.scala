package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Input to the media-decode stage: an opaque binary payload + typed
  * metadata, the multimodal column convention of the extension brief.
  */
final case class MediaBlob(doc_id: Long, fmt: String, content: Array[Byte])

/** Output of the decoder. `px_hash` is a CRC32 over the decoded ARGB
  * pixels (row-major) when the payload really decoded; None on the
  * stub/header-only paths.
  */
final case class MediaMeta(
    doc_id: Long,
    fmt: String,
    n_bytes: Long,
    width: Int,
    height: Int,
    n_frames: Int,
    px_hash: Option[Long] = None)

/** Output of the MP4 container walk: movie-header properties read from
  * REAL ISO-BMFF box structure (no codec involved — container metadata
  * is pure byte arithmetic). `duration_ms = duration * 1000 / timescale`
  * in integer division.
  */
final case class VideoMeta(
    doc_id: Long,
    n_bytes: Long,
    timescale: Long,
    duration: Long,
    n_tracks: Long,
    duration_ms: Long)

/** One sampled video frame resolved to its REAL byte range in the
  * container: `offset`/`size` come from the MP4 sample table (stsz +
  * stsc + stco), not stub arithmetic — everything short of running a
  * codec over those bytes.
  */
final case class FrameRef(
    doc_id: Long,
    frame_idx: Long,
    offset: Long,
    size: Long)

/** [[FrameRef]] plus the frame's REAL presentation time from the stts
  * time-to-sample table: `t_ms = start_ticks * 1000 / media timescale`
  * in integer division.
  */
final case class FrameTimeRef(
    doc_id: Long,
    frame_idx: Long,
    t_ms: Long,
    offset: Long,
    size: Long)

/** One REAL decoded video frame: true pixels out of an uncompressed-DIB
  * AVI (RIFF container walk + bottom-up BGR row decode — byte
  * arithmetic end to end, no codec), fingerprinted with the same
  * ARGB-scan CRC as still images.
  */
final case class VideoFramePx(
    doc_id: Long,
    frame_idx: Long,
    width: Long,
    height: Long,
    px_crc: Long)

/** One fixed-width window of decoded PCM samples: exact-integer energy
  * (`sumsq` = Σ s², `peak` = max |s|) so downstream RMS/silence math is
  * bit-reproducible; `n` < `win` only on the trailing partial window.
  */
final case class AudioWindow(
    doc_id: Long, win_id: Long, n: Int, sumsq: Long, peak: Int)

/** Result of 2:1 PCM decimation: per-channel pair floor-averages (exact
  * integer arithmetic — floorDiv, so the value is engine-reproducible),
  * one odd trailing frame dropped. `pcm_crc_out` fingerprints the
  * downsampled little-endian stream in the same CRC space as
  * [[AudioMeta]]'s input fingerprint.
  */
final case class AudioDownsampled(
    doc_id: Long,
    rate_in: Int,
    rate_out: Int,
    channels: Int,
    n_frames_in: Long,
    n_frames_out: Long,
    pcm_crc_out: Long)

/** Output of the WAV decode stage: container properties from a REAL JDK
  * `AudioSystem` decode plus a CRC32 over the decoded PCM bytes.
  * `duration_ms` is integer floor arithmetic (frames * 1000 / rate) —
  * exact and oracle-reproducible.
  */
final case class AudioMeta(
    doc_id: Long,
    n_bytes: Long,
    sample_rate: Int,
    channels: Int,
    bits: Int,
    n_frames: Long,
    duration_ms: Long,
    pcm_hash: Long)

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, decoded batch-wise inside executors.
  *
  * Images (PNG/GIF/BMP via ImageIO) and WAV/PCM audio (via
  * `javax.sound.sampled.AudioSystem`) decode for REAL — both codecs ship
  * inside the JDK. Only video (genuinely codec-less in the JDK) and
  * unrecognizable payloads take the clearly marked deterministic STUB,
  * which derives fake dimensions from the byte content so the plumbing
  * stays oracle-checkable end-to-end.
  */
object Multimodal {

  /** Byte-level metadata over a binary column — length, content hash,
    * magic prefix. Pure built-ins; at scale this runs in the scan stage.
    */
  def binaryMeta(df: DataFrame, idCol: String, binCol: String): DataFrame =
    df.select(
      col(idCol),
      octet_length(col(binCol)).cast("long").as("n_bytes"),
      sha2(col(binCol), 256).as("sha"),
      hex(expr(s"substring($binCol, 1, 4)")).as("magic"))

  /** Real header parsing for the formats whose dimensions live in plain
    * bytes — no codec library needed: PNG IHDR (big-endian at offset
    * 16), GIF logical screen descriptor (little-endian at 6), JPEG SOFn
    * segment scan. Returns None for payloads that aren't recognizable
    * images; pixel decoding (which WOULD need a codec) stays stubbed.
    */
  def parseImageHeader(b: Array[Byte]): Option[(String, Int, Int)] = {
    def u8(i: Int): Int = b(i) & 0xff
    if (b.length >= 24 && u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G') {
      val w = (u8(16) << 24) | (u8(17) << 16) | (u8(18) << 8) | u8(19)
      val h = (u8(20) << 24) | (u8(21) << 16) | (u8(22) << 8) | u8(23)
      Some(("png", w, h))
    } else if (b.length >= 10 && u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F' &&
        u8(3) == '8' && (u8(4) == '7' || u8(4) == '9') && u8(5) == 'a') {
      // full GIF87a/GIF89a signature: "GIF" alone also matches ordinary
      // text ("GIFs are..."), which must fall through to the stub
      Some(("gif", u8(6) | (u8(7) << 8), u8(8) | (u8(9) << 8)))
    } else if (b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      var i = 2
      while (i + 1 < b.length) {
        if (u8(i) == 0xff && u8(i + 1) != 0xff) {
          val m = u8(i + 1)
          // standalone markers carry no length field
          if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) { i += 2 }
          else {
            val isSof = (m >= 0xc0 && m <= 0xcf) && m != 0xc4 && m != 0xc8 && m != 0xcc
            if (isSof) {
              if (i + 8 < b.length) {
                val h = (u8(i + 5) << 8) | u8(i + 6)
                val w = (u8(i + 7) << 8) | u8(i + 8)
                return Some(("jpeg", w, h))
              } else return None // truncated before the dimension bytes
            }
            if (i + 3 >= b.length) return None
            i += 2 + ((u8(i + 2) << 8) | u8(i + 3)) // skip this segment
          }
        } else i += 1
      }
      None
    } else None
  }

  /** CRC32 over the ARGB ints of a decoded image, row-major big-endian —
    * a deterministic pixel fingerprint (PNG/GIF/BMP decode losslessly,
    * so the value is stable across JVMs).
    */
  def pixelCrc(im: java.awt.image.BufferedImage): Long = {
    val c = new java.util.zip.CRC32()
    val buf = new Array[Byte](4)
    var y = 0
    while (y < im.getHeight) {
      var x = 0
      while (x < im.getWidth) {
        val p = im.getRGB(x, y)
        buf(0) = (p >>> 24).toByte; buf(1) = (p >>> 16).toByte
        buf(2) = (p >>> 8).toByte; buf(3) = p.toByte
        c.update(buf, 0, 4)
        x += 1
      }
      y += 1
    }
    c.getValue
  }

  /** Largest pixel count decodeOne will actually decode — a header
    * declaring more is served its header dimensions only. Guards
    * against decompression bombs (a tiny blob whose IHDR declares
    * gigapixel dimensions would otherwise allocate w*h ints).
    */
  val MaxDecodePixels: Long = 64L * 1024 * 1024

  /** The lossless-decode gate shared by [[decodeOne]] and
    * [[aHashImages]]: Some(image) iff the blob carries a non-JPEG image
    * header with sane positive dimensions inside the bomb guard (a
    * forged header with a sign-bit width must not bypass the w*h check)
    * AND ImageIO actually decodes it.
    */
  def decodeLosslessImage(
      bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    parseImageHeader(bytes) match {
      case Some((fmt, w, h)) if fmt != "jpeg" && w > 0 && h > 0 &&
          w.toLong * h.toLong <= MaxDecodePixels =>
        try Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes)))
        catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }

  /** Decode one blob. Lossless images decode for REAL: the JDK's
    * ImageIO reads PNG/GIF/BMP pixels with no external codec, giving
    * true dimensions plus a pixel fingerprint. JPEG stops at header
    * dimensions — its decoded pixels are not bit-stable across JVM
    * IDCT implementations, which would poison the deterministic
    * px_hash contract. A recognizable-but-corrupt image falls back to
    * its header dimensions (no pixel hash; JDK readers throw
    * RuntimeExceptions, not just IOException, on corrupt payloads);
    * anything else (audio/video — genuinely codec-less here) takes the
    * deterministic stub.
    */
  def decodeOne(b: MediaBlob): MediaMeta =
    parseImageHeader(b.content) match {
      case Some((fmt, w, h)) =>
        decodeLosslessImage(b.content) match {
          case Some(im) =>
            MediaMeta(b.doc_id, fmt, b.content.length.toLong,
              im.getWidth, im.getHeight, n_frames = 1,
              px_hash = Some(pixelCrc(im)))
          case None =>
            MediaMeta(b.doc_id, fmt, b.content.length.toLong, w, h, n_frames = 1)
        }
      case None => decodeStub(b)
    }

  /** STUB decoder for what genuinely needs a codec: STATEFUL compressed
    * video frame decode (H.264/VP9 payloads — container metadata is
    * real via [[parseMp4Meta]], uncompressed-DIB AVI frames decode
    * for REAL via [[parseAviDib]]/[[decodeVideoFrames]], and MJPEG AVI
    * frames decode for REAL via [[parseAviMjpg]]), plus audio
    * payloads that are not parseable PCM WAV (real WAV decode lives in
    * [[decodeAudio]]). A real codec call goes here (e.g. ffmpeg via
    * JNI). The fake derives width/height/frames deterministically from
    * the payload size so tests and oracles can check the plumbing.
    */
  def decodeStub(b: MediaBlob): MediaMeta = {
    val n = b.content.length.toLong
    MediaMeta(
      b.doc_id, b.fmt, n,
      width = (64 + n % 1024).toInt,
      height = (64 + (n * 7) % 768).toInt,
      n_frames = if (b.fmt == "video") (1 + n % 240).toInt else 1)
  }

  /** Batch decode: typed mapPartitions — one decoder instance per
    * partition (the expensive init a real codec needs), streaming through
    * the rows without materializing the partition.
    */
  def decode(blobs: Dataset[MediaBlob]): Dataset[MediaMeta] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      // real impl: open codec context once per partition here
      it.map(decodeOne)
    }
  }

  /** Build a MediaBlob dataset from the documents table (text bytes stand
    * in for media payloads; fmt cycles deterministically).
    */
  def blobsFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaBlob] = {
    import spark.implicits._
    docs.select(
        col("doc_id"),
        element_at(typedLit(Seq("image", "audio", "video")),
          (col("doc_id") % 3 + 1).cast("int")).as("fmt"),
        encode(col("text"), "UTF-8").as("content"))
      .as[MediaBlob]
  }

  /** Deterministic real-image test vectors (ImageIO-encoded, so the
    * decoded pixels — and therefore [[pixelCrc]] — are fixed): a 3x2 RGB
    * PNG and a 2x2 GIF. Used by the decode oracle and specs; the
    * expected constants live next to them.
    */
  val FixturePngB64: String =
    "iVBORw0KGgoAAAANSUhEUgAAAAMAAAACCAIAAAASFvFNAAAAFUlEQVR4XmP4z8DAAMH//4PohoYGAEfPB3tHPST0AAAAAElFTkSuQmCC"
  val FixturePngCrc: Long = 3823109364L // 3x2, 78 bytes
  val FixtureGifB64: String =
    "R0lGODlhAgACAPEAAAAA/wD/AP8AAP///ywAAAAAAgACAEEIBwAFBAAwICAAOw=="
  val FixtureGifCrc: Long = 904861039L // 2x2, 46 bytes

  /** The two real-image fixture blobs as a dataset (doc_id -1 = png,
    * -2 = gif — ids that can never collide with the documents table).
    */
  def fixtureImageBlobs(spark: SparkSession): Dataset[MediaBlob] = {
    import spark.implicits._
    val dec = java.util.Base64.getDecoder
    Seq(
      MediaBlob(-1L, "image", dec.decode(FixturePngB64)),
      MediaBlob(-2L, "image", dec.decode(FixtureGifB64))
    ).toDS()
  }

  // ---- perceptual hash (aHash) image near-dup ---------------------------

  /** 64-bit average hash over a decoded image: 8x8 block means of the
    * integer gray value ((r+g+b)/3), bit k set iff block k's mean exceeds
    * the global mean of block means. All integer arithmetic (floor
    * divisions), so the hash is bit-stable across JVMs/platforms for
    * losslessly decoded images — near-identical images differ in a few
    * bits, unrelated images in ~32.
    */
  def aHash64(im: java.awt.image.BufferedImage): Long = {
    val w = im.getWidth
    val h = im.getHeight
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var y = 0
    while (y < h) {
      val gy = y * 8 / h
      var x = 0
      while (x < w) {
        val gx = x * 8 / w
        val p = im.getRGB(x, y)
        val gray = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
        sums(gy * 8 + gx) += gray
        counts(gy * 8 + gx) += 1
        x += 1
      }
      y += 1
    }
    val avg = new Array[Long](64)
    var k = 0
    var tot = 0L
    while (k < 64) {
      avg(k) = if (counts(k) > 0) sums(k) / counts(k) else 0L
      tot += avg(k)
      k += 1
    }
    val mean = tot / 64
    var hash = 0L
    k = 0
    while (k < 64) {
      if (avg(k) > mean) hash |= 1L << k
      k += 1
    }
    hash
  }

  /** (doc_id, ahash) for every blob that decodes as a lossless image;
    * non-images and JPEGs (non-bit-stable pixels) are dropped. Same
    * mapPartitions batch shape as [[decode]].
    */
  def aHashImages(blobs: Dataset[MediaBlob]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.flatMap(b =>
        decodeLosslessImage(b.content).map(im => (b.doc_id, aHash64(im))))
    }.toDF("doc_id", "ahash")
  }

  /** Perceptual near-dup pairs: images whose aHashes are within `maxHam`
    * bits, via [[graft.dedup.Dedup.bandedHammingPairs]] — (maxHam + 1)
    * bands give FULL recall at any `maxHam` (pigeonhole), candidates
    * come from band equi-joins, the exact popcount verifies — never an
    * all-pairs join.
    */
  def phashNearDup(hashes: DataFrame, maxHam: Int): DataFrame =
    graft.dedup.Dedup.bandedHammingPairs(hashes, "doc_id", Seq("ahash"), 64, maxHam)
      .select(col("a").as("a_id"), col("b").as("b_id"),
        col("hamming").cast("long").as("ham"))

  /** Deterministic 16x16 gray test patterns for the perceptual-hash
    * path: three structures (left/right split, top/bottom split,
    * 2x2-block checkerboard), each with a lightly perturbed twin (+24
    * gray on a 2x2 patch — too small to flip any 8x8 block past the
    * mean). Pure integer arithmetic, so [[patternAHash]] can compute the
    * expected hash without touching an image codec.
    */
  val PatternSize = 16

  def patternGray(img: Int, x: Int, y: Int): Int = {
    val base = (img / 2) match {
      case 0 => if (x < 8) 32 else 224
      case 1 => if (y < 8) 224 else 32
      case _ => if (((x / 4) + (y / 4)) % 2 == 0) 32 else 224
    }
    val perturbed = img % 2 == 1 && x >= 6 && x < 8 && y >= 6 && y < 8
    if (perturbed) math.min(base + 24, 255) else base
  }

  /** Expected aHash of pattern `img`, computed by replicating the block
    * arithmetic straight from [[patternGray]] — an independent path from
    * encode->ImageIO-decode->[[aHash64]], so the oracle constants are
    * honest.
    */
  def patternAHash(img: Int): Long = {
    val n = PatternSize
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    for (y <- 0 until n; x <- 0 until n) {
      val k = (y * 8 / n) * 8 + (x * 8 / n)
      sums(k) += patternGray(img, x, y)
      counts(k) += 1
    }
    val avg = (0 until 64).map(k => if (counts(k) > 0) sums(k) / counts(k) else 0L)
    val mean = avg.sum / 64
    (0 until 64).foldLeft(0L) { (h, k) => if (avg(k) > mean) h | (1L << k) else h }
  }

  // ---- resize (thumbnail / feature-extraction preprocessing) ------------

  /** Nearest-neighbor resize with pure integer source-coordinate mapping
    * (`sx = x * in_w / out_w`, floor division) — no interpolation, no
    * floating point, so resized pixels of a losslessly decoded image are
    * bit-stable across JVMs and reproducible by plain arithmetic.
    */
  def resizeNearest(
      im: java.awt.image.BufferedImage, ow: Int, oh: Int): java.awt.image.BufferedImage = {
    require(ow > 0 && oh > 0, "target dimensions must be positive")
    val out = new java.awt.image.BufferedImage(
      ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < oh) {
      val sy = y * im.getHeight / oh
      var x = 0
      while (x < ow) {
        out.setRGB(x, y, im.getRGB(x * im.getWidth / ow, sy))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Batch resize: (doc_id, width, height, px_hash) for every blob that
    * decodes losslessly, after a nearest-neighbor resize to (ow, oh) —
    * the thumbnail/normalize pass a multimodal training pipeline runs
    * before feature extraction. Same mapPartitions batch shape as
    * [[decode]]; non-images and JPEGs are dropped by the shared
    * [[decodeLosslessImage]] gate.
    */
  def resizeImages(blobs: Dataset[MediaBlob], ow: Int, oh: Int): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        decodeLosslessImage(b.content).map { im =>
          (b.doc_id, ow.toLong, oh.toLong, pixelCrc(resizeNearest(im, ow, oh)))
        }
      }
    }.toDF("doc_id", "width", "height", "px_hash")
  }

  /** Per-channel pixel statistics over REAL decoded images: channel
    * sums plus red-channel min/max — the normalization profile (mean
    * brightness, dynamic range) an image-training pipeline computes
    * before standardizing inputs. Executor-side decode + one pixel
    * pass; output is a tiny stats row per image, so the shuffle carries
    * statistics, never pixels.
    */
  def channelStats(blobs: Dataset[MediaBlob]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        decodeLosslessImage(b.content).map { im =>
          var sr = 0L; var sg = 0L; var sb = 0L
          var mn = 255L; var mx = 0L
          var y = 0
          while (y < im.getHeight) {
            var x = 0
            while (x < im.getWidth) {
              val p = im.getRGB(x, y)
              val r = (p >>> 16) & 0xff
              sr += r; sg += (p >>> 8) & 0xff; sb += p & 0xff
              if (r < mn) mn = r
              if (r > mx) mx = r
              x += 1
            }
            y += 1
          }
          (b.doc_id, im.getWidth.toLong, im.getHeight.toLong,
            sr, sg, sb, mn, mx)
        }
      }
    }.toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b",
      "min_r", "max_r")
  }

  /** Expected channel stats of pattern `img` — (graySum, grayMin,
    * grayMax) over the PatternSize² pattern from [[patternGray]]
    * arithmetic alone, independent of the PNG encode/decode path.
    */
  def patternChannelStats(img: Int): (Long, Long, Long) = {
    var s = 0L; var mn = 255L; var mx = 0L
    for (y <- 0 until PatternSize; x <- 0 until PatternSize) {
      val g = patternGray(img, x, y).toLong
      s += g
      if (g < mn) mn = g
      if (g > mx) mx = g
    }
    (s, mn, mx)
  }

  /** Expected [[pixelCrc]] of pattern `img` resized to (ow, oh), from
    * [[patternGray]] arithmetic alone — an independent path from
    * encode->ImageIO-decode->[[resizeNearest]], so the oracle constants
    * are honest.
    */
  def patternResizedCrc(img: Int, ow: Int, oh: Int): Long = {
    val c = new java.util.zip.CRC32()
    val buf = new Array[Byte](4)
    for (y <- 0 until oh; x <- 0 until ow) {
      val g = patternGray(img, x * PatternSize / ow, y * PatternSize / oh)
      val p = 0xff000000 | (g << 16) | (g << 8) | g
      buf(0) = (p >>> 24).toByte; buf(1) = (p >>> 16).toByte
      buf(2) = (p >>> 8).toByte; buf(3) = p.toByte
      c.update(buf, 0, 4)
    }
    c.getValue
  }

  /** The six pattern images as real PNG blobs (ImageIO-encoded on the
    * driver; PNG is lossless, so the decoded pixels equal the pattern).
    * doc_ids -11..-16.
    */
  def patternImageBlobs(spark: SparkSession): Dataset[MediaBlob] = {
    import spark.implicits._
    val blobs = (0 until 6).map { img =>
      val im = new java.awt.image.BufferedImage(
        PatternSize, PatternSize, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until PatternSize; x <- 0 until PatternSize) {
        val g = patternGray(img, x, y)
        im.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", out)
      MediaBlob(-11L - img, "image", out.toByteArray)
    }
    blobs.toDS()
  }

  // ---- audio (WAV/PCM) decode -------------------------------------------

  /** Frame-count bomb guard, the audio analogue of [[MaxDecodePixels]]. */
  val MaxDecodeFrames: Long = 256L * 1024 * 1024

  /** Decode a WAV payload with the JDK's own codec
    * (`javax.sound.sampled.AudioSystem` — ships with the JVM exactly
    * like ImageIO does): `(sample_rate, channels, bits, n_frames,
    * pcm_crc)`. Only raw PCM encodings are accepted — for them the
    * decoded byte stream is the data chunk verbatim, so the CRC32
    * fingerprint is bit-stable across JVMs (compressed encodings such
    * as a-law/mu-law decode through conversion paths that are not part
    * of this determinism contract). Returns None for anything that is
    * not a parseable PCM WAV — including ordinary text bytes, which is
    * what routes non-audio payloads away from this path.
    */
  def decodeWavPcm(bytes: Array[Byte]): Option[(Int, Int, Int, Long, Long)] =
    openPcmWav(bytes) { (f, frames, ais) =>
      val crc = new java.util.zip.CRC32()
      val buf = new Array[Byte](8192)
      var n = ais.read(buf)
      while (n > 0) { crc.update(buf, 0, n); n = ais.read(buf) }
      Some((f.getSampleRate.toInt, f.getChannels,
        f.getSampleSizeInBits, frames, crc.getValue))
    }

  /** 16-bit PCM sample decode: the interleaved int16 stream behind
    * [[decodeAudio]]'s metadata, for feature extraction (RMS windows,
    * silence detection). Same RIFF/WAVE gate and PCM contract; returns
    * None for non-WAV bytes, non-16-bit formats, or absurd lengths.
    */
  def decodeWavPcm16Samples(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] =
    openPcmWav(bytes) { (f, _, ais) =>
      if (f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          f.getSampleSizeInBits != 16) None
      else {
        val order = if (f.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
          else java.nio.ByteOrder.LITTLE_ENDIAN
        val sb = java.nio.ByteBuffer.wrap(ais.readAllBytes()).order(order).asShortBuffer
        val out = new Array[Short](sb.remaining)
        sb.get(out)
        Some((f.getSampleRate.toInt, f.getChannels, out))
      }
    }

  /** Open a WAV payload with `AudioSystem` and hand `read` its format,
    * frame count and stream, closing the stream after. None (read not
    * called) unless the payload is RIFF/WAVE, its encoding raw PCM and
    * its frame count in (0, [[MaxDecodeFrames]]]; None on any decode
    * failure. The magic gate comes before AudioSystem: the corpus is
    * overwhelmingly non-audio, and routing those through provider
    * probing + UnsupportedAudioFileException costs more than the decode
    * itself.
    */
  private def openPcmWav[A](bytes: Array[Byte])(
      read: (javax.sound.sampled.AudioFormat, Long,
        javax.sound.sampled.AudioInputStream) => Option[A]): Option[A] =
    if (!isRiffForm(bytes, "WAVE")) None else try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val f = ais.getFormat
        val enc = f.getEncoding
        val pcm = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
        val frames = ais.getFrameLength
        if (!pcm || frames <= 0 || frames > MaxDecodeFrames) None
        else read(f, frames, ais)
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Batch windowed audio energy: decode 16-bit PCM, split the
    * interleaved sample stream into `win`-sample windows, and emit one
    * row per window with exact-integer sum-of-squares and peak — the
    * feature-extraction pass (RMS loudness, silence trimming) of an
    * audio training-data pipeline. Per-blob work inside mapPartitions;
    * at scale the row count is samples/win per blob, never samples.
    */
  def decodeAudioWindows(blobs: Dataset[MediaBlob], win: Int): Dataset[AudioWindow] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        decodeWavPcm16Samples(b.content).iterator.flatMap {
          case (_, _, samples) =>
            samples.grouped(win).zipWithIndex.map { case (w, wi) =>
              var sq = 0L
              var pk = 0
              var i = 0
              while (i < w.length) {
                val s = w(i).toInt
                sq += s.toLong * s
                val a = math.abs(s)
                if (a > pk) pk = a
                i += 1
              }
              AudioWindow(b.doc_id, wi.toLong, w.length, sq, pk)
            }
        }
      }
    }
  }

  /** Batch 2:1 audio decimation — the sample-rate normalization pass of
    * an audio training pipeline (fleet-standard rates like 16 kHz from
    * 32 kHz sources). Frame t of channel c becomes
    * floorDiv(s[2t,c] + s[2t+1,c], 2) — a box anti-alias average in
    * exact integer arithmetic, so the output stream (and its CRC) is
    * bit-stable on any engine. Per-blob work inside mapPartitions; the
    * output is one row per blob regardless of audio length.
    */
  def downsampleAudio2x(blobs: Dataset[MediaBlob]): Dataset[AudioDownsampled] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        decodeWavPcm16Samples(b.content).iterator.map { case (rate, ch, s) =>
          val framesIn = s.length / ch
          val framesOut = framesIn / 2
          val crc = new java.util.zip.CRC32
          var t = 0
          while (t < framesOut) {
            var c = 0
            while (c < ch) {
              val v = java.lang.Math.floorDiv(
                s(2 * t * ch + c) + s((2 * t + 1) * ch + c), 2)
              crc.update(v & 0xff)
              crc.update((v >> 8) & 0xff)
              c += 1
            }
            t += 1
          }
          AudioDownsampled(b.doc_id, rate, rate / 2, ch,
            framesIn.toLong, framesOut.toLong, crc.getValue)
        }
      }
    }
  }

  /** Batch audio decode: one row per blob that really decodes as PCM
    * WAV; everything else (text bytes, images, video) is dropped by the
    * [[decodeWavPcm]] gate. Same one-decoder-per-partition
    * mapPartitions batch shape as [[decode]].
    */
  def decodeAudio(blobs: Dataset[MediaBlob]): Dataset[AudioMeta] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        decodeWavPcm(b.content).map { case (rate, ch, bits, frames, crc) =>
          AudioMeta(b.doc_id, b.content.length.toLong, rate, ch, bits,
            frames, frames * 1000L / rate, crc)
        }
      }
    }
  }

  // ---- MP4 / ISO-BMFF container metadata --------------------------------

  private def be32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
  private def be64(b: Array[Byte], off: Int): Long =
    (be32(b, off) << 32) | be32(b, off + 4)
  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Box header at `off` within `[off, end)`: (type, payloadStart,
    * boxEnd). `size==1` is the 64-bit largesize form; `size==0` is the
    * legal "box extends to the end of the enclosing space" form (common
    * for a trailing `mdat`).
    */
  private def mp4Box(
      bytes: Array[Byte], off: Long, end: Long): Option[(String, Long, Long)] = {
    if (off + 8 > end) return None
    val sz0 = be32(bytes, off.toInt)
    val typ = fourcc(bytes, off.toInt + 4)
    val (hdr, sz) =
      if (sz0 == 1 && off + 16 <= end) (16L, be64(bytes, off.toInt + 8))
      else if (sz0 == 0) (8L, end - off)
      else (8L, sz0)
    if (sz < hdr || off + sz > end) None else Some((typ, off + hdr, off + sz))
  }

  /** First child box named `typ` inside `[start, end)`. */
  private def mp4Child(
      bytes: Array[Byte], start: Long, end: Long, typ: String): Option[(Long, Long)] = {
    var off = start
    while (off < end) mp4Box(bytes, off, end) match {
      case Some((t, body, boxEnd)) =>
        if (t == typ) return Some((body, boxEnd))
        off = boxEnd
      case None => return None
    }
    None
  }

  /** Payload bounds of the box reached from the payload `at` through
    * the first child of each type in `path`.
    */
  private def mp4Path(
      bytes: Array[Byte], at: (Long, Long), path: String*): Option[(Long, Long)] =
    path.foldLeft(Option(at)) { (box, typ) =>
      box.flatMap { case (start, end) => mp4Child(bytes, start, end, typ) }
    }

  /** The first trak's `mdia` payload bounds, where both halves of the
    * sample table hang.
    */
  private def mp4Mdia(bytes: Array[Byte]): Option[(Long, Long)] =
    mp4Moov(bytes).flatMap(mp4Path(bytes, _, "trak", "mdia"))

  /** Top-level walk to `moov`'s payload bounds; None when the bytes are
    * not a well-formed ftyp-led container.
    */
  private def mp4Moov(bytes: Array[Byte]): Option[(Long, Long)] = {
    if (bytes.length < 16 || fourcc(bytes, 4) != "ftyp") return None
    var off = 0L
    while (off < bytes.length) mp4Box(bytes, off, bytes.length) match {
      case Some(("moov", body, end)) => return Some((body, end))
      case Some((_, _, end)) => off = end
      case None => return None
    }
    None
  }

  /** Minimal ISO-BMFF (MP4) walk: top-level boxes to `moov`, then moov's
    * children for `mvhd` (timescale + duration, version 0 and 1 layouts)
    * and a `trak` count. Container metadata is pure byte arithmetic — no
    * codec — which is exactly the part of "video decode" a JVM pipeline
    * CAN do honestly; frame/pixel decode (which needs a real codec)
    * stays in [[decodeStub]]. Returns None for anything that is not a
    * well-formed ftyp-led MP4 — including ordinary text bytes, same
    * routing role as the WAV magic gate.
    */
  def parseMp4Meta(bytes: Array[Byte]): Option[(Long, Long, Long, Long)] =
    mp4Moov(bytes) match {
      case None => None
      case Some((body, end)) =>
        var o = body
        var ts = -1L; var dur = -1L; var tracks = 0L
        while (o < end) mp4Box(bytes, o, end) match {
          case Some(("trak", _, boxEnd)) => tracks += 1; o = boxEnd
          case Some(("mvhd", p0, boxEnd)) if p0 < boxEnd =>
            val p = p0.toInt
            val ver = bytes(p) & 0xff
            if (ver == 1 && p0 + 32 <= boxEnd) {
              ts = be32(bytes, p + 20); dur = be64(bytes, p + 24)
            } else if (ver == 0 && p0 + 20 <= boxEnd) {
              ts = be32(bytes, p + 12); dur = be32(bytes, p + 16)
            }
            o = boxEnd
          case Some((_, _, boxEnd)) => o = boxEnd
          case None => return None
        }
        if (ts <= 0 || dur < 0) None
        else Some((ts, dur, tracks, dur * 1000L / ts))
    }

  private val MaxSamples = 1000000L

  /** Per-sample `(file offset, byte size)` pairs reconstructed from the
    * FIRST trak's sample table — `stsz` (sizes, constant or per-sample),
    * `stsc` (samples-per-chunk runs), `stco`/`co64` (chunk offsets) —
    * the same pure byte arithmetic as the `mvhd` walk, no codec. This is
    * everything a pipeline needs to slice real frame payloads out of a
    * container; only decoding those payloads to pixels needs a codec.
    */
  def parseMp4SampleTable(bytes: Array[Byte]): Option[Array[(Long, Long)]] =
    mp4Mdia(bytes).flatMap(mp4Path(bytes, _, "minf", "stbl")).flatMap { case (sBody, sEnd) =>
      val stsz = mp4Child(bytes, sBody, sEnd, "stsz")
      val stsc = mp4Child(bytes, sBody, sEnd, "stsc")
      val stco = mp4Child(bytes, sBody, sEnd, "stco")
      val co64 = mp4Child(bytes, sBody, sEnd, "co64")
      (stsz, stsc, stco.orElse(co64)) match {
        case (Some((zB, zE)), Some((cB, cE)), Some((oB, oE))) =>
          expandSampleTable(bytes, zB, zE, cB, cE, oB, oE, wide = stco.isEmpty)
        case _ => None
      }
    }

  private def expandSampleTable(
      bytes: Array[Byte],
      szBody: Long, szEnd: Long,
      scBody: Long, scEnd: Long,
      coBody: Long, coEnd: Long,
      wide: Boolean): Option[Array[(Long, Long)]] = {
    // stsz: version/flags, sample_size (0 = per-sample table), sample_count
    if (szBody + 12 > szEnd) return None
    val zp = szBody.toInt
    val constSize = be32(bytes, zp + 4)
    val n = be32(bytes, zp + 8)
    if (n <= 0 || n > MaxSamples) return None
    if (constSize == 0 && szBody + 12 + 4L * n > szEnd) return None
    def sizeOf(i: Int): Long =
      if (constSize != 0) constSize else be32(bytes, zp + 12 + 4 * i)
    // stsc: version/flags, entry_count, (first_chunk, samples_per_chunk, desc)*
    if (scBody + 8 > scEnd) return None
    val cp = scBody.toInt
    val nRuns = be32(bytes, cp + 4)
    if (nRuns <= 0 || scBody + 8 + 12L * nRuns > scEnd) return None
    def runFirstChunk(r: Int): Long = be32(bytes, cp + 8 + 12 * r)
    def runSpc(r: Int): Long = be32(bytes, cp + 8 + 12 * r + 4)
    // stco/co64: version/flags, entry_count, offsets
    if (coBody + 8 > coEnd) return None
    val op = coBody.toInt
    val nChunks = be32(bytes, op + 4)
    val width = if (wide) 8 else 4
    if (nChunks <= 0 || coBody + 8 + width.toLong * nChunks > coEnd) return None
    def chunkOffset(c: Int): Long = // c is 1-based
      if (wide) be64(bytes, op + 8 + 8 * (c - 1)) else be32(bytes, op + 8 + 4 * (c - 1))

    val out = new Array[(Long, Long)](n.toInt)
    var sample = 0
    var run = 0
    var chunk = 1
    while (sample < n && chunk <= nChunks) {
      while (run + 1 < nRuns && runFirstChunk(run + 1) <= chunk) run += 1
      var o = chunkOffset(chunk)
      var j = 0L
      val spc = runSpc(run)
      while (j < spc && sample < n) {
        val sz = sizeOf(sample)
        out(sample) = (o, sz)
        o += sz
        sample += 1; j += 1
      }
      chunk += 1
    }
    if (sample < n) None else Some(out)
  }

  /** Media timescale + per-sample start ticks from the FIRST trak's
    * `mdhd` (media header, v0/v1) and `stts` (time-to-sample run-length
    * deltas) — the time half of the sample table, same pure byte
    * arithmetic. Start tick of sample i = cumulative sum of the deltas
    * before it.
    */
  def parseMp4FrameTimes(bytes: Array[Byte]): Option[(Long, Array[Long])] = {
    mp4Mdia(bytes).flatMap { mdia =>
      val ts = mp4Path(bytes, mdia, "mdhd").flatMap { case (hB, hE) =>
        val p = hB.toInt
        if (hB + 4 > hE) None
        else {
          val ver = bytes(p) & 0xff
          if (ver == 1 && hB + 28 <= hE) Some(be32(bytes, p + 20))
          else if (ver == 0 && hB + 16 <= hE) Some(be32(bytes, p + 12))
          else None
        }
      }
      val stts = mp4Path(bytes, mdia, "minf", "stbl", "stts")
      (ts, stts) match {
        case (Some(scale), Some((tB, tE))) if scale > 0 =>
          val p = tB.toInt
          if (tB + 8 > tE) return None
          val nRuns = be32(bytes, p + 4)
          if (nRuns <= 0 || tB + 8 + 8L * nRuns > tE) return None
          val starts = scala.collection.mutable.ArrayBuffer[Long]()
          var tick = 0L
          var r = 0
          while (r < nRuns && starts.length <= MaxSamples) {
            val cnt = be32(bytes, p + 8 + 8 * r)
            val delta = be32(bytes, p + 8 + 8 * r + 4)
            var j = 0L
            while (j < cnt && starts.length <= MaxSamples) {
              starts += tick; tick += delta; j += 1
            }
            r += 1
          }
          if (starts.length > MaxSamples) None else Some((scale, starts.toArray))
        case _ => None
      }
    }
  }

  /** Frame sampling over REAL containers: every `step`-th sample of each
    * blob that parses as an MP4 with a sample table, resolved to its
    * actual byte range. Non-MP4 payloads are dropped by the parse gate —
    * same routing role as the WAV/ftyp magic gates.
    */
  def sampleFrameRefs(blobs: Dataset[MediaBlob], step: Int): Dataset[FrameRef] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        parseMp4SampleTable(b.content).iterator.flatMap { samples =>
          Iterator.range(0, samples.length, step).map { i =>
            FrameRef(b.doc_id, i.toLong, samples(i)._1, samples(i)._2)
          }
        }
      }
    }
  }

  /** Timed frame sampling: every `step`-th sample with its byte range
    * AND its real presentation time (stsz/stsc/stco x mdhd/stts — the
    * complete sample table). Blobs missing either half are dropped.
    */
  def sampleFrameTimeRefs(
      blobs: Dataset[MediaBlob], step: Int): Dataset[FrameTimeRef] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        (parseMp4SampleTable(b.content), parseMp4FrameTimes(b.content)) match {
          case (Some(samples), Some((scale, starts)))
              if samples.length == starts.length =>
            Iterator.range(0, samples.length, step).map { i =>
              FrameTimeRef(b.doc_id, i.toLong, starts(i) * 1000L / scale,
                samples(i)._1, samples(i)._2)
            }
          case _ => Iterator.empty
        }
      }
    }
  }

  /** Timed sample-table fixture (doc_id -43): 12 samples (sizes 24+i) in
    * 5-sample chunks, stts deltas 100 ticks for the first 8 then 250 for
    * the last 4, media timescale 1000 (so ms == ticks).
    */
  def fixtureMp4TimedBlobs(spark: SparkSession): Dataset[MediaBlob] = {
    import spark.implicits._
    Seq(MediaBlob(-43L, "video",
      makeMp4WithSamples(1000, 2000, Array.tabulate(12)(24 + _), Seq((1, 5)),
        timeDeltas = Seq((8, 100), (4, 250)), mediaTimescale = 1000))).toDS()
  }

  /** Batch MP4 metadata extraction: one row per blob that really parses
    * as an ftyp-led ISO-BMFF container; everything else is dropped by
    * the [[parseMp4Meta]] gate. Same mapPartitions batch shape as
    * [[decode]] / [[decodeAudio]].
    */
  def decodeVideo(blobs: Dataset[MediaBlob]): Dataset[VideoMeta] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        parseMp4Meta(b.content).map { case (ts, dur, tracks, ms) =>
          VideoMeta(b.doc_id, b.content.length.toLong, ts, dur, tracks, ms)
        }
      }
    }
  }

  /** Hand-assembled minimal MP4: ftyp + moov(mvhd version 0 + `nTracks`
    * empty trak boxes). The fixture is built from the box grammar
    * directly, so expected values in oracles come from the arguments
    * alone — independent of the walker under test.
    */
  def makeMp4(timescale: Int, duration: Int, nTracks: Int): Array[Byte] =
    mp4Ftyp ++ mp4BoxBytes("moov", mp4Mvhd(timescale, duration) ++
      Array.fill(nTracks)(mp4BoxBytes("trak", Array.emptyByteArray)).flatten)

  private def mp4BoxBytes(typ: String, payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](8 + payload.length)
    mp4PutBe32(out, 0, out.length)
    System.arraycopy(typ.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
      0, out, 4, 4)
    System.arraycopy(payload, 0, out, 8, payload.length)
    out
  }

  private def mp4PutBe32(a: Array[Byte], off: Int, v: Int): Unit = {
    a(off) = (v >>> 24).toByte; a(off + 1) = (v >>> 16).toByte
    a(off + 2) = (v >>> 8).toByte; a(off + 3) = v.toByte
  }

  /** The `ftyp` box every fixture MP4 opens with (brand `isom`). */
  private def mp4Ftyp: Array[Byte] =
    mp4BoxBytes("ftyp", "isom".getBytes("US-ASCII") ++ new Array[Byte](4))

  /** A version-0 `mvhd` box: timescale and duration, zeros elsewhere. */
  private def mp4Mvhd(timescale: Int, duration: Int): Array[Byte] = {
    val payload = new Array[Byte](100)
    mp4PutBe32(payload, 12, timescale)
    mp4PutBe32(payload, 16, duration)
    mp4BoxBytes("mvhd", payload)
  }

  /** Hand-assembled MP4 WITH a real sample table: ftyp + moov(mvhd +
    * trak(mdia(minf(stbl(stsz + stsc + stco))))) + mdat. Chunks are laid
    * out contiguously in sample order starting at the mdat payload, so
    * expected frame offsets in oracles are closed-form over the sample
    * sizes — independent of the parser under test.
    *
    * `stscRuns` are 1-based `(first_chunk, samples_per_chunk)` run
    * starts, the real stsc encoding; the last chunk may be partial.
    * `constantStsz` writes the fixed-sample_size stsz form (all sizes
    * must then be equal).
    */
  def makeMp4WithSamples(
      timescale: Int,
      duration: Int,
      sampleSizes: Array[Int],
      stscRuns: Seq[(Int, Int)],
      constantStsz: Boolean = false,
      timeDeltas: Seq[(Int, Int)] = Nil,
      mediaTimescale: Int = 0): Array[Byte] = {
    val n = sampleSizes.length
    require(n > 0 && stscRuns.nonEmpty && stscRuns.head._1 == 1,
      "need samples and an stsc run starting at chunk 1")
    require(!constantStsz || sampleSizes.distinct.length == 1,
      "constant stsz needs uniform sizes")
    require(timeDeltas.isEmpty == (mediaTimescale <= 0),
      "timeDeltas and mediaTimescale come together")
    require(timeDeltas.isEmpty || timeDeltas.map(_._1).sum == n,
      "stts run counts must cover every sample exactly")
    // expand the runs into per-chunk sample counts until n are placed
    val chunkCounts = scala.collection.mutable.ArrayBuffer[Int]()
    var used = 0
    while (used < n) {
      val spc = stscRuns.takeWhile(_._1 <= chunkCounts.length + 1).last._2
      val take = math.min(spc, n - used)
      chunkCounts += take; used += take
    }
    val nChunks = chunkCounts.length
    val dataStart = mp4SampleDataStart(
      n, nChunks, stscRuns.length, constantStsz, timeDeltas.length).toInt

    val stszPayload = new Array[Byte](12 + (if (constantStsz) 0 else 4 * n))
    mp4PutBe32(stszPayload, 4, if (constantStsz) sampleSizes(0) else 0)
    mp4PutBe32(stszPayload, 8, n)
    if (!constantStsz)
      sampleSizes.zipWithIndex.foreach { case (sz, i) =>
        mp4PutBe32(stszPayload, 12 + 4 * i, sz)
      }
    val stscPayload = new Array[Byte](8 + 12 * stscRuns.length)
    mp4PutBe32(stscPayload, 4, stscRuns.length)
    stscRuns.zipWithIndex.foreach { case ((first, spc), r) =>
      mp4PutBe32(stscPayload, 8 + 12 * r, first)
      mp4PutBe32(stscPayload, 8 + 12 * r + 4, spc)
      mp4PutBe32(stscPayload, 8 + 12 * r + 8, 1)
    }
    val stcoPayload = new Array[Byte](8 + 4 * nChunks)
    mp4PutBe32(stcoPayload, 4, nChunks)
    var sampleIdx = 0
    var off = dataStart
    chunkCounts.zipWithIndex.foreach { case (cnt, c) =>
      mp4PutBe32(stcoPayload, 8 + 4 * c, off)
      (0 until cnt).foreach { _ => off += sampleSizes(sampleIdx); sampleIdx += 1 }
    }
    val mdatPayload = new Array[Byte](sampleSizes.sum)
    var p = 0
    sampleSizes.zipWithIndex.foreach { case (sz, i) =>
      java.util.Arrays.fill(mdatPayload, p, p + sz, (i % 251).toByte); p += sz
    }

    val sttsBoxes =
      if (timeDeltas.isEmpty) Array.emptyByteArray
      else {
        val sttsPayload = new Array[Byte](8 + 8 * timeDeltas.length)
        mp4PutBe32(sttsPayload, 4, timeDeltas.length)
        timeDeltas.zipWithIndex.foreach { case ((cnt, delta), r) =>
          mp4PutBe32(sttsPayload, 8 + 8 * r, cnt)
          mp4PutBe32(sttsPayload, 8 + 8 * r + 4, delta)
        }
        mp4BoxBytes("stts", sttsPayload)
      }
    val stbl = mp4BoxBytes("stbl",
      mp4BoxBytes("stsz", stszPayload) ++ mp4BoxBytes("stsc", stscPayload) ++
        mp4BoxBytes("stco", stcoPayload) ++ sttsBoxes)
    val mdhdBoxes =
      if (timeDeltas.isEmpty) Array.emptyByteArray
      else {
        val mdhdPayload = new Array[Byte](24) // version 0 layout
        mp4PutBe32(mdhdPayload, 12, mediaTimescale)
        mp4BoxBytes("mdhd", mdhdPayload)
      }
    val moov = mp4BoxBytes("moov",
      mp4Mvhd(timescale, duration) ++
        mp4BoxBytes("trak",
          mp4BoxBytes("mdia", mdhdBoxes ++ mp4BoxBytes("minf", stbl))))
    val bytes = mp4Ftyp ++ moov ++ mp4BoxBytes("mdat", mdatPayload)
    assert(bytes.length - mdatPayload.length == dataStart,
      "layout arithmetic out of sync with assembly")
    bytes
  }

  /** mdat payload start of a [[makeMp4WithSamples]] container — box-size
    * arithmetic over the construction arguments only, so oracles derive
    * expected offsets without touching the parser.
    */
  def mp4SampleDataStart(
      n: Int, nChunks: Int, nRuns: Int, constantStsz: Boolean,
      timeRuns: Int = 0): Long = {
    val stsz = 20 + (if (constantStsz) 0 else 4 * n)
    val stts = if (timeRuns > 0) 16 + 8 * timeRuns else 0
    val mdhd = if (timeRuns > 0) 32 else 0
    val stbl = 8 + stsz + (16 + 12 * nRuns) + (16 + 4 * nChunks) + stts
    16L + (8 + 108 + (8 + (8 + mdhd + (8 + stbl)))) + 8
  }

  /** Sample-table MP4 fixtures (doc_id -41/-42): -41 exercises per-sample
    * stsz sizes (16+i), a two-run stsc (3 samples in chunk 1, then 4 per
    * chunk) and a partial last chunk; -42 exercises the constant
    * sample_size form in a single chunk.
    */
  def fixtureMp4SampleBlobs(spark: SparkSession): Dataset[MediaBlob] = {
    import spark.implicits._
    Seq(
      MediaBlob(-41L, "video",
        makeMp4WithSamples(1000, 25000, Array.tabulate(25)(16 + _), Seq((1, 3), (2, 4)))),
      MediaBlob(-42L, "video",
        makeMp4WithSamples(30, 300, Array.fill(10)(20), Seq((1, 10)), constantStsz = true))
    ).toDS()
  }

  /** The two MP4 fixture blobs (doc_id -31/-32): (600 Hz timescale,
    * 7207 ticks, 2 tracks) and (90 kHz, 450000 ticks, 1 track).
    */
  def fixtureMp4Blobs(spark: SparkSession): Dataset[MediaBlob] = {
    import spark.implicits._
    Seq(
      MediaBlob(-31L, "video", makeMp4(600, 7207, 2)),
      MediaBlob(-32L, "video", makeMp4(90000, 450000, 1))
    ).toDS()
  }

  /** Little-endian 16-bit PCM encoding of `samples` — the data chunk of
    * [[makeWav]], kept separate so oracle CRCs come from pure
    * arithmetic, independent of the AudioSystem path under test.
    */
  def pcm16Bytes(samples: Array[Short]): Array[Byte] =
    leBytes(samples.length * 2)(bb => samples.foreach(bb.putShort))

  // ---- RIFF chunks (WAV, AVI) -------------------------------------------

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  /** `bytes` open with `RIFF` and carry the form type `form` (`WAVE`,
    * `AVI `): the magic gate in front of every RIFF parser.
    */
  private def isRiffForm(bytes: Array[Byte], form: String): Boolean =
    bytes.length >= 12 &&
      (0 until 4).forall(i => bytes(i) == "RIFF"(i) && bytes(8 + i) == form(i))

  /** The chunks in `[start, end)` as `(fourcc, body offset, body size)`;
    * an odd-sized body is followed by one pad byte. None as soon as a
    * chunk overruns `end`; a tail shorter than a chunk header is ignored.
    */
  private def riffChunks(
      bytes: Array[Byte], start: Long, end: Long): Option[Vector[(String, Long, Long)]] = {
    val out = Vector.newBuilder[(String, Long, Long)]
    var off = start
    while (off + 8 <= end) {
      val sz = le32(bytes, off.toInt + 4)
      if (off + 8 + sz > end) return None
      out += ((fourcc(bytes, off.toInt), off + 8, sz))
      off += 8 + sz + (sz & 1)
    }
    Some(out.result())
  }

  /** `n` bytes filled little-endian by `put`. */
  private def leBytes(n: Int)(put: java.nio.ByteBuffer => Unit): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    put(bb)
    bb.array()
  }

  /** One RIFF chunk: fourcc, little-endian body size, body, and a pad
    * byte after an odd-sized body.
    */
  private def riffChunk(id: String, body: Array[Byte]): Array[Byte] =
    id.getBytes("US-ASCII") ++ leBytes(4)(_.putInt(body.length)) ++ body ++
      new Array[Byte](body.length & 1)

  /** A `RIFF` or `LIST` chunk of form/list type `typ` holding `chunks`. */
  private def riffList(id: String, typ: String, chunks: Array[Byte]*): Array[Byte] =
    riffChunk(id, typ.getBytes("US-ASCII") ++ chunks.flatten)

  /** Hand-assembled canonical RIFF/WAVE container (16-bit PCM, 44-byte
    * header) — deterministic bytes with no encoder in the loop.
    */
  def makeWav(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    require(channels > 0 && samples.length % channels == 0,
      "sample count must be a whole number of frames")
    val blockAlign = channels * 2
    riffList("RIFF", "WAVE",
      riffChunk("fmt ", leBytes(16)(_
        .putShort(1).putShort(channels.toShort)       // PCM, channels
        .putInt(sampleRate).putInt(sampleRate * blockAlign)
        .putShort(blockAlign.toShort).putShort(16))), // block align, bits
      riffChunk("data", pcm16Bytes(samples)))
  }

  /** Fixture WAV definitions: 0 = 8 kHz mono 64-sample ramp, 1 = 16 kHz
    * stereo 48 frames. Pure arithmetic — both the blobs and the
    * expected oracle values derive from here.
    */
  def fixtureWavSamples(which: Int): (Int, Int, Array[Short]) = which match {
    case 0 => (8000, 1, Array.tabulate(64)(i => (i * 997 - 31000).toShort))
    case 2 =>
      // leading all-zero window then a quiet tone: exercises the silence
      // flag of the windowed-RMS query (window 32 -> win 0 silent,
      // wins 1-2 quiet but above threshold)
      (8000, 1, Array.tabulate(96)(i =>
        if (i < 32) 0.toShort else (((i * 211) % 4000) - 2000).toShort))
    case _ => (16000, 2, Array.tabulate(96)(i => ((i * 571) % 60000 - 30000).toShort))
  }

  /** The first `n` fixture WAVs as blobs (doc_id -21 mono, -22 stereo,
    * -23 the silence-flag fixture — ids that can never collide with the
    * documents table). The metadata query takes 2 (its oracle hardcodes
    * two rows), the windowed-RMS and decimation queries all 3.
    */
  def fixtureWavBlobs(spark: SparkSession, n: Int): Dataset[MediaBlob] = {
    import spark.implicits._
    (0 until n).map { i =>
      val (rate, ch, samples) = fixtureWavSamples(i)
      MediaBlob(-21L - i, "audio", makeWav(rate, ch, samples))
    }.toDS()
  }

  /** Expected PCM CRC of fixture `which` from the synthesized samples
    * alone — an independent path from makeWav->AudioSystem-decode, so
    * the oracle constants are honest.
    */
  def fixtureWavCrc(which: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(pcm16Bytes(fixtureWavSamples(which)._3))
    c.getValue
  }

  // ---- AVI (uncompressed DIB) video frame decode ------------------------
  //
  // The one video family whose FRAMES decode with pure byte arithmetic:
  // RIFF/AVI with BI_RGB 24-bit DIB frames ('00db' chunks — bottom-up
  // rows, BGR samples, stride padded to 4 bytes). No codec, so unlike
  // MJPEG/H.264 the decoded pixels are bit-identical everywhere and the
  // determinism contract of [[pixelCrc]] extends to video. Compressed
  // codecs still route to [[decodeStub]] — that boundary is honest: this
  // is everything the JVM can decode for real.

  /** Row-major 0xRRGGBB pixels -> the exact CRC [[pixelCrc]] would
    * produce for the same image (ARGB byte scan with opaque alpha) —
    * one fingerprint space across stills and video frames.
    */
  def pixelCrcInts(px: Array[Int]): Long = {
    val c = new java.util.zip.CRC32()
    val buf = new Array[Byte](4)
    var i = 0
    while (i < px.length) {
      val p = 0xff000000 | px(i)
      buf(0) = (p >>> 24).toByte; buf(1) = (p >>> 16).toByte
      buf(2) = (p >>> 8).toByte; buf(3) = p.toByte
      c.update(buf, 0, 4)
      i += 1
    }
    c.getValue
  }

  private def dibStride(w: Int): Int = ((w * 3 + 3) / 4) * 4

  /** Hand-assembled canonical RIFF/AVI container: avih + one 'vids'
    * stream (BI_RGB 24bpp) + '00db' DIB frames. `framePx` are row-major
    * top-down 0xRRGGBB ints; the writer performs the bottom-up BGR
    * encode the format demands. Deterministic bytes, no encoder.
    */
  def makeAviDib(
      w: Int, h: Int, usPerFrame: Int, framePx: Seq[Array[Int]]): Array[Byte] = {
    require(framePx.nonEmpty && framePx.forall(_.length == w * h),
      "each frame must carry w*h pixels")
    val stride = dibStride(w)
    makeAvi(w, h, usPerFrame, "DIB ", 0, "00db", framePx.map { px =>
      val dib = new Array[Byte](stride * h) // row padding stays zero
      var y = 0
      while (y < h) {
        val row = stride * (h - 1 - y) // bottom-up rows
        var x = 0
        while (x < w) {
          val p = px(y * w + x)
          dib(row + 3 * x) = p.toByte              // B
          dib(row + 3 * x + 1) = (p >> 8).toByte   // G
          dib(row + 3 * x + 2) = (p >> 16).toByte  // R
          x += 1
        }
        y += 1
      }
      dib
    })
  }

  /** RIFF/AVI container with one 'vids' stream: avih, a strl whose strh
    * names the stream handler `handler` and whose strf carries the
    * biCompression `comp`, then one `chunkId` chunk per frame payload in
    * movi.
    */
  private def makeAvi(w: Int, h: Int, usPerFrame: Int, handler: String,
      comp: Int, chunkId: String, frames: Seq[Array[Byte]]): Array[Byte] = {
    val n = frames.length
    val maxF = frames.map(_.length).max
    riffList("RIFF", "AVI ",
      riffList("LIST", "hdrl",
        riffChunk("avih", leBytes(56)(_
          .putInt(usPerFrame).putInt(0).putInt(0).putInt(0)
          .putInt(n).putInt(0).putInt(1).putInt(maxF)
          .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0))),
        riffList("LIST", "strl",
          riffChunk("strh", leBytes(56)(_
            .put("vids".getBytes("US-ASCII")).put(handler.getBytes("US-ASCII"))
            .putInt(0).putInt(0).putInt(0)
            .putInt(usPerFrame).putInt(1000000) // scale/rate: rate/scale = fps
            .putInt(0).putInt(n).putInt(maxF).putInt(-1).putInt(0)
            .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort))),
          riffChunk("strf", leBytes(40)(_
            .putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
            .putInt(comp).putInt(maxF).putInt(0).putInt(0).putInt(0).putInt(0))))),
      riffList("LIST", "movi", frames.map(riffChunk(chunkId, _)): _*))
  }

  /** What the AVI parsers read from a RIFF/AVI container's headers. */
  private final case class AviHeader(
      w: Int, h: Int, usPerFrame: Int, bpp: Int, comp: Long,
      movi: Vector[(String, Long, Long)]) {
    def withFrames(fs: Seq[Array[Int]]): Option[(Int, Int, Int, Seq[Array[Int]])] =
      if (fs.isEmpty) None else Some((w, h, usPerFrame, fs))
  }

  /** One walk over a RIFF/AVI container: width, height and µs/frame
    * from the last `avih` of its `hdrl` lists, bits per pixel and
    * biCompression from the last `strf` of the first `strl` list whose
    * `strh` names a `vids` stream (an audio stream's `strf` is a
    * WAVEFORMAT, not a BITMAPINFOHEADER), and the chunks of the last
    * `movi` list. None unless the bytes are RIFF/AVI with positive
    * dimensions inside the [[MaxDecodePixels]] bomb guard, a video
    * stream and a `movi` list, or as soon as a chunk overruns its
    * parent.
    */
  private def aviHeader(bytes: Array[Byte]): Option[AviHeader] = {
    type Chunks = Vector[(String, Long, Long)]
    def lists(chunks: Chunks, typ: String): Vector[(Long, Long)] = chunks.collect {
      case ("LIST", body, sz) if sz >= 4 && fourcc(bytes, body.toInt) == typ =>
        (body + 4, body + sz)
    }
    def walk(ranges: Vector[(Long, Long)]): Option[Vector[Chunks]] =
      ranges.foldLeft(Option(Vector.empty[Chunks])) { case (acc, (start, end)) =>
        for (a <- acc; c <- riffChunks(bytes, start, end)) yield a :+ c
      }
    def isVideo(strl: Chunks): Boolean = strl.exists { case (id, body, sz) =>
      id == "strh" && sz >= 4 && fourcc(bytes, body.toInt) == "vids"
    }
    if (!isRiffForm(bytes, "AVI ")) None
    else for {
      top <- riffChunks(bytes, 12, math.min(bytes.length.toLong, 8L + le32(bytes, 4)))
      hdrl <- walk(lists(top, "hdrl")).map(_.flatten)
      strls <- walk(lists(hdrl, "strl"))
      avih <- hdrl.findLast(c => c._1 == "avih" && c._3 >= 40).map(_._2.toInt)
      strf <- strls.find(isVideo).flatMap(_.findLast(c => c._1 == "strf" && c._3 >= 20))
        .map(_._2.toInt)
      w = le32(bytes, avih + 32).toInt
      h = le32(bytes, avih + 36).toInt
      if w > 0 && h > 0 && w.toLong * h.toLong <= MaxDecodePixels
      (moviStart, moviEnd) <- lists(top, "movi").lastOption
      movi <- riffChunks(bytes, moviStart, moviEnd)
    } yield AviHeader(w, h, le32(bytes, avih).toInt,
      le16(bytes, strf + 14), le32(bytes, strf + 16), movi)
  }

  /** Decode an uncompressed-DIB AVI: `(width, height, usPerFrame,
    * frames)` with row-major top-down 0xRRGGBB pixels per frame. Returns
    * None unless the payload is a well-formed RIFF/AVI whose video
    * stream is BI_RGB 24bpp inside the [[MaxDecodePixels]] bomb guard —
    * the magic/format gate that routes text bytes, stills, WAV (RIFF
    * but 'WAVE'), MP4, and codec'd AVIs away from this path.
    */
  def parseAviDib(
      bytes: Array[Byte]): Option[(Int, Int, Int, Seq[Array[Int]])] =
    aviHeader(bytes).filter(a => a.bpp == 24 && a.comp == 0L).flatMap { a =>
      val (w, h) = (a.w, a.h)
      val stride = dibStride(w)
      a.withFrames(a.movi.collect {
        case (id, body, sz) if (id == "00db" || id == "00dc") && sz == stride.toLong * h =>
          val px = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            val row = body + stride.toLong * (h - 1 - y) // bottom-up
            var x = 0
            while (x < w) {
              val o = (row + x * 3).toInt
              px(y * w + x) = (bytes(o) & 0xff) |               // B
                ((bytes(o + 1) & 0xff) << 8) |                  // G
                ((bytes(o + 2) & 0xff) << 16)                   // R -> 0xRRGGBB
              x += 1
            }
            y += 1
          }
          px
      })
    }

  // ---- AVI (MJPEG) video frame decode -----------------------------------
  //
  // Motion-JPEG is per-frame baseline JPEG — no inter-frame state, so
  // each '00dc' chunk decodes independently through the JDK's built-in
  // ImageIO JPEG reader (no external codec). DETERMINISM CAVEAT, stated
  // honestly: unlike the DIB path, JPEG IDCT output is pinned only per
  // JDK implementation (identical within one JVM/JDK line, not
  // guaranteed bit-identical across VMs) — which is why MJPEG expected
  // values in oracles/specs are produced by a DIRECT ImageIO round-trip
  // of the same frame bytes, so what is independently exercised is the
  // RIFF/AVI container walk and frame extraction, with the codec itself
  // shared. Truly stateful codecs (H.264/VP9) remain the one honest stub.

  private val MjpgFourcc = 0x47504A4DL // 'MJPG' little-endian

  /** Encode row-major 0xRRGGBB pixels as baseline JPEG via ImageIO —
    * the fixture-side encoder for MJPEG AVIs. */
  def encodeJpeg(px: Array[Int], w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, w, h, px, 0, w)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Decode one JPEG payload to row-major 0xRRGGBB pixels (None if the
    * bytes don't parse or blow the [[MaxDecodePixels]] bomb guard). */
  def decodeJpegPx(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))).flatMap { img =>
        val (w, h) = (img.getWidth, img.getHeight)
        if (w <= 0 || h <= 0 || w.toLong * h.toLong > MaxDecodePixels) None
        else Some((w, h,
          img.getRGB(0, 0, w, h, null, 0, w).map(_ & 0xffffff)))
      }
    } catch { case _: Exception => None }

  /** Hand-assembled RIFF/AVI container with an 'MJPG' video stream —
    * same layout as [[makeAviDib]] but '00dc' chunks carry the given
    * pre-encoded JPEG payloads (per-frame sizes vary). */
  def makeAviMjpg(
      w: Int, h: Int, usPerFrame: Int, jpegFrames: Seq[Array[Byte]]): Array[Byte] = {
    require(jpegFrames.nonEmpty, "at least one frame")
    makeAvi(w, h, usPerFrame, "MJPG", MjpgFourcc.toInt, "00dc", jpegFrames)
  }

  /** Decode an MJPEG AVI: `(width, height, usPerFrame, frames)` — the
    * same RIFF walk as [[parseAviDib]] gated on biCompression == 'MJPG',
    * each '00dc' payload decoded as an independent baseline JPEG.
    * Chunks that fail JPEG parse are dropped (not fatal); None when no
    * frame survives or the container isn't an MJPG AVI.
    */
  def parseAviMjpg(
      bytes: Array[Byte]): Option[(Int, Int, Int, Seq[Array[Int]])] =
    aviHeader(bytes).filter(_.comp == MjpgFourcc).flatMap { a =>
      a.withFrames(a.movi.flatMap {
        case ("00dc", body, sz) if sz > 0 =>
          decodeJpegPx(java.util.Arrays.copyOfRange(
            bytes, body.toInt, (body + sz).toInt)).collect {
            // the JPEG's own dimensions rule; require container agreement
            case (jw, jh, px) if jw == a.w && jh == a.h => px
          }
        case _ => None
      })
    }

  /** Batch REAL video frame decode: one row per frame of every blob that
    * parses as an uncompressed-DIB AVI (pure byte arithmetic) or an
    * MJPEG AVI (per-frame JDK ImageIO JPEG); everything else is dropped
    * by the parse gates. Same one-decoder-per-partition mapPartitions
    * batch shape as [[decode]]/[[decodeAudio]].
    */
  def decodeVideoFrames(blobs: Dataset[MediaBlob]): Dataset[VideoFramePx] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.flatMap { b =>
        parseAviDib(b.content).orElse(parseAviMjpg(b.content))
          .toSeq.flatMap { case (w, h, _, frames) =>
          frames.zipWithIndex.map { case (px, i) =>
            VideoFramePx(b.doc_id, i.toLong, w.toLong, h.toLong, pixelCrcInts(px))
          }
        }
      }
    }
  }

  /** Fixture AVI definitions — pure pattern arithmetic, shared by the
    * blobs AND the oracle expectations (frames reuse [[patternGray]],
    * tiled for non-16 sizes). 0: 4-frame 16x12@10fps; 1: 3-frame
    * 16x12@25fps sharing two frame patterns with 0; 2: 2-frame
    * 10x6@25fps (odd width exercises the stride-4 row padding).
    */
  def fixtureAviFrames(which: Int): (Int, Int, Int, Seq[Array[Int]]) =
    which match {
      case 0 => (16, 12, 100000, (0 until 4).map(grayFrame(16, 12, _)))
      case 1 => (16, 12, 40000, Seq(0, 1, 5).map(grayFrame(16, 12, _)))
      case _ => (10, 6, 40000, (2 until 4).map(grayFrame(10, 6, _)))
    }

  /** Pattern `img` as a w x h frame of row-major 0xRRGGBB grays
    * ([[patternGray]] tiled past PatternSize).
    */
  private def grayFrame(w: Int, h: Int, img: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      val g = patternGray(img, (i % w) % PatternSize, (i / w) % PatternSize)
      (g << 16) | (g << 8) | g
    }

  /** Scene-structured AVI fixture: frame pattern ids A,A,A,B,B,A,C,C —
    * three repeated-frame scenes plus a REVISIT of pattern A (a cut
    * detector keyed on change, not identity, must open a new scene for
    * it). Used by mm_video_scene_cuts; doc_id -54.
    */
  val fixtureAviScenePatterns: Seq[Int] = Seq(0, 0, 0, 1, 1, 0, 2, 2)

  def fixtureAviSceneFrames: (Int, Int, Int, Seq[Array[Int]]) =
    (16, 12, 50000, fixtureAviScenePatterns.map(grayFrame(16, 12, _)))

  def fixtureAviSceneBlob(spark: SparkSession): Dataset[MediaBlob] = {
    import spark.implicits._
    val (w, h, us, frames) = fixtureAviSceneFrames
    Seq(MediaBlob(-54L, "video", makeAviDib(w, h, us, frames))).toDS()
  }

  /** The fixture AVIs as blobs (doc_ids -51..-53). */
  def fixtureAviBlobs(spark: SparkSession): Dataset[MediaBlob] = {
    import spark.implicits._
    (0 until 3).map { i =>
      val (w, h, us, frames) = fixtureAviFrames(i)
      MediaBlob(-51L - i, "video", makeAviDib(w, h, us, frames))
    }.toDS()
  }

  /** MJPEG fixture source material: (w, h, usPerFrame, jpeg frame
    * bytes) — three pattern frames ImageIO-encoded once per JVM. */
  lazy val fixtureMjpgJpegs: (Int, Int, Int, Seq[Array[Byte]]) = {
    val (w, h, us) = (16, 12, 66000)
    (w, h, us, (0 until 3).map(i => encodeJpeg(grayFrame(w, h, i), w, h)))
  }

  /** The fixture MJPEG AVI as a blob (doc_id -54). */
  def fixtureMjpgBlobs(spark: SparkSession): Dataset[MediaBlob] = {
    import spark.implicits._
    val (w, h, us, jpegs) = fixtureMjpgJpegs
    Seq(MediaBlob(-54L, "video", makeAviMjpg(w, h, us, jpegs))).toDS()
  }

  /** Expected (doc_id, frame_idx, width, height, px_crc) rows for the
    * MJPEG fixture via a DIRECT ImageIO round-trip of the frame bytes —
    * container-independent, so the AVI walk + extraction is what an
    * oracle built from these rows actually exercises (the JPEG codec
    * itself is the JDK's on both sides; see the MJPEG determinism
    * caveat above). */
  def fixtureMjpgExpected: Seq[(Long, Long, Long, Long, Long)] = {
    val (_, _, _, jpegs) = fixtureMjpgJpegs
    jpegs.zipWithIndex.flatMap { case (j, i) =>
      decodeJpegPx(j).map { case (jw, jh, px) =>
        (-54L, i.toLong, jw.toLong, jh.toLong, pixelCrcInts(px))
      }
    }
  }
}
