package graft.suite

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import Registry.tbl

/** Multimodal-column extension suite: binary payloads (document text
  * bytes stand in for media), typed metadata, stubbed batch decode via
  * typed mapPartitions, frame sampling.
  */
object MultimodalQueries {

  def all: Seq[QDef] = Seq(

    QDef(
      "mm_binary_meta",
      (s, dir) =>
        Multimodal.binaryMeta(
          tbl(s, dir, "documents").withColumn("blob", encode(col("text"), "UTF-8")),
          "doc_id", "blob")
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS sha,
               hex(encode(substr(text, 1, 4))) AS magic
        FROM documents ORDER BY doc_id""")),

    QDef(
      "mm_decode_meta",
      (s, dir) =>
        // documents-as-blobs (stub path: text bytes are no image) plus
        // two REAL image blobs that exercise the ImageIO pixel decode —
        // true dimensions + pixel CRC, constants mirrored in the oracle
        Multimodal.decode(
          Multimodal.blobsFromDocuments(s, tbl(s, dir, "documents"))
            .unionByName(Multimodal.fixtureImageBlobs(s)))
          .toDF()
          .select(col("doc_id"), col("fmt"), col("n_bytes"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames").cast("long").as("n_frames"),
            col("px_hash"))
          .orderBy("doc_id"),
      Some(s"""
        WITH m AS (SELECT doc_id,
            (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS fmt,
            CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
          FROM documents)
        SELECT doc_id, fmt, n_bytes,
               64 + n_bytes % 1024 AS width,
               64 + (n_bytes * 7) % 768 AS height,
               CASE WHEN fmt = 'video' THEN 1 + n_bytes % 240 ELSE 1 END AS n_frames,
               CAST(NULL AS BIGINT) AS px_hash
        FROM m
        UNION ALL
        SELECT * FROM (VALUES
          (CAST(-1 AS BIGINT), 'png', CAST(78 AS BIGINT), CAST(3 AS BIGINT),
           CAST(2 AS BIGINT), CAST(1 AS BIGINT),
           CAST(${Multimodal.FixturePngCrc} AS BIGINT)),
          (CAST(-2 AS BIGINT), 'gif', CAST(46 AS BIGINT), CAST(2 AS BIGINT),
           CAST(2 AS BIGINT), CAST(1 AS BIGINT),
           CAST(${Multimodal.FixtureGifCrc} AS BIGINT)))
          AS t(doc_id, fmt, n_bytes, width, height, n_frames, px_hash)
        ORDER BY doc_id""")),

    QDef(
      "mm_audio_meta",
      (s, dir) =>
        // REAL JDK audio decode (javax.sound.sampled): documents-as-blobs
        // (text bytes are no WAV -> dropped by the PCM gate) plus two
        // hand-assembled WAV fixtures; the oracle's expected values come
        // from the fixture arithmetic alone, independent of the
        // AudioSystem path under test
        Multimodal.decodeAudio(
          Multimodal.blobsFromDocuments(s, tbl(s, dir, "documents"))
            .unionByName(Multimodal.fixtureWavBlobs(s, 2)))
          .toDF()
          .select(col("doc_id"), col("n_bytes"),
            col("sample_rate").cast("long").as("sample_rate"),
            col("channels").cast("long").as("channels"),
            col("bits").cast("long").as("bits"),
            col("n_frames"), col("duration_ms"), col("pcm_hash"))
          .orderBy("doc_id"),
      Some {
        def row(i: Int) = {
          val (rate, ch, samples) = Multimodal.fixtureWavSamples(i)
          val frames = samples.length / ch
          s"(CAST(${-21 - i} AS BIGINT), CAST(${44 + samples.length * 2} AS BIGINT), " +
            s"CAST($rate AS BIGINT), CAST($ch AS BIGINT), CAST(16 AS BIGINT), " +
            s"CAST($frames AS BIGINT), CAST(${frames * 1000L / rate} AS BIGINT), " +
            s"CAST(${Multimodal.fixtureWavCrc(i)} AS BIGINT))"
        }
        s"""SELECT * FROM (VALUES ${row(1)}, ${row(0)}) AS t(doc_id, n_bytes,
              sample_rate, channels, bits, n_frames, duration_ms, pcm_hash)
            ORDER BY doc_id"""
      }),

    QDef(
      "mm_audio_rms_windows",
      (s, dir) =>
        // windowed audio energy — the RMS-loudness / silence-trim pass of
        // an audio pipeline: REAL AudioSystem 16-bit PCM decode, 32-sample
        // windows, exact-integer sumsq/peak per window (so the oracle
        // reproduces them from the fixture arrays alone), one IEEE
        // sqrt+division for RMS. Fixture -23 has an all-zero first window
        // so the silence flag fires at least once.
        Multimodal.decodeAudioWindows(
          Multimodal.blobsFromDocuments(s, tbl(s, dir, "documents"))
            .unionByName(Multimodal.fixtureWavBlobs(s, 3)), win = 32)
          .toDF()
          .select(col("doc_id"), col("win_id"),
            col("n").cast("long").as("n"), col("sumsq"),
            col("peak").cast("long").as("peak"),
            sqrt(col("sumsq").cast("double") / col("n")).as("rms"),
            (col("sumsq") < col("n").cast("long") * 250000L).as("silent"))
          .orderBy("doc_id", "win_id"),
      Some {
        def rows(i: Int): Seq[String] = {
          val samples = Multimodal.fixtureWavSamples(i)._3
          samples.grouped(32).zipWithIndex.map { case (w, wi) =>
            val sq = w.map(s => s.toLong * s).sum
            val pk = w.map(s => math.abs(s.toInt)).max
            s"(CAST(${-21 - i} AS BIGINT), CAST($wi AS BIGINT), " +
              s"CAST(${w.length} AS BIGINT), CAST($sq AS BIGINT), " +
              s"CAST($pk AS BIGINT))"
          }.toSeq
        }
        s"""SELECT doc_id, win_id, n, sumsq, peak,
              sqrt(CAST(sumsq AS DOUBLE) / n) AS rms,
              sumsq < n * 250000 AS silent
            FROM (VALUES ${(0 until 3).flatMap(rows).mkString(",\n              ")})
              AS t(doc_id, win_id, n, sumsq, peak)
            ORDER BY doc_id, win_id"""
      }),

    QDef(
      "mm_audio_downsample",
      (s, dir) =>
        // 2:1 sample-rate normalization — REAL AudioSystem PCM decode,
        // per-channel pair floor-averages in exact integers (see
        // Multimodal.downsampleAudio2x); the oracle recomputes every
        // row (counts AND the output-stream CRC) from the fixture
        // sample arrays alone, an independent path from
        // makeWav -> AudioSystem -> decimate.
        Multimodal.downsampleAudio2x(
          Multimodal.blobsFromDocuments(s, tbl(s, dir, "documents"))
            .unionByName(Multimodal.fixtureWavBlobs(s, 3)))
          .toDF()
          .orderBy("doc_id"),
      Some {
        def row(i: Int): String = {
          val (rate, ch, smp) = Multimodal.fixtureWavSamples(i)
          val framesOut = smp.length / ch / 2
          val crc = new java.util.zip.CRC32
          (0 until framesOut).foreach { t =>
            (0 until ch).foreach { c =>
              val v = java.lang.Math.floorDiv(
                smp(2 * t * ch + c) + smp((2 * t + 1) * ch + c), 2)
              crc.update(v & 0xff)
              crc.update((v >> 8) & 0xff)
            }
          }
          s"(CAST(${-21 - i} AS BIGINT), $rate, ${rate / 2}, $ch, " +
            s"CAST(${smp.length / ch} AS BIGINT), CAST($framesOut AS BIGINT), " +
            s"CAST(${crc.getValue} AS BIGINT))"
        }
        s"""SELECT * FROM (VALUES ${(0 until 3).map(row).mkString(",\n              ")})
              AS t(doc_id, rate_in, rate_out, channels,
                   n_frames_in, n_frames_out, pcm_crc_out)
            ORDER BY doc_id"""
      }),

    QDef(
      "mm_video_meta",
      (s, dir) =>
        // REAL MP4 container metadata (ISO-BMFF box walk — pure byte
        // arithmetic, no codec): documents-as-blobs (text bytes are no
        // ftyp -> dropped by the gate) plus two hand-assembled MP4
        // fixtures; expected values come from the fixture arguments
        // alone, independent of the walker under test
        Multimodal.decodeVideo(
          Multimodal.blobsFromDocuments(s, tbl(s, dir, "documents"))
            .unionByName(Multimodal.fixtureMp4Blobs(s)))
          .toDF()
          .select(col("doc_id"), col("n_bytes"), col("timescale"),
            col("duration"), col("n_tracks"), col("duration_ms"))
          .orderBy("doc_id"),
      Some {
        def row(docId: Int, ts: Int, dur: Int, tracks: Int) = {
          val nBytes = 16 + 8 + 108 + 8 * tracks // ftyp + moov hdr + mvhd + traks
          s"(CAST($docId AS BIGINT), CAST($nBytes AS BIGINT), " +
            s"CAST($ts AS BIGINT), CAST($dur AS BIGINT), " +
            s"CAST($tracks AS BIGINT), CAST(${dur * 1000L / ts} AS BIGINT))"
        }
        s"""SELECT * FROM (VALUES ${row(-32, 90000, 450000, 1)},
              ${row(-31, 600, 7207, 2)}) AS t(doc_id, n_bytes,
              timescale, duration, n_tracks, duration_ms)
            ORDER BY doc_id"""
      }),

    QDef(
      "mm_video_frame_pixels",
      (s, dir) =>
        // REAL video pixel decode: uncompressed-DIB AVI frames (RIFF
        // walk + bottom-up BGR rows — byte arithmetic, no codec, so
        // unlike MJPEG the pixels are bit-stable everywhere). Corpus
        // text blobs carry no RIFF/AVI magic and are dropped by the
        // gate; the three fixtures survive. Expected CRCs come from the
        // fixture pattern arrays alone, independent of the
        // write->parse->decode path under test (AviDecodeSpec pins the
        // byte-level row order against a hand-written DIB).
        Multimodal.decodeVideoFrames(
          Multimodal.blobsFromDocuments(s, tbl(s, dir, "documents"))
            .unionByName(Multimodal.fixtureAviBlobs(s)))
          .toDF()
          .orderBy("doc_id", "frame_idx"),
      Some {
        val rows = (0 until 3).flatMap { i =>
          val (w, h, _, frames) = Multimodal.fixtureAviFrames(i)
          frames.zipWithIndex.map { case (px, f) =>
            s"(CAST(${-51 - i} AS BIGINT), CAST($f AS BIGINT), " +
              s"CAST($w AS BIGINT), CAST($h AS BIGINT), " +
              s"CAST(${Multimodal.pixelCrcInts(px)} AS BIGINT))"
          }
        }
        s"""SELECT * FROM (VALUES ${rows.mkString(",\n          ")})
            AS t(doc_id, frame_idx, width, height, px_crc)
            ORDER BY doc_id, frame_idx"""
      }),

    QDef(
      "mm_video_scene_cuts",
      (s, dir) => {
        // scene segmentation — the shot-boundary pass a video training
        // pipeline runs before captioning/sampling: a cut is any frame
        // whose REAL decoded pixel fingerprint differs from its
        // predecessor's (frame 0 always opens scene 1). One lag window
        // per video over the frame fingerprints; output is one row per
        // scene start, so result size tracks scenes, not frames. The
        // scene fixture's pattern sequence A,A,A,B,B,A,C,C pins the
        // change-not-identity semantics (the pattern-A revisit at frame
        // 5 must open a NEW scene).
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
        Multimodal.decodeVideoFrames(
            Multimodal.blobsFromDocuments(s, tbl(s, dir, "documents"))
              .unionByName(Multimodal.fixtureAviBlobs(s))
              .unionByName(Multimodal.fixtureAviSceneBlob(s)))
          .toDF()
          .withColumn("prev", lag(col("px_crc"), 1).over(w))
          .filter(col("prev").isNull || col("px_crc") =!= col("prev"))
          .withColumn("scene_id", row_number().over(w))
          .select(col("doc_id"), col("scene_id"),
            col("frame_idx").as("start_frame"), col("px_crc"))
          .orderBy("doc_id", "scene_id")
      },
      Some {
        val vids =
          (0 until 3).map(i => (-51L - i, Multimodal.fixtureAviFrames(i)._4)) :+
            (-54L, Multimodal.fixtureAviSceneFrames._4)
        val rows = vids.flatMap { case (id, frames) =>
          val crcs = frames.map(Multimodal.pixelCrcInts)
          val cuts = crcs.zipWithIndex.filter { case (c, f) =>
            f == 0 || c != crcs(f - 1)
          }
          cuts.zipWithIndex.map { case ((c, f), sc) =>
            s"(CAST($id AS BIGINT), ${sc + 1}, CAST($f AS BIGINT), " +
              s"CAST($c AS BIGINT))"
          }
        }
        s"""SELECT * FROM (VALUES ${rows.mkString(",\n          ")})
            AS t(doc_id, scene_id, start_frame, px_crc)
            ORDER BY doc_id, scene_id"""
      }),

    QDef(
      "mm_video_mjpeg_frames",
      (s, dir) =>
        // REAL Motion-JPEG frame decode: '00dc' chunks of an 'MJPG' AVI
        // decoded per frame by the JDK's ImageIO JPEG reader — no
        // external codec, no stub. Corpus text blobs carry no RIFF/AVI
        // magic and drop at the gate; the MJPEG fixture survives.
        // Expected values come from a DIRECT ImageIO round-trip of the
        // same frame bytes (no container), so this query independently
        // exercises the RIFF walk + frame extraction; the JPEG codec is
        // the JDK's on both sides (MJPEG determinism caveat in
        // Multimodal.scala).
        Multimodal.decodeVideoFrames(
          Multimodal.blobsFromDocuments(s, tbl(s, dir, "documents"))
            .unionByName(Multimodal.fixtureMjpgBlobs(s)))
          .toDF()
          .orderBy("doc_id", "frame_idx"),
      Some {
        val rows = Multimodal.fixtureMjpgExpected.map {
          case (d, f, w, h, crc) =>
            s"(CAST($d AS BIGINT), CAST($f AS BIGINT), CAST($w AS BIGINT), " +
              s"CAST($h AS BIGINT), CAST($crc AS BIGINT))"
        }
        s"""SELECT * FROM (VALUES ${rows.mkString(",\n          ")})
            AS t(doc_id, frame_idx, width, height, px_crc)
            ORDER BY doc_id, frame_idx"""
      }),

    QDef(
      "mm_video_neardup",
      (s, dir) => {
        // shared-scene video dedup: videos linked by the number of
        // distinct frame fingerprints they share — an equi-join on the
        // frame CRC (never all-pairs; the fingerprint IS the blocking
        // key), then a pair-level distinct count. Fixtures -51/-52
        // share exactly two pattern frames; the odd-size fixture
        // matches nothing because pixel dimensions feed the CRC.
        val fr = Multimodal.decodeVideoFrames(
          Multimodal.blobsFromDocuments(s, tbl(s, dir, "documents"))
            .unionByName(Multimodal.fixtureAviBlobs(s)))
          .toDF().select(col("doc_id"), col("px_crc"))
        val x = fr.select(col("doc_id").as("a"), col("px_crc"))
        val y = fr.select(col("doc_id").as("b"), col("px_crc"))
        x.join(y, Seq("px_crc")).filter(col("a") < col("b"))
          .groupBy(col("a"), col("b"))
          .agg(countDistinct(col("px_crc")).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .orderBy("a", "b")
      },
      Some("""
        SELECT * FROM (VALUES
          (CAST(-52 AS BIGINT), CAST(-51 AS BIGINT), CAST(2 AS BIGINT)))
        AS t(a, b, n_shared) ORDER BY a, b""")),

    QDef(
      "mm_frame_sample",
      (s, dir) =>
        // REAL frame sampling: every 4th sample of each MP4, resolved to
        // its actual (offset, size) byte range via the stsz/stsc/stco
        // sample table — no stub arithmetic. Corpus text blobs carry no
        // ftyp and are dropped by the parse gate; the two sample-table
        // fixtures (-41 per-sample sizes across a partial last chunk,
        // -42 constant size) are what survives. Expected offsets are
        // closed-form: fixtures lay chunks contiguously from the mdat
        // payload start, so offset_i = dataStart + sum of sizes before i.
        Multimodal.sampleFrameRefs(
          Multimodal.blobsFromDocuments(s, tbl(s, dir, "documents"))
            .unionByName(Multimodal.fixtureMp4SampleBlobs(s)),
          step = 4)
          .toDF()
          .orderBy("doc_id", "frame_idx"),
      Some {
        val dsA = Multimodal.mp4SampleDataStart(25, 7, 2, constantStsz = false)
        val dsB = Multimodal.mp4SampleDataStart(10, 1, 1, constantStsz = true)
        s"""WITH a AS (
              SELECT CAST(-41 AS BIGINT) AS doc_id, CAST(i AS BIGINT) AS frame_idx,
                     CAST($dsA + 16 * i + (i * (i - 1)) // 2 AS BIGINT) AS "offset",
                     CAST(16 + i AS BIGINT) AS size
              FROM (SELECT unnest(generate_series(0, 24, 4)) AS i)),
            b AS (
              SELECT CAST(-42 AS BIGINT) AS doc_id, CAST(i AS BIGINT) AS frame_idx,
                     CAST($dsB + 20 * i AS BIGINT) AS "offset",
                     CAST(20 AS BIGINT) AS size
              FROM (SELECT unnest(generate_series(0, 9, 4)) AS i))
            SELECT * FROM a UNION ALL SELECT * FROM b
            ORDER BY doc_id, frame_idx"""
      }),

    QDef(
      "mm_frame_times",
      (s, dir) =>
        // TIMED frame sampling: byte range AND real presentation time
        // from the complete sample table (stsz/stsc/stco x mdhd/stts) —
        // the "sample around t seconds" primitive video pipelines
        // actually use. Corpus text blobs fail the parse gate; the
        // timed fixture (-43) has two stts runs so the cumulative-delta
        // expansion is exercised across a run boundary.
        Multimodal.sampleFrameTimeRefs(
          Multimodal.blobsFromDocuments(s, tbl(s, dir, "documents"))
            .unionByName(Multimodal.fixtureMp4TimedBlobs(s)),
          step = 2)
          .toDF()
          .orderBy("doc_id", "frame_idx"),
      Some {
        val ds = Multimodal.mp4SampleDataStart(12, 3, 1, constantStsz = false,
          timeRuns = 2)
        s"""SELECT CAST(-43 AS BIGINT) AS doc_id, CAST(i AS BIGINT) AS frame_idx,
                   CAST(CASE WHEN i < 8 THEN 100 * i
                             ELSE 800 + 250 * (i - 8) END AS BIGINT) AS t_ms,
                   CAST($ds + 24 * i + (i * (i - 1)) // 2 AS BIGINT) AS "offset",
                   CAST(24 + i AS BIGINT) AS size
            FROM (SELECT unnest(generate_series(0, 11, 2)) AS i)
            ORDER BY doc_id, frame_idx"""
      }),

    QDef(
      "mm_phash_neardup", {
        (s, dir) =>
          // perceptual image dedup over REAL decoded pixels: six PNG
          // pattern fixtures (3 structures x {original, perturbed twin})
          // -> integer-exact 8x8 aHash -> banded Hamming pairing. The
          // oracle's expected hashes come from independent pure
          // arithmetic on the pattern definition (no codec), so this
          // checks ImageIO decode + hash + pairing end to end.
          Multimodal.phashNearDup(
              Multimodal.aHashImages(Multimodal.patternImageBlobs(s)), maxHam = 4)
            .orderBy(col("a_id").desc, col("b_id").desc)
      },
      Some {
        val rows = (0 until 6)
          .map(i => s"(CAST(${-11 - i} AS BIGINT), " +
            s"CAST(${Multimodal.patternAHash(i)} AS BIGINT))")
          .mkString(", ")
        s"""
        WITH h(doc_id, ahash) AS (VALUES $rows)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS ham
        FROM h a JOIN h b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.ahash, b.ahash)) <= 4
        ORDER BY a_id DESC, b_id DESC"""
      }),

    QDef(
      "pipeline_dedup_images", {
        (s, dir) =>
          // the text-dedup machinery generalized across modalities:
          // perceptual pairs (real ImageIO pixels -> aHash -> banded
          // Hamming) feed the SAME connected-components + survivor
          // application used for documents — one dedup stack, any
          // modality. Three twin pairs collapse to three survivors,
          // each carrying n_removed = 1.
          val hashes = Multimodal.aHashImages(Multimodal.patternImageBlobs(s))
          val pairs = Multimodal.phashNearDup(hashes, maxHam = 4)
            .select(col("a_id").as("a"), col("b_id").as("b"))
          val labels = graft.dedup.Dedup.connectedComponents(pairs, "a", "b")
          graft.dedup.Dedup.applySurvivors(
              hashes.select(col("doc_id")), labels, "doc_id")
            .select(col("doc_id"), col("n_removed"))
            .orderBy("doc_id")
      },
      Some {
        val rows = (0 until 6)
          .map(i => s"(CAST(${-11 - i} AS BIGINT), " +
            s"CAST(${Multimodal.patternAHash(i)} AS BIGINT))")
          .mkString(", ")
        s"""
        WITH RECURSIVE h(doc_id, ahash) AS (VALUES $rows),
        p AS (SELECT a.doc_id AS a, b.doc_id AS b
              FROM h a JOIN h b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.ahash, b.ahash)) <= 4),
        e AS (SELECT a AS u, b AS v FROM p UNION SELECT b AS u, a AS v FROM p),
        reach(u, m) AS (
          SELECT u, u AS m FROM (SELECT DISTINCT u FROM e)
          UNION
          SELECT r.u, e.v AS m FROM reach r JOIN e ON r.m = e.u),
        comp AS (SELECT u AS doc_id, min(m) AS lab FROM reach GROUP BY u),
        removed AS (SELECT lab, count(*) - 1 AS n_removed FROM comp GROUP BY lab)
        SELECT d.doc_id, CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed
        FROM h d
        LEFT JOIN comp c USING (doc_id)
        LEFT JOIN removed r ON r.lab = d.doc_id
        WHERE c.lab IS NULL OR c.lab = d.doc_id
        ORDER BY doc_id"""
      }),

    QDef(
      "mm_resize", {
        (s, dir) =>
          // integer-exact nearest-neighbor resize over REAL decoded
          // pixels, both directions (16x16 -> 8x8 down, -> 32x32 up);
          // the oracle's expected pixel CRCs come from independent pure
          // arithmetic on the pattern definition (no codec), checking
          // ImageIO decode + resize + fingerprint end to end
          val blobs = Multimodal.patternImageBlobs(s)
          Multimodal.resizeImages(blobs, 8, 8)
            .unionByName(Multimodal.resizeImages(blobs, 32, 32))
            .orderBy("doc_id", "width")
      },
      Some {
        val rows = (for {
          i <- 0 until 6
          dim <- Seq(8, 32)
        } yield s"(CAST(${-11 - i} AS BIGINT), CAST($dim AS BIGINT), " +
          s"CAST($dim AS BIGINT), " +
          s"CAST(${Multimodal.patternResizedCrc(i, dim, dim)} AS BIGINT))")
          .mkString(", ")
        s"""
        SELECT * FROM (VALUES $rows)
          AS t(doc_id, width, height, px_hash)
        ORDER BY doc_id, width"""
      }),

    QDef(
      "mm_image_channel_stats", {
        (s, dir) =>
          // per-channel pixel statistics over REAL decoded pixels — the
          // normalization profile (channel sums, red dynamic range)
          // computed executor-side in one pixel pass; the oracle's
          // expected values come from independent pure arithmetic on
          // the pattern definition, checking PNG encode -> ImageIO
          // decode -> stats end to end. Gray patterns: sum_r == sum_g
          // == sum_b is part of what's checked.
          Multimodal.channelStats(Multimodal.patternImageBlobs(s))
            .orderBy("doc_id")
      },
      Some {
        val rows = (0 until 6).map { i =>
          val (sum, mn, mx) = Multimodal.patternChannelStats(i)
          s"(CAST(${-11 - i} AS BIGINT), CAST(16 AS BIGINT), CAST(16 AS BIGINT), " +
            s"CAST($sum AS BIGINT), CAST($sum AS BIGINT), CAST($sum AS BIGINT), " +
            s"CAST($mn AS BIGINT), CAST($mx AS BIGINT))"
        }.mkString(", ")
        s"""
        SELECT * FROM (VALUES $rows)
          AS t(doc_id, width, height, sum_r, sum_g, sum_b, min_r, max_r)
        ORDER BY doc_id"""
      })
  )
}
