package graft.gates

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.util.Fixtures
import GateSupport._

/** Multimodal gates: media-record plumbing over the documents table, and
  * image, audio, GIF and video decode against the committed fixtures and
  * their generation-time truth. */
object MultimodalGates {

  val gates: Seq[Gate] = Seq(

    Gate("q_multimodal_meta", (s, d) =>
      Multimodal.payloadMeta(docs(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      // encode(), not text::BLOB: the cast refuses non-ASCII strings
      // (DuckDB requires hex escapes), encode() is the UTF-8 byte view
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
        |       md5(text) AS content_hash
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Byte-stream feature path through the typed mapPartitions stage
    // (Multimodal.byteFeatures — the opaque-payload operator for bytes
    // with no in-process codec). Features derive deterministically from
    // the payload bytes (length / md5 / byte mean / frame cadence); the
    // oracle walks the same UTF-8 bytes via the hex encoding, so the
    // whole pipeline — including the mapPartitions hop — stays
    // SQL-oracle-expressible on MULTIBYTE text too: the byte mean is a
    // single IEEE division of two exact integers, bit-identical in both
    // engines (no rounding).
    Gate("q_multimodal_features", (s, d) => {
      implicit val ss: SparkSession = s
      Multimodal.extractFeatures(
          Multimodal.asMediaRecords(docs(s, d), "doc_id", "text"))
        .toDF()
        .select(col("id"), col("nBytes").as("n_bytes"),
          col("contentHash").as("content_hash"),
          col("meanByte").as("mean_byte"),
          col("frameCount").cast("bigint").as("frame_count"))
        .orderBy("id")
    },
      // a NULL payload is an EMPTY payload (the byteFeatures contract:
      // zero bytes, md5 of nothing, one empty frame) — coalesce mirrors
      // it. The payload is the UTF-8 BYTE stream (unicode(ch) reads CODE
      // POINTS — 12288 for an ideographic space where the payload has
      // bytes 227/128/128 — hence the encoding arithmetic below)
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS text,
        |                  octet_length(encode(coalesce(text, ''))) AS n
        |           FROM documents),
        |-- linear codepoint rows: a codepoint's UTF-8 byte SUM and byte
        |-- COUNT are pure integer functions of its value (RFC 3629
        |-- prefix arithmetic), so the byte mean needs no hex expansion
        |-- at all — the per-byte substr(h, 2i-1) form re-scanned the
        |-- hex string head per byte (quadratic in document bytes)
        |-- ZIPPED unnest over PRECOMPUTED list/length COLUMNS: both a
        |-- lone unnest of a multi-million-char list and an unnest whose
        |-- argument is an inline expression re-evaluate per output
        |-- batch (each measured ~65 s at the 10 MB sweep); the zipped
        |-- column form is linear (~1 s)
        |dc AS (SELECT doc_id, length(text) AS nc,
        |              string_split(text, '') AS chs
        |       FROM d WHERE n > 0),
        |cp AS (SELECT doc_id, unicode(ch)::BIGINT AS c
        |       FROM (SELECT doc_id, unnest(range(1, nc + 1)) AS p,
        |                    unnest(chs) AS ch
        |             FROM dc)),
        |m AS (SELECT doc_id,
        |        sum(CASE
        |          WHEN c < 128 THEN c
        |          WHEN c < 2048 THEN 320 + c // 64 + c % 64
        |          WHEN c < 65536
        |            THEN 480 + c // 4096 + (c // 64) % 64 + c % 64
        |          ELSE 624 + c // 262144 + (c // 4096) % 64
        |               + (c // 64) % 64 + c % 64 END)::DOUBLE /
        |        sum(CASE WHEN c < 128 THEN 1 WHEN c < 2048 THEN 2
        |                 WHEN c < 65536 THEN 3 ELSE 4 END)::DOUBLE
        |          AS mean_byte
        |      FROM cp GROUP BY doc_id)
        |SELECT d.doc_id AS id, d.n::BIGINT AS n_bytes,
        |       md5(d.text) AS content_hash,
        |       coalesce(m.mean_byte, 0.0) AS mean_byte,
        |       least(greatest((d.n + 63) // 64, 1), 32)::BIGINT AS frame_count
        |FROM d LEFT JOIN m USING (doc_id) ORDER BY id""".stripMargin),

    // REAL image decode (javax.imageio) over the committed fixture of
    // actual PNG/BMP bytes: decoded width/height/mean-pixel must match
    // the ground truth recorded AT DRAW TIME — a decode that does not
    // parse the container cannot reproduce them (lossless roundtrip).
    // Rows 48-52 are non-image / truncated payloads pinning the
    // decoded=false degradation (a corrupt record fails the row, never
    // the stage). Fixture-bound, so invariant across sf — it gates the
    // codec, not the corpus; the mapPartitions plumbing at corpus scale
    // is q_multimodal_features.
    Gate("q_multimodal_decode", (s, d) => {
      implicit val ss: SparkSession = s
      import ss.implicits._
      val recs = s.read.parquet(Fixtures.imagePath)
        .select(col("id"), col("payload"),
          col("media_type").as("mediaType"),
          lit(0).as("width"), lit(0).as("height"))
        .as[Multimodal.MediaRecord]
      Multimodal.decodeImages(recs).toDF()
        .select(col("id"), col("decoded"), col("width"), col("height"),
          col("meanPixel").as("mean_pixel"))
        .orderBy("id")
    },
      // decoded values vs the fixture's draw-time ground truth: the oracle
      // never decodes — it reads the expected_* columns the generator
      // computed from the pixel values it set, so agreement proves the
      // Spark side actually parsed the image bytes
      s"""SELECT id, expected_decoded AS decoded,
        |       expected_width AS width, expected_height AS height,
        |       expected_mean AS mean_pixel
        |FROM read_parquet('${Fixtures.imagePath}/*.parquet')
        |ORDER BY id""".stripMargin),

    // REAL image resize: decode → bilinear scale to maxDim=10 → PNG
    // re-encode → decode AGAIN with the verified decoder. The oracle
    // predicts output dims from the fixture's draw-time dims via the
    // exact-integer contract (floor division), and `decoded = true`
    // proves a real decodable PNG came out — a byte-truncating fake
    // cannot survive the round trip. Corrupt payloads pass through and
    // still fail decode; within-budget images pass through at their
    // original dims.
    Gate("q_multimodal_resize", (s, d) => {
      implicit val ss: SparkSession = s
      import ss.implicits._
      val recs = s.read.parquet(Fixtures.imagePath)
        .select(col("id"), col("payload"),
          col("media_type").as("mediaType"),
          lit(0).as("width"), lit(0).as("height"))
        .as[Multimodal.MediaRecord]
      Multimodal.decodeImages(Multimodal.resizeImages(recs, 10)).toDF()
        .select(col("id"), col("decoded"), col("width"), col("height"))
        .orderBy("id")
    },
      // the exact-integer dimension contract applied to the draw-time
      // dims: longer side pinned to 10, floor division for the other,
      // no-upscale passthrough; corrupt rows stay undecodable
      s"""SELECT id, expected_decoded AS decoded,
        |  CASE WHEN NOT expected_decoded THEN 0
        |       WHEN greatest(expected_width, expected_height) <= 10
        |         THEN expected_width
        |       WHEN expected_width >= expected_height THEN 10
        |       ELSE greatest(1, (expected_width * 10) // expected_height)
        |  END AS width,
        |  CASE WHEN NOT expected_decoded THEN 0
        |       WHEN greatest(expected_width, expected_height) <= 10
        |         THEN expected_height
        |       WHEN expected_width >= expected_height
        |         THEN greatest(1, (expected_height * 10) // expected_width)
        |       ELSE 10
        |  END AS height
        |FROM read_parquet('${Fixtures.imagePath}/*.parquet')
        |ORDER BY id""".stripMargin),

    // REAL audio decode (javax.sound.sampled) over the committed fixture
    // of actual WAV/PCM bytes: decoded channels/rate/frames/RMS must
    // match the ground truth recorded AT SYNTHESIS TIME — lossless PCM,
    // so a decode that parses the RIFF container reproduces them exactly
    // and one that does not cannot. Rows 24-28 are non-audio / truncated
    // payloads pinning the decoded=false degradation. Fixture-bound and
    // sf-invariant, like q_multimodal_decode: it gates the codec.
    Gate("q_multimodal_audio", (s, d) => {
      implicit val ss: SparkSession = s
      import ss.implicits._
      val recs = s.read.parquet(Fixtures.audioPath)
        .select(col("id"), col("payload"),
          col("media_type").as("mediaType"),
          lit(0).as("width"), lit(0).as("height"))
        .as[Multimodal.MediaRecord]
      Multimodal.decodeAudios(recs).toDF()
        .select(col("id"), col("decoded"), col("channels"),
          col("sampleRate").as("sample_rate"), col("frames"),
          col("rms"))
        .orderBy("id")
    },
      // like q_multimodal_decode: the oracle never decodes — it reads the
      // expected_* columns the generator computed from the samples it
      // wrote, so agreement proves the Spark side parsed the WAV bytes
      s"""SELECT id, expected_decoded AS decoded,
        |       expected_channels AS channels,
        |       expected_sample_rate AS sample_rate,
        |       expected_frames AS frames, expected_rms AS rms
        |FROM read_parquet('${Fixtures.audioPath}/*.parquet')
        |ORDER BY id""".stripMargin),

    // REAL windowed audio features over the committed WAV fixture:
    // decode, cut the sample stream into 25 ms windows, emit per-window
    // RMS — matched bit-exactly against the synthesis-time per-window
    // truth table (same exact-integer arithmetic both sides). Corrupt
    // rows emit zero windows; the row-expanding degradation shape.
    Gate("q_multimodal_audio_frames", (s, d) => {
      implicit val ss: SparkSession = s
      import ss.implicits._
      val recs = s.read.parquet(Fixtures.audioPath)
        .select(col("id"), col("payload"),
          col("media_type").as("mediaType"),
          lit(0).as("width"), lit(0).as("height"))
        .as[Multimodal.MediaRecord]
      Multimodal.decodeAllAudioFrames(recs).toDF()
        .select(col("id"), col("frame"),
          col("nSamples").as("n_samples"), col("rms"))
        .orderBy("id", "frame")
    },
      // plain scan of the synthesis-time window-truth table
      s"""SELECT id, frame, expected_samples AS n_samples,
        |       expected_rms AS rms
        |FROM read_parquet('${Fixtures.audioFramesTruthPath}/*.parquet')
        |ORDER BY id, frame""".stripMargin),

    // REAL multi-frame extraction (javax.imageio sequence reader) over
    // the committed animated-GIF fixture: every decoded frame's
    // dims/mean must match the per-frame truth recorded AT DRAW TIME
    // (palette-by-construction GIFs are lossless; generation re-decodes
    // and asserts, so the committed truth is provable). Corrupt rows
    // (ids 12-13) emit zero rows — the row-expanding degradation shape.
    Gate("q_multimodal_gif", (s, d) => {
      implicit val ss: SparkSession = s
      import ss.implicits._
      val recs = s.read.parquet(Fixtures.gifPath)
        .select(col("id"), col("payload"),
          col("media_type").as("mediaType"),
          lit(0).as("width"), lit(0).as("height"))
        .as[Multimodal.MediaRecord]
      Multimodal.decodeAllFrames(recs).toDF()
        .select(col("id"), col("frame"), col("width"), col("height"),
          col("meanPixel").as("mean_pixel"))
        .orderBy("id", "frame")
    },
      // the oracle is a plain scan of the draw-time truth table — the
      // corrupt payloads (zero expected frames) simply have no truth rows
      s"""SELECT id, frame, expected_width AS width,
        |       expected_height AS height, expected_mean AS mean_pixel
        |FROM read_parquet('${Fixtures.gifTruthPath}/*.parquet')
        |ORDER BY id, frame""".stripMargin),

    // REAL MP4 container demux (pure-JVM ISO-BMFF box walk) over the
    // committed fixture: per-track handler/timescale/duration/dims and
    // sample-table totals must match the truth recorded AS THE BOXES
    // WERE WRITTEN — a parser that does not walk moov/trak/mdia/stbl
    // cannot reproduce them. Corrupt payloads (ids 20-22) emit zero
    // rows; id 23 (valid moov, stco past EOF) parses here but degrades
    // in the samples gate — two distinct failure surfaces.
    Gate("q_multimodal_video", (s, d) => {
      implicit val ss: SparkSession = s
      import ss.implicits._
      val recs = s.read.parquet(Fixtures.videoPath)
        .select(col("id"), col("payload"),
          col("media_type").as("mediaType"),
          lit(0).as("width"), lit(0).as("height"))
        .as[Multimodal.MediaRecord]
      graft.operators.VideoDemux.demuxAll(recs).toDF()
        .select(col("id"), col("track"), col("handler"),
          col("timescale"), col("durationUnits").as("duration_units"),
          col("width"), col("height"), col("nSamples").as("n_samples"),
          col("nKeyframes").as("n_keyframes"),
          col("sampleBytes").as("sample_bytes"))
        .orderBy("id", "track")
    },
      // the oracle is a plain scan of the write-time truth table — the
      // corrupt payloads (20-22) have no rows; id 23 keeps its track rows
      s"""SELECT id, track, handler, timescale, duration_units,
        |       width, height, n_samples, n_keyframes, sample_bytes
        |FROM read_parquet('${Fixtures.videoTracksTruthPath}/*.parquet')
        |ORDER BY id, track""".stripMargin),

    // REAL keyframe-sample extraction: resolve every video-track sync
    // sample's byte range via stss+stsc+stco arithmetic, read THOSE
    // bytes out of mdat and md5 them — matched against hashes computed
    // from the bytes as the generator wrote them. This is the demux
    // half of video frame-sampling (route keyframe payloads to
    // decoders); codec decode stays the documented JDK boundary.
    Gate("q_multimodal_video_samples", (s, d) => {
      implicit val ss: SparkSession = s
      import ss.implicits._
      val recs = s.read.parquet(Fixtures.videoPath)
        .select(col("id"), col("payload"),
          col("media_type").as("mediaType"),
          lit(0).as("width"), lit(0).as("height"))
        .as[Multimodal.MediaRecord]
      graft.operators.VideoDemux.extractAllSamples(recs).toDF()
        .select(col("id"), col("track"), col("sample"), col("offset"),
          col("size"), col("md5"))
        .orderBy("id", "track", "sample")
    },
      s"""SELECT id, track, sample, "offset", size, md5
        |FROM read_parquet('${Fixtures.videoSamplesTruthPath}/*.parquet')
        |ORDER BY id, track, sample""".stripMargin),

    // REAL video PIXEL decode for MJPEG: demux the MP4 (box walk +
    // stsc/stco sample ranges), slice each video sample out of mdat and
    // decode it with javax.imageio — each MJPEG sample IS a complete
    // JPEG. Matched against per-frame truth (dims / exact mean / raster
    // md5) computed at generation time from the exact bytes written; a
    // path that does not isolate and decode each sample cannot reproduce
    // a raster md5. avc1 payloads (id 9) and a garbled sample (id 10,
    // sample 2) pin the per-SAMPLE decoded=false degradation; malformed
    // containers (ids 11-12) emit zero rows.
    Gate("q_multimodal_mjpeg", (s, d) => {
      implicit val ss: SparkSession = s
      import ss.implicits._
      val recs = s.read.parquet(Fixtures.mjpegPath)
        .select(col("id"), col("payload"),
          col("media_type").as("mediaType"),
          lit(0).as("width"), lit(0).as("height"))
        .as[Multimodal.MediaRecord]
      graft.operators.VideoDemux.decodeAllJpegFrames(recs).toDF()
        .select(col("id"), col("track"), col("sample"),
          col("isKey").as("is_key"), col("decoded"), col("width"),
          col("height"), col("meanPixel").as("mean_pixel"),
          col("rasterMd5").as("raster_md5"))
        .orderBy("id", "track", "sample")
    },
      // plain scan of the generation-time per-frame truth: container rows
      // from the write plan, pixel columns from decoding the exact sample
      // bytes as written (JPEG is lossy — see MjpegFixture provenance)
      s"""SELECT id, track, sample, is_key, decoded, width, height,
        |       mean_pixel, raster_md5
        |FROM read_parquet('${Fixtures.mjpegTruthPath}/*.parquet')
        |ORDER BY id, track, sample""".stripMargin),

    // REAL raw-video pixel decode over the committed fixture of MP4
    // containers with uncompressed I420 samples: demux resolves each
    // sample's byte range, the three YUV planes slice out (odd dims
    // round the chroma planes UP), and the fixed-point BT.601 kernel
    // produces the raster — md5 and exact mean must match the
    // generation-time truth EXACTLY (I420 is lossless; no codec-drift
    // tolerance). avc1 rows pin the permanent inter-frame boundary as
    // per-sample decoded=false; a truncated sample degrades alone.
    Gate("q_multimodal_raw", (s, d) => {
      implicit val ss: SparkSession = s
      import ss.implicits._
      val recs = s.read.parquet(Fixtures.rawVideoPath)
        .select(col("id"), col("payload"),
          col("media_type").as("mediaType"),
          lit(0).as("width"), lit(0).as("height"))
        .as[Multimodal.MediaRecord]
      graft.operators.VideoDemux.decodeAllVideoFrames(recs).toDF()
        .select(col("id"), col("track"), col("sample"),
          col("isKey").as("is_key"), col("decoded"), col("width"),
          col("height"), col("meanPixel").as("mean_pixel"),
          col("rasterMd5").as("raster_md5"))
        .orderBy("id", "track", "sample")
    },
      // plain scan of the generation-time per-frame truth; I420 is
      // LOSSLESS, so unlike mjpeg the decode must match bit-exactly
      // (truth mean/md5 come from an independent from-the-spec BT.601
      // conversion in the fixture generator)
      s"""SELECT id, track, sample, is_key, decoded, width, height,
        |       mean_pixel, raster_md5
        |FROM read_parquet('${Fixtures.rawVideoTruthPath}/*.parquet')
        |ORDER BY id, track, sample""".stripMargin),

    // Row-expanding frame-sample path (the generator shape of real video
    // frame sampling): every 2nd 64-byte slice, hashed — one record in,
    // N frames out, partition-parallel. The frame hash is md5 of the
    // frame's HEX encoding (injective, so it certifies content exactly):
    // a 64-byte cut can split a multibyte character, and the oracle's
    // DuckDB has no md5(BLOB) — hex is the byte-exact form both engines
    // can hash.
    Gate("q_multimodal_frames", (s, d) => {
      implicit val ss: SparkSession = s
      Multimodal.sampleFrames(
          Multimodal.asMediaRecords(docs(s, d), "doc_id", "text"), 2)
        .toDF()
        .select(col("id"), col("frame").cast("bigint").as("frame"),
          octet_length(col("bytes")).cast("bigint").as("n_bytes"),
          md5(hex(col("bytes"))).as("frame_hash"))
        .orderBy("id", "frame")
    },
      // NULL payload ≡ empty payload here too: one empty frame. Frames
      // slice the UTF-8 BYTE stream (a 64-byte cut can land mid-character
      // — the bytes are then not a valid STRING, and this DuckDB has no
      // md5(BLOB)), so both sides hash the frame's HEX encoding: substr
      // on the hex stream at 2× offsets is exact byte slicing, and hex is
      // injective so md5(hex) certifies the same content md5(bytes) would
      // linear digit rows (the zip-unnest-precomputed-columns discipline):
      // hex digit p belongs to frame (p-1)//128; ordered string_agg
      // rebuilds each frame's hex slice. The per-frame substr(h, i*128+1)
      // form re-scanned the hex string head per frame — measured 713 s on
      // the 10 MB long-document sweep vs ~15 s for this form.
      """WITH d AS (SELECT doc_id,
        |                  hex(encode(coalesce(text, ''))) AS h,
        |                  octet_length(encode(coalesce(text, ''))) AS n
        |           FROM documents),
        |dg AS (SELECT doc_id, 2 * n AS m, string_split(h, '') AS gs
        |       FROM d WHERE n > 0),
        |r AS (SELECT doc_id, unnest(range(1, m + 1)) AS p,
        |             unnest(gs) AS g
        |      FROM dg),
        |f AS (SELECT doc_id, ((p - 1) // 128)::BIGINT AS frame,
        |             string_agg(g, '' ORDER BY p) AS fh
        |      FROM r GROUP BY doc_id, ((p - 1) // 128))
        |SELECT doc_id AS id, frame, (length(fh) // 2)::BIGINT AS n_bytes,
        |       md5(fh) AS frame_hash
        |FROM f WHERE frame % 2 = 0
        |UNION ALL
        |SELECT doc_id, 0::BIGINT, 0::BIGINT, md5('')
        |FROM d WHERE n = 0
        |ORDER BY id, frame""".stripMargin)
  )
}
