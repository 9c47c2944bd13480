package graft.operators

import graft.SparkSpec
import graft.engine.Tables
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  test("media record plumbing: byte-stream features run partition-parallel") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val docs = Tables.documents(s, sf()).limit(50)
    val feats = Multimodal.extractFeatures(
      Multimodal.asMediaRecords(docs, "doc_id", "text")).collect()
    assert(feats.length == 50)
    val byId = feats.map(f => f.id -> f).toMap
    val raw = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    raw.foreach { case (id, text) =>
      val f = byId(id)
      val bytes = text.getBytes("UTF-8")
      assert(f.nBytes == bytes.length)
      assert(f.meanByte ==
        bytes.map(_ & 0xff).sum.toDouble / bytes.length)
      assert(f.frameCount ==
        math.min(math.max((bytes.length + 63) / 64, 1), 32))
      assert(f.contentHash.matches("[0-9a-f]{32}"))
    }
  }

  test("resize + frame-sample stages: schema, expansion, partition-parallel") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val docs = Tables.documents(s, sf()).limit(40).repartition(4)
    val records = Multimodal.asMediaRecords(docs, "doc_id", "text")
    // frame sampling: row-expanding, frames reference their record
    val frames = Multimodal.sampleFrames(records, 2).collect()
    assert(frames.length > 40) // expansion happened
    val byId = frames.groupBy(_.id)
    val raw = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    byId.foreach { case (id, fs) =>
      val nBytes = raw(id).getBytes("UTF-8").length
      // ceil(len/64) frames incl. the partial tail (floor 1)
      val expected = (0 until math.max((nBytes + 63) / 64, 1) by 2).size
      assert(fs.length == expected)
      fs.foreach(f => assert(f.bytes.length <= 64))
    }
  }

  test("true binary payloads (PNG-shaped, full byte range incl. NUL) survive the pipeline") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    // deterministic pseudo-PNG payloads: real 8-byte PNG signature +
    // pseudo-random body covering the full 0..255 byte range — the
    // plumbing must be binary-safe (no string round-trip, no NUL or
    // high-bit mangling), which text-derived payloads cannot prove
    def pngish(seed: Int, n: Int): Array[Byte] = {
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte)
      val rnd = new scala.util.Random(seed)
      sig ++ Array.fill(n - sig.length)(rnd.nextInt(256).toByte)
    }
    val payloads = (0 until 20).map(i =>
      Multimodal.MediaRecord(i.toLong, pngish(i, 64 + 97 * i),
        "image/png", 16 + i, 16 + i))
    val ds = s.createDataset(payloads).repartition(4)
    val feats = Multimodal.extractFeatures(ds).collect().map(f => f.id -> f).toMap
    payloads.foreach { p =>
      val f = feats(p.id)
      assert(f.nBytes == p.payload.length)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(p.payload).map("%02x".format(_)).mkString
      assert(f.contentHash == md, s"binary payload ${p.id} hash mangled")
      assert(f.meanByte ==
        p.payload.map(_ & 0xff).sum.toDouble / p.payload.length)
    }
    // frame sampling slices the raw bytes, bit-exact
    val frames = Multimodal.sampleFrames(ds, 1).collect()
    frames.foreach { fr =>
      val src = payloads(fr.id.toInt).payload
      val expected = java.util.Arrays.copyOfRange(src,
        math.min(fr.frame * 64, src.length),
        math.min(fr.frame * 64 + 64, src.length))
      assert(java.util.Arrays.equals(fr.bytes, expected),
        s"frame ${fr.id}/${fr.frame} bytes mangled")
    }
    // frame count and emitted frames AGREE (incl. partial tails — a
    // 100-byte payload is 2 frames, the tail slice included) under the
    // shared ceil(len/64) convention, up to the 32-frame count cap
    val framesById = frames.groupBy(_.id).view.mapValues(_.length)
    payloads.foreach { p =>
      if (feats(p.id).frameCount < 32)
        assert(framesById(p.id) == feats(p.id).frameCount,
          s"payload ${p.id}: ${framesById(p.id)} frames emitted but " +
            s"frameCount=${feats(p.id).frameCount}")
    }
  }

  test("columnar metadata path agrees with the typed decode path") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val docs = Tables.documents(s, sf()).limit(20)
    val meta = Multimodal.payloadMeta(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val feats = Multimodal.extractFeatures(
      Multimodal.asMediaRecords(docs, "doc_id", "text")).collect()
    feats.foreach { f =>
      assert(meta(f.id) == ((f.nBytes, f.contentHash)))
    }
  }

  test("real image decode: PNG/BMP encode->decode roundtrip recovers " +
      "draw-time dims and mean exactly; garbage degrades to decoded=false") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    // fresh images generated HERE (not the committed fixture): dims and
    // mean are known from the draw loop, so the assertion holds against
    // the codec alone
    val imgs = (0 until 12).map { i =>
      val w = 5 + i * 3
      val h = 4 + i * 2
      val fmt = if (i % 2 == 0) "png" else "bmp"
      val (bytes, mean) = graft.tools.ImageFixture.makeImage(i, w, h, fmt)
      (Multimodal.MediaRecord(i.toLong, bytes, s"image/$fmt", 0, 0),
        (w, h, mean))
    }
    val bad = Seq(
      Multimodal.MediaRecord(100L, "definitely not an image".getBytes, "x", 0, 0),
      Multimodal.MediaRecord(101L,
        java.util.Arrays.copyOf(imgs.head._1.payload, 16), "image/png", 0, 0),
      Multimodal.MediaRecord(102L, Array.emptyByteArray, "x", 0, 0))
    val ds = s.createDataset(imgs.map(_._1) ++ bad).repartition(3)
    val out = Multimodal.decodeImages(ds).collect().map(f => f.id -> f).toMap
    imgs.foreach { case (rec, (w, h, mean)) =>
      val f = out(rec.id)
      assert(f.decoded, s"image ${rec.id} failed to decode")
      assert(f.width == w && f.height == h,
        s"image ${rec.id}: got ${f.width}x${f.height}, drew ${w}x$h")
      // lossless formats roundtrip pixels exactly -> identical long sum
      // -> identical single IEEE division
      assert(f.meanPixel == mean,
        s"image ${rec.id}: mean ${f.meanPixel} != drawn $mean")
      assert(f.nBytes == rec.payload.length)
    }
    bad.foreach { rec =>
      val f = out(rec.id)
      assert(!f.decoded && f.width == 0 && f.height == 0 &&
        f.meanPixel == -1.0, s"bad payload ${rec.id} did not degrade")
    }
  }

  test("committed image fixture matches its recorded ground truth") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    val fx = s.read.parquet(graft.util.Fixtures.imagePath)
    val expected = fx.select("id", "expected_decoded", "expected_width",
        "expected_height", "expected_mean").collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getInt(2), r.getInt(3), r.getDouble(4)))).toMap
    assert(expected.size == 53)
    assert(expected.values.count(_._1) == 48)
    val recs = fx.select(col("id"), col("payload"),
        col("media_type").as("mediaType"),
        lit(0).as("width"), lit(0).as("height"))
      .as[Multimodal.MediaRecord]
    val out = Multimodal.decodeImages(recs).collect()
    assert(out.length == 53)
    out.foreach { f =>
      val (dec, w, h, mean) = expected(f.id)
      assert(f.decoded == dec, s"fixture ${f.id}: decoded=${f.decoded}")
      assert(f.width == w && f.height == h, s"fixture ${f.id} dims")
      assert(f.meanPixel == mean, s"fixture ${f.id} mean")
    }
  }

  test("real WAV decode roundtrips synthesis truth; corrupt rows degrade") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    // fresh synthesis (not the committed fixture): decode must agree
    // with write-time truth for every (rate, channels, bits) layout
    val made = Seq(
      (0, 8000, 1, 400, 16), (1, 44100, 2, 512, 16), (2, 22050, 1, 333, 8))
      .map { case (k, rate, ch, fr, bits) =>
        val (bytes, rms) = graft.tools.AudioFixture.makeWav(k, rate, ch,
          fr, bits)
        (k.toLong, bytes, ch, rate, fr.toLong, rms)
      }
    val recs = made.map { case (id, bytes, _, _, _, _) =>
      Multimodal.MediaRecord(id, bytes, "audio/wav", 0, 0)
    } :+ Multimodal.MediaRecord(9L, "definitely not audio".getBytes("UTF-8"),
      "application/octet-stream", 0, 0)
    val out = Multimodal.decodeAudios(s.createDataset(recs))
      .collect().map(f => f.id -> f).toMap
    made.foreach { case (id, bytes, ch, rate, fr, rms) =>
      val f = out(id)
      assert(f.decoded, s"wav $id failed to decode")
      assert(f.channels == ch && f.sampleRate == rate && f.frames == fr,
        s"wav $id: got (${f.channels}, ${f.sampleRate}, ${f.frames}), " +
          s"wrote ($ch, $rate, $fr)")
      // lossless PCM roundtrips samples exactly -> identical long sum of
      // squares -> identical IEEE division/sqrt chain
      assert(f.rms == rms, s"wav $id: rms ${f.rms} != written $rms")
      assert(f.nBytes == bytes.length)
    }
    val bad = out(9L)
    assert(!bad.decoded && bad.channels == 0 && bad.frames == 0L &&
      bad.rms == -1.0, "non-audio payload did not degrade")
    // mid-data truncation: container parses, data reads short — must
    // fail the ROW (loud row-level integrity), never throw
    val (full, _) = graft.tools.AudioFixture.makeWav(7, 16000, 1, 400, 16)
    val trunc = Multimodal.decodeAudio(Multimodal.MediaRecord(
      10L, java.util.Arrays.copyOf(full, 52), "audio/wav", 0, 0))
    assert(!trunc.decoded, "truncated wav did not degrade")
  }

  test("real GIF frame extraction roundtrips draw truth; corrupt degrades") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    // fresh synthesis: every frame of a multi-frame GIF decodes to its
    // draw-time mean (palette-by-construction losslessness)
    val (bytes, means) = graft.tools.GifFixture.makeGif(5, 11, 9, 3)
    val frames = Multimodal.decodeImageFrames(
      Multimodal.MediaRecord(1L, bytes, "image/gif", 0, 0)).toSeq
    assert(frames.size == 3, s"expected 3 frames, got ${frames.size}")
    frames.zip(means).zipWithIndex.foreach { case ((f, m), i) =>
      assert(f.frame == i && f.width == 11 && f.height == 9,
        s"frame $i shape: $f")
      assert(f.meanPixel == m, s"frame $i: mean ${f.meanPixel} != drawn $m")
    }
    // a single-frame PNG yields exactly one frame through the same path
    val (png, pngMean) = graft.tools.ImageFixture.makeImage(3, 10, 8, "png")
    val one = Multimodal.decodeImageFrames(
      Multimodal.MediaRecord(2L, png, "image/png", 0, 0)).toSeq
    assert(one.size == 1 && one.head.meanPixel == pngMean)
    // non-image: zero frames, no throw; truncated gif: at most the
    // frames that decode before the damage
    assert(Multimodal.decodeImageFrames(Multimodal.MediaRecord(
      3L, "definitely not media".getBytes("UTF-8"), "x", 0, 0)).isEmpty)
    val trunc = Multimodal.decodeImageFrames(Multimodal.MediaRecord(
      4L, java.util.Arrays.copyOf(bytes, 60), "image/gif", 0, 0)).toSeq
    assert(trunc.size < 3, s"truncated gif returned all frames: $trunc")
    // distributed path agrees with the local decode
    val ds = s.createDataset(Seq(
      Multimodal.MediaRecord(1L, bytes, "image/gif", 0, 0)))
    assert(Multimodal.decodeAllFrames(ds).collect().toSeq.sortBy(_.frame)
      == frames)
  }

  test("committed gif fixture matches its per-frame truth table") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    val recs = s.read.parquet(graft.util.Fixtures.gifPath)
      .select(col("id"), col("payload"), col("media_type").as("mediaType"),
        lit(0).as("width"), lit(0).as("height"))
      .as[Multimodal.MediaRecord]
    val got = Multimodal.decodeAllFrames(recs).collect()
      .map(f => (f.id, f.frame) -> ((f.width, f.height, f.meanPixel))).toMap
    val truth = s.read.parquet(graft.util.Fixtures.gifTruthPath).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getInt(3), r.getDouble(4)))).toMap
    assert(truth.nonEmpty && got == truth,
      s"frame set mismatch: extra=${(got.keySet -- truth.keySet).take(5)} " +
        s"missing=${(truth.keySet -- got.keySet).take(5)}")
  }

  test("windowed audio frames match synthesis truth; corrupt emits none") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    // fresh synthesis across layouts: per-window RMS and sample counts
    // must equal the generator's replay of its own sample stream
    for ((k, rate, ch, fr, bits) <- Seq((0, 8000, 1, 400, 16),
        (1, 44100, 2, 512, 16), (2, 22050, 1, 333, 8))) {
      val (bytes, _) = graft.tools.AudioFixture.makeWav(k, rate, ch, fr, bits)
      val want = graft.tools.AudioFixture.frameTruth(k, rate, ch, fr, bits, 25)
      val got = Multimodal.decodeAudioFrames(
        Multimodal.MediaRecord(k.toLong, bytes, "audio/wav", 0, 0)).toSeq
      assert(got.size == want.size, s"wav $k: ${got.size} windows, " +
        s"synthesized ${want.size}")
      got.zip(want).foreach { case (g, w) =>
        assert(g.frame == w.frame && g.nSamples == w.expected_samples &&
          g.rms == w.expected_rms, s"wav $k window ${w.frame}: $g vs $w")
      }
    }
    assert(Multimodal.decodeAudioFrames(Multimodal.MediaRecord(
      9L, "not audio".getBytes("UTF-8"), "x", 0, 0)).isEmpty)
    // distributed path agrees with the committed truth table end-to-end
    val recs = s.read.parquet(graft.util.Fixtures.audioPath)
      .select(col("id"), col("payload"), col("media_type").as("mediaType"),
        lit(0).as("width"), lit(0).as("height"))
      .as[Multimodal.MediaRecord]
    val got = Multimodal.decodeAllAudioFrames(recs).collect()
      .map(f => (f.id, f.frame) -> ((f.nSamples, f.rms))).toMap
    val truth = s.read.parquet(graft.util.Fixtures.audioFramesTruthPath)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getDouble(3)))).toMap
    assert(truth.nonEmpty && got == truth,
      s"window set mismatch: extra=${(got.keySet -- truth.keySet).take(5)} " +
        s"missing=${(truth.keySet -- got.keySet).take(5)}")
  }

  test("committed audio fixture matches its recorded ground truth") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    val fx = s.read.parquet(graft.util.Fixtures.audioPath)
    val expected = fx.select("id", "expected_decoded", "expected_channels",
        "expected_sample_rate", "expected_frames", "expected_rms").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(expected.size == 29)
    assert(expected.values.count(_._1) == 24)
    val recs = fx.select(col("id"), col("payload"),
        col("media_type").as("mediaType"),
        lit(0).as("width"), lit(0).as("height"))
      .as[Multimodal.MediaRecord]
    val out = Multimodal.decodeAudios(recs).collect()
    assert(out.length == 29)
    out.foreach { f =>
      val (dec, ch, rate, fr, rms) = expected(f.id)
      assert(f.decoded == dec, s"fixture ${f.id}: decoded=${f.decoded}")
      assert(f.channels == ch && f.sampleRate == rate && f.frames == fr,
        s"fixture ${f.id} stream shape")
      assert(f.rms == rms, s"fixture ${f.id} rms")
    }
  }
}
