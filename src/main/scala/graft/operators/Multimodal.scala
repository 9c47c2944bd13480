package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media payloads are opaque `binary` columns travelling next to a typed
  * metadata struct — the schema pattern a 100 TB training-data pipeline
  * needs: bodies stay columnar in parquet, metadata is filterable/prunable
  * without touching bytes, and per-record decode runs partition-parallel
  * with bounded memory (one batch of records in flight per task).
  *
  * IMAGE decode is REAL: [[decodeImage]] decodes PNG/BMP/JPEG/GIF payload
  * bytes with the JDK's `javax.imageio` (no external dependencies) and
  * emits true width/height/mean-pixel. AUDIO decode is REAL too:
  * [[decodeAudio]] parses WAV/PCM with `javax.sound.sampled` and emits
  * true channels/rate/frames/RMS. Both degrade an unreadable payload to
  * an explicit `decoded = false` row, never a throw — at corpus scale a
  * handful of corrupt payloads must not kill a 1000-task stage.
  * FRAME EXTRACTION is real for every ImageIO container including
  * multi-frame animated GIF ([[decodeImageFrames]]). VIDEO container
  * demux is REAL too: [[VideoDemux]] walks MP4/ISO-BMFF box trees and
  * resolves per-sample byte ranges, and VIDEO PIXEL decode is real for
  * MJPEG tracks — whose samples are complete JPEGs
  * ([[VideoDemux.decodeJpegFrames]]) — and for uncompressed planar
  * I420 tracks ([[VideoDemux.i420Signature]]; both unified under
  * [[VideoDemux.decodeVideoFrames]]).
  *
  * PERMANENT BOUNDARY: INTER-FRAME codecs (H.264/HEVC/VP9/AV1) have no
  * JDK decoder and never will in a pure-JVM library — their samples
  * degrade per-row to `decoded = false`, with
  * [[VideoDemux.extractSamples]] resolving the exact byte ranges a
  * caller routes to an external codec. Independent of any codec, the
  * BYTE-STREAM operators below ([[byteFeatures]] /
  * [[byteFrameSlices]]) compute deterministic features and slices
  * over opaque payloads — the honest thing to compute
  * when the bytes are not decodable in-process, with the same
  * batching/partitioning shape as the real decoders.
  */
object Multimodal {

  /** A media record: opaque payload + typed metadata. */
  case class MediaRecord(id: Long, payload: Array[Byte], mediaType: String,
                         width: Int, height: Int)

  /** Extracted features for one record. */
  case class MediaFeatures(id: Long, nBytes: Long, contentHash: String,
                           meanByte: Double, frameCount: Int)

  /** Wrap any table into media records, treating a string column as the
    * opaque payload (UTF-8 bytes) — used by tests/queries since the
    * testdata has no real media; the schema is what matters. */
  def asMediaRecords(df: DataFrame, id: String, payloadCol: String)
                    (implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    df.select(col(id).cast("long").as("id"),
        col(payloadCol).cast("binary").as("payload"),
        lit("text/plain").as("mediaType"),
        lit(0).as("width"), lit(0).as("height"))
      .as[MediaRecord]
  }

  /** Deterministic BYTE-STREAM features of an opaque payload — length,
    * md5, byte mean, and a 64-byte slice cadence: what a pipeline
    * computes for payloads it cannot (or need not) decode in-process,
    * e.g. inter-frame video samples en route to an external codec (the
    * permanent boundary — see the object scaladoc; images, audio, GIF,
    * MJPEG and raw I420 all have REAL decode paths). Batching,
    * partition parallelism and output schema are the same production
    * shape as those decoders. */
  def byteFeatures(r: MediaRecord): MediaFeatures = {
    val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
    val mean = if (bytes.isEmpty) 0.0
      else bytes.foldLeft(0L)((a, b) => a + (b & 0xff)).toDouble / bytes.length
    val hash = java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString
    // slice cadence: one frame per 64 bytes, capped. Frame count =
    // ceil(len/64) with a floor of 1 — the SAME slicing byteFrameSlices
    // walks, so count and emitted frames agree (the old len/64+1
    // over-counted exact multiples while the sampler dropped partial
    // tails)
    MediaFeatures(r.id, bytes.length.toLong, hash, mean,
      math.min(math.max((bytes.length + 63) / 64, 1), 32))
  }

  /** Partition-parallel feature extraction over media records. */
  def extractFeatures(ds: Dataset[MediaRecord])
                     (implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    ds.mapPartitions(_.map(byteFeatures))
  }

  /** Decoded-image features: pixel truth, not byte heuristics. `decoded`
    * is the per-record success flag; failed rows carry zero dims and a
    * `-1.0` mean so the schema stays dense (filterable, no null stripes
    * in the parquet output). */
  case class ImageFeatures(id: Long, nBytes: Long, decoded: Boolean,
                           width: Int, height: Int, meanPixel: Double)

  /** REAL image decode via the JDK's `javax.imageio` (PNG/BMP/JPEG/GIF —
    * zero new dependencies). Mean pixel = sum of the R, G and B channel
    * values over every pixel, divided once by `3.0 * w * h`: an exact
    * integer sum and a single IEEE division, so the value is
    * bit-reproducible across engines for lossless formats (PNG/BMP
    * roundtrip pixels exactly; the fixture oracle relies on this).
    *
    * Unreadable payloads (truncated file, not an image at all) return
    * `decoded = false` instead of throwing: one corrupt record in a
    * billion-row corpus must fail the ROW, not the stage. */
  def decodeImage(r: MediaRecord): ImageFeatures = {
    val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: java.io.IOException => null }
    if (img == null)
      ImageFeatures(r.id, bytes.length.toLong, decoded = false, 0, 0, -1.0)
    else {
      val w = img.getWidth
      val h = img.getHeight
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
          x += 1
        }
        y += 1
      }
      ImageFeatures(r.id, bytes.length.toLong, decoded = true, w, h,
        sum.toDouble / (3.0 * w * h))
    }
  }

  /** Partition-parallel real image decode — same typed mapPartitions
    * boundary as [[extractFeatures]], real codec inside. */
  def decodeImages(ds: Dataset[MediaRecord])
                  (implicit spark: SparkSession): Dataset[ImageFeatures] = {
    import spark.implicits._
    ds.mapPartitions(_.map(decodeImage))
  }

  /** Decoded-audio features: stream truth, not byte heuristics. Failed
    * rows carry zero dims and a `-1.0` rms (dense schema, filterable —
    * same degradation contract as [[ImageFeatures]]). */
  case class AudioFeatures(id: Long, nBytes: Long, decoded: Boolean,
                           channels: Int, sampleRate: Int, frames: Long,
                           rms: Double)

  /** REAL audio decode via the JDK's `javax.sound.sampled` (WAV/PCM,
    * AIFF/AU — zero new dependencies). RMS = sqrt of the mean squared
    * integer sample value over every channel-interleaved sample, divided
    * once by full scale (32768 for 16-bit, 128 for 8-bit): an exact
    * integer sum of squares and three IEEE ops, bit-reproducible for
    * lossless PCM (the fixture oracle relies on this — see
    * `graft.tools.AudioFixture` in the test sources).
    *
    * Degrades to `decoded = false` instead of throwing on (a) payloads
    * the JDK cannot parse, (b) PCM layouts outside 16-bit-signed-LE /
    * 8-bit-unsigned (the WAV conventions), and (c) streams whose data
    * ends before the header-declared frame count — a truncated file must
    * fail the ROW, never the 1000-task stage. */
  def decodeAudio(r: MediaRecord): AudioFeatures = {
    val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
    def fail = AudioFeatures(r.id, bytes.length.toLong, decoded = false,
      0, 0, 0L, -1.0)
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => null
        case _: java.io.IOException => null
      }
    if (ais == null) return fail
    try {
      val fmt = ais.getFormat
      val bits = fmt.getSampleSizeInBits
      val enc = fmt.getEncoding
      val ok16 = bits == 16 && !fmt.isBigEndian &&
        enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
      val ok8 = bits == 8 &&
        enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
      if (!ok16 && !ok8) return fail
      val frameSize = fmt.getFrameSize
      val pcm =
        try ais.readAllBytes()
        catch { case _: java.io.IOException => return fail }
      // header-declared length vs bytes actually present: a mid-data
      // truncation parses fine and just reads short — make it loud
      val declared = ais.getFrameLength
      if (pcm.length % frameSize != 0 ||
          (declared >= 0 && pcm.length / frameSize != declared)) return fail
      val frames = (pcm.length / frameSize).toLong
      val total = pcm.length / (bits / 8)
      if (total == 0) return fail
      var sumSq = 0L
      var i = 0
      while (i < total) {
        val s =
          if (bits == 16) ((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff))
          else (pcm(i) & 0xff) - 128
        sumSq += s.toLong * s
        i += 1
      }
      val full = if (bits == 16) 32768.0 else 128.0
      AudioFeatures(r.id, bytes.length.toLong, decoded = true,
        fmt.getChannels, math.round(fmt.getSampleRate).toInt, frames,
        math.sqrt(sumSq.toDouble / total) / full)
    } finally ais.close()
  }

  /** Partition-parallel real audio decode — same typed mapPartitions
    * boundary as [[decodeImages]], real codec inside. */
  def decodeAudios(ds: Dataset[MediaRecord])
                  (implicit spark: SparkSession): Dataset[AudioFeatures] = {
    import spark.implicits._
    ds.mapPartitions(_.map(decodeAudio))
  }

  /** One decoded audio window's features. */
  case class AudioFrameFeatures(id: Long, frame: Int, nSamples: Int,
                                rms: Double)

  /** REAL windowed audio features: decode the WAV (same codec path and
    * integrity rules as [[decodeAudio]]), then cut the sample stream
    * into `frameMs`-millisecond windows and emit per-window RMS — the
    * row-expanding audio analog of image frame extraction, with the
    * same exact-integer arithmetic as the whole-stream RMS (the
    * fixture's per-window truth is bit-reproducible). A payload that
    * fails the decode emits zero windows: the row degrades, the stage
    * never throws. */
  def decodeAudioFrames(r: MediaRecord, frameMs: Int = 25)
      : Iterator[AudioFrameFeatures] = {
    require(frameMs > 0, s"frameMs must be positive, got $frameMs")
    val whole = decodeAudio(r)
    if (!whole.decoded) return Iterator.empty
    // re-decode for the sample walk (the JDK stream is not reusable);
    // decodeAudio just proved it parses and is integrity-clean
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(r.payload))
    try {
      val fmt = ais.getFormat
      val bits = fmt.getSampleSizeInBits
      val channels = fmt.getChannels
      val pcm = ais.readAllBytes()
      val winFrames = math.max(1, whole.sampleRate * frameMs / 1000)
      val nFrames = whole.frames.toInt
      val full = if (bits == 16) 32768.0 else 128.0
      (0 until nFrames by winFrames).iterator.zipWithIndex.map {
        case (f0, w) =>
          val f1 = math.min(f0 + winFrames, nFrames)
          var sumSq = 0L
          var i = f0 * channels
          while (i < f1 * channels) {
            val s =
              if (bits == 16) ((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff))
              else (pcm(i) & 0xff) - 128
            sumSq += s.toLong * s
            i += 1
          }
          val n = (f1 - f0) * channels
          AudioFrameFeatures(r.id, w, n,
            math.sqrt(sumSq.toDouble / n) / full)
      }
    } finally ais.close()
  }

  /** Partition-parallel windowed audio features — the row-expanding
    * (flatMap) sibling of [[decodeAudios]]. */
  def decodeAllAudioFrames(ds: Dataset[MediaRecord], frameMs: Int = 25)
      (implicit spark: SparkSession): Dataset[AudioFrameFeatures] = {
    import spark.implicits._
    ds.mapPartitions(_.flatMap(decodeAudioFrames(_, frameMs)))
  }

  /** One decoded frame's features (REAL frame extraction — contrast the
    * byte-slice [[MediaFrame]] of [[byteFrameSlices]]). */
  case class FrameFeatures(id: Long, frame: Int, width: Int, height: Int,
                           meanPixel: Double)

  /** REAL multi-frame extraction via `javax.imageio`'s sequence reader:
    * every frame the container carries, decoded — an animated GIF
    * yields all its frames, a PNG/BMP/JPEG yields one. Mean-pixel
    * arithmetic is identical to [[decodeImage]] (exact integer sum, one
    * IEEE division), so lossless palettized GIFs roundtrip draw-time
    * truth exactly (the fixture oracle relies on this).
    *
    * Frames are read per-raster, NOT composed: GIF delta frames with
    * disposal methods describe PLAYBACK, and a training pipeline wants
    * the stored rasters (composition is a documented non-goal). A
    * corrupt payload emits the frames that decode before the damage and
    * stops — zero frames for a non-image, a prefix for a truncated
    * stream; the ROW degrades, the stage never throws. */
  def decodeImageFrames(r: MediaRecord): Iterator[FrameFeatures] = {
    val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
    val iis =
      try javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      catch { case _: java.io.IOException => null }
    if (iis == null) return Iterator.empty
    val readers = javax.imageio.ImageIO.getImageReaders(iis)
    if (!readers.hasNext) { iis.close(); return Iterator.empty }
    val reader = readers.next()
    try {
      reader.setInput(iis)
      // allowSearch=false returns -1 for streams that only reveal their
      // frame count by reading; fall back to read-until-failure either
      // way, which also handles truncation mid-frame
      val declared =
        try reader.getNumImages(false)
        catch { case _: java.io.IOException => -1 }
      val frames = Iterator.from(0)
        .map { f =>
          try {
            val img = reader.read(f)
            var sum = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val p = img.getRGB(x, y)
                sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
                x += 1
              }
              y += 1
            }
            Some(FrameFeatures(r.id, f, img.getWidth, img.getHeight,
              sum.toDouble / (3.0 * img.getWidth * img.getHeight)))
          } catch {
            case _: java.io.IOException => None
            case _: IndexOutOfBoundsException => None
          }
        }
        .takeWhile(_.isDefined)
        .take(if (declared >= 0) declared else Int.MaxValue)
        .flatten
        .toVector // materialize BEFORE closing the reader/stream
      frames.iterator
    } finally {
      reader.dispose()
      iis.close()
    }
  }

  /** Partition-parallel real frame extraction — the row-expanding
    * (flatMap) sibling of [[decodeImages]]. */
  def decodeAllFrames(ds: Dataset[MediaRecord])
                     (implicit spark: SparkSession): Dataset[FrameFeatures] = {
    import spark.implicits._
    ds.mapPartitions(_.flatMap(decodeImageFrames))
  }

  /** A decoded frame/tile: (record id, frame index, payload slice). */
  case class MediaFrame(id: Long, frame: Int, bytes: Array[Byte])

  /** BYTE-STREAM frame slicing: emits every `stride`-th 64-byte slice
    * of an opaque payload (for real video frame sampling at a TIME
    * cadence use [[VideoDemux.extractSamples]] /
    * [[VideoDemux.decodeVideoFrames]], which resolve true sample
    * boundaries). Row-expanding: one record in, N slices out — the
    * generator shape shared with the real samplers. */
  def byteFrameSlices(r: MediaRecord, stride: Int): Iterator[MediaFrame] = {
    val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
    // ceil(len/64) frames (floor 1): the partial tail slice IS a frame —
    // a 100-byte payload emits bytes 0-64 and 64-100, not just the
    // full slice (the old len/64 dropped tails only for payloads over
    // one frame, inconsistent with sub-frame payloads and byteFeatures)
    (0 until math.max((bytes.length + 63) / 64, 1) by stride).iterator.map { i =>
      val from = math.min(i * 64, bytes.length)
      val until = math.min(from + 64, bytes.length)
      MediaFrame(r.id, i, java.util.Arrays.copyOfRange(bytes, from, until))
    }
  }

  /** REAL image resize — decode (`javax.imageio`), scale so the longer
    * side equals `maxDim` (aspect preserved; bilinear `Graphics2D`
    * draw), re-encode as PNG; zero new dependencies. The thumbnail/
    * downscale step every image-training pipeline runs before feature
    * extraction. Dimension contract (exact-integer, so any engine
    * predicts output dims): landscape → (maxDim, max(1, h·maxDim/w))
    * with FLOOR division, portrait/square the transpose. Images already
    * within `maxDim`, and payloads that do not decode, pass through
    * UNCHANGED (degrade, never throw) — both with their true decoded
    * dims (or 0×0) recorded in the metadata columns, so a filter can
    * split the outcomes without re-decoding. One record in, one record
    * out, partition-parallel, no driver involvement. */
  def resizeImage(r: MediaRecord, maxDim: Int): MediaRecord = {
    require(maxDim >= 1, s"maxDim must be >= 1, got $maxDim")
    val bytes = Option(r.payload).getOrElse(Array.emptyByteArray)
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: java.io.IOException => null }
    if (img == null) r.copy(width = 0, height = 0)
    else {
      val (w, h) = (img.getWidth, img.getHeight)
      if (math.max(w, h) <= maxDim) r.copy(width = w, height = h)
      else {
        val (nw, nh) =
          if (w >= h) (maxDim, math.max(1, h * maxDim / w))
          else (math.max(1, w * maxDim / h), maxDim)
        val dst = new java.awt.image.BufferedImage(nw, nh,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, nw, nh, null)
        g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(dst, "png", bos)
        MediaRecord(r.id, bos.toByteArray, "image/png", nw, nh)
      }
    }
  }

  /** Partition-parallel real image resize. */
  def resizeImages(ds: Dataset[MediaRecord], maxDim: Int)
                  (implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    ds.mapPartitions(_.map(resizeImage(_, maxDim)))
  }

  /** Sample frames from every record — a flatMap (row-expanding)
    * partition-parallel stage. */
  def sampleFrames(ds: Dataset[MediaRecord], stride: Int)
                  (implicit spark: SparkSession): Dataset[MediaFrame] = {
    import spark.implicits._
    ds.mapPartitions(_.flatMap(byteFrameSlices(_, stride)))
  }

  /** Column-only metadata path (no decode, pure codegen): byte length and
    * md5 of the payload — the cheap pre-filter a pipeline runs BEFORE
    * paying for decode. */
  def payloadMeta(df: DataFrame, id: String, payloadCol: String): DataFrame =
    df.select(col(id),
      octet_length(col(payloadCol).cast("binary")).cast("bigint").as("n_bytes"),
      md5(col(payloadCol).cast("binary")).as("content_hash"))
}
