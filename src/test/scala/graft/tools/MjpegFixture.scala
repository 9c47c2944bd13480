package graft.tools

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import graft.tools.{VideoFixture => V}

/** Generates `fixtures/mjpeg.parquet`: real MP4 (ISO-BMFF) containers
  * whose video-track samples are REAL JPEG images — MJPEG, the one video
  * codec the JDK can decode — plus the per-frame ground truth the
  * `q_multimodal_mjpeg` gate oracles against.
  *
  * Truth provenance is layered to stay honest about the lossy codec:
  *   - CONTAINER truth (which samples exist, their keyframe flags) comes
  *     from the write-time plan, like [[VideoFixture]];
  *   - PIXEL truth (dims / exact mean / raster md5) is computed at
  *     GENERATION TIME by decoding the exact JPEG bytes as written into
  *     `mdat`, via the same [[graft.operators.VideoDemux.rasterSignature]]
  *     walk the operator uses. JPEG is lossy, so draw-time truth cannot
  *     exist; what the gate proves is that the distributed path really
  *     walks the box tree, resolves each sample's byte range, slices it
  *     and decodes it — a non-demuxing or non-decoding path cannot
  *     reproduce a raster md5 of bytes it never isolated. Generation
  *     additionally asserts the decoded mean sits within 3% of the drawn
  *     mean (codec-roundtrip sanity).
  *
  * Fixture population:
  *   - ids 0-7: single-track MJPEG; dims/frame-count/timescale vary;
  *     even ids are all-intra (no stss — absent means every sample is a
  *     key), odd ids mark every 2nd sample sync;
  *   - id 8: audio (mp4a, LCG bytes) + MJPEG video — handler filtering;
  *   - id 9: codec "avc1" with LCG payloads — every sample emits
  *     `decoded = false` (the honest codec boundary, per-sample);
  *   - id 10: MJPEG whose sample 2 is LCG garbage of the same length —
  *     that one sample degrades, its siblings decode;
  *   - id 11: not an MP4 (UTF-8 text) — zero rows, zero truth rows;
  *   - id 12: a valid file truncated at 60% (moov lost) — zero rows.
  *
  * Run once, commit the parquet:
  *   sbt "Test/runMain graft.tools.MjpegFixture fixtures/mjpeg.parquet"
  */
object MjpegFixture {

  /** Deterministic RGB for pixel (x, y) of frame s of fixture k —
    * smooth gradients (JPEG-friendly: blocky noise would push the codec
    * into visible ringing; gradients keep the roundtrip mean tight). */
  def rgb(k: Int, s: Int, x: Int, y: Int): (Int, Int, Int) = {
    val r = (x * 2 + s * 40 + k * 17) & 0xff
    val g = (y * 3 + s * 23 + k * 5) & 0xff
    val b = ((x + y) + s * 11 + k * 31) & 0xff
    (r, g, b)
  }

  /** One drawn-and-encoded frame: JPEG bytes + the drawn mean. */
  def makeJpeg(k: Int, s: Int, w: Int, h: Int): (Array[Byte], Double) = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = rgb(k, s, x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        sum += r + g + b
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "jpg", bos), "no jpeg writer")
    (bos.toByteArray, sum.toDouble / (3.0 * w * h))
  }

  /** LCG filler for non-decodable payloads (audio samples, avc1, the
    * garbage sample) — reuses the [[VideoFixture]] generator. */
  private[tools] def lcgBytes(k: Int, t: Int, s: Int, size: Int): Array[Byte] = {
    val a = new Array[Byte](size)
    var j = 0
    while (j < size) { a(j) = V.sampleByte(k + 100, t, s, j); j += 1 }
    a
  }

  /** One planned track: fourcc + per-sample payloads as they will be
    * written. `keyEvery = None` means no stss (all-intra). */
  private[tools] case class TrackPlan(handler: String, codec: String,
                               timescale: Long, width: Int, height: Int,
                               payloads: Vector[Array[Byte]],
                               sttsDelta: Long, keyEvery: Option[Int],
                               chunks: Seq[Int])

  case class FrameTruth(id: Long, track: Int, sample: Int, is_key: Boolean,
                        decoded: Boolean, width: Int, height: Int,
                        mean_pixel: Double, raster_md5: String)

  /** Assemble one MP4 from track plans; chunk offsets are absolute file
    * offsets computed as the samples are laid into mdat (same layout
    * discipline as [[VideoFixture.makeMp4]]). */
  private[tools] def assemble(plans: Seq[TrackPlan]): Array[Byte] = {
    val ftyp = V.box("ftyp", V.cc("isom"), V.be32(0x200), V.cc("isom"),
      V.cc("mp42"))
    var cursor = ftyp.length + 8L
    val mdatParts = Vector.newBuilder[Array[Byte]]
    val chunkOffs = plans.map { p =>
      var s = 0
      val offs = Vector.newBuilder[Long]
      p.chunks.foreach { spc =>
        offs += cursor
        (0 until spc).foreach { _ =>
          mdatParts += p.payloads(s)
          cursor += p.payloads(s).length
          s += 1
        }
      }
      require(s == p.payloads.length, s"chunk plan covers $s samples")
      offs.result()
    }
    val mdat = V.box("mdat", mdatParts.result(): _*)

    def trak(p: TrackPlan, t: Int, offs: Vector[Long]): Array[Byte] = {
      val n = p.payloads.length
      val dur = n * p.sttsDelta
      val tkhd = V.full("tkhd", 0, 7,
        V.be32(0), V.be32(0), V.be32(t + 1L), V.be32(0), V.be32(dur),
        V.zeros(8), V.be16(0), V.be16(0),
        V.be16(if (p.handler == "soun") 0x100 else 0),
        V.be16(0), V.matrix, V.be32(p.width.toLong << 16),
        V.be32(p.height.toLong << 16))
      val mdhd = V.full("mdhd", 0, 0,
        V.be32(0), V.be32(0), V.be32(p.timescale), V.be32(dur),
        V.be16(0x55c4), V.be16(0))
      val hdlr = V.full("hdlr", 0, 0,
        V.be32(0), V.cc(p.handler), V.zeros(12), Array(0.toByte))
      val stsd = V.full("stsd", 0, 0, V.be32(1),
        V.box(p.codec, V.zeros(6), V.be16(1), V.zeros(70)))
      val stts = V.full("stts", 0, 0, V.be32(1),
        V.be32(n.toLong), V.be32(p.sttsDelta))
      val stsz = V.full("stsz", 0, 0, V.be32(0), V.be32(n.toLong),
        p.payloads.toArray.flatMap(b => V.be32(b.length.toLong)))
      val stss = p.keyEvery.map { e =>
        val keys = (1 to n by e).toSeq
        V.full("stss", 0, 0, V.be32(keys.length.toLong),
          keys.flatMap(sn => V.be32(sn.toLong)).toArray)
      }
      val stscRuns = p.chunks.zipWithIndex
        .filter { case (spc, i) => i == 0 || p.chunks(i - 1) != spc }
        .map { case (spc, i) => (i + 1L, spc.toLong) }
      val stsc = V.full("stsc", 0, 0, V.be32(stscRuns.length.toLong),
        stscRuns.flatMap { case (fc, spc) =>
          V.be32(fc) ++ V.be32(spc) ++ V.be32(1L) }.toArray)
      val stco = V.full("stco", 0, 0, V.be32(offs.length.toLong),
        offs.flatMap(V.be32).toArray)
      val stbl = V.box("stbl",
        Seq(stsd, stts, stsz) ++ stss.toSeq ++ Seq(stsc, stco): _*)
      val dinf = V.box("dinf",
        V.full("dref", 0, 0, V.be32(1), V.full("url ", 0, 1)))
      val mhd = if (p.handler == "vide")
        V.full("vmhd", 0, 1, V.be16(0), V.zeros(6))
      else V.full("smhd", 0, 0, V.be16(0), V.be16(0))
      V.box("trak", tkhd,
        V.box("mdia", mdhd, hdlr, V.box("minf", mhd, dinf, stbl)))
    }

    val mvhd = V.full("mvhd", 0, 0,
      V.be32(0), V.be32(0), V.be32(1000L), V.be32(0),
      V.be32(0x10000L), V.be16(0x100), V.be16(0), V.zeros(8), V.matrix,
      V.zeros(24), V.be32(plans.length + 1L))
    val moov = V.box("moov",
      mvhd +: plans.zipWithIndex.map { case (p, t) =>
        trak(p, t, chunkOffs(t)) }: _*)
    ftyp ++ mdat ++ moov
  }

  /** Chunk plan: first 3 samples, then 4 per chunk, remainder last. */
  private[tools] def chunkPlan(n: Int): Seq[Int] =
    if (n <= 3) Seq(n)
    else Seq(3) ++ Seq.fill((n - 3) / 4)(4) ++
      (if ((n - 3) % 4 == 0) Seq.empty else Seq((n - 3) % 4))

  /** Generation-time pixel truth of one sample's bytes, via the SAME
    * raster walk the operator performs. `drawnMean` (when the payload is
    * a frame we drew) gates the codec roundtrip at 3%. */
  private def pixelTruth(id: Long, t: Int, s: Int, isKey: Boolean,
                         bytes: Array[Byte], drawnMean: Option[Double])
      : FrameTruth = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: java.io.IOException => null }
    if (img == null) {
      require(drawnMean.isEmpty, s"fixture $id sample $s failed to decode")
      FrameTruth(id, t, s, isKey, decoded = false, 0, 0, -1.0, "")
    } else {
      val (sum, md5) = graft.operators.VideoDemux.rasterSignature(img)
      val mean = sum.toDouble / (3.0 * img.getWidth * img.getHeight)
      drawnMean.foreach { dm =>
        require(math.abs(mean - dm) <= 0.03 * 255.0,
          s"fixture $id sample $s codec drift: drawn $dm decoded $mean")
      }
      FrameTruth(id, t, s, isKey, decoded = true,
        img.getWidth, img.getHeight, mean, md5)
    }
  }

  case class Row(id: Long, media_type: String, payload: Array[Byte])

  def all(): (Seq[Row], Seq[FrameTruth]) = {
    val rows = Vector.newBuilder[Row]
    val truth = Vector.newBuilder[FrameTruth]

    def keyIdx(n: Int, keyEvery: Option[Int]): Set[Int] = keyEvery match {
      case Some(e) => (1 to n by e).map(_ - 1).toSet
      case None => (0 until n).toSet
    }

    def mjpegPlan(k: Int): TrackPlan = {
      val n = 5 + k % 4
      val w = 40 + 8 * (k % 3)
      val h = 24 + 8 * (k % 2)
      TrackPlan("vide", "jpeg", 1000L + 100L * k, w, h,
        Vector.tabulate(n)(s => makeJpeg(k, s, w, h)._1),
        400L + k, if (k % 2 == 0) None else Some(2), chunkPlan(n))
    }

    // ids 0-7: single-track MJPEG
    (0 until 8).foreach { k =>
      val p = mjpegPlan(k)
      rows += Row(k.toLong, "video/mp4", assemble(Seq(p)))
      val keys = keyIdx(p.payloads.length, p.keyEvery)
      p.payloads.zipWithIndex.foreach { case (b, s) =>
        truth += pixelTruth(k.toLong, 0, s, keys(s), b,
          Some(makeJpeg(k, s, p.width, p.height)._2))
      }
    }

    // id 8: audio + MJPEG — only the vide track may emit rows
    {
      val audio = TrackPlan("soun", "mp4a", 16000L, 0, 0,
        Vector.tabulate(20)(s => lcgBytes(8, 0, s, 8)), 1024L, None, Seq(20))
      val video = mjpegPlan(3)
      rows += Row(8L, "video/mp4", assemble(Seq(audio, video)))
      val keys = keyIdx(video.payloads.length, video.keyEvery)
      video.payloads.zipWithIndex.foreach { case (b, s) =>
        truth += pixelTruth(8L, 1, s, keys(s), b,
          Some(makeJpeg(3, s, video.width, video.height)._2))
      }
    }

    // id 9: avc1 codec, LCG payloads — decoded=false per sample
    {
      val p = TrackPlan("vide", "avc1", 30000L, 64, 48,
        Vector.tabulate(6)(s => lcgBytes(9, 0, s, 200 + s * 7)),
        512L, Some(3), chunkPlan(6))
      rows += Row(9L, "video/mp4", assemble(Seq(p)))
      val keys = keyIdx(6, p.keyEvery)
      (0 until 6).foreach { s =>
        truth += FrameTruth(9L, 0, s, keys(s), decoded = false, 0, 0,
          -1.0, "")
      }
    }

    // id 10: MJPEG with sample 2 replaced by same-length LCG garbage
    {
      val base = mjpegPlan(5)
      val garbled = base.copy(payloads = base.payloads.updated(2,
        lcgBytes(10, 0, 2, base.payloads(2).length)))
      rows += Row(10L, "video/mp4", assemble(Seq(garbled)))
      val keys = keyIdx(garbled.payloads.length, garbled.keyEvery)
      garbled.payloads.zipWithIndex.foreach { case (b, s) =>
        truth += pixelTruth(10L, 0, s, keys(s), b,
          if (s == 2) None else Some(makeJpeg(5, s, base.width, base.height)._2))
      }
    }

    // id 11: not an MP4; id 12: valid file truncated at 60% (moov lost)
    rows += Row(11L, "application/octet-stream",
      "not a video, just jpeg-less bytes".getBytes("UTF-8"))
    val full = assemble(Seq(mjpegPlan(2)))
    rows += Row(12L, "video/mp4",
      java.util.Arrays.copyOf(full, (full.length * 0.6).toInt))

    (rows.result(), truth.result())
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/mjpeg.parquet")
    val truthOut = out.replace("mjpeg.parquet", "mjpeg_truth.parquet")
    val spark = graft.GraftSession("graft-fixtures")
    import spark.implicits._
    val (rows, truth) = all()
    spark.createDataset(rows).toDF().coalesce(1)
      .write.mode("overwrite").parquet(out)
    spark.createDataset(truth).toDF().coalesce(1)
      .write.mode("overwrite").parquet(truthOut)
    spark.stop()
  }
}
