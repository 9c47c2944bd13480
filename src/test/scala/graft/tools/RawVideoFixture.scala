package graft.tools

import graft.tools.{MjpegFixture => M}

/** Generates `fixtures/rawvideo.parquet`: real MP4 (ISO-BMFF) containers
  * whose video-track samples are UNCOMPRESSED planar YUV 4:2:0 frames
  * (sample entry fourcc "I420" — the QuickTime-registered raw planar
  * format), plus per-frame ground truth for the `q_multimodal_raw`
  * gate. With MJPEG ("jpeg") and I420 both really decoded, the
  * remaining video boundary is inter-frame codecs only — a permanent
  * no-JDK-codec boundary, degraded per-sample.
  *
  * Truth provenance: CONTAINER truth (samples, keyframe flags, dims)
  * comes from the write-time plan; PIXEL truth (exact mean, raster md5)
  * is computed at generation time by a from-the-spec fixed-point BT.601
  * YUV→RGB conversion written HERE, independently of (but to the same
  * published formula as) `VideoDemux.i420Signature`. I420 is lossless,
  * so unlike the MJPEG fixture there is no codec-drift tolerance: the
  * distributed decode must reproduce the truth EXACTLY, and a path
  * that fails to demux, slice the right byte range, or lay out the
  * three planes correctly cannot.
  *
  * Fixture population:
  *   - ids 0-5: single-track I420; dims vary and include ODD widths and
  *     heights (the chroma planes round UP — the classic raw-decode
  *     off-by-one), frame counts 4-7, timescales vary; even ids
  *     all-intra (no stss), odd ids every 2nd sample sync;
  *   - id 6: audio (mp4a, LCG bytes) + I420 video — handler filtering;
  *   - id 7: I420 whose sample 1 is truncated by one byte — that sample
  *     alone emits `decoded = false` (plane-sum mismatch), siblings
  *     decode;
  *   - id 8: codec "avc1" with LCG payloads — every sample emits
  *     `decoded = false` (the permanent inter-frame boundary);
  *   - id 9: not an MP4 (UTF-8 text) — zero rows, zero truth rows.
  *
  * Run once, commit the parquet:
  *   sbt "Test/runMain graft.tools.RawVideoFixture fixtures/rawvideo.parquet"
  */
object RawVideoFixture {

  /** Deterministic YUV planes for frame s of fixture k: smooth in x/y
    * so chroma subsampling is exercised on varying values, and offset
    * per (k, s) so every frame's raster md5 is distinct. */
  def yPlane(k: Int, s: Int, x: Int, y: Int): Int =
    (x * 3 + y * 5 + s * 29 + k * 13) & 0xff
  def uPlane(k: Int, s: Int, cx: Int, cy: Int): Int =
    (cx * 7 + cy * 2 + s * 17 + k * 41) & 0xff
  def vPlane(k: Int, s: Int, cx: Int, cy: Int): Int =
    (cx * 4 + cy * 9 + s * 37 + k * 23) & 0xff

  /** One I420 sample as written into mdat: Y then U then V planes;
    * chroma dims ceil(w/2) x ceil(h/2). */
  def makeI420(k: Int, s: Int, w: Int, h: Int): Array[Byte] = {
    val cw = (w + 1) / 2
    val ch = (h + 1) / 2
    val out = new Array[Byte](w * h + 2 * cw * ch)
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { out(i) = yPlane(k, s, x, y).toByte; i += 1; x += 1 }
      y += 1
    }
    var cy = 0
    while (cy < ch) {
      var cx = 0
      while (cx < cw) { out(i) = uPlane(k, s, cx, cy).toByte; i += 1; cx += 1 }
      cy += 1
    }
    cy = 0
    while (cy < ch) {
      var cx = 0
      while (cx < cw) { out(i) = vPlane(k, s, cx, cy).toByte; i += 1; cx += 1 }
      cy += 1
    }
    out
  }

  /** Generation-time truth: the from-the-spec fixed-point studio-swing
    * BT.601 conversion (ITU-R BT.601 / the classic integer kernel),
    * written independently of the operator. */
  private def pixelTruth(id: Long, t: Int, s: Int, isKey: Boolean,
                         k: Int, w: Int, h: Int): M.FrameTruth = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val row = new Array[Byte](w * 3)
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val c = 298 * (yPlane(k, s, x, y) - 16)
        val d = uPlane(k, s, x / 2, y / 2) - 128
        val e = vPlane(k, s, x / 2, y / 2) - 128
        def cl(i: Int) = if (i < 0) 0 else if (i > 255) 255 else i
        val r = cl((c + 409 * e + 128) >> 8)
        val g = cl((c - 100 * d - 208 * e + 128) >> 8)
        val b = cl((c + 516 * d + 128) >> 8)
        sum += r + g + b
        row(x * 3) = r.toByte
        row(x * 3 + 1) = g.toByte
        row(x * 3 + 2) = b.toByte
        x += 1
      }
      md.update(row)
      y += 1
    }
    M.FrameTruth(id, t, s, isKey, decoded = true, w, h,
      sum.toDouble / (3.0 * w * h),
      md.digest().map("%02x".format(_)).mkString)
  }

  def all(): (Seq[M.Row], Seq[M.FrameTruth]) = {
    val rows = Vector.newBuilder[M.Row]
    val truth = Vector.newBuilder[M.FrameTruth]

    def keyIdx(n: Int, keyEvery: Option[Int]): Set[Int] = keyEvery match {
      case Some(e) => (1 to n by e).map(_ - 1).toSet
      case None => (0 until n).toSet
    }

    // dims deliberately include odd widths/heights (chroma ceil)
    val dims = Vector((32, 24), (33, 24), (32, 25), (37, 23), (48, 32),
      (21, 21))

    def rawPlan(k: Int): M.TrackPlan = {
      val n = 4 + k % 4
      val (w, h) = dims(k % dims.length)
      M.TrackPlan("vide", "I420", 1000L + 50L * k, w, h,
        Vector.tabulate(n)(s => makeI420(k, s, w, h)),
        400L + k, if (k % 2 == 0) None else Some(2), M.chunkPlan(n))
    }

    // ids 0-5: single-track I420
    (0 until 6).foreach { k =>
      val p = rawPlan(k)
      rows += M.Row(k.toLong, "video/mp4", M.assemble(Seq(p)))
      val keys = keyIdx(p.payloads.length, p.keyEvery)
      (0 until p.payloads.length).foreach { s =>
        truth += pixelTruth(k.toLong, 0, s, keys(s), k, p.width, p.height)
      }
    }

    // id 6: audio + I420 — only the vide track may emit rows
    {
      val audio = M.TrackPlan("soun", "mp4a", 16000L, 0, 0,
        Vector.tabulate(12)(s => M.lcgBytes(6, 0, s, 8)), 1024L, None,
        Seq(12))
      val video = rawPlan(2)
      rows += M.Row(6L, "video/mp4", M.assemble(Seq(audio, video)))
      val keys = keyIdx(video.payloads.length, video.keyEvery)
      (0 until video.payloads.length).foreach { s =>
        truth += pixelTruth(6L, 1, s, keys(s), 2, video.width, video.height)
      }
    }

    // id 7: I420 with sample 1 truncated by one byte — plane-sum
    // mismatch, decoded=false for that sample only
    {
      val base = rawPlan(3)
      val cut = base.payloads(1)
      val garbled = base.copy(payloads = base.payloads.updated(1,
        java.util.Arrays.copyOf(cut, cut.length - 1)))
      rows += M.Row(7L, "video/mp4", M.assemble(Seq(garbled)))
      val keys = keyIdx(garbled.payloads.length, garbled.keyEvery)
      (0 until garbled.payloads.length).foreach { s =>
        truth += (if (s == 1)
          M.FrameTruth(7L, 0, s, keys(s), decoded = false, 0, 0, -1.0, "")
        else pixelTruth(7L, 0, s, keys(s), 3, base.width, base.height))
      }
    }

    // id 8: avc1 codec, LCG payloads — the permanent inter-frame
    // boundary, decoded=false per sample
    {
      val p = M.TrackPlan("vide", "avc1", 30000L, 64, 48,
        Vector.tabulate(5)(s => M.lcgBytes(8, 0, s, 180 + s * 11)),
        512L, Some(2), M.chunkPlan(5))
      rows += M.Row(8L, "video/mp4", M.assemble(Seq(p)))
      val keys = keyIdx(5, p.keyEvery)
      (0 until 5).foreach { s =>
        truth += M.FrameTruth(8L, 0, s, keys(s), decoded = false, 0, 0,
          -1.0, "")
      }
    }

    // id 9: not an MP4 — zero rows, zero truth rows
    rows += M.Row(9L, "application/octet-stream",
      "not a video, raw bytes without a box tree".getBytes("UTF-8"))

    (rows.result(), truth.result())
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/rawvideo.parquet")
    val truthOut = out.replace("rawvideo.parquet", "rawvideo_truth.parquet")
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
