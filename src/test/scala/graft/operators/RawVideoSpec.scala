package graft.operators

import graft.SparkSpec
import graft.tools.RawVideoFixture

/** Raw I420 pixel decode: demux → sample slice → plane walk → fixed-point
  * BT.601, against generation-time truth computed by an independent
  * from-the-spec conversion. I420 is lossless, so equality is EXACT —
  * no codec-drift tolerance anywhere. */
class RawVideoSpec extends SparkSpec {

  private lazy val (rows, truth) = RawVideoFixture.all()

  private def rec(r: graft.tools.MjpegFixture.Row) =
    Multimodal.MediaRecord(r.id, r.payload, r.media_type, 0, 0)

  test("every fixture frame decodes bit-exactly to its truth") {
    val byId = truth.groupBy(_.id)
    rows.filter(_.id <= 8).foreach { r =>
      val got = VideoDemux.decodeVideoFrames(rec(r)).toSeq
      val want = byId.getOrElse(r.id, Seq.empty).map(t =>
        VideoDemux.FrameDecode(t.id, t.track, t.sample, t.is_key,
          t.decoded, t.width, t.height, t.mean_pixel, t.raster_md5))
      assert(got == want, s"fixture ${r.id}: $got != $want")
    }
  }

  test("odd dimensions round the chroma planes up") {
    // fixtures with odd width and/or height (33x24, 32x25, 37x23,
    // 21x21) must decode — a floor-division plane layout would reject
    // the sample on a plane-sum mismatch
    val oddIds = Seq(1L, 2L, 3L, 5L)
    oddIds.foreach { id =>
      val got = VideoDemux.decodeVideoFrames(rec(rows.find(_.id == id).get))
      assert(got.forall(_.decoded), s"odd-dim fixture $id failed")
    }
    // and the signature itself rejects every off-by-one length
    val w = 33; val h = 25
    val exact = w * h + 2 * ((w + 1) / 2) * ((h + 1) / 2)
    assert(VideoDemux.i420Signature(new Array[Byte](exact), w, h).isDefined)
    assert(VideoDemux.i420Signature(new Array[Byte](exact - 1), w, h).isEmpty)
    assert(VideoDemux.i420Signature(new Array[Byte](exact + 1), w, h).isEmpty)
  }

  test("degradation is layered: container, codec, sample") {
    // not-an-MP4 (id 9) emits zero rows
    assert(VideoDemux.decodeVideoFrames(
      rec(rows.find(_.id == 9).get)).isEmpty)
    // avc1 (id 8): container parses, no sample decodes — the permanent
    // inter-frame boundary as per-sample decoded=false rows
    val avc1 = VideoDemux.decodeVideoFrames(rec(rows.find(_.id == 8).get)).toSeq
    assert(avc1.size == 5 && avc1.forall(f => !f.decoded && f.rasterMd5.isEmpty))
    // truncated sample (id 7, sample 1) fails alone; siblings decode
    val mixed = VideoDemux.decodeVideoFrames(rec(rows.find(_.id == 7).get)).toSeq
    assert(mixed.filter(_.decoded).map(_.sample) ==
      mixed.map(_.sample).filter(_ != 1))
  }

  test("handler filtering and the unified decoder's jpeg path") {
    // A/V fixture (id 6): only the vide track emits, all samples decode
    val av = VideoDemux.decodeVideoFrames(rec(rows.find(_.id == 6).get)).toSeq
    assert(av.nonEmpty && av.forall(_.track == 1) && av.forall(_.decoded))
    // the unified decoder still decodes MJPEG fixtures identically to
    // the jpeg-only path (dispatch, not replacement)
    val (mrows, _) = graft.tools.MjpegFixture.all()
    val mj = mrows.find(_.id == 0).get
    val viaUnified = VideoDemux.decodeVideoFrames(
      Multimodal.MediaRecord(mj.id, mj.payload, mj.media_type, 0, 0)).toSeq
    val viaJpeg = VideoDemux.decodeJpegFrames(
      Multimodal.MediaRecord(mj.id, mj.payload, mj.media_type, 0, 0)).toSeq
    assert(viaUnified == viaJpeg)
  }

  test("committed fixture parquet matches the in-memory generator") {
    // the gate reads the COMMITTED parquet; regenerate-and-diff pins it
    val committed = spark.read.parquet(
        graft.util.Fixtures.rawVideoTruthPath)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getBoolean(3), r.getBoolean(4), r.getInt(5), r.getInt(6),
        r.getDouble(7), r.getString(8))).toSet
    val generated = truth.map(t => (t.id, t.track, t.sample, t.is_key,
      t.decoded, t.width, t.height, t.mean_pixel, t.raster_md5)).toSet
    assert(committed == generated,
      "committed rawvideo_truth.parquet is stale — regenerate with " +
        "sbt \"Test/runMain graft.tools.RawVideoFixture\"")
  }
}
