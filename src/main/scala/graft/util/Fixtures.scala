package graft.util

import java.io.File

/** Locations of the committed test fixtures (real media bytes plus
  * generation-time ground truth). Resolution order:
  *
  *   1. `SPARK_GRAFT_FIXTURES_DIR` env var, for a harness running the
  *      jar from outside the checkout;
  *   2. `${user.dir}/fixtures` — sbt and the driver both run from the
  *      repo root, so this is the committed directory in practice;
  *   3. the historical absolute default, so older harness wiring keeps
  *      working if neither of the above resolves.
  *
  * One definition consumed by the Spark side, the DuckDB oracle SQL and
  * the specs, so all three always read the same files.
  */
object Fixtures {
  private def dir: String =
    sys.env.get("SPARK_GRAFT_FIXTURES_DIR").filter(_.nonEmpty).getOrElse {
      val cwd = new File(sys.props.getOrElse("user.dir", "."), "fixtures")
      if (cwd.isDirectory) cwd.getAbsolutePath else "/root/repo/fixtures"
    }

  /** `images.parquet` — real PNG/BMP/JPEG/GIF bytes + draw-time truth
    * (regenerate: `sbt "Test/runMain graft.tools.ImageFixture"`). */
  def imagePath: String = new File(dir, "images.parquet").getAbsolutePath

  /** `audio.parquet` — real WAV/PCM bytes + synthesis-time truth
    * (regenerate: `sbt "Test/runMain graft.tools.AudioFixture"`). */
  def audioPath: String = new File(dir, "audio.parquet").getAbsolutePath

  /** `audio_frames_truth.parquet` — one synthesis-time truth row per
    * 25 ms window of each fixture wav (written by AudioFixture). */
  def audioFramesTruthPath: String =
    new File(dir, "audio_frames_truth.parquet").getAbsolutePath

  /** `gif.parquet` — real multi-frame animated GIFs (regenerate both
    * with `sbt "Test/runMain graft.tools.GifFixture"`). */
  def gifPath: String = new File(dir, "gif.parquet").getAbsolutePath

  /** `gif_truth.parquet` — one draw-time truth row per (gif, frame). */
  def gifTruthPath: String =
    new File(dir, "gif_truth.parquet").getAbsolutePath

  /** `video.parquet` — real MP4 (ISO-BMFF) containers (regenerate all
    * three with `sbt "Test/runMain graft.tools.VideoFixture"`). */
  def videoPath: String = new File(dir, "video.parquet").getAbsolutePath

  /** `mjpeg.parquet` — real MP4 containers whose video samples are real
    * JPEG frames (regenerate both with
    * `sbt "Test/runMain graft.tools.MjpegFixture"`). */
  def mjpegPath: String = new File(dir, "mjpeg.parquet").getAbsolutePath

  /** `mjpeg_truth.parquet` — one generation-time truth row per
    * (mjpeg fixture, video-track sample): decode flag, dims, exact mean,
    * raster md5. */
  def mjpegTruthPath: String =
    new File(dir, "mjpeg_truth.parquet").getAbsolutePath

  /** `rawvideo.parquet` — real MP4 containers whose video samples are
    * uncompressed planar I420 frames (regenerate both with
    * `sbt "Test/runMain graft.tools.RawVideoFixture"`). */
  def rawVideoPath: String =
    new File(dir, "rawvideo.parquet").getAbsolutePath

  /** `rawvideo_truth.parquet` — one generation-time truth row per
    * (raw fixture, video-track sample); I420 is lossless, so the
    * decode must match EXACTLY. */
  def rawVideoTruthPath: String =
    new File(dir, "rawvideo_truth.parquet").getAbsolutePath

  /** `video_tracks_truth.parquet` — one write-time truth row per
    * (video, track). */
  def videoTracksTruthPath: String =
    new File(dir, "video_tracks_truth.parquet").getAbsolutePath

  /** `video_samples_truth.parquet` — one write-time truth row per
    * (video, video-track keyframe sample): byte range + md5. */
  def videoSamplesTruthPath: String =
    new File(dir, "video_samples_truth.parquet").getAbsolutePath
}
