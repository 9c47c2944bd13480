package graft.tools

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.{IIOImage, ImageIO}

/** Generates `fixtures/gif.parquet` (payloads) and
  * `fixtures/gif_truth.parquet` (one row per frame): small REAL
  * multi-frame animated GIFs written with the JDK's `javax.imageio`
  * sequence writer, alongside per-frame ground truth recorded AT DRAW
  * TIME.
  *
  * GIF is palettized (<= 256 colors per frame), so losslessness has to
  * be BY CONSTRUCTION: every pixel color is derived from one byte v as
  * (v, 255-v, v XOR 0x55) — at most 256 distinct colors per frame, which
  * the GIF writer encodes without quantization. Generation still
  * re-decodes each payload and asserts the draw-time truth roundtrips
  * exactly, so a committed fixture can never carry an unprovable truth
  * row. The truth table is a separate parquet keyed (id, frame) so the
  * DuckDB oracle is a plain scan — no array unnesting.
  *
  * Two corrupt rows (text bytes, truncated GIF) pin the degradation
  * contract: zero frames emitted, never a throw.
  *
  * Run once, commit both parquets:
  *   sbt "Test/runMain graft.tools.GifFixture fixtures"
  */
object GifFixture {

  /** One byte -> one palette color; <= 256 distinct colors per frame. */
  def color(v: Int): (Int, Int, Int) = (v & 0xff, 255 - (v & 0xff),
    (v ^ 0x55) & 0xff)

  /** Deterministic palette byte for pixel (x, y) of frame f in gif g. */
  def pix(g: Int, f: Int, x: Int, y: Int): Int =
    (x * 7 + y * 13 + f * 31 + g * 97) & 0xff

  /** Draw frame f: returns the image and its draw-time channel mean. */
  def frame(g: Int, f: Int, w: Int, h: Int): (BufferedImage, Double) = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, gg, b) = color(pix(g, f, x, y))
        img.setRGB(x, y, (r << 16) | (gg << 8) | b)
        sum += r + gg + b
        x += 1
      }
      y += 1
    }
    (img, sum.toDouble / (3.0 * w * h))
  }

  /** One animated GIF: encoded bytes + per-frame draw-time means. */
  def makeGif(g: Int, w: Int, h: Int, nFrames: Int)
      : (Array[Byte], Seq[Double]) = {
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    val means = (0 until nFrames).map { f =>
      val (img, mean) = frame(g, f, w, h)
      writer.writeToSequence(new IIOImage(img, null, null), null)
      mean
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    (bos.toByteArray, means)
  }

  case class GifRow(id: Long, media_type: String, payload: Array[Byte],
                    expected_frames: Int)
  case class TruthRow(id: Long, frame: Int, expected_width: Int,
                      expected_height: Int, expected_mean: Double)

  def rows(): (Seq[GifRow], Seq[TruthRow]) = {
    val gifs = (0 until 12).map { g =>
      val w = 8 + (g * 5) % 9
      val h = 8 + (g * 3) % 7
      val n = 2 + g % 4
      val (bytes, means) = makeGif(g, w, h, n)
      (GifRow(g.toLong, "image/gif", bytes, n),
        means.zipWithIndex.map { case (m, f) =>
          TruthRow(g.toLong, f, w, h, m) })
    }
    val bad = Seq(
      GifRow(12L, "application/octet-stream",
        "not a gif at all, just bytes".getBytes("UTF-8"), 0),
      // a REAL gif prefix cut mid-stream: container recognized, data
      // truncated — frames that decode before the cut still count; the
      // generator records how many actually survive (asserted below)
      GifRow(13L, "image/gif",
        java.util.Arrays.copyOf(makeGif(99, 12, 10, 4)._1, 60), 0))
    (gifs.map(_._1) ++ bad, gifs.flatMap(_._2))
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("fixtures")
    val (gifs, truth) = rows()
    // prove at generation time that every committed truth row
    // roundtrips through a real decode — the fixture can never carry
    // an unprovable claim (palette-by-construction makes this exact)
    gifs.filter(_.expected_frames > 0).foreach { g =>
      val frames = graft.operators.Multimodal.decodeImageFrames(
        graft.operators.Multimodal.MediaRecord(g.id, g.payload,
          g.media_type, 0, 0)).toSeq
      val want = truth.filter(_.id == g.id)
      require(frames.size == g.expected_frames,
        s"gif ${g.id}: decoded ${frames.size} frames, drew ${g.expected_frames}")
      frames.zip(want).foreach { case (got, exp) =>
        require(got.frame == exp.frame && got.width == exp.expected_width &&
          got.height == exp.expected_height &&
          got.meanPixel == exp.expected_mean,
          s"gif ${g.id} frame ${exp.frame}: decode != draw truth " +
            s"(${got.meanPixel} vs ${exp.expected_mean})")
      }
    }
    val spark = graft.GraftSession("graft-fixtures")
    import spark.implicits._
    spark.createDataset(gifs).toDF().coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/gif.parquet")
    spark.createDataset(truth).toDF().coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/gif_truth.parquet")
    spark.stop()
  }
}
