package graft.tools

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

/** Generates `fixtures/images.parquet`: small REAL images (PNG + BMP,
  * encoded with the JDK's `javax.imageio`) alongside the ground-truth
  * columns the decode gate oracles against.
  *
  * The expected width/height are the dimensions the image was drawn at;
  * the expected mean is computed from the PIXEL VALUES SET AT DRAW TIME
  * (an exact integer sum and one IEEE division — the same arithmetic
  * [[graft.operators.Multimodal.decodeImage]] performs after decoding),
  * NOT by decoding the encoded bytes. A decode path that fails to
  * actually parse the PNG/BMP container cannot reproduce these numbers;
  * because both formats are lossless the roundtrip must be exact.
  *
  * A few rows carry deliberately non-image payloads (UTF-8 text, a
  * truncated PNG) with `expected_decoded = false` — pinning the
  * row-level failure contract (degrade, never throw).
  *
  * Run once, commit the parquet:
  *   sbt "Test/runMain graft.tools.ImageFixture fixtures/images.parquet"
  */
object ImageFixture {

  /** Deterministic RGB for pixel (x, y) of image i — arbitrary but fixed
    * mixing, full 0-255 range on every channel. */
  def rgb(i: Int, x: Int, y: Int): (Int, Int, Int) = {
    val r = (x * 7 + y * 13 + i * 29) & 0xff
    val g = (x * 11 + y * 3 + i * 41) & 0xff
    val b = (x * 5 + y * 17 + i * 59) & 0xff
    (r, g, b)
  }

  /** One drawn image: encoded bytes + ground truth from the draw loop. */
  def makeImage(i: Int, w: Int, h: Int, format: String)
      : (Array[Byte], Double) = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = rgb(i, x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        sum += r + g + b
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, format, bos),
      s"no $format writer available")
    (bos.toByteArray, sum.toDouble / (3.0 * w * h))
  }

  case class Row(id: Long, media_type: String, payload: Array[Byte],
                 expected_decoded: Boolean, expected_width: Int,
                 expected_height: Int, expected_mean: Double)

  def rows(): Seq[Row] = {
    val images = (0 until 48).map { i =>
      // varying non-square dims, co-prime steps so every (w, h) differs
      val w = 8 + (i * 5) % 23
      val h = 8 + (i * 7) % 17
      val format = if (i % 3 == 2) "bmp" else "png"
      val (bytes, mean) = makeImage(i, w, h, format)
      Row(i.toLong, s"image/$format", bytes,
        expected_decoded = true, w, h, mean)
    }
    val textBytes = (48 until 52).map { i =>
      Row(i.toLong, "application/octet-stream",
        s"not an image, just bytes #$i padded ${"x" * i}"
          .getBytes("UTF-8"),
        expected_decoded = false, 0, 0, -1.0)
    }
    // a REAL png prefix cut mid-stream: exercises the IOException branch
    // (reader recognized the container, then hit EOF), not just the
    // unrecognized-format null return
    val truncated = {
      val (bytes, _) = makeImage(99, 32, 32, "png")
      Seq(Row(52L, "image/png", java.util.Arrays.copyOf(bytes, 24),
        expected_decoded = false, 0, 0, -1.0))
    }
    images ++ textBytes ++ truncated
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/images.parquet")
    val spark = graft.GraftSession("graft-fixtures")
    import spark.implicits._
    // one file, deterministic row order — a stable artifact to commit
    spark.createDataset(rows()).toDF().coalesce(1)
      .write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
