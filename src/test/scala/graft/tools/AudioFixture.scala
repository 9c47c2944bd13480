package graft.tools

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

/** Generates `fixtures/audio.parquet`: small REAL WAV files (PCM, encoded
  * with the JDK's `javax.sound.sampled` — zero new dependencies) alongside
  * the ground-truth columns the audio-decode gate oracles against.
  *
  * The expected channel count / sample rate / frame count are the values
  * the stream was SYNTHESIZED at; the expected RMS is computed from the
  * INTEGER SAMPLE VALUES WRITTEN INTO THE PCM STREAM (an exact integer
  * sum of squares, one IEEE division, one sqrt, one final division — the
  * same arithmetic [[graft.operators.Multimodal.decodeAudio]] performs
  * after decoding), NOT by re-reading the encoded bytes. WAV PCM is
  * lossless, so a decode that actually parses the RIFF container must
  * reproduce these numbers exactly; one that does not cannot.
  *
  * A few rows carry deliberately non-audio payloads (UTF-8 text, a
  * truncated WAV header) with `expected_decoded = false` — pinning the
  * row-level failure contract (degrade, never throw).
  *
  * Run once, commit the parquet:
  *   sbt "Test/runMain graft.tools.AudioFixture fixtures/audio.parquet"
  */
object AudioFixture {

  /** Deterministic sample s(i) for stream k, full 16-bit range: a mix of
    * two integer "tones" and an LCG noise term — arbitrary but fixed. */
  def sample16(k: Int, i: Int): Int = {
    val lcg = (i * 1103515245L + k * 12345L) & 0x7fffffffL
    val tone = ((i * (k + 3)) % 200 - 100) * 250
    val noise = ((lcg >> 8) % 8192L).toInt - 4096
    math.max(-32768, math.min(32767, tone + noise))
  }

  /** One synthesized WAV: encoded bytes + RMS truth from the write loop.
    * 16-bit PCM is signed little-endian; 8-bit PCM is unsigned (the WAV
    * conventions), samples centred by -128 for the truth arithmetic. */
  def makeWav(k: Int, rate: Int, channels: Int, frames: Int,
              bits: Int): (Array[Byte], Double) = {
    val total = frames * channels
    val pcm = new Array[Byte](total * (bits / 8))
    var sumSq = 0L
    var i = 0
    while (i < total) {
      if (bits == 16) {
        val s = sample16(k, i)
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        sumSq += s.toLong * s
      } else {
        val u = (sample16(k, i) >> 8) + 128 // 0..255 unsigned 8-bit
        pcm(i) = u.toByte
        val s = u - 128
        sumSq += s.toLong * s
      }
      i += 1
    }
    val fmt = new AudioFormat(rate.toFloat, bits, channels,
      /* signed = */ bits == 16, /* bigEndian = */ false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt,
      frames.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    val full = if (bits == 16) 32768.0 else 128.0
    (bos.toByteArray, math.sqrt(sumSq.toDouble / total) / full)
  }

  case class Row(id: Long, media_type: String, payload: Array[Byte],
                 expected_decoded: Boolean, expected_channels: Int,
                 expected_sample_rate: Int, expected_frames: Long,
                 expected_rms: Double)

  /** Per-25ms-window truth for [[graft.operators.Multimodal
    * .decodeAudioFrames]]: window boundaries and RMS computed from the
    * SAME integer samples the stream was synthesized from (identical
    * arithmetic to the decoder — sum of squares as long, one division,
    * one sqrt, one full-scale division). */
  case class FrameTruth(id: Long, frame: Int, expected_samples: Int,
                        expected_rms: Double)

  /** Replays the synthesis stream of wav `k` and cuts it into windows
    * of `frameMs` milliseconds — one truth row per window. */
  def frameTruth(k: Int, rate: Int, channels: Int, frames: Int,
                 bits: Int, frameMs: Int): Seq[FrameTruth] = {
    val winFrames = math.max(1, rate * frameMs / 1000)
    val full = if (bits == 16) 32768.0 else 128.0
    (0 until frames by winFrames).zipWithIndex.map { case (f0, w) =>
      val f1 = math.min(f0 + winFrames, frames)
      var sumSq = 0L
      var i = f0 * channels
      while (i < f1 * channels) {
        val s = if (bits == 16) sample16(k, i) else (sample16(k, i) >> 8)
        sumSq += s.toLong * s
        i += 1
      }
      val n = (f1 - f0) * channels
      FrameTruth(k.toLong, w, n, math.sqrt(sumSq.toDouble / n) / full)
    }
  }

  def rows(): Seq[Row] = {
    val waves = (0 until 24).map { k =>
      val rate = Seq(8000, 16000, 22050, 44100)(k % 4)
      val channels = 1 + k % 2
      val frames = 300 + (k * 37) % 500
      val bits = if (k % 5 == 4) 8 else 16
      val (bytes, rms) = makeWav(k, rate, channels, frames, bits)
      Row(k.toLong, "audio/wav", bytes, expected_decoded = true,
        channels, rate, frames.toLong, rms)
    }
    val textBytes = (24 until 28).map { k =>
      Row(k.toLong, "application/octet-stream",
        s"not audio, just bytes #$k padded ${"y" * k}".getBytes("UTF-8"),
        expected_decoded = false, 0, 0, 0L, -1.0)
    }
    // a REAL wav prefix cut inside the data chunk: the reader recognizes
    // the RIFF container, then hits EOF mid-stream — the IOException
    // branch, not just the unrecognized-format one
    val truncated = {
      val (bytes, _) = makeWav(99, 16000, 1, 400, 16)
      Seq(Row(28L, "audio/wav", java.util.Arrays.copyOf(bytes, 52),
        expected_decoded = false, 0, 0, 0L, -1.0))
    }
    waves ++ textBytes ++ truncated
  }

  /** Per-window truth rows for every decodable fixture wav, mirroring
    * the parameters in [[rows]] (25 ms windows). */
  def frameTruthRows(): Seq[FrameTruth] =
    (0 until 24).flatMap { k =>
      val rate = Seq(8000, 16000, 22050, 44100)(k % 4)
      val channels = 1 + k % 2
      val frames = 300 + (k * 37) % 500
      val bits = if (k % 5 == 4) 8 else 16
      frameTruth(k, rate, channels, frames, bits, frameMs = 25)
    }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/audio.parquet")
    val framesOut = out.replace("audio.parquet", "audio_frames_truth.parquet")
    val spark = graft.GraftSession("graft-fixtures")
    import spark.implicits._
    // one file, deterministic row order — a stable artifact to commit
    spark.createDataset(rows()).toDF().coalesce(1)
      .write.mode("overwrite").parquet(out)
    spark.createDataset(frameTruthRows()).toDF().coalesce(1)
      .write.mode("overwrite").parquet(framesOut)
    spark.stop()
  }
}
