package graft.tools

/** Generates `fixtures/video.parquet`: small REAL MP4 (ISO-BMFF)
  * containers written box-by-box per ISO/IEC 14496-12 — ftyp, mdat, and
  * a moov with per-track tkhd/mdhd/hdlr and full sample tables
  * (stts/stsz/stss/stsc/stco|co64) — alongside the ground truth the
  * video-demux gates oracle against.
  *
  * The sample PAYLOADS are deterministic LCG bytes, not encoded video
  * (codec validity is out of scope — the JDK has no video codec and the
  * demux path never inspects sample contents); the CONTAINER is real:
  * every box has correct sizes/versions/layout, chunk offsets point at
  * the actual mdat positions the samples were written to, and the truth
  * columns (track metadata, per-keyframe byte ranges and md5s) are
  * computed FROM THE BYTES AS WRITTEN. A demux that does not actually
  * walk the box tree and resolve stsc/stco arithmetic cannot reproduce
  * them.
  *
  * Fixture population (ids 0-19 valid, 20-23 degraded):
  *   - video-only and video+audio files; uniform and per-sample stsz;
  *     one- and two-run stts; stss keyframes vs all-intra (no stss);
  *     32-bit stco and 64-bit co64; multi-chunk stsc with two runs.
  *   - id 20: not an MP4 at all (UTF-8 text).
  *   - id 21: a valid file truncated at 60% — moov (written last, the
  *     non-faststart layout) is lost; zero rows from both gates.
  *   - id 22: ftyp only, no moov.
  *   - id 23: VALID moov whose stco points past EOF — container
  *     metadata parses (track truth rows exist) but sample extraction
  *     degrades to zero rows: the two gates witness different failure
  *     surfaces.
  *
  * Run once, commit the parquet:
  *   sbt "Test/runMain graft.tools.VideoFixture fixtures/video.parquet"
  */
object VideoFixture {

  // ---- big-endian writers ---------------------------------------------

  private[tools] def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private[tools] def be32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private[tools] def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v)
  private[tools] def cc(s: String): Array[Byte] = s.getBytes("ISO-8859-1")
  private[tools] def zeros(n: Int): Array[Byte] = new Array[Byte](n)

  private[tools] def box(typ: String, parts: Array[Byte]*): Array[Byte] = {
    val payload = parts.flatten.toArray
    be32(payload.length + 8L) ++ cc(typ) ++ payload
  }
  /** FullBox: version byte + 24-bit flags before the payload. */
  private[tools] def full(typ: String, version: Int, flags: Int,
                   parts: Array[Byte]*): Array[Byte] =
    box(typ, (Array((version & 0xff).toByte) ++
      Array(((flags >> 16) & 0xff).toByte, ((flags >> 8) & 0xff).toByte,
        (flags & 0xff).toByte)) +: parts: _*)

  /** Identity transform matrix (9 × 32-bit fixed point). */
  private[tools] def matrix: Array[Byte] =
    be32(0x10000L) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x10000L) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000L)

  // ---- deterministic sample payloads ----------------------------------

  /** LCG byte j of sample s of track t of fixture k — arbitrary, fixed. */
  def sampleByte(k: Int, t: Int, s: Int, j: Int): Byte =
    ((((k * 2654435761L + t * 40503L + s * 69069L + j * 1103515245L + 12345L)
      >>> 16) & 0xffL).toByte)

  private def sampleBytes(k: Int, t: Int, s: Int, size: Int): Array[Byte] = {
    val a = new Array[Byte](size)
    var j = 0
    while (j < size) { a(j) = sampleByte(k, t, s, j); j += 1 }
    a
  }

  // ---- per-fixture track plans ----------------------------------------

  /** One planned track: everything needed to write its boxes and its
    * truth rows. `sttsRuns` are (count, delta); `chunks` is the
    * samples-per-chunk sequence (must sum to nSamples). */
  private case class TrackPlan(handler: String, timescale: Long,
                               width: Int, height: Int,
                               sizes: Array[Int],
                               sttsRuns: Seq[(Long, Long)],
                               keyEvery: Option[Int],
                               chunks: Seq[Int])

  private def videoPlan(k: Int): TrackPlan = {
    val n = 18 + (k * 7) % 23
    val sizes =
      if (k % 4 == 3) Array.fill(n)(120 + k)
      else Array.tabulate(n)(s =>
        60 + (((k * 31L + s * 17L) * 2654435761L >>> 20) % 300L).toInt)
    val half = n / 2
    TrackPlan("vide", Seq(12800L, 15360L, 30000L, 90000L)(k % 4),
      320 + 16 * (k % 3), 180 + 16 * (k % 3), sizes,
      Seq((half.toLong, 512L), ((n - half).toLong, 640L + k)),
      if (k % 5 == 2) None else Some(7),
      // stsc: first chunk 5 samples, then 7 per chunk (two runs)
      if (n <= 5) Seq(n)
      else Seq(5) ++ Seq.fill((n - 5) / 7)(7) ++
        (if ((n - 5) % 7 == 0) Seq.empty else Seq((n - 5) % 7)))
  }

  private def audioPlan(k: Int): TrackPlan = {
    val n = 30 + k
    TrackPlan("soun", 16000L + 1000L * (k % 3), 0, 0,
      Array.fill(n)(4 * (1 + k % 3)),
      Seq((n.toLong, 1024L)), None, Seq(n))
  }

  // ---- assembly --------------------------------------------------------

  case class TrackTruth(id: Long, track: Int, handler: String,
                        timescale: Long, duration_units: Long,
                        width: Int, height: Int, n_samples: Long,
                        n_keyframes: Long, sample_bytes: Long)
  case class SampleTruth(id: Long, track: Int, sample: Int, offset: Long,
                         size: Int, md5: String)

  /** Build fixture k: full MP4 bytes + truth rows as written. */
  def makeMp4(k: Int): (Array[Byte], Seq[TrackTruth], Seq[SampleTruth]) = {
    val plans = if (k % 2 == 1) Seq(videoPlan(k), audioPlan(k))
                else Seq(videoPlan(k))
    val useCo64 = k % 6 == 5

    val ftyp = box("ftyp", cc("isom"), be32(0x200), cc("isom"), cc("mp42"))

    // mdat layout: per track, chunk by chunk, sequential. Chunk offsets
    // are absolute file offsets (ftyp + mdat header = data base).
    val dataBase = ftyp.length + 8L
    var cursor = dataBase
    val mdatParts = Vector.newBuilder[Array[Byte]]
    // per track: (chunk offsets, per-sample (offset, bytes))
    val layout = plans.zipWithIndex.map { case (p, t) =>
      var s = 0
      val chunkOffs = Vector.newBuilder[Long]
      val sampleOffs = Vector.newBuilder[(Long, Array[Byte])]
      p.chunks.foreach { spc =>
        chunkOffs += cursor
        (0 until spc).foreach { _ =>
          val bytes = sampleBytes(k, t, s, p.sizes(s))
          mdatParts += bytes
          sampleOffs += ((cursor, bytes))
          cursor += bytes.length
          s += 1
        }
      }
      require(s == p.sizes.length,
        s"chunk plan covers $s of ${p.sizes.length} samples")
      (chunkOffs.result(), sampleOffs.result())
    }
    val mdat = box("mdat", mdatParts.result(): _*)
    require(mdat.length == (cursor - dataBase) + 8, "mdat layout drift")

    def trak(p: TrackPlan, t: Int, chunkOffs: Vector[Long]): Array[Byte] = {
      val n = p.sizes.length
      val dur = p.sttsRuns.map { case (c, d) => c * d }.sum
      val tkhd = full("tkhd", 0, 7,
        be32(0), be32(0), be32(t + 1L), be32(0), be32(dur),
        zeros(8), be16(0), be16(0), be16(if (p.handler == "soun") 0x100 else 0),
        be16(0), matrix, be32(p.width.toLong << 16), be32(p.height.toLong << 16))
      val mdhd = full("mdhd", 0, 0,
        be32(0), be32(0), be32(p.timescale), be32(dur),
        be16(0x55c4 /* "und" */), be16(0))
      val hdlr = full("hdlr", 0, 0,
        be32(0), cc(p.handler), zeros(12), Array(0.toByte))
      val stsd = full("stsd", 0, 0, be32(1),
        box(if (p.handler == "vide") "avc1" else "mp4a",
          zeros(6), be16(1), zeros(70)))
      val stts = full("stts", 0, 0, be32(p.sttsRuns.length.toLong),
        p.sttsRuns.flatMap { case (c, d) => be32(c) ++ be32(d) }.toArray)
      val uniform = p.sizes.distinct.length == 1
      val stsz = full("stsz", 0, 0,
        be32(if (uniform) p.sizes(0).toLong else 0L), be32(n.toLong),
        if (uniform) Array.emptyByteArray
        else p.sizes.flatMap(s => be32(s.toLong)))
      val stss = p.keyEvery.map { e =>
        val keys = (1 to n by e).toSeq
        full("stss", 0, 0, be32(keys.length.toLong),
          keys.flatMap(sn => be32(sn.toLong)).toArray)
      }
      // stsc runs from the chunk plan: emit a run at every
      // samples-per-chunk change (1-based first_chunk)
      val stscRuns = p.chunks.zipWithIndex
        .filter { case (spc, i) => i == 0 || p.chunks(i - 1) != spc }
        .map { case (spc, i) => (i + 1L, spc.toLong) }
      val stsc = full("stsc", 0, 0, be32(stscRuns.length.toLong),
        stscRuns.flatMap { case (fc, spc) =>
          be32(fc) ++ be32(spc) ++ be32(1L) }.toArray)
      val co = if (useCo64)
        full("co64", 0, 0, be32(chunkOffs.length.toLong),
          chunkOffs.flatMap(be64).toArray)
      else
        full("stco", 0, 0, be32(chunkOffs.length.toLong),
          chunkOffs.flatMap(be32).toArray)
      val stbl = box("stbl",
        Seq(stsd, stts, stsz) ++ stss.toSeq ++ Seq(stsc, co): _*)
      val dinf = box("dinf", full("dref", 0, 0, be32(1), full("url ", 0, 1)))
      val mhd = if (p.handler == "vide") full("vmhd", 0, 1, be16(0), zeros(6))
                else full("smhd", 0, 0, be16(0), be16(0))
      val minf = box("minf", mhd, dinf, stbl)
      val mdia = box("mdia", mdhd, hdlr, minf)
      box("trak", tkhd, mdia)
    }

    val mvhdTs = 1000L
    val mvhd = full("mvhd", 0, 0,
      be32(0), be32(0), be32(mvhdTs), be32(0),
      be32(0x10000L), be16(0x100), be16(0), zeros(8), matrix,
      zeros(24), be32(plans.length + 1L))
    val moov = box("moov",
      mvhd +: plans.zipWithIndex.map { case (p, t) =>
        trak(p, t, layout(t)._1) }: _*)

    val file = ftyp ++ mdat ++ moov

    val md = java.security.MessageDigest.getInstance("MD5")
    val trackTruth = plans.zipWithIndex.map { case (p, t) =>
      val n = p.sizes.length
      val nKeys = p.keyEvery.map(e => (1 to n by e).length.toLong)
        .getOrElse(n.toLong)
      TrackTruth(k.toLong, t, p.handler, p.timescale,
        p.sttsRuns.map { case (c, d) => c * d }.sum,
        p.width, p.height, n.toLong, nKeys,
        p.sizes.foldLeft(0L)(_ + _))
    }
    // keyframe sample truth for the VIDEO track only (what the gate
    // extracts): offsets/sizes/md5 from the bytes as written
    val sampleTruth = plans.zipWithIndex.flatMap { case (p, t) =>
      if (p.handler != "vide") Seq.empty
      else {
        val keyIdx: Set[Int] = p.keyEvery match {
          case Some(e) => (1 to p.sizes.length by e).map(_ - 1).toSet
          case None => p.sizes.indices.toSet
        }
        layout(t)._2.zipWithIndex.collect {
          case ((off, bytes), s) if keyIdx(s) =>
            md.reset()
            md.update(bytes)
            SampleTruth(k.toLong, t, s, off, bytes.length,
              md.digest().map("%02x".format(_)).mkString)
        }
      }
    }
    (file, trackTruth, sampleTruth)
  }

  case class Row(id: Long, media_type: String, payload: Array[Byte])

  /** Fixture rows + truth tables. Ids 20-23 carry the degraded
    * payloads documented on the object. */
  def all(): (Seq[Row], Seq[TrackTruth], Seq[SampleTruth]) = {
    val built = (0 until 20).map(k => (k, makeMp4(k)))
    val rows = built.map { case (k, (bytes, _, _)) =>
      Row(k.toLong, "video/mp4", bytes) }
    val tracks = Vector.newBuilder[TrackTruth]
    val samples = Vector.newBuilder[SampleTruth]
    built.foreach { case (_, (_, tt, st)) => tracks ++= tt; samples ++= st }

    val (full20, _, _) = makeMp4(2)
    val corrupt = Seq(
      Row(20L, "application/octet-stream",
        "not a video, just bytes padded yyyyyyyyyy".getBytes("UTF-8")),
      Row(21L, "video/mp4",
        java.util.Arrays.copyOf(full20, (full20.length * 0.6).toInt)),
      Row(22L, "video/mp4",
        box("ftyp", cc("isom"), be32(0x200), cc("isom"))))

    // id 23: valid moov, stco pointing past EOF — metadata parses,
    // extraction degrades. Rebuild fixture 4 shifted: patch every stco
    // entry by +2^24 via a targeted re-assembly (offsets are absolute,
    // so just add the delta when writing stco).
    val (bytes23, tt23) = {
      val (orig, tt, _) = makeMp4(4)
      // locate the stco box and add a large delta to each offset:
      // fixture 4 is video-only with 32-bit stco. Search from the END —
      // moov trails the file, so the last "stco" fourcc is the real one
      // (LCG mdat bytes could collide with the pattern earlier)
      val pat = cc("stco")
      val idx = orig.indices.reverse.find(i => i + 4 <= orig.length &&
        orig(i) == pat(0) && orig(i + 1) == pat(1) &&
        orig(i + 2) == pat(2) && orig(i + 3) == pat(3)).get
      val out = orig.clone()
      val nOff = ((out(idx + 8) & 0xff) << 24) | ((out(idx + 9) & 0xff) << 16) |
        ((out(idx + 10) & 0xff) << 8) | (out(idx + 11) & 0xff)
      (0 until nOff).foreach { c =>
        val p = idx + 12 + c * 4
        // add 2^24 to the big-endian offset: bump the top byte
        out(p) = ((out(p) & 0xff) + 1).toByte
      }
      (out, tt.map(t => t.copy(id = 23L)))
    }
    tracks ++= tt23

    (rows ++ corrupt :+ Row(23L, "video/mp4", bytes23), tracks.result(),
      samples.result())
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/video.parquet")
    val tracksOut = out.replace("video.parquet", "video_tracks_truth.parquet")
    val samplesOut = out.replace("video.parquet", "video_samples_truth.parquet")
    val spark = graft.GraftSession("graft-fixtures")
    import spark.implicits._
    val (rows, tracks, samples) = all()
    spark.createDataset(rows).toDF().coalesce(1)
      .write.mode("overwrite").parquet(out)
    spark.createDataset(tracks).toDF().coalesce(1)
      .write.mode("overwrite").parquet(tracksOut)
    spark.createDataset(samples).toDF().coalesce(1)
      .write.mode("overwrite").parquet(samplesOut)
    spark.stop()
  }
}
