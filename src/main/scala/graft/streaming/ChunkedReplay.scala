package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Deterministic chunked file-source replay harness — the shared
  * machinery behind [[Watermarks.lateDataReplay]] (the late-data
  * correctness gate) and ScaleProbe's streaming-state branch.
  *
  * Staging: `rows` are written ONCE as parquet partitioned by a 0-based
  * `chunk` column (distributed write — only file HANDLING ever touches
  * the driver). Replay: chunk k's part files are moved into the watched
  * stream directory, then `drain()` runs before chunk k+1 moves. With
  * `processAllAvailable` as the drain, each chunk runs as its own data
  * micro-batch WITH the no-data watermark-advance batch behind it —
  * the property that makes watermark semantics a pure function of the
  * data (see lateDataReplay's scaladoc for why pre-staging everything
  * with maxFilesPerTrigger would lag the late filter a batch behind).
  *
  * Chunk values outside 0..nChunks-1 would stage into directories the
  * replay never visits — their rows silently vanishing from the result
  * — so staging validates the produced partition set and throws.
  *
  * `payload` (aliased columns over `source`) defines the staged row
  * shape; `chunk` is evaluated against `source` too, so it may be a
  * window expression over source columns the payload drops. */
final class ChunkedReplay(source: DataFrame, payload: Seq[Column],
                          chunk: Column, nChunks: Int) {
  require(nChunks > 0, s"nChunks must be positive, got $nChunks")

  // The replay root holds only spent-after-the-run artifacts (staged
  // chunk copy, watched stream dir, checkpoint): cleanup() deletes it.
  val root: java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft-replay-")
  /** Point the file-source `readStream` here, with [[schema]]. */
  val streamDir: java.nio.file.Path = root.resolve("stream")
  private val staged = root.resolve("staged")

  /** Schema of the staged rows (the `__chunk` column never reaches the
    * stream — it only names the staging partition dirs). */
  val schema: StructType = source.select(payload: _*).schema
  require(!schema.fieldNames.contains("__chunk"),
    "payload must not contain a __chunk column")

  locally {
    java.nio.file.Files.createDirectories(streamDir)
    // repartition by chunk value sends each chunk to one task;
    // partitionBy splits the output by directory
    source.select(payload :+ chunk.cast("int").as("__chunk"): _*)
      .repartition(nChunks, col("__chunk"))
      .write.partitionBy("__chunk").mode("overwrite")
      .parquet(staged.toString)
    val dirs = graft.util.FsUtil.listDirs(staged, "__chunk=")
      .map(_.getFileName.toString.stripPrefix("__chunk="))
    val bad = dirs.filterNot(d =>
      scala.util.Try(d.toInt).toOption.exists(k => k >= 0 && k < nChunks))
    require(bad.isEmpty,
      s"chunk values outside 0..${nChunks - 1} would be silently " +
        s"skipped by the replay: ${bad.mkString(", ")}")
  }

  /** Move chunk k's staged files into the watched dir (no drain) — the
    * unit step `run` composes; public so a recovery test can kill and
    * restart the consuming query at a chosen chunk boundary. */
  def moveChunk(k: Int): Unit =
    graft.util.FsUtil.listFiles(staged.resolve(s"__chunk=$k"), ".parquet")
      .zipWithIndex
      .foreach { case (p, i) =>
        java.nio.file.Files.move(p,
          streamDir.resolve(f"chunk$k%02d-$i%03d.parquet"))
      }

  /** Move chunk k's files into the watched dir, call `drain()`, repeat
    * for k = 0..nChunks-1 in order. */
  def run(drain: () => Unit): Unit =
    (0 until nChunks).foreach { k => moveChunk(k); drain() }

  /** Delete the staged copy, stream dir, and anything else under the
    * replay root (e.g. a checkpoint the caller placed there). */
  def cleanup(): Unit = graft.util.FsUtil.deleteRecursively(root)
}

/** Chunk-column builders whose ts-monotonicity holds BY CONSTRUCTION,
  * not by fixture luck. The calendar expression they replace —
  * `floor((dayofmonth(ts)-1)/5)` — is monotone only within one month:
  * on a fixture spanning a month boundary it stays in-range (so
  * [[ChunkedReplay]]'s staging validation passes) while later-month
  * events land in EARLIER chunks, and every high-water-mark consumer
  * (rate cap, watermarks) silently drops them (ADVICE r14). */
object ReplayChunks {

  /** Split the corpus into `nChunks` contiguous epoch-µs ranges. One
    * 2-value aggregate fetches min/max(unix_micros(ts)); the chunk
    * boundaries `b_k = mn + floor(k·span/n)` are computed in exact
    * BigInt on the driver and emitted as a CASE WHEN over long
    * literals — codegen-friendly, no floating-point division whose
    * rounding could flip a boundary row, and non-decreasing in ts by
    * construction (equal timestamps always share a chunk, which is
    * what the high-water-mark determinism contract needs). */
  def byTime(df: DataFrame, tsCol: String, nChunks: Int): Column = {
    require(nChunks > 0, s"nChunks must be positive, got $nChunks")
    // cast-to-TIMESTAMP first: a no-op on LTZ, and lifts NTZ (what a
    // raw read of the testdata parquet infers) into unix_micros's
    // domain — the session-tz reinterpretation is monotone, which is
    // all a chunk boundary needs
    def us(c: Column) = unix_micros(c.cast("timestamp"))
    val row = df.agg(min(us(col(tsCol))), max(us(col(tsCol)))).head()
    require(!row.isNullAt(0),
      s"cannot derive chunk boundaries: no non-null $tsCol values")
    val mn = row.getLong(0)
    val span = BigInt(row.getLong(1)) - BigInt(mn) + 1
    val bounds = (1 until nChunks)
      .map(k => mn + ((BigInt(k) * span) / nChunks).toLong)
    val tsUs = us(col(tsCol))
    bounds.zipWithIndex
      .foldLeft(Option.empty[Column]) { case (acc, (b, i)) =>
        Some(acc.fold(when(tsUs < b, i))(_.when(tsUs < b, i)))
      }
      .fold(lit(0): Column)(_.otherwise(nChunks - 1))
      .cast("int")
  }
}

/** Per-prefix micro-batch counts of the most recent replay — the
  * bench emits these so a slow streaming-gate number is immediately
  * attributable (wall ≈ batches × per-batch floor; a changed batch
  * count is a semantics/code change, an unchanged one is host noise). */
object ReplayStats {
  val batches = new java.util.concurrent.ConcurrentHashMap[String, Long]()
}

/** Shared replay-to-batch plumbing for gates that drive a streaming
  * aggregation through a [[ChunkedReplay]] and return its append-mode
  * emission set as a batch frame bound to the CALLER's session —
  * [[Watermarks.lateDataReplay]] and
  * [[StreamingSessions.sessionReplay]] differ only in the aggregation
  * they plug in. One definition so the scoped-session conf-replay
  * subtleties are fixed in one place.
  *
  * Trigger floor, measured (sf0.1 watermark gate, 4 chunks, warm JVM):
  * 7 micro-batches (4 data + 3 no-data), triggerExecution 400-900 ms
  * each — addBatch dominates even at 0 input rows (incremental plan
  * execution + memory-sink commit). The wall for these gates IS
  * batches × that floor. `Trigger.AvailableNow` was evaluated and
  * rejected: the data micro-batch per chunk is the SEMANTICS (each
  * chunk must see the watermark advanced by the previous one, with a
  * no-data batch between), so AvailableNow cannot reduce the batch
  * count — it would only add a per-chunk query restart (stream
  * re-planning, state-store reload) on top. The offset log, commit log
  * and state-store files each micro-batch writes go through
  * [[LocalCheckpointFiles]]: Spark's default manager forks a `chmod`
  * per file when libhadoop is absent (about 35 ms a file, the same on
  * tmpfs as on disk), which had put about 100 ms of walCommit +
  * commitOffsets on every batch. */
private[streaming] object ReplayHarness {

  /** Stage `events` by `chunk`, run `agg(fileStream)` in a scoped
    * session ([[graft.GraftSession.scoped]]: shuffle partitions
    * pinned to `statePartitions` — micro-batch cost scales with
    * state-store partition count), drain per chunk in order, and
    * return the memory sink's rows. The sink's uniquely-named temp
    * view is dropped after materialization (a long-lived session
    * re-running a gate would otherwise accumulate sinks without
    * bound), and the result is rebound to the caller's session. */
  def replayToBatch(spark: org.apache.spark.sql.SparkSession,
                    events: DataFrame, payload: Seq[Column], chunk: Column,
                    nChunks: Int, statePartitions: Int, namePrefix: String)
                   (agg: DataFrame => DataFrame): DataFrame =
    replayToBatchN(spark, Seq((events, payload, chunk)), nChunks,
      statePartitions, namePrefix)(streams => agg(streams.head))

  /** N-source generalization of [[replayToBatch]] — each source gets
    * its own [[ChunkedReplay]] (own staged copy, own watched dir, own
    * file-source stream), and the replay moves chunk k of EVERY source
    * before draining, so all sources advance through event time in
    * lockstep. That lockstep is what makes a multi-input stateful
    * operator (stream-stream join) a pure function of the data: the
    * global watermark after chunk k is min-across-inputs of
    * (max event time over chunks <= k) - delay, the same value batch
    * SQL can reconstruct. All sources must share `nChunks` and should
    * derive their chunk columns from ONE time axis (e.g. a single
    * [[ReplayChunks.byTime]] column over the union) so a chunk means
    * the same time range on every input. */
  def replayToBatchN(spark: org.apache.spark.sql.SparkSession,
                     sources: Seq[(DataFrame, Seq[Column], Column)],
                     nChunks: Int, statePartitions: Int, namePrefix: String)
                    (agg: Seq[DataFrame] => DataFrame): DataFrame = {
    require(sources.nonEmpty, "at least one replay source required")
    val replays = sources.map { case (events, payload, chunk) =>
      new ChunkedReplay(events, payload, chunk, nChunks)
    }
    val scoped = graft.GraftSession.scoped(spark,
      "spark.sql.shuffle.partitions" -> statePartitions.toString)
    LocalCheckpointFiles.install(scoped)
    val streams = replays.map(r =>
      scoped.readStream.schema(r.schema).parquet(r.streamDir.toString))
    val name = namePrefix +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val query = agg(streams)
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation",
        replays.head.root.resolve("ckpt").toString)
      .start()
    try (0 until nChunks).foreach { k =>
      replays.foreach(_.moveChunk(k)); query.processAllAvailable()
    }
    finally {
      ReplayStats.batches.put(namePrefix, query.recentProgress.length.toLong)
      query.stop()
      // the memory sink holds the result; the staged corpus copies,
      // stream dirs, and checkpoint are spent
      replays.foreach(_.cleanup())
    }
    val sink = scoped.table(name)
    val out = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    scoped.catalog.dropTempView(name)
    out
  }
}
