package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.concurrent.TrieMap

/** Named pub/sub channels — the reference's composition primitive
  * (action.go:107-115,180-182; channel trigger
  * examples/channel-flogo.json:39-55). A pipeline publishes its output
  * rows to a channel; any number of other pipelines subscribe.
  *
  * Rows travel as JSON strings so channels are schema-flexible like the
  * reference's map rows; subscribers decode with an explicit schema.
  *
  * Two transports behind one API:
  *  - '''memory''' (default): an [[IngressStream]] per channel — faithful
  *    to the reference's in-process channels and what tests use.
  *    Inherently driver-side: every published batch is collected to feed
  *    the stream. However many pushes and published batches arrive
  *    between two subscriber micro-batches, the subscriber reads them as
  *    at most one input partition per core, so its row order inside a
  *    batch is not arrival order: rows that need ordering carry a
  *    `__seq` field and the consumer sorts by it.
  *  - '''file''' ([[useFileBackend]]): a per-channel append directory.
  *    publish = distributed `batch.write.mode("append")` from the
  *    executors (NO driver collect anywhere on the data path); subscribe =
  *    a file-source stream over the same directory. This is the transport
  *    shape that survives channels carrying real volume — on a cluster the
  *    directory lives on the shared filesystem (or swap in a Kafka topic:
  *    the JSON envelope is already the portable part).
  */
object Channels {

  private sealed trait Backend
  private final case class Mem(stream: IngressStream) extends Backend
  private final case class FileCh(dataDir: java.nio.file.Path,
                                  ckptRoot: java.nio.file.Path) extends Backend

  @volatile private var fileRoot: Option[java.nio.file.Path] = None
  private val channels = TrieMap.empty[String, Backend]
  private val pubSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-micro-batch row cap for the MEMORY transport, enforcing its
    * "dev/test only" contract: the memory backend collects every published
    * batch to the driver, so a pipeline shipping real volume through it
    * becomes a silent driver bottleneck (and eventually an OOM). Above the
    * cap the publishing stream FAILS LOUDLY with the remedy in the
    * message, rather than degrading quietly. The file backend has no cap —
    * its data plane is executor-side. */
  @volatile var memoryBatchRowCap: Int = 100000

  /** Route channels created from now on through per-channel append
    * directories under `root` (distributed data plane). Clears existing
    * channels. */
  def useFileBackend(root: String): Unit = {
    reset()
    fileRoot = Some(java.nio.file.Paths.get(root))
  }

  /** Back to in-process memory channels (default; test/dev). */
  def useMemoryBackend(): Unit = {
    reset()
    fileRoot = None
  }

  private def channel(name: String)(implicit spark: SparkSession): Backend =
    channels.getOrElseUpdate(name, fileRoot match {
      case Some(root) =>
        val data = root.resolve(name).resolve("data")
        java.nio.file.Files.createDirectories(data)
        FileCh(data, root.resolve(name).resolve("ckpt"))
      case None => Mem(new IngressStream)
    })

  /** Streaming DataFrame of a channel's traffic, decoded with `schema`. */
  def subscribe(name: String, schema: StructType)
               (implicit spark: SparkSession): DataFrame = {
    LocalCheckpointFiles.install(spark)
    val raw = channel(name) match {
      case Mem(st)          => st.rows
      case FileCh(data, _)  => spark.readStream.format("text").load(data.toString)
    }
    raw.select(from_json(col("value"), schema).as("r"))
      .select(col("r.*"))
  }

  /** Publish every micro-batch of `df` to the channel (exactly the
    * reference's publish-on-completion — instance.go:215-217). Returns the
    * StreamingQuery so callers control lifecycle. */
  def publish(name: String, df: DataFrame)
             (implicit spark: SparkSession) = {
    LocalCheckpointFiles.install(df.sparkSession)
    val payload =
      df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))
    channel(name) match {
      case Mem(st) =>
        // in-process transport: the collect IS the transport (rows must
        // reach the driver-held stream). Dev/test only by contract,
        // enforced by memoryBatchRowCap: collect at most cap+1 rows (so
        // driver memory stays bounded even for a wildly over-cap batch),
        // and fail the stream if the cap is exceeded.
        val cap = memoryBatchRowCap
        payload.writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val rows = batch.limit(cap + 1).collect().map(_.getString(0))
            if (rows.length > cap) throw new IllegalStateException(
              s"memory channel '$name' batch exceeds $cap rows: the memory " +
                "transport collects every batch to the driver and is for " +
                "dev/test only — use Channels.useFileBackend (distributed " +
                "data plane) or raise Channels.memoryBatchRowCap deliberately")
            if (rows.nonEmpty) st.add(rows.toSeq)
            ()
          }
          .start()
      case FileCh(data, ckpt) =>
        val pubId = pubSeq.getAndIncrement()
        payload.writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt.resolve(s"pub-$pubId").toString)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            // executors write part files to a PER-PUBLISHER-PER-BATCH
            // staging dir (concurrent publishers to one channel must not
            // share a commit dir — Hadoop's FileOutputCommitter keys its
            // _temporary workspace by output path, so two writers
            // appending to the same directory race on it), then the
            // committed parts are renamed into the channel dir: file
            // HANDLING on the driver, never rows (at-least-once on
            // micro-batch retry, the same delivery class as the
            // reference's fire-and-forget channel publish)
            val stage = data.resolveSibling(s"stage-$pubId-$batchId")
            batch.write.mode("overwrite").text(stage.toString)
            // Retry delivery contract, honestly: a retry re-stages
            // under FRESH per-job part-file UUIDs, so its names
            // essentially never collide with a half-moved prior
            // attempt's — REPLACE_EXISTING covers only the rare
            // same-name case, and the prior attempt's already-moved
            // files REMAIN as duplicate rows. That is at-least-once,
            // the same class as the reference's fire-and-forget
            // publish. Deliberately NOT swept: a subscriber's file
            // source may have offset-logged the prior files already,
            // and deleting a listed-but-unread file crashes its query
            // (FileNotFoundException) — duplicates are recoverable
            // downstream, a killed subscriber is not.
            graft.util.FsUtil.listFiles(stage, ".txt").foreach { p =>
              java.nio.file.Files.move(p,
                data.resolve(s"pub$pubId-b$batchId-${p.getFileName}"),
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            }
            // remove the spent staging dir (incl. _SUCCESS) — it would
            // otherwise accumulate one dir per micro-batch for the life
            // of the channel
            graft.util.FsUtil.deleteRecursively(stage)
            ()
          }
          .start()
    }
  }

  /** Synchronously push rows into a channel (test/driver-side ingest). */
  def push(name: String, jsonRows: Seq[String])
          (implicit spark: SparkSession): Unit =
    // empty push must be a no-op on BOTH transports: the file branch
    // would otherwise write a lone newline, which the text source reads
    // as one empty row and from_json turns into an all-null row for
    // every subscriber (the memory branch's add(Nil) is harmless)
    if (jsonRows.isEmpty) () else channel(name) match {
      case Mem(st) => st.add(jsonRows)
      case FileCh(data, _) =>
        val f = data.resolve(s"push-${pubSeq.getAndIncrement()}-" +
          s"${java.util.UUID.randomUUID()}.txt")
        java.nio.file.Files.write(f,
          (jsonRows.mkString("\n") + "\n").getBytes("UTF-8"))
    }

  /** Drop all channels (test isolation). */
  def reset(): Unit = channels.clear()
}
