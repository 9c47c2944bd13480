package graft.streaming

import graft.SparkSpec
import graft.engine.{Dsl, Pipelines}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.types._
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** A keyed count window (the DSL's groupBy + `#aggregate` count stage
  * over a file channel), at both cadences of its one fold — tumbling and
  * sliding — is stopped after batch k and restarted from its checkpoint
  * alone. Its emitted rows must equal the uninterrupted run's, whether
  * the checkpoint was begun under Spark's default checkpoint manager or
  * under the engine's, on the default (HDFS-backed) state store and on
  * RocksDB. */
class CountWindowRestartSpec extends SparkSpec {

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"
  private val StoreKey = "spark.sql.streaming.stateStore.providerClass"
  private val Stores = Seq("HDFSBackedStateStoreProvider", "RocksDBStateStoreProvider")
    .map("org.apache.spark.sql.execution.streaming.state." + _)
  private val Size = 3

  /** The count-window stage of `windowType` over `per_user`. */
  private def pipeline(windowType: String, resolution: Int) = Dsl.parseApp(
    s"""{"name": "restart", "type": "flogo:app",
      | "actions": [{"id": "per_user", "ref": "#stream",
      |   "settings": {"streamURI": "res://stream:per_user", "groupBy": "user"}}],
      | "resources": [{"id": "stream:per_user", "data": {
      |   "metadata": {
      |     "input":  [{"name": "user", "type": "string"},
      |                {"name": "value", "type": "double"}],
      |     "output": [{"name": "seq", "type": "long"},
      |                {"name": "user", "type": "string"},
      |                {"name": "result", "type": "double"}]},
      |   "stages": [{"ref": "#aggregate",
      |     "settings": {"function": "sum", "windowType": "$windowType",
      |                  "windowSize": "$Size", "resolution": "$resolution"},
      |     "input": {"value": "=$$.value"},
      |     "output": {"seq": "=$$.__seq", "user": "=$$.__group"}}]}}]}
      |""".stripMargin).pipelines("per_user")
  private val schema = StructType(Seq(StructField("user", StringType),
    StructField("value", DoubleType), StructField("__seq", LongType)))

  /** Four chunks of events over three users; every user's windows span
    * chunk boundaries, so state crosses each restart point. */
  private val chunks: Seq[Seq[String]] = (0 until 4).map { c =>
    (0 until 7).map { i =>
      val seq = c * 7 + i
      s"""{"user": "u${seq % 3}", "value": ${seq * 1.5}, "__seq": $seq}"""
    }
  }

  /** Run `chunks` through one incarnation of the query on `session`:
    * push a chunk, drain it, repeat; then stop. Emitted rows are kept
    * per batch id, so a re-run batch would replace, not duplicate.
    * Returns the state operator's custom metric names, which name the
    * state store that ran. */
  private def incarnation(session: SparkSession, pipeline: Dsl.PipelineDef,
                          channel: String, ckpt: String,
                          chunks: Seq[Seq[String]],
                          out: TrieMap[Long, Seq[String]]): Set[String] = {
    implicit val s: SparkSession = session
    val q = Pipelines.compileStream(pipeline, Channels.subscribe(channel, schema))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        out.put(id, b.collect().map(_.mkString("|")).toSeq); ()
      }
      .start()
    try {
      chunks.foreach { c => Channels.push(channel, c); q.processAllAvailable() }
      q.lastProgress.stateOperators.flatMap(_.customMetrics.keySet.asScala).toSet
    } finally q.stop()
  }

  private def emitted(out: TrieMap[Long, Seq[String]]): Seq[String] =
    out.values.flatten.toSeq.sortBy(_.takeWhile(_ != '|').toLong)

  // 10, 9 and 9 events per user: three complete tumbling windows each;
  // sliding (size 3, resolution 2) emits at samples 3, 5, 7 and 9
  Seq(("tumbling", Size, 9), ("sliding", 2, 12)).foreach {
    case (windowType, resolution, windows) =>
      test(s"keyed $windowType count window restarts from its checkpoint " +
          "with the uninterrupted output") {
        val p = pipeline(windowType, resolution)
        val root = java.nio.file.Files.createTempDirectory("graft-cw-restart-")
        Channels.useFileBackend(root.toString)
        try {
          val whole = TrieMap.empty[Long, Seq[String]]
          incarnation(spark.newSession(), p, "whole",
            root.resolve("ckpt-whole").toString, chunks, whole)
          val expected = emitted(whole)
          assert(expected.size == windows, s"complete windows: $expected")

          for (k <- 1 until chunks.size; fromDefault <- Seq(true, false);
               store <- Stores) {
            val rocks = store.contains("RocksDB")
            val ch = s"k$k-$fromDefault-$rocks"
            val ckpt = root.resolve(s"ckpt-$ch").toString
            val out = TrieMap.empty[Long, Seq[String]]
            val first = spark.newSession()
            first.conf.set(StoreKey, store)
            if (fromDefault)
              first.conf.set(Key,
                classOf[FileContextBasedCheckpointFileManager].getName)
            incarnation(first, p, ch, ckpt, chunks.take(k), out)
            val second = spark.newSession()
            second.conf.set(StoreKey, store)
            val metrics = incarnation(second, p, ch, ckpt, chunks.drop(k), out)
            assert(second.conf.get(Key) == classOf[LocalCheckpointFiles].getName)
            assert(metrics.exists(_.startsWith("rocksdb")) == rocks, metrics)
            assert(emitted(out) == expected,
              s"stopped after batch $k on $store, first run under " +
                (if (fromDefault) "Spark's default manager" else "the engine's"))
          }
        } finally {
          Channels.useMemoryBackend()
          graft.util.FsUtil.deleteRecursively(root)
        }
      }
  }
}
