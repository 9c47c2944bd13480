package graft.gates

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import GateSupport._

/** Channel gates (E7): two filtered streams fanned into one channel,
  * over the memory and over the file transport. */
object ChannelGates {

  val gates: Seq[Gate] = Seq(

    Gate("q_channel_fanin", (s, d) => {
      val e = ev(s, d)
      val a = e.where(col("event_type") === "click")
        .select(lit("clicks").as("channel"), col("value"))
      val b = e.where(col("event_type") === "purchase")
        .select(lit("purchases").as("channel"), col("value"))
      a.unionAll(b).groupBy("channel")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sv"))
        .orderBy("channel")
    },
      """SELECT channel, count(*) AS n, round(sum(value), 4) AS sv FROM (
        |  SELECT 'clicks' AS channel, value FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT 'purchases' AS channel, value FROM events
        |  WHERE event_type = 'purchase')
        |GROUP BY channel ORDER BY channel""".stripMargin),

    // The same fan-in topology over the DISTRIBUTED channel transport:
    // two real streaming producers publish into one file-backed channel
    // (publish = executor-side part-file appends, never a driver
    // collect; Channels file backend), a subscriber stream aggregates.
    // This is the transport that survives channels carrying volume at
    // cluster scale — the memory transport stays the dev/test plane.
    Gate("q_channel_file_fanin", (s, d) => {
      import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
      implicit val ss: SparkSession = s
      // ephemeral run artifacts (staged source, channel files,
      // checkpoints), deleted below. Channels.publish and subscribe
      // install LocalCheckpointFiles on both sessions, so no query here
      // forks a process per checkpoint file.
      val root = java.nio.file.Files.createTempDirectory("graft-chanfile-")
      graft.streaming.Channels.useFileBackend(root.toString)
      try {
        // Spark's file stream source watches a DIRECTORY; the testdata
        // table is one parquet file, so stage it (distributed write) —
        // on a cluster this is the object-store drop zone the producers
        // would already be reading.
        val srcDir = root.resolve("src").toString
        ev(s, d).select(col("event_type"), col("value"))
          .write.mode("overwrite").parquet(srcDir)
        val srcSchema = StructType(Seq(
          StructField("event_type", StringType),
          StructField("value", DoubleType)))
        val src = s.readStream.schema(srcSchema).parquet(srcDir)
        val pa = graft.streaming.Channels.publish("mix",
          src.where(col("event_type") === "click")
            .select(lit("clicks").as("channel"), col("value")))
        val pb = graft.streaming.Channels.publish("mix",
          src.where(col("event_type") === "purchase")
            .select(lit("purchases").as("channel"), col("value")))
        // The stateful subscriber aggregation runs in a SCOPED session
        // with few state partitions — the ReplayHarness discipline:
        // micro-batch cost scales with state-store partition count
        // (measured here: at the caller's 32 shuffle partitions, each
        // of 3 drain batches paid 32 state-store open/commit tasks of
        // ~0.6-0.9 s pure wait, ~70 s of task time for a 2-group
        // aggregation), and the scoped conf can never be observed by
        // queries planned concurrently on the caller's session
        val scoped = s.newSession()
        s.conf.getAll.foreach { case (k, v) =>
          if (!scoped.conf.getOption(k).contains(v) &&
              scoped.conf.isModifiable(k))
            scoped.conf.set(k, v)
        }
        scoped.conf.set("spark.sql.shuffle.partitions", "4")
        val agg = graft.streaming.Channels.subscribe("mix",
            StructType(Seq(StructField("channel", StringType),
              StructField("value", DoubleType))))(scoped)
          .groupBy("channel")
          .agg(count(lit(1)).as("n"), sum("value").as("sv"))
        val name = "graft_chan_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val q = agg.writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .option("checkpointLocation", root.resolve("ckpt-sub").toString)
          .start()
        try {
          pa.processAllAvailable(); pb.processAllAvailable()
          q.processAllAvailable()
        } finally { pa.stop(); pb.stop(); q.stop() }
        // materialize (2 rows) and drop the per-invocation memory-sink
        // view so repeated runs don't accumulate registered tables
        val sink = scoped.table(name)
          .select(col("channel"), col("n"), round(col("sv"), 4).as("sv"))
          .orderBy("channel")
        val out = s.createDataFrame(
          java.util.Arrays.asList(sink.collect(): _*), sink.schema)
        scoped.catalog.dropTempView(name)
        out
      } finally {
        graft.streaming.Channels.useMemoryBackend()
        // the memory sink held the result until materialization; the
        // staged source copy and channel files are spent
        graft.util.FsUtil.deleteRecursively(root)
      }
    },
      // the file-transport variant computes the same fan-in aggregate; the
      // JSON envelope round-trips doubles losslessly, so the oracle is
      // identical
      """SELECT channel, count(*) AS n, round(sum(value), 4) AS sv FROM (
        |  SELECT 'clicks' AS channel, value FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT 'purchases' AS channel, value FROM events
        |  WHERE event_type = 'purchase')
        |GROUP BY channel ORDER BY channel""".stripMargin)
  )
}
