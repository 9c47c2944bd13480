package graft.streaming

import graft.SparkSpec
import graft.engine.{Dsl, Pipelines}
import graft.util.FsUtil
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's runtime composition: channels (E7), CSV replay source
  * (S1), telemetry (E10) — driven through real streaming queries. */
class StreamingRuntimeSpec extends SparkSpec {

  test("kill/restart recovery: checkpointed windows emit exactly once") {
    // Fault-tolerance vector: a watermarked windowed aggregation over
    // the chunked file-source replay is KILLED mid-replay — after its
    // next chunk's files are already in the watched dir but before they
    // are processed — and a NEW query incarnation restarts from the
    // same checkpoint + parquet sink. The end state must equal the
    // uninterrupted run exactly: the checkpoint resumes the file-source
    // offset log (chunk 1 processed once, not zero or two times), the
    // persisted watermark (late-drop behavior unchanged across the
    // crash), and the sink's transaction log (no re-emission of windows
    // committed before the kill). stop() at a trigger boundary models
    // the crash; the restarted query reconstructs from on-disk state
    // alone, the same path a post-SIGKILL restart takes.
    val s = spark
    import s.implicits._
    def h(x: Double): Long = 1704067200000L + (x * 3600000L).toLong
    val events = Seq(
      (h(0.17), 1.0, 0), (h(3.0), 2.0, 0),   // chunk 0: wm -> 02:00
      (h(0.33), 100.0, 1), (h(2.5), 3.0, 1), // chunk 1: late + in-time
      (h(6.0), 5.0, 2),                      // chunk 2: wm -> 05:00
      (h(10.0), 0.0, 3))                     // chunk 3: flush 02,03,06
      .toDF("ms", "value", "chunk")
      .select(timestamp_millis(col("ms")).as("ts"), col("value"),
        col("chunk"))
    val replay = new ChunkedReplay(events,
      Seq(col("ts"), col("value")), col("chunk"), 4)
    val out = replay.root.resolve("out")
    val ckpt = replay.root.resolve("ckpt")
    def start() = Watermarks.tumblingAgg(
        s.readStream.schema(replay.schema).parquet(replay.streamDir.toString),
        "ts", "value", "1 hour", "1 hour")
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .start()
    try {
      val q1 = start()
      replay.moveChunk(0)
      q1.processAllAvailable()
      replay.moveChunk(1) // staged but NOT drained before the kill
      q1.stop()
      val q2 = start()    // restart from checkpoint alone
      q2.processAllAvailable()
      replay.moveChunk(2)
      q2.processAllAvailable()
      replay.moveChunk(3)
      q2.processAllAvailable()
      q2.stop()
      val got = s.read.parquet(out.toString)
        .select(unix_timestamp(col("window.start")), col("n"), col("sv"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      // uninterrupted-run expectation: the tumblingAgg hand vector plus
      // chunk 2's 06:00 window; late 100.0 stays dropped ACROSS the
      // restart (persisted watermark), 10:00's own window stays withheld
      assert(got == Seq(
        (h(0.0) / 1000, 1L, 1.0),
        (h(2.0) / 1000, 1L, 3.0),
        (h(3.0) / 1000, 1L, 2.0),
        (h(6.0) / 1000, 1L, 5.0)))
    } finally replay.cleanup()
  }

  test("file channel subscriber recovers from its checkpoint exactly once") {
    // the channel half of the fault-tolerance story: a file-channel
    // subscriber with its own checkpoint + transactional sink is
    // stopped, rows keep arriving while it is down, and a restarted
    // incarnation must deliver old + missed rows exactly once (the
    // file source's offset log survives the restart; committed batches
    // are not re-emitted)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val root = java.nio.file.Files.createTempDirectory("graft_chan_rec")
    Channels.useFileBackend(root.toString)
    try {
      val schema = StructType(Seq(StructField("n", IntegerType)))
      val out = root.resolve("out").toString
      val ckpt = root.resolve("sub-ckpt").toString
      def start() = Channels.subscribe("rec", schema)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      Channels.push("rec", Seq("""{"n": 1}""", """{"n": 2}"""))
      val q1 = start()
      q1.processAllAvailable()
      q1.stop() // the kill
      // rows arriving while the subscriber is down
      Channels.push("rec", Seq("""{"n": 3}""", """{"n": 4}"""))
      val q2 = start() // restart from checkpoint alone
      q2.processAllAvailable()
      q2.stop()
      val got = s.read.parquet(out).collect().map(_.getInt(0)).sorted.toSeq
      assert(got == Seq(1, 2, 3, 4), s"expected exactly-once 1..4, got $got")
    } finally { Channels.useMemoryBackend(); FsUtil.deleteRecursively(root) }
  }

  test("channel fan-in: filter pipeline publishes, report pipeline consumes") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    Channels.reset()
    val app = Dsl.parseApp(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/examples/channel-flogo.json"))))

    // upstream: simple_filter over a memory stream of ints
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Int]
    val filtered = Pipelines.compileStream(app.pipelines("simple_filter"),
      input.toDF().select(col("value").as("input")))
    val pub = Channels.publish(app.pipelines("simple_filter")
      .outputChannel.get, filtered)

    // downstream: simple_report subscribed to the channel
    val sub = Channels.subscribe("test",
      StructType(Seq(StructField("out", IntegerType))))
    val reported = Pipelines.compileStream(app.pipelines("simple_report"),
      sub.select(col("out").as("rinput")))
    val q = reported.select("message").writeStream.format("memory")
      .queryName("channel_msgs").outputMode("append").start()
    try {
      input.addData(0, 5, 0, 7)
      pub.processAllAvailable()
      q.processAllAvailable()
      val msgs = s.sql("SELECT message FROM channel_msgs ORDER BY message")
        .collect().map(_.getString(0))
      assert(msgs.toSeq == Seq("fromChannel: 5", "fromChannel: 7"))
    } finally { pub.stop(); q.stop() }
  }

  test("file-backed channel fan-in: distributed transport, no driver collect") {
    // same topology as the memory-backed fan-in test, but over the
    // file-backed transport: publish appends part files from the
    // executors, the subscriber is a file-source stream
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_channels")
    Channels.useFileBackend(root.toString)
    try {
      val app = Dsl.parseApp(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/root/reference/examples/channel-flogo.json"))))
      implicit val sqlCtx = s.sqlContext
      val input = MemoryStream[Int]
      val filtered = Pipelines.compileStream(app.pipelines("simple_filter"),
        input.toDF().select(col("value").as("input")))
      val pub = Channels.publish(app.pipelines("simple_filter")
        .outputChannel.get, filtered)
      val sub = Channels.subscribe("test",
        StructType(Seq(StructField("out", IntegerType))))
      val reported = Pipelines.compileStream(app.pipelines("simple_report"),
        sub.select(col("out").as("rinput")))
      val q = reported.select("message").writeStream.format("memory")
        .queryName("file_channel_msgs").outputMode("append").start()
      try {
        input.addData(0, 5, 0, 7)
        pub.processAllAvailable()
        q.processAllAvailable()
        val msgs = s.sql("SELECT message FROM file_channel_msgs ORDER BY message")
          .collect().map(_.getString(0))
        assert(msgs.toSeq == Seq("fromChannel: 5", "fromChannel: 7"))
        // push (driver-side ingest) rides the same directory
        Channels.push("test", Seq("""{"out": 9}"""))
        q.processAllAvailable()
        val msgs2 = s.sql("SELECT message FROM file_channel_msgs ORDER BY message")
          .collect().map(_.getString(0))
        assert(msgs2.toSeq ==
          Seq("fromChannel: 5", "fromChannel: 7", "fromChannel: 9"))
        // the channel's data really is on disk as executor-written files
        val dataFiles = java.nio.file.Files.list(root.resolve("test")
          .resolve("data")).toArray.length
        assert(dataFiles > 0)
      } finally { pub.stop(); q.stop() }
    } finally { Channels.useMemoryBackend(); FsUtil.deleteRecursively(root) }
  }

  test("file-backed channel: concurrent publishers do not race on commit") {
    // two producers publishing into ONE channel concurrently: each batch
    // must commit through its own staging dir — writers sharing an output
    // path race on Hadoop's _temporary workspace (one committer deletes
    // it while the other is mid-write), which is exactly the multi-writer
    // shape a fan-in channel has on a cluster
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_chan_race")
    Channels.useFileBackend(root.toString)
    try {
      implicit val sqlCtx = s.sqlContext
      val inA = MemoryStream[Int]
      val inB = MemoryStream[Int]
      val pa = Channels.publish("fanin", inA.toDF())
      val pb = Channels.publish("fanin", inB.toDF())
      val sub = Channels.subscribe("fanin",
        StructType(Seq(StructField("value", IntegerType))))
      val q = sub.writeStream.format("memory").queryName("race_rows")
        .outputMode("append").start()
      try {
        // fire both producers' batches without draining in between so
        // the foreachBatch writers can overlap
        inA.addData(1 to 50: _*)
        inB.addData(51 to 100: _*)
        pa.processAllAvailable(); pb.processAllAvailable()
        q.processAllAvailable()
        val got = s.sql("SELECT value FROM race_rows")
          .collect().map(_.getInt(0)).sorted
        assert(got.toSeq == (1 to 100), s"lost/duplicated rows: n=${got.length}")
      } finally { pa.stop(); pb.stop(); q.stop() }
    } finally { Channels.useMemoryBackend(); FsUtil.deleteRecursively(root) }
  }

  test("memory channel fails loudly above its per-batch row cap") {
    // the memory transport's "dev/test only" contract is enforced, not
    // just documented: a batch above the cap kills the publishing stream
    // with a message naming the remedy, instead of silently funnelling
    // cluster-scale volume through the driver
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    Channels.reset()
    val oldCap = Channels.memoryBatchRowCap
    Channels.memoryBatchRowCap = 3
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Int]
    val pub = Channels.publish("capped", input.toDF())
    try {
      input.addData(1, 2, 3, 4)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        pub.processAllAvailable()
      }
      val causes = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).toSeq
      assert(causes.exists(m => m != null &&
        m.contains("memory channel 'capped' batch exceeds 3 rows")),
        s"cap violation not surfaced: $causes")

      // at-or-under-cap traffic still flows (fresh channel, same cap)
      val ok = MemoryStream[Int]
      val pub2 = Channels.publish("under_cap", ok.toDF())
      val sub = Channels.subscribe("under_cap",
        StructType(Seq(StructField("value", IntegerType))))
      val q = sub.writeStream.format("memory").queryName("under_cap_rows")
        .outputMode("append").start()
      try {
        ok.addData(7, 8, 9)
        pub2.processAllAvailable()
        q.processAllAvailable()
        assert(s.sql("SELECT count(*) FROM under_cap_rows")
          .collect()(0).getLong(0) == 3L)
      } finally { pub2.stop(); q.stop() }
    } finally {
      try pub.stop() catch { case _: Throwable => () }
      Channels.memoryBatchRowCap = oldCap
      Channels.reset()
    }
  }

  test("runStream auto-publishes to the definition's outputChannel (e2e)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    Channels.reset()
    val app = Dsl.parseApp(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/examples/channel-flogo.json"))))
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Int]
    // auto-wired: the action settings' outputChannel ("test") is honored
    // by runStream — no manual Channels.publish (action.go:180-182)
    val pub = Pipelines.runStream(app.pipelines("simple_filter"),
      input.toDF().select(col("value").as("input")))
    val sub = Channels.subscribe("test",
      StructType(Seq(StructField("out", IntegerType))))
    // the channel trigger's input mapper: rinput = $.data.out
    val reported = Pipelines.compileStream(app.pipelines("simple_report"),
      sub.select(col("out").as("rinput")))
    val q = reported.select("message").writeStream.format("memory")
      .queryName("auto_channel_msgs").outputMode("append").start()
    try {
      input.addData(0, 3, 0, 9)
      pub.processAllAvailable()
      q.processAllAvailable()
      val msgs = s.sql("SELECT message FROM auto_channel_msgs ORDER BY message")
        .collect().map(_.getString(0))
      assert(msgs.toSeq == Seq("fromChannel: 3", "fromChannel: 9"))
      // a pipeline without an outputChannel refuses to auto-run
      intercept[IllegalArgumentException] {
        Pipelines.runStream(app.pipelines("simple_report"),
          sub.select(col("out").as("rinput")))
      }
    } finally { pub.stop(); q.stop() }
  }

  test("filter-flogo.json replays end-to-end: rest trigger -> filter -> log") {
    // the reference's third example app, loaded from its actual JSON:
    // GET /test/:val -> non-zero filter (proceedOnlyOnEmit) -> log
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val app = Dsl.parseApp(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/examples/filter-flogo.json"))))
    // keyed by ACTION id ("simple_agg" — the example reuses agg-flogo's
    // action name for its filter pipeline)
    val p = app.pipelines("simple_agg")
    assert(p.stages.map(_.ref) == Seq("filter", "log"))
    val ingest = new RestIngest(0)
    val port = ingest.start()
    val schema = StructType(Seq(StructField("input", DoubleType)))
    val q = Pipelines.compileStream(p, ingest.toDF(schema))
      .writeStream.format("memory").queryName("filter_flogo_rows")
      .outputMode("append").start()
    def get(v: Int): Unit = {
      val c = new java.net.URL(s"http://127.0.0.1:$port/ingest?input=$v")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(c.getResponseCode == 200); c.disconnect()
    }
    try {
      Seq(0, 5, 0, 7).foreach(get)
      q.processAllAvailable()
      val msgs = s.sql(
        "SELECT message FROM filter_flogo_rows ORDER BY message")
        .collect().map(_.getString(0)).toSeq
      // zeros are stalled by the filter (proceedOnlyOnEmit=true); the log
      // stage sees BOTH surviving values exactly once
      assert(msgs.length == 2 &&
        msgs.exists(_.contains("5")) && msgs.exists(_.contains("7")),
        s"unexpected log messages: $msgs")
    } finally { q.stop(); ingest.stop() }
  }

  test("rest trigger source: HTTP requests become pipeline events") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val ingest = new RestIngest(0)
    val port = ingest.start()
    val p = Dsl.parsePipeline("p",
      """{
        |"metadata": {"input": [{"name":"input","type":"int"}],
        |             "output": [{"name":"out","type":"int"}]},
        |"stages": [{"ref":"#filter", "settings":{"type":"non-zero"},
        |            "input":{"value":"=$.input"},
        |            "output":{"pipeline.out":"=$.value"}}]
        |}""".stripMargin)
    // ingress values are float64 by the shared auto-parse rule; the
    // pipeline's declared `input: int` metadata casts at the boundary
    val schema = StructType(Seq(StructField("input", DoubleType)))
    val q = Pipelines.compileStream(p, ingest.toDF(schema))
      .writeStream.format("memory").queryName("rest_rows")
      .outputMode("append").start()
    def post(json: String): Int = {
      val conn = new java.net.URL(s"http://127.0.0.1:$port/ingest")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write(json.getBytes("UTF-8"))
      val code = conn.getResponseCode; conn.disconnect(); code
    }
    try {
      assert(post("""{"input": 0}""") == 200)
      assert(post("""{"input": 5}""") == 200)
      assert(post("not json") == 400)
      // GET with query params maps them to fields
      val g = new java.net.URL(s"http://127.0.0.1:$port/ingest?input=7")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(g.getResponseCode == 200); g.disconnect()
      q.processAllAvailable()
      val rows = s.sql("SELECT out FROM rest_rows ORDER BY out")
        .collect().map(_.getInt(0))
      assert(rows.toSeq == Seq(5, 7)) // zero filtered, bad request rejected
    } finally { q.stop(); ingest.stop() }
  }

  /** Replays an `allDataAtOnce` source through its emitter thread: the
    * whole dataset lands as one block, then the thread stops itself. */
  private def emitAll(replay: CsvReplay): Unit = {
    replay.start()
    val deadline = System.currentTimeMillis() + 10000
    while (replay.isRunning && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    assert(!replay.isRunning, "all-at-once replay did not finish")
  }

  test("csv replay source: auto-parse, rate limit, control API") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val csv = java.io.File.createTempFile("replay", ".csv")
    java.nio.file.Files.writeString(csv.toPath,
      "name,score\nalice,1.5\nbob,2\ncarol,notanumber\n")
    val replay = new CsvReplay(csv.getAbsolutePath, header = true,
      allDataAtOnce = true)
    val schema = StructType(Seq(StructField("name", StringType),
      StructField("score", StringType)))
    val df = replay.toDF(schema)
    val q = df.writeStream.format("memory").queryName("csv_rows")
      .outputMode("append").start()
    val paced = new CsvReplay(csv.getAbsolutePath, header = true,
      emitDelayMs = 10)
    val pq = paced.toDF(schema).writeStream.format("memory")
      .queryName("csv_paced").outputMode("append").start()
    try {
      emitAll(replay)
      q.processAllAvailable()
      val rows = s.sql("SELECT name, score, __seq FROM csv_rows ORDER BY __seq")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      // numeric auto-parse: 1.5 and 2 became doubles (JSON numbers),
      // notanumber stayed a string
      assert(rows.map(_._1).toSeq == Seq("alice", "bob", "carol"))
      assert(rows.map(_._3).toSeq == Seq(0L, 1L, 2L))
      assert(rows(0)._2 == "1.5")
      assert(rows(2)._2 == "notanumber")

      // rate-limited threaded emission with pause/resume/stop
      paced.start()
      Thread.sleep(50)
      paced.pause()
      val afterPause = { pq.processAllAvailable()
        s.sql("SELECT count(*) FROM csv_paced").collect()(0).getLong(0) }
      Thread.sleep(50)
      pq.processAllAvailable()
      val whilePaused = s.sql("SELECT count(*) FROM csv_paced")
        .collect()(0).getLong(0)
      assert(whilePaused == afterPause) // paused -> nothing new
      paced.resume(); paced.stop()
      assert(!paced.isRunning)
    } finally { q.stop(); pq.stop(); FsUtil.deleteRecursively(csv.toPath) }
  }

  test("csv replay drives a DSL tumbling-window pipeline (streamtester demo)") {
    // the reference's canonical demo: the stream tester replays a CSV
    // into an aggregate pipeline (trigger/streamtester + agg-flogo)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val csv = java.io.File.createTempFile("demo", ".csv")
    java.nio.file.Files.writeString(csv.toPath,
      "value\n1\n2\n3\n4\n5\n6\n7\n")
    val replay = new CsvReplay(csv.getAbsolutePath, header = true,
      allDataAtOnce = true)
    val p = Dsl.parsePipeline("demo",
      """{
        |"metadata": {"input": [{"name":"value","type":"double"}],
        |             "output": [{"name":"emit_seq","type":"long"},
        |                        {"name":"result","type":"double"}]},
        |"stages": [{"ref":"#aggregate",
        |            "settings":{"function":"sum","windowType":"tumbling",
        |                        "windowSize":"3"},
        |            "input":{"value":"=$.value"},
        |            "output":{"pipeline.emit_seq":"=$.__seq",
        |                      "pipeline.result":"=$.result"}}]
        |}""".stripMargin)
    val schema = StructType(Seq(StructField("value", DoubleType)))
    val q = Pipelines.compileStream(p, replay.toDF(schema))
      .writeStream.format("memory").queryName("demo_windows")
      .outputMode("append").start()
    try {
      emitAll(replay)
      q.processAllAvailable()
      val rows = s.sql(
        "SELECT emit_seq, result FROM demo_windows ORDER BY emit_seq")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      // windows of 3: (1,2,3)->6 at seq 2, (4,5,6)->15 at seq 5;
      // the trailing 7 stalls (incomplete window emits nothing)
      assert(rows.toSeq == Seq((2L, 6.0), (5L, 15.0)))
    } finally { q.stop(); FsUtil.deleteRecursively(csv.toPath) }
  }

  test("csv replay survives backslashes and quotes in cells") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val csv = java.io.File.createTempFile("replay_esc", ".csv")
    // a cell with a backslash and one with an embedded quote: the JSON
    // bridge must escape them or from_json nulls the whole row
    java.nio.file.Files.writeString(csv.toPath,
      "name,score\npath\\to\\thing,1\nsay \"hi\",2\n")
    val replay = new CsvReplay(csv.getAbsolutePath, header = true,
      allDataAtOnce = true)
    val schema = StructType(Seq(StructField("name", StringType),
      StructField("score", StringType)))
    val q = replay.toDF(schema).writeStream.format("memory")
      .queryName("csv_esc").outputMode("append").start()
    try {
      emitAll(replay)
      q.processAllAvailable()
      val rows = s.sql("SELECT name FROM csv_esc ORDER BY __seq")
        .collect().map(_.getString(0))
      assert(rows.toSeq == Seq("path\\to\\thing", "say \"hi\""))
    } finally { q.stop(); FsUtil.deleteRecursively(csv.toPath) }
  }

  test("csv replay handles quoted commas, doubled quotes, trailing empties") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val csv = java.io.File.createTempFile("replay_q", ".csv")
    // a quoted field with a comma, a doubled quote inside quotes, and a
    // row whose trailing fields are empty (Java split(",") drops them
    // and misaligns names.zip — the silent-corruption case)
    java.nio.file.Files.writeString(csv.toPath,
      "name,score,note\n\"hello, world\",5,\"say \"\"hi\"\"\"\nplain,,\n")
    val replay = new CsvReplay(csv.getAbsolutePath, header = true,
      allDataAtOnce = true)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType)))
    val q = replay.toDF(schema).writeStream.format("memory")
      .queryName("csv_quoted").outputMode("append").start()
    try {
      emitAll(replay)
      q.processAllAvailable()
      val rows = s.sql("SELECT name, score, note FROM csv_quoted ORDER BY __seq")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      // "5" auto-parses to float64 (the shared ingress rule), so the
      // string cast reads back "5.0"
      assert(rows.toSeq == Seq(
        ("hello, world", "5.0", "say \"hi\""),
        ("plain", "", "")), s"got ${rows.toSeq}")
    } finally { q.stop(); FsUtil.deleteRecursively(csv.toPath) }
  }

  test("instrumented pipelines emit per-stage row counts (batch + stream)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val p = Dsl.parsePipeline("p",
      """{
        |"metadata": {"input": [{"name":"v","type":"double"}],
        |             "output": [{"name":"v","type":"double"}]},
        |"stages": [{"ref":"#filter", "settings":{"type":"non-zero"},
        |            "input":{"value":"=$.v"}},
        |           {"ref":"#log", "input":{"message":"=$.value"}}]
        |}""".stripMargin)

    // batch: QueryExecutionListener surfaces the stage observations
    val sink = new Telemetry.CollectingSink
    val l = Telemetry.attachBatch(s, sink)
    try {
      val input = Seq(0.0, 5.0, 0.0, 7.0, 9.0).zipWithIndex
        .map { case (v, i) => (v, i.toLong) }.toDF("v", "__seq")
      Pipelines.compileBatch(p, input, instrument = true).count()
      val deadline = System.currentTimeMillis() + 15000
      def stages = sink.events.collect {
        case e: Telemetry.StageProgress => e.stage -> e.rows }
      while (stages.size < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      // stage 0 (filter) emits the 3 non-zero rows; stage 1 (log) passes
      // them through
      assert(stages.toMap == Map("graft_stage_0_filter" -> 3L,
        "graft_stage_1_log" -> 3L), s"got $stages")
    } finally s.listenerManager.unregister(l)

    // streaming: the same observations ride StreamingQueryProgress
    val ssink = new Telemetry.CollectingSink
    val sl = Telemetry.attach(s, ssink)
    val input = MemoryStream[(Double, Long)]
    val q = Pipelines.compileStream(p,
        input.toDF().select(col("_1").as("v"), col("_2").as("__seq")),
        instrument = true)
      .writeStream.format("memory").queryName("instrumented_stream")
      .outputMode("append").start()
    try {
      input.addData((0.0, 0L), (4.0, 1L), (6.0, 2L))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 15000
      def stageEvents = ssink.events.collect {
        case e: Telemetry.StageProgress => e.stage -> e.rows }
      while (!stageEvents.exists(_._1 == "graft_stage_0_filter") &&
             System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(stageEvents.contains("graft_stage_0_filter" -> 2L),
        s"got $stageEvents")
    } finally { q.stop(); s.streams.removeListener(sl) }
  }

  test("composed app e2e: REST ingest -> pipeline -> channel -> subscriber") {
    // the reference's full runtime story in one flow: an HTTP trigger
    // feeds the filter pipeline, whose outputChannel fans into a second
    // pipeline (channel-flogo.json topology), with telemetry attached
    implicit val s: org.apache.spark.sql.SparkSession = spark
    Channels.reset()
    val app = Dsl.parseApp(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/examples/channel-flogo.json"))))
    val sink = new Telemetry.CollectingSink
    val listener = Telemetry.attach(s, sink)
    val ingest = new RestIngest(0)
    val port = ingest.start()
    val schema = StructType(Seq(StructField("input", DoubleType)))
    val pub = Pipelines.runStream(app.pipelines("simple_filter"),
      ingest.toDF(schema))
    val sub = Channels.subscribe("test",
      StructType(Seq(StructField("out", IntegerType))))
    val q = Pipelines.compileStream(app.pipelines("simple_report"),
        sub.select(col("out").as("rinput")))
      .select("message").writeStream.format("memory")
      .queryName("composed_msgs").outputMode("append").start()
    def get(v: Int): Unit = {
      val c = new java.net.URL(s"http://127.0.0.1:$port/ingest?input=$v")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(c.getResponseCode == 200); c.disconnect()
    }
    try {
      Seq(0, 11, 0, 22).foreach(get)
      pub.processAllAvailable()
      q.processAllAvailable()
      val msgs = s.sql("SELECT message FROM composed_msgs ORDER BY message")
        .collect().map(_.getString(0))
      assert(msgs.toSeq == Seq("fromChannel: 11", "fromChannel: 22"))
      // telemetry saw both running queries start and make progress
      val started = sink.events.collect {
        case e: Telemetry.PipelineStarted => e.queryId }.distinct
      assert(started.size >= 2, s"expected both queries in telemetry: $started")
    } finally {
      pub.stop(); q.stop(); ingest.stop(); s.streams.removeListener(listener)
    }
  }

  test("telemetry listener reports pipeline started/progress/finished") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val sink = new Telemetry.CollectingSink
    val listener = Telemetry.attach(s, sink)
    val input = MemoryStream[Int]
    val q = input.toDF().writeStream.format("memory")
      .queryName("telemetry_probe").outputMode("append").start()
    try {
      input.addData(1, 2, 3)
      q.processAllAvailable()
    } finally { q.stop(); }
    // listener delivery is async
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() < deadline &&
      !sink.events.exists(_.isInstanceOf[Telemetry.PipelineFinished]))
      Thread.sleep(50)
    s.streams.removeListener(listener)
    assert(sink.events.exists(_.isInstanceOf[Telemetry.PipelineStarted]))
    assert(sink.events.exists(_.isInstanceOf[Telemetry.PipelineFinished]))
  }
}
