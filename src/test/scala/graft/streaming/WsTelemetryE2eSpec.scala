package graft.streaming

import graft.SparkSpec
import graft.engine.{Dsl, Pipelines}

/** Full reference-shaped telemetry chain: an instrumented pipeline run
  * -> QueryExecutionListener -> WsTelemetrySink -> a connected websocket
  * client receives the per-stage JSON broadcast
  * (service/telemetry/service.go end-to-end). */
class WsTelemetryE2eSpec extends SparkSpec {

  test("instrumented batch pipeline broadcasts stage progress over ws") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    val sink = new WsTelemetrySink(0)
    val listener = Telemetry.attachBatch(s, sink)
    try {
      val cli = WsTestClient.connect(sink.boundPort)
      val deadline = System.currentTimeMillis() + 5000
      while (sink.clientCount < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(sink.clientCount == 1)

      val p = Dsl.parsePipeline("p",
        """{
          |"metadata": {"input": [{"name":"v","type":"double"}],
          |             "output": [{"name":"v","type":"double"}]},
          |"stages": [{"ref":"#filter", "settings":{"type":"non-zero"},
          |            "input":{"value":"=$.v"}}]
          |}""".stripMargin)
      val input = Seq(0.0, 5.0, 7.0).zipWithIndex
        .map { case (v, i) => (v, i.toLong) }.toDF("v", "__seq")
      Pipelines.compileBatch(p, input, instrument = true).count()

      // listener posts asynchronously; the frame arrives when it fires
      val msg = cli.readFrame()
      assert(msg.contains("\"stage-finished\"") &&
        msg.contains("graft_stage_0_filter") && msg.contains("\"rows\":2"),
        s"unexpected ws payload: $msg")
      cli.close()
    } finally {
      spark.listenerManager.unregister(listener)
      sink.close()
    }
  }

  test("a stateful stream reports each batch's phase times and state commit time") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val collected = new Telemetry.CollectingSink
    val ws = new WsTelemetrySink(0)
    val listeners = Seq(Telemetry.attach(s, collected), Telemetry.attach(s, ws))
    Channels.reset()
    try {
      val cli = WsTestClient.connect(ws.boundPort)
      val deadline = System.currentTimeMillis() + 5000
      while (ws.clientCount < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val p = Dsl.parseApp(
        """{"name": "t", "type": "flogo:app",
          | "actions": [{"id": "a", "ref": "#stream",
          |   "settings": {"streamURI": "res://stream:p", "groupBy": "k"}}],
          | "resources": [{"id": "stream:p", "data": {
          |   "metadata": {"input": [{"name": "k", "type": "string"},
          |                          {"name": "v", "type": "double"}]},
          |   "stages": [{"ref": "#aggregate",
          |     "settings": {"function": "sum", "windowType": "tumbling",
          |                  "windowSize": "2"},
          |     "input": {"value": "=$.v"}}]}}]}""".stripMargin).pipelines("a")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "k STRING, v DOUBLE, __seq BIGINT")
      val q = Pipelines.compileStream(p, Channels.subscribe("telemetry", schema))
        .writeStream.format("noop").start()
      try {
        Channels.push("telemetry", (0 until 8).map(i =>
          s"""{"k": "k${i % 2}", "v": $i, "__seq": $i}"""))
        q.processAllAvailable()
      } finally q.stop()
      val qid = q.id.toString

      // the listener bus delivers asynchronously
      def progress = collected.events.collect {
        case e: Telemetry.PipelineProgress if e.queryId == qid && e.numInputRows > 0 => e
      }
      val until = System.currentTimeMillis() + 10000
      while (progress.isEmpty && System.currentTimeMillis() < until) Thread.sleep(20)
      val e = progress.head
      assert(Seq(e.addBatchMs, e.walCommitMs, e.commitOffsetsMs,
        e.triggerExecutionMs, e.stateCommitMs).forall(_ >= 0), e)
      assert(e.triggerExecutionMs >= e.addBatchMs, e)

      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val frame = Iterator.continually(mapper.readTree(cli.readFrame()))
        .find(n => n.path("type").asText == "pipeline-progress" &&
          n.path("pipelineId").asText == qid && n.path("numInputRows").asLong > 0)
        .get
      Seq("addBatchMs", "walCommitMs", "commitOffsetsMs", "triggerExecutionMs",
        "stateCommitMs").foreach { f =>
        assert(frame.has(f) && frame.get(f).asLong >= 0, s"$f in $frame")
      }
      cli.close()
    } finally {
      listeners.foreach(s.streams.removeListener)
      ws.close()
      Channels.reset()
    }
  }
}
