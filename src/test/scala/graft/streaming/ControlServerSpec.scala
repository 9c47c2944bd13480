package graft.streaming

import graft.SparkSpec
import graft.util.FsUtil

class ControlServerSpec extends SparkSpec {

  private def http(port: Int, path: String): (Int, String) = {
    val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    val code = conn.getResponseCode
    val stream = if (code < 400) conn.getInputStream else conn.getErrorStream
    val body = new String(stream.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, body)
  }

  test("REST control: start/pause/resume/stop/status per named source") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val csv = java.io.File.createTempFile("ctrl", ".csv")
    java.nio.file.Files.writeString(csv.toPath, "v\n1\n2\n3\n")
    val replay = new CsvReplay(csv.getAbsolutePath, header = true,
      emitDelayMs = 10, replayData = true)
    val srv = new ControlServer(0)
    srv.register("t1", replay)
    val port = srv.start()
    try {
      assert(http(port, "/tester/status")._2 ==
        """{"t1": {"running": false}}""")
      val (c1, b1) = http(port, "/tester/start?name=t1")
      assert(c1 == 200 && b1.contains("\"running\": true"))
      assert(http(port, "/tester/pause")._1 == 200)
      assert(http(port, "/tester/resume")._1 == 200)
      assert(http(port, "/tester/stop?name=t1")._1 == 200)
      val deadline = System.currentTimeMillis() + 3000
      while (replay.isRunning && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(!replay.isRunning)
      // error paths mirror the reference's REST surface
      assert(http(port, "/tester/start?name=nope")._1 == 404)
      assert(http(port, "/tester/frobnicate")._1 == 404)
    } finally { srv.stop(); FsUtil.deleteRecursively(csv.toPath) }
  }

  test("path-param routes on sources auto-registered from an app def") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val csv = java.io.File.createTempFile("ctrl2", ".csv")
    java.nio.file.Files.writeString(csv.toPath, "v\n1\n2\n3\n")
    val appJson =
      s"""{"name": "tester-app", "triggers": [{
         |  "id": "stream_tester", "ref": "#streamtester",
         |  "settings": {"port": "0"},
         |  "handlers": [{
         |    "settings": {"filePath": "${csv.getAbsolutePath}",
         |                 "emitDelay": "10", "replayData": "true"},
         |    "action": {"id": "my_pipeline"}
         |  }]
         |}], "resources": [], "actions": []}""".stripMargin
    val app = graft.engine.Dsl.parseApp(appJson)
    assert(app.triggers.size == 1 &&
      app.triggers.head.ref == "streamtester")
    val srv = new ControlServer(0)
    // one emitter per handler, named by its action id (tester.go:52-60)
    assert(srv.registerFrom(app) == Seq("my_pipeline"))
    val replay = srv.source("my_pipeline").get
    val port = srv.start()
    try {
      // the reference's /tester/<action>/:id form (tester.go:69-74)
      val (c1, b1) = http(port, "/tester/start/my_pipeline")
      assert(c1 == 200 && b1.contains("\"running\": true"))
      assert(http(port, "/tester/pause/my_pipeline")._1 == 200)
      assert(http(port, "/tester/resume/my_pipeline")._1 == 200)
      assert(http(port, "/tester/stop/my_pipeline")._1 == 200)
      val deadline = System.currentTimeMillis() + 3000
      while (replay.isRunning && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(!replay.isRunning)
      assert(http(port, "/tester/start/nope")._1 == 404)
      // a trailing slash (empty id) must 404, NOT broadcast the action
      // to every registered source
      assert(http(port, "/tester/stop/")._1 == 404)
    } finally { srv.stop(); FsUtil.deleteRecursively(csv.toPath) }
  }

  test("registerFrom rejects duplicate handler names") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val csv = java.io.File.createTempFile("ctrl3", ".csv")
    try {
      java.nio.file.Files.writeString(csv.toPath, "v\n1\n")
      val appJson =
        s"""{"triggers": [{
           |  "id": "st", "ref": "#streamtester", "settings": {},
           |  "handlers": [
           |    {"settings": {"filePath": "${csv.getAbsolutePath}"},
           |     "action": {"id": "same"}},
           |    {"settings": {"filePath": "${csv.getAbsolutePath}"},
           |     "action": {"id": "same"}}
           |  ]}]}""".stripMargin
      val app = graft.engine.Dsl.parseApp(appJson)
      val srv = new ControlServer(0)
      val e = intercept[IllegalArgumentException](srv.registerFrom(app))
      assert(e.getMessage.contains("same"))
    } finally FsUtil.deleteRecursively(csv.toPath)
  }

  test("columnNames accessor and loud dataAsMap=false rejection") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val csv = java.io.File.createTempFile("ctrl4", ".csv")
    try {
      java.nio.file.Files.writeString(csv.toPath, "a,b,c\n1,2,3\n")
      val replay = new CsvReplay(csv.getAbsolutePath)
      assert(replay.columnNames == Vector("a", "b", "c"))
      val noHeader = new CsvReplay(csv.getAbsolutePath, header = false)
      assert(noHeader.columnNames == Vector("c0", "c1", "c2"))
      // and over REST, the reference's getColumnNames surface
      val srv0 = new ControlServer(0)
      srv0.register("t", replay)
      val port0 = srv0.start()
      try {
        val (c, body) = http(port0, "/tester/columns/t")
        assert(c == 200 && body == """{"t": ["a", "b", "c"]}""", body)
      } finally srv0.stop()
      // columnNames reflects the LOADED dataset: a rewritten file changes
      // nothing until reload()
      java.nio.file.Files.writeString(csv.toPath, "x,y\n1,2\n")
      assert(replay.columnNames == Vector("a", "b", "c"))
      replay.reload()
      assert(replay.columnNames == Vector("x", "y"))
      val appJson =
        s"""{"triggers": [{"id": "st", "ref": "#streamtester",
           |  "handlers": [{"settings": {
           |    "filePath": "${csv.getAbsolutePath}", "dataAsMap": "false"},
           |    "action": {"id": "p"}}]}]}""".stripMargin
      val srv = new ControlServer(0)
      val e = intercept[IllegalArgumentException](
        srv.registerFrom(graft.engine.Dsl.parseApp(appJson)))
      assert(e.getMessage.contains("dataAsMap"))
    } finally FsUtil.deleteRecursively(csv.toPath)
  }
}
