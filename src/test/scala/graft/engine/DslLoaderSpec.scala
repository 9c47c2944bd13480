package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DslLoaderSpec extends SparkSpec {

  private val pipelineJson =
    """{"metadata": {"input": [{"name":"v","type":"double"}]},
      | "stages": [{"ref":"#log","input":{"message":"=$.v"}}]}""".stripMargin
  private val appJson =
    s"""{"resources":[{"id":"stream:p","data":$pipelineJson}],
       | "actions":[{"id":"a","settings":{"streamURI":"res://stream:p"}}]}"""
      .stripMargin

  test("file:// loading with gzip sniffing") {
    val plain = java.io.File.createTempFile("app", ".json")
    java.nio.file.Files.writeString(plain.toPath, appJson)
    assert(Dsl.loadApp("file://" + plain.getAbsolutePath)
      .pipelines.contains("a"))

    val gz = java.io.File.createTempFile("app", ".json.gz")
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(gz))
    out.write(appJson.getBytes("UTF-8")); out.close()
    // no .gz hint given — magic-byte sniffing must detect it
    assert(Dsl.loadApp(gz.getAbsolutePath).pipelines.contains("a"))
  }

  test("base64://  (the reference's flogo-compressed wire format)") {
    val bos = new java.io.ByteArrayOutputStream()
    val gzo = new java.util.zip.GZIPOutputStream(bos)
    gzo.write(appJson.getBytes("UTF-8")); gzo.close()
    val b64 = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    assert(Dsl.loadApp("base64://" + b64).pipelines.contains("a"))
  }

  test("http:// loading: plain, flogo-compressed header, and caching") {
    import com.sun.net.httpserver.HttpExchange
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = graft.streaming.HttpEndpoint.serve(0,
      "/plain" -> { (_: HttpExchange) =>
        hits.incrementAndGet()
        (200, appJson)
      },
      "/compressed" -> { (ex: HttpExchange) =>
        val bos = new java.io.ByteArrayOutputStream()
        val gzo = new java.util.zip.GZIPOutputStream(bos)
        gzo.write(appJson.getBytes("UTF-8")); gzo.close()
        ex.getResponseHeaders.set("flogo-compressed", "true")
        (200, java.util.Base64.getEncoder.encodeToString(bos.toByteArray))
      })
    val port = server.getAddress.getPort
    try {
      Dsl.clearRemoteCache()
      val base = s"http://127.0.0.1:$port"
      assert(Dsl.loadApp(s"$base/plain").pipelines.contains("a"))
      assert(Dsl.loadApp(s"$base/compressed").pipelines.contains("a"))
      // second load of the same URI must come from the cache
      assert(Dsl.loadApp(s"$base/plain").pipelines.contains("a"))
      assert(hits.get() == 1, s"expected 1 fetch, saw ${hits.get()}")
    } finally { server.stop(0); Dsl.clearRemoteCache() }
  }

  test("int-avg compat truncates like Go integer division") {
    val s = spark
    import s.implicits._
    // reference TestTumblingWindow_AddSample: avg(1,2,3) = 2, avg(4,5,6)=5;
    // and the truncating case avg(1,2) = 1 (3/2 in Go int division)
    val out = Seq(1, 2).toDF("v")
      .agg(graft.windows.AggFunctions.intAvgCompat(col("v")).as("a"))
      .collect()(0).getLong(0)
    assert(out == 1L)
  }
}
