package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.net.InetSocketAddress

/** The one place a JDK `HttpServer` is created: the REST trigger, the
  * replay control shim and any test server go through [[serve]].
  *
  * The JDK server writes a response's headers and body as two socket
  * writes. With Nagle's algorithm on, the body waits for the client's
  * ACK of the headers, and a keep-alive client delays that ACK by about
  * 40 ms, so every request costs about 40 ms whatever the handler does.
  * The JDK reads `sun.net.httpserver.nodelay` once per JVM, when the
  * first server is created, so this object sets it to `true` before it
  * creates any server, unless it is already set. If the host
  * application created a JDK server before this object was first used,
  * the property has already been read: no server in that JVM, including
  * these, then gets TCP_NODELAY from here.
  */
private[graft] object HttpEndpoint {

  private val NoDelay = "sun.net.httpserver.nodelay"
  if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")

  /** Start a server on 127.0.0.1:`port` (0 lets the OS pick) with one
    * context per route; each handler returns the status code and JSON
    * body to send. The default executor runs handlers on the server's
    * dispatcher thread, one exchange at a time. */
  def serve(port: Int, routes: (String, HttpExchange => (Int, String))*)
      : HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    routes.foreach { case (path, handler) =>
      server.createContext(path, (ex: HttpExchange) => {
        val (code, body) = handler(ex)
        val bytes = body.getBytes("UTF-8")
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    }
    server.setExecutor(null)
    server.start()
    server
  }
}

/** A driver-fed stream of JSON text rows: the transport under the REST
  * trigger, the CSV replay and the memory channels.
  *
  * Every row added between two micro-batches lands in one of at most
  * `defaultParallelism` input partitions, dealt round-robin, so a batch
  * costs one task per core however many `add` calls fed it (a plain
  * `MemoryStream` makes one partition, and so one task, per call).
  * Rows keep their arrival order within a partition but not across
  * partitions: consumers that need arrival order sort by `__seq`.
  */
private[streaming] final class IngressStream(implicit spark: SparkSession) {

  LocalCheckpointFiles.install(spark)

  private val stream = MemoryStream[String](
    spark.sparkContext.defaultParallelism)(Encoders.STRING, spark.sqlContext)

  def add(rows: Seq[String]): Unit = stream.addData(rows)

  /** The raw rows, one string column `value`. */
  def rows: DataFrame = stream.toDF()

  /** The rows as `__seq`/`__ts_ms` envelopes: the fields decoded with
    * `schema`, plus `__seq` (arrival order) and `__ts` (arrival
    * wall-clock). */
  def envelopes(schema: StructType): DataFrame =
    rows
      .select(from_json(col("value"), schema).as("r"),
        get_json_object(col("value"), "$.__seq").cast("bigint").as("__seq"),
        timestamp_millis(get_json_object(col("value"), "$.__ts_ms")
          .cast("bigint")).as("__ts"))
      .select(col("r.*"), col("__seq"), col("__ts"))
}
