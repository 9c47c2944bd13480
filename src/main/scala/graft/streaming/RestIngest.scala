package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import java.util.concurrent.atomic.AtomicLong

/** REST trigger source (S2) — the reference's rest trigger feeds one
  * event per HTTP request into a pipeline (examples/channel-flogo.json:
  * triggers[0], `#rest` handler with an input mapper over the request).
  *
  * HTTP requests land one at a time on a driver-side endpoint and are
  * bridged into an [[IngressStream]] as JSON rows with `__seq`/`__ts`
  * attached — the same envelope CsvReplay and Channels use, so the
  * pipeline compiler sees an identical contract. POST bodies must be
  * JSON objects; a GET with query parameters maps them to fields
  * (the reference's pathParams/queryParams mapper inputs).
  *
  * Responses are sent with TCP_NODELAY ([[HttpEndpoint]]), so a
  * keep-alive client's request costs the handler's time, not a 40 ms
  * delayed-ACK stall. That cannot be arranged if the host application
  * started a JDK `HttpServer` before the first graft endpoint: the JDK
  * fixes the socket option for the whole JVM at its first server.
  *
  * Row order inside a micro-batch is not arrival order: the rows of one
  * batch are dealt over up to one input partition per core. `__seq` is
  * the arrival order, and the pipeline's order-sensitive stages sort by
  * it.
  *
  * Driver-side by design, like every external ingress: a production
  * deployment swaps this shim for Kafka/Kinesis and keeps the pipeline
  * unchanged — the envelope is the portable part.
  */
class RestIngest(port: Int)(implicit spark: SparkSession) {

  private val stream = new IngressStream
  private val seq = new AtomicLong(0)
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private var server: HttpServer = _

  /** Streaming DataFrame of ingested rows decoded with `schema`, plus
    * `__seq` (arrival order) and `__ts` (arrival wall-clock). */
  def toDF(schema: StructType): DataFrame = stream.envelopes(schema)

  /** Start the HTTP endpoint; returns the bound port (use 0 to let the
    * OS pick). Ingest path: POST /ingest with a JSON object body, or
    * GET /ingest?field=value&... */
  def start(): Int = {
    server = HttpEndpoint.serve(port, "/ingest" -> handle)
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  private def handle(ex: HttpExchange): (Int, String) =
    try {
      val node: com.fasterxml.jackson.databind.node.ObjectNode =
        ex.getRequestMethod match {
          case "POST" =>
            jsonMapper.readTree(ex.getRequestBody.readAllBytes()) match {
              case o: com.fasterxml.jackson.databind.node.ObjectNode => o
              case _ => throw new IllegalArgumentException(
                "POST body must be a JSON object")
            }
          case "GET" =>
            val o = jsonMapper.createObjectNode()
            Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
              .filter(_.contains("=")).foreach { kv =>
                val Array(k, v) = kv.split("=", 2)
                val key = java.net.URLDecoder.decode(k, "UTF-8")
                // query params are untyped text and from_json will not
                // coerce a JSON string into a numeric field — apply the
                // SAME auto-parse rule as the CSV tester (AutoParse,
                // dataset.go:62) so both ingresses type values alike
                AutoParse(java.net.URLDecoder.decode(v, "UTF-8")) match {
                  case d: Double => o.put(key, d)
                  case s: String => o.put(key, s)
                }
              }
            o
          case other => throw new IllegalArgumentException(
            s"unsupported method $other")
        }
      val s = seq.getAndIncrement()
      node.put("__seq", s)
      node.put("__ts_ms", System.currentTimeMillis())
      stream.add(Seq(jsonMapper.writeValueAsString(node)))
      (200, s"""{"accepted": $s}""")
    } catch {
      case e: Exception =>
        (400, jsonMapper.writeValueAsString(
          jsonMapper.createObjectNode().put("error", e.getMessage)))
    }
}
