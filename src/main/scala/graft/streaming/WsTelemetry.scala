package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper
import java.io.{BufferedReader, InputStreamReader, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64
import java.util.concurrent.ArrayBlockingQueue
import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

/** WebSocket telemetry broadcast — parity with the reference's telemetry
  * service (service/telemetry/service.go:195-204 upgrade+register,
  * :207-231 broadcast loop): clients connect over a ws:// endpoint and
  * receive every pipeline/stage event as one JSON text message.
  *
  * Implemented as a [[Telemetry.Sink]] over a minimal RFC 6455 server
  * (handshake = SHA-1 accept key; server-to-client text frames are
  * unmasked), so it plugs into the same `Telemetry.attach`/`attachBatch`
  * wiring as the console and collecting sinks — no extra dependencies.
  * Inbound frames are not read (the reference's service is also
  * broadcast-only).
  *
  * Isolation guarantees (emit is called from Spark listener threads, so
  * nothing here may block them):
  *  - each handshake runs on its own daemon thread — a client that
  *    connects and sends nothing can never stall the accept loop, and a
  *    failed/timed-out handshake closes its socket;
  *  - each client gets a bounded queue drained by its own writer thread;
  *    `emit` only enqueues. A slow consumer fills its queue and is
  *    DROPPED (queue-full eviction), the broadcast analog of the
  *    reference's delete-on-write-error (service.go:219-226).
  */
class WsTelemetrySink(port: Int = 0, queueCapacity: Int = 256)
    extends Telemetry.Sink {

  private val mapper = new ObjectMapper()

  private final class Client(val sock: Socket, out: OutputStream) {
    val queue = new ArrayBlockingQueue[Array[Byte]](queueCapacity)
    val writer = new Thread(() => {
      try {
        while (true) { val b = queue.take(); out.write(b); out.flush() }
      } catch { case _: Throwable => () } // interrupted or peer hung up
      finally drop(this)
    }, s"ws-telemetry-writer-${sock.getPort}")
    writer.setDaemon(true)
  }

  private val clients = TrieMap.empty[Socket, Client]
  @volatile private var running = true
  private val server = new ServerSocket(port, 16, InetAddress.getByName("127.0.0.1"))

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        // handshake off-thread: a silent client must not stall accepts
        val t = new Thread(() => {
          try {
            if (handshake(sock)) {
              val c = new Client(sock, sock.getOutputStream)
              clients.put(sock, c)
              c.writer.start()
              // close() may have run while this handshake was in flight
              // (it only saw the clients registered at that instant) —
              // re-check so a late registration can't outlive the sink
              if (!running) { c.writer.interrupt(); drop(c) }
            } else sock.close()
          } catch { case NonFatal(_) =>
            try sock.close() catch { case NonFatal(_) => () }
          }
        }, s"ws-telemetry-handshake-${sock.getPort}")
        t.setDaemon(true)
        t.start()
      } catch { case NonFatal(_) => () /* closed during accept */ }
    }
  }, s"ws-telemetry-${server.getLocalPort}")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Bound port (useful with port=0). */
  def boundPort: Int = server.getLocalPort

  def clientCount: Int = clients.size

  private def drop(c: Client): Unit = {
    clients.remove(c.sock)
    try c.sock.close() catch { case NonFatal(_) => () }
  }

  /** HTTP upgrade: read headers, answer 101 with the RFC 6455 accept key
    * (SHA-1 of key + fixed GUID, base64). */
  private def handshake(sock: Socket): Boolean = {
    sock.setSoTimeout(5000)
    val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
    var key: String = null
    var line = in.readLine()
    if (line == null || !line.startsWith("GET ")) return false
    line = in.readLine()
    while (line != null && line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0 && line.substring(0, i).equalsIgnoreCase("Sec-WebSocket-Key"))
        key = line.substring(i + 1).trim
      line = in.readLine()
    }
    if (key == null) return false
    val accept = Base64.getEncoder.encodeToString(
      MessageDigest.getInstance("SHA-1")
        .digest((key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(UTF_8)))
    val resp = "HTTP/1.1 101 Switching Protocols\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
      s"Sec-WebSocket-Accept: $accept\r\n\r\n"
    sock.getOutputStream.write(resp.getBytes(UTF_8))
    sock.getOutputStream.flush()
    sock.setSoTimeout(0)
    true
  }

  /** One unmasked server-to-client text frame (FIN + opcode 0x1). */
  private def frame(payload: Array[Byte]): Array[Byte] = {
    val n = payload.length
    val header =
      if (n < 126) Array[Byte](0x81.toByte, n.toByte)
      else if (n < 65536)
        Array[Byte](0x81.toByte, 126, (n >> 8).toByte, n.toByte)
      else Array[Byte](0x81.toByte, 127, 0, 0, 0, 0,
        (n >> 24).toByte, (n >> 16).toByte, (n >> 8).toByte, n.toByte)
    header ++ payload
  }

  /** JSON shape mirrors the reference's PipelineTelemetry message
    * (service/telemetry/service.go:57-64: type/pipelineId/stageId/data). */
  private def toJson(e: Telemetry.Event): String = {
    val node = mapper.createObjectNode()
    node.put("pipelineId", e.queryId)
    node.put("ts", e.ts)
    e match {
      case Telemetry.PipelineStarted(_, name, _) =>
        node.put("type", "pipeline-started"); node.put("name", name)
      case p: Telemetry.PipelineProgress =>
        node.put("type", "pipeline-progress")
        node.put("batchId", p.batchId); node.put("numInputRows", p.numInputRows)
        node.put("addBatchMs", p.addBatchMs); node.put("walCommitMs", p.walCommitMs)
        node.put("commitOffsetsMs", p.commitOffsetsMs)
        node.put("triggerExecutionMs", p.triggerExecutionMs)
        node.put("stateCommitMs", p.stateCommitMs)
      case Telemetry.StageProgress(_, stage, rows, _) =>
        node.put("type", "stage-finished")
        node.put("stageId", stage); node.put("rows", rows)
      case Telemetry.PipelineFinished(_, _) =>
        node.put("type", "pipeline-finished")
    }
    mapper.writeValueAsString(node)
  }

  /** Enqueue to every connected client; never blocks the caller. A client
    * whose queue is full is a slow consumer and is dropped, as is one
    * whose writer already failed. */
  override def emit(e: Telemetry.Event): Unit = {
    val bytes = frame(toJson(e).getBytes(UTF_8))
    clients.values.foreach { c =>
      if (!c.queue.offer(bytes)) { c.writer.interrupt(); drop(c) }
    }
  }

  def close(): Unit = {
    running = false
    try server.close() catch { case NonFatal(_) => () }
    clients.values.foreach { c => c.writer.interrupt(); drop(c) }
  }
}
