package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** Shared ingress auto-parse: numeric text becomes float64, everything
  * else stays a string — the reference's single coercion rule
  * (trigger/streamtester/dataset.go:62, strconv.ParseFloat). Both
  * untyped ingresses (CSV replay and the REST trigger) use this ONE
  * rule so the same logical value gets the same JSON type regardless of
  * which door it came in through; declared pipeline metadata then casts
  * at the boundary (Pipelines.prologue). */
private[streaming] object AutoParse {
  def apply(v: String): Any =
    scala.util.Try(v.toDouble).getOrElse(v): Any
}

/** Rate-limited CSV replay source — parity with the reference's
  * streamtester trigger (trigger/streamtester/dataset.go:21-117,
  * emitter.go:89-146, control API tester.go:63-74).
  *
  * Semantics mirrored:
  *  - CSV parse with optional header; each column auto-parsed as float64
  *    when possible, else string (dataset.go:62).
  *  - one row emitted every `emitDelayMs` (clamped to >= 10 —
  *    emitter.go:40-42).
  *  - `replayData`: loop the dataset forever; `allDataAtOnce`: emit the
  *    whole dataset as a single batch.
  *  - control: start / stop / pause / resume / reload (REST in the
  *    reference; direct methods here, an HTTP shim is a trivial wrapper).
  *
  * Rows are fed into an [[IngressStream]] as JSON with `__seq` (arrival
  * index) and `__ts` (emit wall-clock) attached — exactly the meta
  * columns the pipeline compiler expects.
  */
class CsvReplay(path: String, header: Boolean = true, emitDelayMs: Long = 100,
                replayData: Boolean = false, allDataAtOnce: Boolean = false)
               (implicit spark: SparkSession) {

  private val stream = new IngressStream
  private val running = new AtomicBoolean(false)
  private val paused = new AtomicBoolean(false)
  private val seq = new AtomicLong(0)
  // names + rows captured together at load time, so columnNames always
  // describes the dataset actually being replayed (a file rewritten on
  // disk changes neither until reload())
  @volatile private var dataset: (Vector[String], Vector[Map[String, Any]]) =
    load()
  private def rows: Vector[Map[String, Any]] = dataset._2
  @volatile private var thread: Option[Thread] = None

  /** RFC-4180-style field split: quoted fields may contain commas and
    * doubled quotes; trailing empty fields are preserved (Java's
    * split(",") drops them, misaligning names.zip). The reference uses
    * Go's encoding/csv, which handles both. Divergences from
    * encoding/csv, both inherent to line-at-a-time replay: embedded
    * newlines inside quoted fields are NOT supported (the file is
    * pre-split into lines), and only UNQUOTED fields are trimmed —
    * quoting is the user's explicit way to keep significant spaces. */
  private[streaming] def splitCsvLine(l: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var inQuotes = false
    var wasQuoted = false
    def emit(): Unit = {
      out += (if (wasQuoted) cur.result() else cur.result().trim)
      cur.clear(); wasQuoted = false
    }
    var i = 0
    while (i < l.length) {
      val c = l.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < l.length && l.charAt(i + 1) == '"') { cur += '"'; i += 1 }
          else inQuotes = false
        } else cur += c
      } else c match {
        // a quote OPENS a quoted field only at field start; a bare quote
        // mid-field stays literal (Go encoding/csv LazyQuotes behavior —
        // the spec pins `say "hi"` surviving as-is)
        case '"' if cur.isEmpty => inQuotes = true; wasQuoted = true
        case ',' => emit()
        case ch  => cur += ch
      }
      i += 1
    }
    emit()
    out.result()
  }

  private def load(): (Vector[String], Vector[Map[String, Any]]) = {
    // close the Source: each load/reload would otherwise hold an fd
    // until GC (the control API's reload makes this a repeating leak)
    val src = scala.io.Source.fromFile(path)
    val lines =
      try src.getLines().toVector.filter(_.nonEmpty)
      finally src.close()
    if (lines.isEmpty) return (Vector.empty, Vector.empty)
    val (names, dataLines) =
      if (header) (splitCsvLine(lines.head), lines.tail)
      else (splitCsvLine(lines.head).indices.map(i => s"c$i").toVector, lines)
    (names, dataLines.map { l =>
      names.zip(splitCsvLine(l)).map { case (n, v) =>
        n -> AutoParse(v)
      }.toMap
    })
  }

  // Jackson (bundled with Spark) rather than hand-built interpolation:
  // backslashes, control characters and non-finite doubles in CSV cells
  // must serialize to valid JSON, or from_json nulls the whole row.
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJson(m: Map[String, Any], s: Long, ts: Long): String = {
    val jm = new java.util.LinkedHashMap[String, Any]()
    m.foreach { case (k, v) => jm.put(k, v) }
    jm.put("__seq", java.lang.Long.valueOf(s))
    jm.put("__ts_ms", java.lang.Long.valueOf(ts))
    jsonMapper.writeValueAsString(jm)
  }

  /** Streaming DataFrame with the CSV's columns + __seq + __ts. */
  def toDF(schema: StructType): DataFrame = stream.envelopes(schema)

  def start(): Unit = {
    if (running.getAndSet(true)) return
    paused.set(false)
    val t = new Thread(() => {
      val delay = math.max(emitDelayMs, 10L) // emitter.go:40-42
      do {
        if (allDataAtOnce) {
          val now = System.currentTimeMillis()
          stream.add(rows.map(r => toJson(r, seq.getAndIncrement(), now)))
          // replayData + allDataAtOnce must still pace at the emit delay
          // (an unthrottled loop re-adds the whole dataset thousands of
          // times per second into the driver-held stream), and an
          // empty dataset must not busy-spin a core
          if (replayData && running.get()) Thread.sleep(delay)
        } else if (rows.isEmpty) {
          if (replayData && running.get()) Thread.sleep(delay)
        } else {
          // no non-local `return` here: it compiles to a control-flow
          // exception, which any interposed catch would swallow
          val it = rows.iterator
          while (it.hasNext && running.get()) {
            val r = it.next()
            while (paused.get() && running.get()) Thread.sleep(5)
            if (running.get()) {
              stream.add(Seq(toJson(r, seq.getAndIncrement(),
                System.currentTimeMillis())))
              Thread.sleep(delay)
            }
          }
        }
      } while (replayData && running.get())
      running.set(false)
    }, s"csv-replay-$path")
    t.setDaemon(true)
    thread = Some(t)
    t.start()
  }

  def stop(): Unit = { running.set(false); thread.foreach(_.join(2000)) }
  def pause(): Unit = paused.set(true)
  def resume(): Unit = paused.set(false)
  def reload(): Unit = { dataset = load() }   // tester.go reload
  def isRunning: Boolean = running.get()

  /** The LOADED dataset's column names (header row, or generated
    * c0..cN) — the reference's getColumnNames handler output
    * (trigger/streamtester/descriptor.json columnNames); a direct
    * accessor since graft rows are always map-shaped, captured at
    * load/reload time so it always matches the rows being replayed. */
  def columnNames: Vector[String] = dataset._1
}
