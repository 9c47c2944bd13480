package perfbench

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.engine.{Dsl, Pipelines}
import graft.streaming.{Channels, RestIngest}
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The streaming sink both streaming workloads use: collect each
  * micro-batch, stamp the time its rows were emitted, keep the rows for
  * the output check. Rows must carry a `seq` column: the `__seq` of the
  * event that completed them. */
final class Sink {
  val rows = new ConcurrentLinkedQueue[Row]()
  val emitUs = new ConcurrentHashMap[Long, java.lang.Long]()

  def start(df: DataFrame, ckpt: Path)(implicit spark: SparkSession): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val qid = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        Trace.span("sink.batch", s"batch-$id", s"batch:$qid:$id") {
          val rs = b.collect()
          val t = Util.nowUs()
          rs.foreach { r =>
            rows.add(r)
            emitUs.put(r.getAs[Long]("seq"), t)
          }
        }
        ()
      }
      .start()
}

/** Shared streaming pieces: the measured phases and their arithmetic. */
object StreamPhases {
  /** Latency limit (ms) the nominal-rate tail percentile is held against. */
  val TailLimitMs = 2000.0

  /** Input rows per second the query processed while the saturation
    * phase kept it backlogged: the median over micro-batches of rows
    * over trigger time, for the batches that started between the phase's
    * start and the end of the drain after it, leaving out the first
    * when others follow (it only holds what arrived before the backlog
    * built up). */
  def sustainedEps(q: StreamingQuery, fromUs: Long, toUs: Long): (Double, Int) = {
    val rates = q.recentProgress.toSeq.flatMap { p =>
      val i = java.time.Instant.parse(p.timestamp)
      val s = i.getEpochSecond * 1000000L + i.getNano / 1000
      val d = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      if (s >= fromUs && s < toUs && p.numInputRows > 0 && d > 0)
        Some(s -> p.numInputRows * 1000.0 / d)
      else None
    }.sortBy(_._1).map(_._2)
    val backlogged = if (rates.size > 1) rates.drop(1) else rates
    (Util.median(backlogged), backlogged.size)
  }

  /** Stretches of equal due time the nominal phase is cut into. */
  val Stretches = 5

  /** Percentile `q` of the latency samples (due time us, ms) taken per
    * stretch of the nominal phase, and the median over stretches. On a
    * shared host the hypervisor withholds CPU in bursts of a few seconds
    * (`host.steal_pct_by_period`), and a burst can double the latency of
    * the events due while it lasts; one or two slowed stretches leave the
    * median unchanged, while a change that slows every event moves it in
    * full. Writes the pooled percentile and each stretch's value to `x`. */
  def segmented(samples: Seq[(Long, Double)], q: Double, x: ObjectNode): Double =
    if (samples.isEmpty) 0.0
    else {
      val q0 = samples.map(_._1).min
      val width = (samples.map(_._1).max - q0 + 1).toDouble / Stretches
      val per = samples.groupBy { case (t, _) => ((t - q0) / width).toInt }
        .toSeq.sortBy(_._1).map { case (_, xs) => Util.pct(xs.map(_._2), q) }
      val name = s"latency_p${q.toInt}"
      x.put(s"${name}_pooled_ms", Util.pct(samples.map(_._2), q))
      val a = x.putArray(s"${name}_by_stretch_ms"); per.foreach(a.add)
      Util.median(per)
    }

  /** Compare streaming emissions with the batch compile of the same
    * pipeline over the accepted events, row for row in `seq` order. */
  def sameRows(streamed: Seq[Row], batch: Seq[Row]): (Boolean, String) = {
    def norm(rs: Seq[Row]) = rs.map(_.toSeq.map {
      case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      case x => x
    }).sortBy(_.head.asInstanceOf[Long])
    val (a, b) = (norm(streamed), norm(batch))
    if (a == b) (true, s"${a.size} rows equal the batch compile")
    else {
      val firstDiff = a.zipAll(b, Nil, Nil).indexWhere { case (x, y) => x != y }
      (false, s"streamed ${a.size} rows, batch ${b.size} rows; first " +
        s"difference at row $firstDiff: ${a.lift(firstDiff)} vs ${b.lift(firstDiff)}")
    }
  }
}

/** Open-loop REST ingest: an out-of-process generator POSTs one event per
  * request to [[RestIngest]]; a stateless mapper and a non-zero filter
  * run per event. */
final class RestIngestFilter(seed: Long, work: Path, proto: Protocol)
    extends Workload {
  val name = "rest_ingest_filter"
  val Rate = 40.0
  val SatRate = 200.0
  val Conns = 4
  /** Share of `--seconds` at the nominal rate; the rest saturates. */
  val NominalShare = 0.8
  /** Load at the nominal rate before measuring (JIT, connections),
    * excluded from every sample. */
  val WarmS = 3.0

  val pipelineJson: String =
    """{"metadata": {
      |   "input":  [{"name": "user", "type": "string"},
      |              {"name": "value", "type": "double"}],
      |   "output": [{"name": "seq", "type": "long"},
      |              {"name": "user", "type": "string"},
      |              {"name": "scaled", "type": "double"},
      |              {"name": "tag", "type": "string"}]},
      | "stages": [{"ref": "#filter", "settings": {"type": "non-zero"},
      |   "input": {"value": "=$.value"},
      |   "output": {"pipeline.seq": "=$.__seq",
      |              "pipeline.scaled": "=$.value * 2.5 + 1",
      |              "pipeline.tag": "=string.concat($.user, ':', string.upper($.user))"}}]}
      |""".stripMargin
  private val schema = StructType(Seq(
    StructField("user", StringType), StructField("value", DoubleType)))

  private var ingest: RestIngest = _
  private var port = 0
  private var q: StreamingQuery = _
  private var sink: Sink = _
  private var pipeline: Dsl.PipelineDef = _
  private var passes = 0
  /** (seq, user, value) of every event the current query accepted. */
  private val accepted = ArrayBuffer.empty[(Long, String, Double)]

  private def post(e: Inputs.Event): Long = {
    val c = new java.net.URL(s"http://127.0.0.1:$port/ingest")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod("POST"); c.setDoOutput(true)
    c.getOutputStream.write(
      s"""{"user": "${e.user}", "value": ${e.value}}""".getBytes("UTF-8"))
    val body = new String(c.getInputStream.readAllBytes(), "UTF-8")
    require(c.getResponseCode == 200, s"warm-up POST refused: $body")
    Util.json.readTree(body).get("accepted").asLong
  }

  def setup(spark: SparkSession): Unit = {
    implicit val s: SparkSession = spark
    stop()
    accepted.clear()
    passes += 1
    ingest = new RestIngest(0)
    port = ingest.start()
    pipeline = Trace.span("engine.parse") { Dsl.parsePipeline("rest_filter", pipelineJson) }
    val df = Trace.span("engine.compile") {
      Pipelines.compileStream(pipeline, ingest.toDF(schema))
    }
    sink = new Sink
    q = Trace.span("query.start") {
      sink.start(df, work.resolve(s"ckpt/rest-$passes"))
    }
    // warm-up traffic, sent from this JVM: compiles and JITs the path
    val g = new Inputs.EventGen(seed + 1000003L)
    Trace.span("warmup") {
      (0 until 10).foreach { _ =>
        val e = g.next()
        accepted += ((post(e), e.user, e.value))
      }
      q.processAllAvailable()
    }
  }

  def measure(spark: SparkSession, seconds: Int): Measured = {
    val log = work.resolve(s"gen-$passes.jsonl")
    val nomS = seconds * NominalShare
    val satS = seconds - nomS
    val plan = Util.json.createObjectNode()
      .put("port", port).put("seed", seed).put("rate", Rate)
      .put("warm_s", WarmS).put("nominal_s", nomS)
      .put("sat_rate", SatRate).put("sat_s", satS)
      .put("conns", Conns).put("log", log.toString)
    val t0 = Util.nowUs()
    val reply = proto.ask("PERFBENCH-GEN", plan)
    require(reply.startsWith("DONE"), s"generator failed: $reply")
    val genCpuS = reply.split(" ").lift(1).map(_.toDouble).getOrElse(0.0)
    val lines = Files.readAllLines(log).asScala.map(Util.json.readTree).toSeq
    lines.filter(_.get("status").asInt == 200).foreach { n =>
      accepted += ((n.get("seq").asLong, n.get("user").asText, n.get("value").asDouble))
    }
    q.processAllAvailable()
    val t1 = Util.nowUs()
    val nominal = lines.filter(_.get("phase").asText == "nominal")
    val lat = nominal.flatMap { n =>
      val due = n.get("due_us").asLong
      val done =
        if (n.get("status").asInt != 200) Some(t1)
        else if (n.get("value").asDouble == 0.0) None
        else Option(sink.emitUs.get(n.get("seq").asLong)).map(_.longValue)
          .orElse(Some(t1))
      done.map(e => due -> (e - due) / 1000.0)
    }
    // HTTP is the bottleneck here (the engine keeps up with what the
    // server accepts): the sustained rate is the accept rate while the
    // generator offered more than the connections could carry
    val sat = lines.filter(n => n.get("phase").asText == "saturation" &&
      n.get("status").asInt == 200)
    val eps =
      if (sat.size < 2) 0.0
      else (sat.size - 1) * 1e6 /
        (sat.map(_.get("done_us").asLong).max - sat.map(_.get("done_us").asLong).min)
    val reqMs = lines.filter(_.get("status").asInt == 200)
      .map(n => (n.get("done_us").asLong - n.get("send_us").asLong) / 1000.0)
    val late = nominal.map(n =>
      (n.get("send_us").asLong - n.get("due_us").asLong) / 1000.0)
    // generator backlog: events due but not yet sent, at each send
    val dues = nominal.map(_.get("due_us").asLong).sorted.toArray
    val sends = nominal.map(_.get("send_us").asLong).sorted.toArray
    val backlog = sends.indices.map { i =>
      val dueBy = java.util.Arrays.binarySearch(dues, sends(i)) match {
        case k if k >= 0 => k + 1
        case k => -k - 1
      }
      (dueBy - (i + 1)) max 0
    }
    val x = Util.json.createObjectNode()
    x.put("ingest.request_p50_ms", Util.median(reqMs))
    x.put("ingest.request_p99_ms", Util.pct(reqMs, 99))
    x.put("ingest.requests", lines.size.toDouble)
    x.put("ingest.failed", lines.count(_.get("status").asInt != 200).toDouble)
    x.put("generator.late_max_ms", if (late.isEmpty) 0.0 else late.max)
    x.put("generator.backlog_events", if (backlog.isEmpty) 0.0 else backlog.max.toDouble)
    x.put("generator.cpu_s", genCpuS)
    x.put("sink.rows", sink.rows.size.toDouble)
    x.put("nominal_rate_eps", Rate)
    x.put("saturation_offered_eps", SatRate)
    x.put("latency_samples", lat.size)
    val p50 = StreamPhases.segmented(lat, 50, x)
    val p95 = StreamPhases.segmented(lat, 95, x)
    x.put("p95_limit_ms", StreamPhases.TailLimitMs)
    x.put("p95_within_limit", p95 <= StreamPhases.TailLimitMs)
    Measured(p50, p95, eps, lines.size.toLong,
      lines.count(_.get("status").asInt != 200).toLong, x, (t0, t1))
  }

  def check(spark: SparkSession): (Boolean, String) = {
    import spark.implicits._
    val events = accepted.toSeq.map { case (s, u, v) => (u, v, s) }
      .toDF("user", "value", "__seq")
    val batch = Pipelines.compileBatch(pipeline, events)
      .select("seq", "user", "scaled", "tag").collect().toSeq
    StreamPhases.sameRows(sink.rows.asScala.toSeq, batch)
  }

  override def stop(): Unit = {
    if (q != null) { q.stop(); q = null }
    if (ingest != null) { ingest.stop(); ingest = null }
  }
}

/** Open-loop channel push: a generator thread in this JVM calls
  * [[Channels.push]] every tick; a subscribed pipeline keys events by
  * user (`groupBy`) into a tumbling count window with an output
  * mapper. */
final class ChannelKeyedWindow(seed: Long, work: Path) extends Workload {
  val name = "channel_keyed_window"
  val Rate = 4000.0
  val SatRate = 24000.0
  val TickMs = 50L
  /** Share of `--seconds` at the nominal rate; the rest saturates. */
  val NominalShare = 0.6
  /** Load at the nominal rate before measuring (JIT), excluded from
    * every sample. */
  val WarmS = 3.0
  val WindowSize = 5

  val appJson: String =
    s"""{"name": "perfbench", "type": "flogo:app",
      | "channels": ["events:1000"],
      | "triggers": [{"id": "events_in", "ref": "#channel",
      |   "handlers": [{"settings": {"channel": "events"},
      |                 "action": {"id": "per_user"}}]}],
      | "actions": [{"id": "per_user", "ref": "#stream",
      |   "settings": {"streamURI": "res://stream:per_user", "groupBy": "user"}}],
      | "resources": [{"id": "stream:per_user", "data": {
      |   "metadata": {
      |     "input":  [{"name": "user", "type": "string"},
      |                {"name": "value", "type": "double"}],
      |     "output": [{"name": "seq", "type": "long"},
      |                {"name": "user", "type": "string"},
      |                {"name": "result", "type": "double"},
      |                {"name": "mean", "type": "double"}]},
      |   "stages": [{"ref": "#aggregate",
      |     "settings": {"function": "sum", "windowType": "tumbling",
      |                  "windowSize": "$WindowSize"},
      |     "input": {"value": "=$$.value"},
      |     "output": {"seq": "=$$.__seq", "user": "=$$.__group",
      |                "mean": "=$$.result / $WindowSize"}}]}}]}
      |""".stripMargin
  private val schema = StructType(Seq(StructField("user", StringType),
    StructField("value", DoubleType), StructField("__seq", LongType)))

  private var q: StreamingQuery = _
  private var sink: Sink = _
  private var pipeline: Dsl.PipelineDef = _
  private var channel = ""
  private var passes = 0
  private var nextSeq = 0L
  private val gen = new Inputs.EventGen(seed)
  /** Every event pushed into the current query, in seq order. */
  private val pushed = ArrayBuffer.empty[Inputs.Event]
  private var firstSeq = 0L

  private def row(e: Inputs.Event, seq: Long) =
    s"""{"user":"${e.user}","value":${e.value},"__seq":$seq}"""

  def setup(spark: SparkSession): Unit = {
    implicit val s: SparkSession = spark
    stop()
    passes += 1
    channel = s"events$passes"
    pushed.clear()
    firstSeq = nextSeq
    val app = Trace.span("engine.parse") { Dsl.parseApp(appJson) }
    pipeline = app.pipelines("per_user")
    val df = Trace.span("engine.compile") {
      Pipelines.compileStream(pipeline, Channels.subscribe(channel, schema))
    }
    sink = new Sink
    q = Trace.span("query.start") {
      sink.start(df, work.resolve(s"ckpt/channel-$passes"))
    }
    Trace.span("warmup") {
      val warm = Seq.fill(2000)(gen.next())
      Channels.push(channel, warm.map { e => val r = row(e, nextSeq); nextSeq += 1; r })
      q.processAllAvailable()
      pushed ++= warm
    }
  }

  def measure(spark: SparkSession, seconds: Int): Measured = {
    implicit val s: SparkSession = spark
    val nomS = seconds * NominalShare
    val satS = seconds - nomS
    // the schedule: (due offset us, phase) per event, built before timing
    val phases = Seq(("warm", Rate, WarmS),
      ("nominal", Rate, nomS), ("saturation", SatRate, satS))
    val sched = ArrayBuffer.empty[(Long, String)]
    var off = 0.0
    phases.foreach { case (ph, rate, dur) =>
      val n = (rate * dur).round.toInt
      (0 until n).foreach(i => sched += (((off + i * 1e6 / rate).toLong, ph)))
      off += dur * 1e6
    }
    val seq0 = nextSeq
    val events = sched.indices.map(_ => gen.next())
    val rows = events.indices.map(i => row(events(i), seq0 + i))
    val pushMs = ArrayBuffer.empty[Double]
    var lateMax = 0.0
    var backlogMax = 0
    val t0 = Util.nowUs() + 20000
    var i = 0
    while (i < rows.length) {
      val now = Util.nowUs()
      val nextDue = t0 + sched(i)._1
      if (now < nextDue) Thread.sleep(((nextDue - now) / 1000) max 0L min TickMs)
      else {
        var j = i
        while (j < rows.length && t0 + sched(j)._1 <= now) j += 1
        if (sched(i)._2 == "nominal") {
          lateMax = lateMax max ((now - nextDue) / 1000.0)
          backlogMax = backlogMax max (j - i)
        }
        val batch = rows.slice(i, j)
        val p0 = System.nanoTime()
        Trace.span("channels.push", s"seq-${seq0 + i}") { Channels.push(channel, batch) }
        pushMs += (System.nanoTime() - p0) / 1e6
        i = j
        val spent = (Util.nowUs() - now) / 1000
        if (spent < TickMs) Thread.sleep(TickMs - spent)
      }
    }
    nextSeq = seq0 + rows.length
    pushed ++= events
    q.processAllAvailable()
    val t1 = Util.nowUs()
    val nominal = sched.indices.filter(k => sched(k)._2 == "nominal")
    val lat = nominal.flatMap { k =>
      val due = t0 + sched(k)._1
      Option(sink.emitUs.get(seq0 + k)).map(e => due -> (e.longValue - due) / 1000.0)
    }
    val satIdx = sched.indices.filter(k => sched(k)._2 == "saturation")
    val (eps, satBatches) = StreamPhases.sustainedEps(q,
      t0 + sched(satIdx.head)._1, t1)
    val x = Util.json.createObjectNode()
    x.put("channels.push_p50_ms", Util.median(pushMs.toSeq))
    x.put("channels.push_p99_ms", Util.pct(pushMs.toSeq, 99))
    x.put("generator.late_max_ms", lateMax)
    x.put("generator.backlog_events", backlogMax.toDouble)
    x.put("sink.rows", sink.rows.size.toDouble)
    x.put("nominal_rate_eps", Rate)
    x.put("saturation_offered_eps", SatRate)
    x.put("saturation_batches", satBatches)
    x.put("tick_ms", TickMs)
    x.put("latency_samples", lat.size)
    val p50 = StreamPhases.segmented(lat, 50, x)
    val p95 = StreamPhases.segmented(lat, 95, x)
    x.put("p95_limit_ms", StreamPhases.TailLimitMs)
    x.put("p95_within_limit", p95 <= StreamPhases.TailLimitMs)
    Measured(p50, p95, eps, pushMs.size.toLong, 0L, x, (t0, t1))
  }

  def check(spark: SparkSession): (Boolean, String) = {
    import spark.implicits._
    val events = pushed.toSeq.zipWithIndex.map { case (e, k) =>
      (e.user, e.value, firstSeq + k) }.toDF("user", "value", "__seq")
    val batch = Pipelines.compileBatch(pipeline, events)
      .select("seq", "user", "result", "mean").collect().toSeq
    StreamPhases.sameRows(sink.rows.asScala.toSeq, batch)
  }

  override def stop(): Unit = {
    if (q != null) { q.stop(); q = null }
    Channels.reset()
  }
}
