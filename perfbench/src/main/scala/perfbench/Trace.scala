package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One traced interval. `key` names the span so children can point at it
  * (`parent`); `req` is the request id: an event `__seq`, a micro-batch
  * or an operator call. Times are epoch microseconds. `attrs` holds the
  * counters recorded at the same boundary. */
final case class Span(key: String, name: String, startUs: Long, endUs: Long,
                      parent: String, req: String,
                      attrs: Map[String, Double] = Map.empty)

/** In-memory span recorder. Off by default: the end-to-end metrics are
  * measured with it off, and a separate traced pass turns it on. Spans
  * come from the benchmark's own calls into each layer and from Spark's
  * public listeners (jobs, stages, tasks, query executions, streaming
  * progress); nothing is added to the engine. */
object Trace {

  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val current = new ThreadLocal[String] {
    override def initialValue(): String = ""
  }
  /** Property naming the benchmark span a Spark job was started under. */
  val SpanProp = "perfbench.span"

  def add(s: Span): Unit = if (on) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  def clear(): Unit = spans.clear()

  /** Run `f` as a span named `name`. Jobs Spark starts from this thread
    * inside `f` are linked to it through a local property. */
  def span[T](name: String, req: String = "", parentKey: String = "")
             (f: => T)(implicit spark: SparkSession = null): T =
    if (!on) f
    else {
      val key = s"b${ids.getAndIncrement()}"
      val prev = current.get()
      val parent = if (parentKey.nonEmpty) parentKey else prev
      val sc = Option(spark).map(_.sparkContext)
      val prevProp = sc.map(_.getLocalProperty(SpanProp)).orNull
      current.set(key)
      sc.foreach(_.setLocalProperty(SpanProp, key))
      val t0 = Util.nowUs()
      try f
      finally {
        add(Span(key, name, t0, Util.nowUs(), parent, req))
        current.set(prev)
        sc.foreach(_.setLocalProperty(SpanProp, prevProp))
      }
    }

  /** Spark listeners that turn job, stage and task events, query
    * executions and streaming progress into spans. */
  final class Listeners extends SparkListener with QueryExecutionListener {
    private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String)]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      // a job started inside a benchmark span (the streaming sink's
      // collect, an operator call) belongs to that span; other jobs of a
      // micro-batch belong to the batch
      val parent = prop(SpanProp).orElse(prop("streaming.sql.batchId").map(b =>
        s"batch:${prop("sql.streaming.queryId").getOrElse("")}:$b")).getOrElse("")
      jobStart.put(e.jobId, (e.time * 1000, parent,
        prop("streaming.sql.batchId").getOrElse("")))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, parent, batch) =>
        add(Span(s"job:${e.jobId}", "scheduler.job", t0, e.time * 1000,
          parent, batch))
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(
        s"${e.stageInfo.stageId}.${e.stageInfo.attemptNumber()}", t))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val job = Option(stageJob.get(i.stageId)).map(j => s"job:$j").getOrElse("")
      for (s <- i.submissionTime; c <- i.completionTime)
        add(Span(s"stage:${i.stageId}.${i.attemptNumber()}", "scheduler.stage",
          s * 1000, c * 1000, job, "", Map("tasks" -> i.numTasks.toDouble)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ti = e.taskInfo
      val m = e.taskMetrics
      val stageKey = s"${e.stageId}.${e.stageAttemptId}"
      val submit = Option(stageSubmit.get(stageKey)).map(_.longValue)
        .getOrElse(ti.launchTime)
      val attrs =
        if (m == null) Map("delay_ms" -> (ti.launchTime - submit).toDouble,
          "failed" -> (if (ti.successful) 0.0 else 1.0))
        else Map(
          "delay_ms" -> (ti.launchTime - submit).toDouble,
          "run_ms" -> m.executorRunTime.toDouble,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          "failed" -> (if (ti.successful) 0.0 else 1.0))
      add(Span(s"task:${ti.taskId}", "executor.task", ti.launchTime * 1000,
        ti.finishTime * 1000, s"stage:$stageKey", "", attrs))
    }

    private def queryExec(funcName: String, qe: QueryExecution,
                          durationNs: Long): Unit = {
      val end = Util.nowUs()
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      add(Span(s"qe${ids.getAndIncrement()}", "catalyst.query",
        end - durationNs / 1000, end, "", funcName,
        Map("analysis_ms" -> ms("analysis"),
          "optimization_ms" -> ms("optimization"),
          "planning_ms" -> ms("planning"))))
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      queryExec(funcName, qe, durationNs)

    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit =
      queryExec(funcName, qe, 0L)
  }

  final class Progress extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp)
      val startUs = start.getEpochSecond * 1000000L + start.getNano / 1000
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val st = p.stateOperators.headOption
      val attrs = d.toMap ++ Map(
        "rows" -> p.numInputRows.toDouble) ++ st.toSeq.flatMap(s => Seq(
        "state_rows" -> s.numRowsTotal.toDouble,
        "state_memory_bytes" -> s.memoryUsedBytes.toDouble,
        "state_commit_ms" -> s.commitTimeMs.toDouble))
      add(Span(s"batch:${p.id}:${p.batchId}", "microbatch.batch", startUs,
        startUs + d.getOrElse("triggerExecution", 0.0).toLong * 1000, "",
        s"batch-${p.batchId}", attrs))
    }
  }

  /** Register the listeners on `spark`; returns a function removing them. */
  def install(spark: SparkSession): () => Unit = {
    val l = new Listeners
    val p = new Progress
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    spark.streams.addListener(p)
    () => {
      // the listener bus is asynchronous: let it drain before detaching
      var n = -1
      while (n != spans.size()) { n = spans.size(); Thread.sleep(300) }
      spark.sparkContext.removeSparkListener(l)
      spark.listenerManager.unregister(l)
      spark.streams.removeListener(p)
    }
  }

  /** Self time of every span: its duration minus the part of it covered
    * by its children (overlapping children are merged first). */
  def selfTimes(ss: Seq[Span]): Map[String, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val iv = kids.getOrElse(s.key, Nil)
        .map(c => (c.startUs max s.startUs, c.endUs min s.endUs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (-1L, -1L)
      iv.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
        else ce = ce max b
      }
      if (ce > cs) covered += ce - cs
      s.key -> ((s.endUs - s.startUs - covered) max 0L) / 1000.0
    }.toMap
  }

  /** Write every span as one JSON object per line. */
  def write(path: java.nio.file.Path, ss: Seq[Span]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try ss.sortBy(_.startUs).foreach { s =>
      val o = Util.json.createObjectNode()
      o.put("key", s.key).put("name", s.name).put("start_us", s.startUs)
        .put("end_us", s.endUs).put("parent", s.parent).put("req", s.req)
      s.attrs.foreach { case (k, v) => o.put(k, v) }
      w.write(Util.json.writeValueAsString(o)); w.newLine()
    } finally w.close()
  }
}
