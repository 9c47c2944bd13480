package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Telemetry — the reference broadcasts pipeline/stage started/finished
  * events to websocket clients (pipeline/support/telemetry.go:4-9,
  * service/telemetry/service.go:175-204). The Spark-native analog is a
  * StreamingQueryListener: query start/progress/termination events carry
  * ids, timestamps and per-operator row counts. Events are pushed to a
  * pluggable sink (console, a websocket bridge, or the in-memory collector
  * used by tests). */
object Telemetry {

  sealed trait Event { def queryId: String; def ts: Long }
  case class PipelineStarted(queryId: String, name: String, ts: Long) extends Event
  /** One micro-batch: its input rows, where its time went (Spark's
    * `durationMs` phases, 0 for a phase the batch did not run) and the
    * state-store commit time summed over its stateful operators. */
  case class PipelineProgress(queryId: String, batchId: Long, numInputRows: Long,
                              addBatchMs: Long, walCommitMs: Long,
                              commitOffsetsMs: Long, triggerExecutionMs: Long,
                              stateCommitMs: Long, ts: Long) extends Event
  case class PipelineFinished(queryId: String, ts: Long) extends Event
  /** Per-stage emitted-row count for one batch/micro-batch — the analog
    * of the reference's StageStarted/StageFinished broadcast
    * (pipeline/instance.go:171-173). Produced by pipelines compiled with
    * instrument=true (Pipelines.compileBatch/compileStream), whose
    * CollectMetrics observations are named `graft_stage_<i>_<ref>`. */
  case class StageProgress(queryId: String, stage: String, rows: Long,
                           ts: Long) extends Event

  trait Sink { def emit(e: Event): Unit }

  /** Collects events in memory — the test double, and the shape a
    * websocket bridge would wrap. */
  class CollectingSink extends Sink {
    private val q = new ConcurrentLinkedQueue[Event]()
    def emit(e: Event): Unit = q.add(e)
    def events: Seq[Event] = q.asScala.toSeq
  }

  class ConsoleSink extends Sink {
    def emit(e: Event): Unit = println(s"[telemetry] $e")
  }

  /** One micro-batch's progress as a [[PipelineProgress]]: the phases
    * Spark did not report for this batch read 0. */
  def progress(p: StreamingQueryProgress): PipelineProgress = {
    def ms(phase: String): Long =
      Option(p.durationMs.get(phase)).map(_.longValue).getOrElse(0L)
    PipelineProgress(p.id.toString, p.batchId, p.numInputRows,
      ms("addBatch"), ms("walCommit"), ms("commitOffsets"),
      ms("triggerExecution"), p.stateOperators.map(_.commitTimeMs).sum,
      System.currentTimeMillis())
  }

  /** Attach a listener forwarding query lifecycle (and, for instrumented
    * pipelines, per-stage row counts) to `sink`; returns the listener so
    * callers can detach it. */
  def attach(spark: SparkSession, sink: Sink): StreamingQueryListener = {
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        sink.emit(PipelineStarted(e.id.toString, Option(e.name).getOrElse(""),
          System.currentTimeMillis()))
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        sink.emit(progress(p))
        p.observedMetrics.asScala.foreach { case (name, row) =>
          if (name.startsWith("graft_stage_"))
            sink.emit(StageProgress(p.id.toString, name,
              row.getAs[Long]("rows"), System.currentTimeMillis()))
        }
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        sink.emit(PipelineFinished(e.id.toString, System.currentTimeMillis()))
    }
    spark.streams.addListener(l)
    l
  }

  /** Batch-side stage telemetry: a QueryExecutionListener forwarding the
    * CollectMetrics observations of instrumented batch pipeline runs.
    * Events are posted asynchronously — tests should poll the sink. */
  def attachBatch(spark: SparkSession, sink: Sink)
      : org.apache.spark.sql.util.QueryExecutionListener = {
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft_stage_"))
            sink.emit(StageProgress(funcName, name, row.getAs[Long]("rows"),
              System.currentTimeMillis()))
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             error: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    l
  }
}
