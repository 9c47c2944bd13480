package perfbench

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** What one measured pass of a workload reports: the median latency
  * and the tail latency (p95) as the workload estimates them (see
  * [[StreamPhases.segmented]] and [[BatchWorkload]]), and `throughput`,
  * work items (events or documents) per second. */
final case class Measured(p50Ms: Double, tailMs: Double,
                          throughput: Double,
                          attempted: Long, failed: Long,
                          extra: ObjectNode,
                          window: (Long, Long))

/** A benchmark workload. [[Main]] calls `prepare` once (input
  * generation, not timed), then `setup` once per set-up repetition,
  * `measure` once per pass, and `check` once after the untraced pass.
  * `stop` releases what `setup` started. */
trait Workload {
  def name: String
  def prepare(spark: SparkSession): Unit = ()
  def setup(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Int): Measured
  /** (outputs correct, detail) */
  def check(spark: SparkSession): (Boolean, String)
  def stop(): Unit = ()
}

object Workload {
  def apply(name: String, seed: Long, work: java.nio.file.Path,
            protocol: Protocol): Workload = name match {
    case "rest_ingest_filter"   => new RestIngestFilter(seed, work, protocol)
    case "channel_keyed_window" => new ChannelKeyedWindow(seed, work)
    case "batch_backfill"       => new BatchBackfill(seed, work)
    case "corpus_curation"      => new CorpusCuration(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** Line protocol with the launcher on stdin/stdout: the JVM announces a
  * generator plan, the launcher runs the out-of-process generator and
  * answers with one line. */
final class Protocol {
  private val in = new java.io.BufferedReader(
    new java.io.InputStreamReader(System.in, "UTF-8"))
  def ask(tag: String, payload: ObjectNode): String = {
    println(s"$tag ${Util.json.writeValueAsString(payload)}")
    System.out.flush()
    val line = in.readLine()
    if (line == null) throw new IllegalStateException(s"launcher closed stdin during $tag")
    line
  }
}
