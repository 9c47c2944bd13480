package perfbench

import graft.engine.{Dsl, Pipelines}
import graft.functions.TextFunctions
import graft.operators.{Dedup, Sampling, Selection}
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Shared shape of the two batch workloads. Set-up parses and compiles
  * the calls and plans them without running them. Each timed repetition
  * compiles the calls again and runs each into a digest sink: an
  * order-independent hash of every column of every output row (so no
  * column can be pruned). Repetitions continue until `--seconds` have
  * passed, at least [[MinReps]] times. The first repetition is the cold
  * first run (code generation, JIT): it sets the latency tail, and the
  * median and the throughput are over the warm ones. The output check wants every repetition's
  * digest equal, and equal to the digest recorded for the seed when
  * there is one. */
abstract class BatchWorkload(seed: Long) extends Workload {
  val MinReps = 2
  /** Work items (events or documents) one repetition processes. */
  def items: Long
  /** Parse what the calls need (the DSL, for a pipeline). */
  def parse(): Unit = ()
  /** The timed calls in order, compiled but not run. */
  def calls(spark: SparkSession): Seq[(String, DataFrame)]
  /** Release what one repetition cached. */
  def release(): Unit = ()

  /** Digest recorded for this seed in the benchmark's digest file. */
  var expectedDigest: Option[String] = None
  private val repDigests = ArrayBuffer.empty[String]

  def setup(spark: SparkSession): Unit = {
    implicit val s: SparkSession = spark
    Trace.span("engine.parse")(parse())
    Trace.span("engine.compile") {
      calls(spark).foreach { case (_, df) => df.queryExecution.executedPlan }
    }
    release()
  }

  /** One repetition: (digest, per-call wall ms). */
  def runOnce(spark: SparkSession): (String, Seq[(String, Double)]) = {
    implicit val s: SparkSession = spark
    val cs = Trace.span("engine.compile")(calls(spark))
    val out = cs.map { case (call, df) =>
      val t0 = System.nanoTime()
      val d = Trace.span(s"operators.$call", call)(Util.digest(df))
      (s"$call=$d", call -> (System.nanoTime() - t0) / 1e6)
    }
    release()
    (out.map(_._1).mkString(","), out.map(_._2))
  }

  def measure(spark: SparkSession, seconds: Int): Measured = {
    val walls = ArrayBuffer.empty[Double]
    val perCall = ArrayBuffer.empty[(String, Double)]
    val t0 = Util.nowUs()
    while (walls.size < MinReps || Util.nowUs() - t0 < seconds * 1000000L) {
      val r0 = System.nanoTime()
      val (d, cs) = Trace.span("batch.rep", s"rep-${walls.size}")(runOnce(spark))(spark)
      walls += (System.nanoTime() - r0) / 1e6
      repDigests += d
      perCall ++= cs
    }
    val t1 = Util.nowUs()
    val x = Util.json.createObjectNode()
    x.put("reps", walls.size)
    x.put("items_per_rep", items)
    val rw = x.putArray("rep_ms"); walls.foreach(rw.add)
    perCall.groupBy(_._1).foreach { case (k, v) =>
      x.put(s"operators.${k}_ms", Util.median(v.map(_._2).toSeq))
    }
    val warm = walls.toSeq.drop(1)
    Measured(Util.median(warm), Util.pct(walls.toSeq, 95),
      items / (Util.median(warm) / 1000.0),
      walls.size.toLong, 0L, x, (t0, t1))
  }

  def check(spark: SparkSession): (Boolean, String) = {
    val ds = repDigests.distinct
    (ds.toSeq, expectedDigest) match {
      case (Seq(d), Some(e)) if d == e =>
        (true, s"${repDigests.size} repetitions, digest equal to the one recorded for seed $seed")
      case (Seq(d), Some(e)) =>
        (false, s"digest $d differs from the recorded $e for seed $seed")
      case (Seq(d), None) =>
        (true, s"${repDigests.size} repetitions agree (no digest recorded for seed $seed): $d")
      case _ => (false, s"repetitions disagree: ${ds.mkString(" | ")}")
    }
  }

  /** The digest of one repetition, for recording. */
  def outputDigest(spark: SparkSession): String = runOnce(spark)._1
}

/** Backfill: a seeded event table written once before timing, replayed
  * through [[Pipelines.compileBatch]]: non-zero filter, keyed tumbling
  * and sliding count windows, and a keyed time window. */
final class BatchBackfill(seed: Long, work: Path) extends BatchWorkload(seed) {
  val name = "batch_backfill"
  val Events = 1000000L
  def items: Long = Events
  private def table = work.resolve("data/backfill.parquet").toString

  val pipelineJson: String =
    """{"metadata": {
      |   "input":  [{"name": "user", "type": "string"},
      |              {"name": "value", "type": "double"}],
      |   "output": [{"name": "seq", "type": "long"},
      |              {"name": "user", "type": "string"},
      |              {"name": "tsum", "type": "double"},
      |              {"name": "savg", "type": "double"},
      |              {"name": "result", "type": "double"}]},
      | "stages": [
      |  {"ref": "#filter", "settings": {"type": "non-zero"},
      |   "input": {"value": "=$.value"}},
      |  {"ref": "#aggregate", "settings": {"function": "sum",
      |     "windowType": "tumbling", "windowSize": "10",
      |     "proceedOnlyOnEmit": "false"},
      |   "input": {"value": "=$.value"},
      |   "output": {"pipeline.tsum": "=$.result"}},
      |  {"ref": "#aggregate", "settings": {"function": "avg",
      |     "windowType": "sliding", "windowSize": "20", "resolution": "5",
      |     "proceedOnlyOnEmit": "false"},
      |   "input": {"value": "=$.value"},
      |   "output": {"pipeline.savg": "=$.result"}},
      |  {"ref": "#aggregate", "settings": {"function": "max",
      |     "windowType": "timeTumbling", "windowSize": "60000"},
      |   "input": {"value": "=$.value"},
      |   "output": {"pipeline.seq": "=$.__seq"}}]}
      |""".stripMargin
  /** The pipeline bound to an action that partitions it by user. */
  val appJson: String =
    s"""{"name": "perfbench", "type": "flogo:app",
      | "actions": [{"id": "backfill", "ref": "#stream",
      |   "settings": {"streamURI": "res://stream:backfill", "groupBy": "user"}}],
      | "resources": [{"id": "stream:backfill", "data": $pipelineJson}]}
      |""".stripMargin
  private var pipeline: Dsl.PipelineDef = _

  override def prepare(spark: SparkSession): Unit =
    Inputs.backfillTable(spark, Events, seed).write.mode("overwrite").parquet(table)

  override def parse(): Unit =
    pipeline = Dsl.parseApp(appJson).pipelines("backfill")

  def calls(spark: SparkSession): Seq[(String, DataFrame)] =
    Seq("backfill" -> Pipelines.compileBatch(pipeline, spark.read.parquet(table)))
}

/** Corpus curation: a fixed chain of public operator calls over a seeded
  * corpus, each result sent to the digest sink. */
final class CorpusCuration(seed: Long, work: Path) extends BatchWorkload(seed) {
  val name = "corpus_curation"
  val Docs = 1000
  def items: Long = Docs
  private def table = work.resolve("data/corpus.jsonl").toString

  /** JSON lines, written without Spark so no job runs before set-up. */
  override def prepare(spark: SparkSession): Unit = {
    java.nio.file.Files.createDirectories(work.resolve("data"))
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(table))
    try Inputs.corpus(Docs, seed).foreach { case (id, text) =>
      w.write(Util.json.writeValueAsString(
        Util.json.createObjectNode().put("id", id).put("text", text)))
      w.newLine()
    } finally w.close()
  }

  /** The chain: call name -> output, in order. */
  def calls(spark: SparkSession): Seq[(String, DataFrame)] = {
    val docs = spark.read.schema("id BIGINT, text STRING").json(table)
    val scored = docs.select(col("id"),
      TextFunctions.qualityScore(col("text")).as("quality"),
      TextFunctions.langId(col("text")).as("lang"),
      TextFunctions.langIdMargin(col("text")).as("lang_margin"),
      TextFunctions.tokenCount(col("text")).as("ntok"))
    Seq(
      "quality" -> scored,
      "exact" -> Dedup.exact(docs, "id", "text"),
      "minhash" -> Dedup.minhashPairs(docs, "id", "text", 5, 0.8),
      "containment" -> Dedup.containmentPairs(docs, "id", "text", 5, 0.8),
      "ngram" -> Selection.perplexityBuckets(
        docs.where(col("id") % 3 === 0), docs, "id", "text"),
      "pack" -> Sampling.packSequences(scored, "id", "lang", "ntok", 2048L))
  }

  // a new corpus pass must not reuse the previous pass's cached shingles
  override def release(): Unit = Dedup.clearCaches()
}
