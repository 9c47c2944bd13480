package perfbench

import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark entry point (started by run.py, which builds the classpath):
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --digests <file>
  *   Main --record-digests <seed,seed,...> --workload <name> --work <dir>
  *        --digests <file>
  *
  * Prints one `PERFBENCH-RECORD {...}` line with everything the run
  * measured, then the result line the launcher relays. */
object Main {

  /** The Spark settings graft.Bench uses, plus where this run may write. */
  def session(cpus: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()

  private def opt(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(opt(args, "--work").getOrElse("perfbench/.work"))
      .toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors
    val digestFile = Paths.get(opt(args, "--digests").getOrElse("perfbench/digests.json"))
    val name = opt(args, "--workload").getOrElse(
      throw new IllegalArgumentException("--workload is required"))
    val code =
      try opt(args, "--record-digests") match {
        case Some(seeds) => recordDigests(name, seeds.split(",").map(_.toLong).toSeq,
          cpus, work, digestFile); 0
        case None => run(name, opt(args, "--seed").getOrElse("1").toLong,
          opt(args, "--seconds").getOrElse("10").toInt,
          opt(args, "--trace").getOrElse("0") == "1", cpus, work, digestFile)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; exit explicitly
    Runtime.getRuntime.halt(code)
  }

  private def loadDigests(f: Path): ObjectNode =
    if (Files.exists(f)) Util.json.readTree(f.toFile).asInstanceOf[ObjectNode]
    else Util.json.createObjectNode()

  def recordDigests(name: String, seeds: Seq[Long], cpus: Int, work: Path,
                    file: Path): Unit = {
    val spark = session(cpus, work)
    val all = loadDigests(file)
    val rec = Option(all.get(name)).map(_.asInstanceOf[ObjectNode])
      .getOrElse(all.putObject(name))
    seeds.foreach { seed =>
      Workload(name, seed, work, null) match {
        case w: BatchWorkload =>
          w.prepare(spark); w.setup(spark)
          val d = w.outputDigest(spark)
          rec.put(seed.toString, d)
          System.err.println(s"[perfbench] $name seed $seed: $d")
        case _ => throw new IllegalArgumentException(
          s"$name checks its output against the batch compile, not a digest")
      }
    }
    Util.json.writerWithDefaultPrettyPrinter().writeValue(file.toFile, all)
    spark.stop()
  }

  /** Set-up repetitions per run; `setup_s` is their median. */
  val Setups = 3

  def run(name: String, seed: Long, seconds: Int, trace: Boolean,
          cpus: Int, work: Path, digestFile: Path): Int = {
    val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime * 1000L
    val mainEntryS = (Util.nowUs() - jvmStartUs) / 1e6
    val w = Workload(name, seed, work, new Protocol)
    w match {
      case b: BatchWorkload =>
        b.expectedDigest = Option(loadDigests(digestFile).get(name))
          .flatMap(n => Option(n.get(seed.toString))).map(_.asText)
      case _ =>
    }
    // --- set-up, repeated; the first includes JVM and session start ---
    var spark: SparkSession = null
    var prepS = 0.0
    val sessionS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val setupS = (0 until Setups).map { i =>
      val t0 = if (i == 0) jvmStartUs else Util.nowUs()
      if (spark == null) spark = session(cpus, work)
      sessionS += (Util.nowUs() - t0) / 1e6
      if (i == 0) {
        val p0 = Util.nowUs()
        w.prepare(spark)
        prepS = (Util.nowUs() - p0) / 1e6
      }
      w.setup(spark)
      val s = (Util.nowUs() - t0) / 1e6 - (if (i == 0) prepS else 0.0)
      if (i < Setups - 1) { w.stop(); spark.stop(); spark = null }
      s
    }
    // --- untraced pass: the end-to-end metrics ---
    val witness = new Util.HostWitness()
    val m = w.measure(spark, seconds)
    val genCpu = Option(m.extra.get("generator.cpu_s")).map(_.asDouble).getOrElse(0.0)
    val host = witness.finish(genCpu)
    val heapMb = Util.liveHeapMb()
    val e2e = endToEnd(setupS, m, heapMb)
    val (correct, detail) = w.check(spark)

    // --- traced pass: the same workload again with spans on ---
    val layers: Option[(Map[String, Double], Map[String, Double])] =
      if (!trace) None
      else {
        // set up again in a fresh session, as the untraced repetitions do
        w.stop(); spark.stop()
        Trace.clear()
        Trace.on = true
        val s0 = Util.nowUs()
        spark = session(cpus, work)
        val detach = Trace.install(spark)
        w.setup(spark)
        val s1 = Util.nowUs()
        val tm = w.measure(spark, seconds)
        detach()
        Trace.on = false
        val spans = Trace.all
        val results = Files.createDirectories(work.getParent.resolve("results"))
        Trace.write(results.resolve(s"spans-$name-seed$seed.jsonl"), spans)
        val traced = endToEnd(Seq((s1 - s0) / 1e6), tm, Util.liveHeapMb())
        Some((perLayer(spans, tm, codegen()) ++ hostLayer(host), traced))
      }
    w.stop()

    val failed = m.failed + (if (correct) 0 else 1)
    val rec = Util.json.createObjectNode()
    rec.put("workload", name).put("seed", seed).put("seconds", seconds)
      .put("trace", trace).put("cpus", cpus)
    rec.put("correct", correct).put("check", detail)
    rec.put("attempted", m.attempted).put("failed", failed)
    rec.put("error_rate", failed.toDouble / (m.attempted max 1L))
    rec.put("input_generation_s", prepS)
    rec.put("jvm_to_main_s", mainEntryS)
    val su = rec.putArray("setup_runs_s"); setupS.foreach(su.add)
    val ss = rec.putArray("setup_session_s"); sessionS.foreach(ss.add)
    val e = rec.putObject("end_to_end"); e2e.foreach { case (k, v) => e.put(k, v) }
    rec.set[ObjectNode]("measured", m.extra)
    rec.set[ObjectNode]("host", host)
    layers.foreach { case (l, traced) =>
      val o = rec.putObject("per_layer"); l.foreach { case (k, v) => o.put(k, v) }
      val t = rec.putObject("traced_end_to_end")
      traced.foreach { case (k, v) => t.put(k, v) }
      val ov = rec.putObject("tracing_overhead_pct")
      traced.foreach { case (k, v) =>
        val base = e2e(k)
        ov.put(k, if (base != 0) 100.0 * (v - base) / base else 0.0)
      }
    }
    println("PERFBENCH-RECORD " + Util.json.writeValueAsString(rec))
    val out = Util.json.createObjectNode()
    out.put("correct", correct).put("attempted", m.attempted).put("failed", failed)
    val ms = out.putObject("metrics")
    def metric(k: String, v: Double, unit: String): Unit =
      ms.putObject(k).put("value", v).put("unit", unit)
    layers match {
      case None =>
        e2e.foreach { case (k, v) => metric(k, v, Units(k)) }
      case Some((l, _)) =>
        l.foreach { case (k, v) => metric(k, v, Units.layer(k)) }
    }
    println("PERFBENCH-RESULT " + Util.json.writeValueAsString(out))
    if (correct) 0 else 1
  }

  def endToEnd(setupS: Seq[Double], m: Measured, heapMb: Double): Map[String, Double] =
    Map(
      "setup_s" -> Util.median(setupS),
      "latency_p50_ms" -> m.p50Ms,
      "latency_p95_ms" -> m.tailMs,
      "throughput_per_s" -> m.throughput,
      "heap_live_mb" -> heapMb)

  /** The contention witness of the untraced pass, as per-layer values. */
  private def hostLayer(h: ObjectNode): Map[String, Double] =
    Seq("loadavg_mean", "steal_pct", "other_cores").map { k =>
      s"host.$k" -> Option(h.get(k)).map(_.asDouble).getOrElse(0.0)
    }.toMap

  /** (compile ns, compiled classes) so far in this JVM: set-up,
    * untraced and traced passes together. */
  private def codegen(): (Long, Long) =
    (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Per-layer metrics of the traced pass, from its spans. */
  def perLayer(spans: Seq[Span], m: Measured,
               cg: (Long, Long)): Map[String, Double] = {
    val (w0, w1) = m.window
    def in(s: Span) = s.startUs >= w0 && s.startUs <= w1
    def named(n: String) = spans.filter(_.name == n)
    def durMs(s: Span) = (s.endUs - s.startUs) / 1000.0
    def attr(ss: Seq[Span], k: String) = ss.flatMap(_.attrs.get(k))
    val tasks = named("executor.task").filter(in)
    val stages = named("scheduler.stage").filter(in)
    val jobs = named("scheduler.job").filter(in)
    val batches = named("microbatch.batch").filter(in)
    val qes = named("catalyst.query")
    val units = if (batches.nonEmpty) batches.size.toDouble
                else m.extra.get("reps").asDouble
    val run = attr(tasks, "run_ms").sum
    val cpu = attr(tasks, "cpu_ms").sum
    val self = Trace.selfTimes(spans)
    def selfOf(prefix: String) =
      spans.filter(s => s.name.startsWith(prefix) && in(s)).map(s => self(s.key)).sum
    def mb(k: String, p: Double) = {
      val xs = attr(batches, k)
      if (xs.isEmpty) 0.0 else Util.pct(xs, p)
    }
    val base = Map(
      "engine.parse_ms" -> named("engine.parse").map(durMs).sum,
      "engine.compile_ms" -> named("engine.compile").map(durMs).sum,
      "catalyst.analysis_ms" -> attr(qes, "analysis_ms").sum,
      "catalyst.optimization_ms" -> attr(qes, "optimization_ms").sum,
      "catalyst.planning_ms" -> attr(qes, "planning_ms").sum,
      "codegen.compile_ms" -> cg._1 / 1e6,
      "codegen.classes" -> cg._2.toDouble,
      "microbatch.batches" -> batches.size.toDouble,
      "microbatch.rows_per_batch" -> mb("rows", 50),
      "microbatch.trigger_ms" -> mb("triggerExecution", 50),
      "microbatch.trigger_p99_ms" -> mb("triggerExecution", 99),
      "microbatch.add_batch_ms" -> mb("addBatch", 50),
      "microbatch.add_batch_p99_ms" -> mb("addBatch", 99),
      "microbatch.query_planning_ms" -> mb("queryPlanning", 50),
      "microbatch.query_planning_p99_ms" -> mb("queryPlanning", 99),
      "microbatch.wal_commit_ms" -> mb("walCommit", 50),
      "microbatch.wal_commit_p99_ms" -> mb("walCommit", 99),
      "microbatch.commit_offsets_ms" -> mb("commitOffsets", 50),
      "microbatch.commit_offsets_p99_ms" -> mb("commitOffsets", 99),
      "microbatch.latest_offset_ms" -> mb("latestOffset", 50),
      "microbatch.latest_offset_p99_ms" -> mb("latestOffset", 99),
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> tasks.size.toDouble,
      "scheduler.tasks_per_batch" -> tasks.size / (units max 1.0),
      "scheduler.delay_ms" -> Util.median(attr(tasks, "delay_ms")),
      "state.rows" -> attr(batches.sortBy(_.startUs).lastOption.toSeq, "state_rows").sum,
      "state.memory_bytes" -> (attr(batches, "state_memory_bytes") :+ 0.0).max,
      "state.commit_ms" -> mb("state_commit_ms", 50),
      "executor.run_ms" -> run,
      "executor.cpu_ms" -> cpu,
      "executor.gc_ms" -> attr(tasks, "gc_ms").sum,
      "executor.cpu_ratio" -> (if (run > 0) cpu / run else 0.0),
      "shuffle.write_bytes" -> attr(tasks, "shuffle_write_bytes").sum,
      "shuffle.read_bytes" -> attr(tasks, "shuffle_read_bytes").sum,
      "shuffle.spill_bytes" -> attr(tasks, "spill_bytes").sum,
      "sink.batch_ms" -> Util.median(named("sink.batch").filter(in).map(durMs)),
      "self.engine_ms" -> selfOf("engine."),
      "self.microbatch_ms" -> selfOf("microbatch."),
      "self.scheduler_ms" -> selfOf("scheduler."),
      "self.executor_ms" -> selfOf("executor."),
      "self.sink_ms" -> selfOf("sink."),
      "self.operators_ms" -> selfOf("operators."))
    // counters the benchmark itself measured at the layer boundaries
    val measured = Units.layerNames.filterNot(base.contains).map { k =>
      k -> Option(m.extra.get(k)).map(_.asDouble).getOrElse(0.0)
    }
    base ++ measured
  }
}

/** Units of every metric this benchmark prints. */
object Units {
  val e2e = Map("setup_s" -> "s", "latency_p50_ms" -> "ms",
    "latency_p95_ms" -> "ms", "throughput_per_s" -> "1/s",
    "heap_live_mb" -> "MiB")
  def apply(k: String): String = e2e(k)

  /** Per-layer names that come from the workload's own measurements
    * rather than from spans; 0 where the workload bypasses the layer. */
  val layerNames: Seq[String] = Seq(
    "ingest.request_p50_ms", "ingest.request_p99_ms", "ingest.requests",
    "ingest.failed", "channels.push_p50_ms", "channels.push_p99_ms",
    "operators.quality_ms", "operators.exact_ms", "operators.minhash_ms",
    "operators.containment_ms", "operators.ngram_ms", "operators.pack_ms",
    "operators.backfill_ms", "sink.rows", "generator.late_max_ms",
    "generator.backlog_events")

  def layer(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("_ratio")) "ratio"
    else if (k.endsWith("_pct")) "%"
    else if (k.endsWith("_cores")) "cores"
    else if (k == "host.loadavg_mean") "load"
    else if (k == "microbatch.rows_per_batch" || k == "scheduler.tasks_per_batch") "count/batch"
    else "count"
}
