package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-bench")
    // THE TIMED ACTION (optimization guide §1.4): the noop sink
    // materializes EVERY column of EVERY row and discards it. The
    // previous `df.count()` action let Catalyst prune columns,
    // aggregates, windows, the final orderBy, and (via distinct-keys
    // propagation) whole left-outer count-table joins, so several
    // LM-family gates timed a much smaller plan than Verify executes
    // (r18 finding; r18 VERDICT item 1). Cutover recorded in
    // OPTIMIZATION_r19.md with both actions' totals; BENCH_BASELINE.json
    // was re-recorded fresh (replace, not max-merge) in the same commit
    // so per-query deltas are measured against noop-timed references.
    def timed(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // A failed warm-up must be VISIBLE (as forensics on stderr, never in
    // the JSON): silently swallowing it would quietly regress per-query
    // attribution to schedule-order skew (the r5 bug). NonFatal only —
    // an OOM/fatal error should kill the bench, not be eaten.
    def warm(label: String)(f: => Any): Unit =
      try { f; () } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] warm-up '$label' failed: $e")
      }
    val warmT0 = System.nanoTime()
    // warm up: JIT/codegen paths and file-system caches, so per-query
    // numbers measure the query, not session startup. Exercises each
    // execution-path family once (scan, hash agg, window function,
    // shuffle join, higher-order exprs, custom codegen expression).
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      spark.range(1000000).selectExpr("sum(id)").collect()
      graft.engine.Tables.names.foreach { n =>
        warm(s"table $n")(graft.engine.Tables.load(spark, sfDir, n).count())
      }
      warm("core plan families") {
        val w = spark.range(10000)
          .select(col("id"), pmod(col("id"), lit(7)).as("k"),
            array(col("id").cast("double"), lit(1.0)).as("v"))
        timed(w.withColumn("rn",
            row_number().over(Window.partitionBy("k").orderBy("id")))
          .groupBy("k")
          .agg(sum("id"), collect_list("id"),
            graft.windows.AggFunctions.vector("sum", col("v"))))
        val small = w.limit(500)
        timed(small.as("a").join(small.as("b"), "k")
          .select(graft.functions.VectorFunctions
            .dot(col("a.v"), col("b.v")).as("d"))
          .filter(col("d").isNotNull))
        // kernel-expression family (text stats / fingerprint / sketches /
        // band keys) — one tiny pass compiles their codegen templates
        timed(spark.range(100)
          .select(concat(lit("warm up text "), col("id")).as("t"),
            array(col("id").cast("double"), lit(1.0)).as("v"))
          .select(graft.functions.TextFunctions.textStats(col("t")),
            graft.functions.TextFunctions.fingerprint(col("t")),
            graft.expressions.TextExprs.simhash64(
              graft.functions.TextFunctions.tokens(col("t"))),
            // the portable (md5-token-hash) variant is a distinct codegen
            // class — warm it too or the gate query pays the Janino+JIT
            // cost on its first (timed) invocation
            graft.expressions.TextExprs.simhash64(
              graft.functions.TextFunctions.tokens(col("t")), portable = true),
            graft.operators.Similarity.cosineLshBandKeys(col("v"), 2, 2, 2)))
      }
      // Whole-plan warm-up for the join-shaped dedup/ANN families: each
      // compiles several large codegen classes (inverted-index join,
      // banded self-joins, verify stages, argmax/probe joins) whose
      // first-invocation Janino+JIT cost would otherwise land inside one
      // timed query. 50-row in-memory inputs mean none of the timed
      // queries' data or caches are touched — this warms code paths, not
      // data. Per-family try blocks: one failing warm-up must not skip
      // the rest. The operators cache their shingle and key tables, so
      // the InMemoryRelation stages the timed queries execute are
      // compiled here too.
      locally {
        import org.apache.spark.sql.functions._
        val tinyDocs = spark.range(50)
          .select(col("id").as("doc_id"),
            concat_ws(" ", (0 until 12).map(i =>
              concat(lit(s"w$i"), pmod(col("id") + i, lit(7)))): _*).as("text"))
        warm("jaccard plan")(timed(graft.operators.Dedup
          .jaccardPairs(tinyDocs, "doc_id", "text", 3, 0.8)))
        warm("minhash plan")(timed(graft.operators.Dedup
          .minhashPairs(tinyDocs, "doc_id", "text", 3, 0.8)))
        warm("simhash plan")(timed(graft.operators.Dedup
          .simhashPairs(tinyDocs, "doc_id", "text", 3, portable = true)))
        val tinyVecs = spark.range(50)
          .select(col("id").as("vec_id"),
            array((0 until 4).map(i =>
              pmod(col("id") + i, lit(11)).cast("double")): _*).as("embedding"))
        warm("blocked-embedding plan")(timed(graft.operators.Dedup
          .embeddingPairs(tinyVecs, "vec_id", "embedding", 0.4)))
        // the 0.85 threshold dispatches to the banded-LSH branch — a
        // separate plan family (band-key self-join + verify re-lookup)
        warm("lsh-embedding plan")(timed(graft.operators.Dedup
          .embeddingPairs(tinyVecs, "vec_id", "embedding", 0.85, dim = 4)))
        warm("bruteforce-knn plan")(timed(graft.operators.Similarity.bruteForceKnn(
          tinyVecs.where(col("vec_id") < 2), tinyVecs,
          "vec_id", "embedding", 2)))
        warm("ivf plan") {
          val cents = graft.operators.Similarity
            .trainCentroids(tinyVecs, "embedding", 4, maxIter = 2,
              initMode = "random")
          timed(graft.operators.Similarity.ivfKnn(
            tinyVecs.where(col("vec_id") < 2), tinyVecs,
            "vec_id", "embedding", cents, "cell", "centroid", 2,
            nProbe = 2))
        }
        warm("lsh-knn plan")(timed(graft.operators.Similarity.lshKnn(
          tinyVecs.where(col("vec_id") < 2), tinyVecs,
          "vec_id", "embedding", dim = 4, k = 2)))
        warm("clustering plan")(timed(graft.operators.Clustering.dedupVerdicts(
          tinyDocs.select(col("doc_id").as("d1"),
            ((col("doc_id") + 1) % 50).as("d2")), "d1", "d2")))
        // CDC chunking compiles a large higher-order-function codegen
        // unit (filter/aggregate lambdas over the code array) — one tiny
        // pass so the gate query times chunking, not Janino
        warm("cdc plan")(timed(graft.operators.Chunking
          .chunkDuplicates(tinyDocs, "doc_id", "text")))
      }
      // Data warm-up for the SHARED dedup caches (shingle table, prefix
      // index, simhash table): these persist across queries by design, so
      // in a cold session whichever family runs FIRST pays the whole fill
      // (r5: jaccard ran before minhash and clocked 7.0 s vs minhash's
      // 1.1 s on identical work). Filling them here — exactly what the
      // later-running queries already benefit from — makes per-query
      // numbers attribute the query, not the schedule order. Same
      // params as the gate queries so the cached plans are identical.
      warm("shared dedup caches") {
        val d = graft.engine.Tables.documents(spark, sfDir)
        timed(graft.operators.Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.8))
        timed(graft.operators.Dedup.simhashPairs(d, "doc_id", "text", 3,
          portable = true))
      }
      // The persisted CHUNK INDEX is the same shared-cache shape: three
      // gates computeIfAbsent one index per (session, sf-dir), so in a
      // cold session whichever runs FIRST pays the full corpus chunk +
      // bucketed write (observed when suite growth reordered the query
      // map: q_chunk_novelty_stream clocked 8x its baseline task time
      // paying a build a sibling used to pay). Running the cheapest
      // member once here fills the cache for all three.
      warm("shared chunk index")(
        timed(SparkEntry.queries("q_chunk_novelty")(spark, sfDir)))
      // The four q_stream_interval_join* gates project ONE memoized
      // full-outer replay (SparkEntry.ssjFullReplay) — same shared-cache
      // shape: pre-fill it so whichever gate runs first doesn't pay the
      // whole 8-micro-batch replay inside its timed reps.
      warm("shared stream-join replay")(
        SparkEntry.warmStreamJoinReplay(spark, sfDir))
    }
    // warm-up wall time is reported next to the total so the headline
    // stays apples-to-apples: the timed queries run against pre-filled
    // caches, and anyone comparing against a cold-session baseline can
    // add this back in
    val warmupSec = (System.nanoTime() - warmT0) / 1e9
    // Optional comma-separated query filter for local iteration
    // (SPARK_GRAFT_ONLY=q_a,q_b); the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    // a typo'd filter selecting nothing would otherwise emit a
    // success-shaped {"value":0.0,"errors":[]} line — the run must read
    // as invalid, not as a 0-second bench
    require(selected.nonEmpty,
      s"SPARK_GRAFT_ONLY matched no queries: ${only.get.mkString(", ")}")
    // Per-task executor run, CPU and JVM-GC time, accumulated across the
    // whole session and snapshotted around each rep. Listener-bus
    // delivery is async, so per-rep attribution is approximate — good
    // enough for the per-gate MEDIANS the verdict reads ([[classify]]).
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0)
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0)
    val gcMs = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null) {
            taskMs.addAndGet(te.taskMetrics.executorRunTime)
            cpuNs.addAndGet(te.taskMetrics.executorCpuTime)
            gcMs.addAndGet(te.taskMetrics.jvmGCTime)
            ()
          }
      })
    // Each query runs `reps` times and reports the MEDIAN: two driver
    // rounds in a row had one query's single-shot time blow up 5-10x over
    // its local/adjacent-round time (r4 simhash 18.3 s, r5 embedding
    // 12.0 s), and a one-off stall in a single-shot harness is
    // indistinguishable from a real regression. The per-run times stay
    // visible in "runs" so a stall is still reported, just not graded.
    // A failed query records -1 (an explicit error marker) rather than a
    // partial time, so a broken query can never flatter the total.
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3)
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    // true median: even rep counts average the two middles (the bare
    // lower-middle would flatter every even-reps run low)
    def med(xs: Vector[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    // median and median absolute deviation: the per-query spread measure
    // that a one-off stall cannot inflate (unlike stddev)
    def medMad(xs: Vector[Double]): (Double, Double) = {
      val m = med(xs)
      (m, med(xs.map(x => math.abs(x - m))))
    }
    // DETERMINISTIC name order: `queries` is a hash map, so adding one
    // query used to reshuffle the whole schedule — and with it, which
    // query pays any first-use cost the warm-up misses — making
    // per-query numbers incomparable across suite growth
    val results: Seq[(String, Clocks, Vector[Double])] =
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        // per rep: (wall s, task run ms, task CPU ms, GC ms)
        val samples = Vector.newBuilder[(Double, Double, Double, Double)]
        var failed = false
        var r = 0
        while (r < reps && !failed) {
          val (task0, cpu0, gc0) = (taskMs.get(), cpuNs.get(), gcMs.get())
          val t0 = System.nanoTime()
          try {
            timed(fn(spark, sfDir))
            val dt = (System.nanoTime() - t0) / 1e9
            val run = (taskMs.get() - task0).toDouble
            val cpu = ((cpuNs.get() - cpu0) / 1000000L).toDouble
            val gc = (gcMs.get() - gc0).toDouble
            samples += ((dt, run, cpu, gc))
            System.err.println(f"[bench] $name run${r + 1} wall=$dt%.2fs " +
              f"task=${run / 1e3}%.2fs cpu=${cpu / 1e3}%.2fs " +
              f"gc=${gc / 1e3}%.2fs")
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            failed = true
          }
          r += 1
        }
        val ss = samples.result()
        val ts = ss.map(_._1)
        if (failed) (name, Clocks(-1.0, -1.0, -1.0, -1.0, -1.0, -1.0), ts)
        else {
          val (wall, wallMad) = medMad(ts)
          val (cpu, cpuMad) = medMad(ss.map(_._3))
          (name, Clocks(wall, wallMad, med(ss.map(_._2)), cpu, cpuMad,
            med(ss.map(_._4))), ts)
        }
      }
    def perGate(f: Clocks => String): String =
      results.map { case (k, c, _) => "\"" + k + "\":" + f(c) }
        .mkString("{", ",", "}")
    val runs = results.map { case (k, _, ts) =>
      "\"" + k + "\":" + ts.mkString("[", ",", "]") }.mkString("{", ",", "}")
    val errs = results.collect { case (k, c, _) if c.median < 0 =>
      "\"" + k + "\"" }.mkString("[", ",", "]")
    // ---- verdict vs the RECORDED per-gate baseline --------------------
    // BENCH_BASELINE.json (committed; re-recordable with
    // SPARK_GRAFT_RECORD_BASELINE=1) holds one [[Clocks]] entry per gate
    // from a reference run on this host; each run emits per-gate deltas
    // and the mechanical verdict of [[classify]].
    val basePath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BENCH_BASELINE.json"))
    val baseline: Map[String, Clocks] =
      if (java.nio.file.Files.isReadable(basePath)) {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(basePath))
        import scala.jdk.CollectionConverters._
        root.properties().asScala.map { e =>
          def num(field: String): Double = {
            val v = e.getValue.get(field)
            require(v != null, s"$basePath: ${e.getKey} has no $field")
            v.asDouble()
          }
          e.getKey -> Clocks(num("median"), num("mad"), num("task_ms"),
            num("cpu_ms"), num("cpu_mad"), num("gc_ms"))
        }.toMap
      } else Map.empty
    val judged = results.collect {
      case (k, c, _) if c.median >= 0 && baseline.contains(k) =>
        (k, baseline(k), c)
    }
    val deltaJson = judged.map { case (k, b, c) =>
      val d = if (b.median > 0) (c.median - b.median) / b.median * 100.0 else 0.0
      "\"" + k + f"""\":$d%.1f""" }.mkString("{", ",", "}")
    def flagged(v: Verdict): String = judged
      .collect { case (k, b, c) if classify(b, c) == v => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val regressions = flagged(Verdict.Regression)
    val contendedFlags = flagged(Verdict.Contended)
    val wallOnly = flagged(Verdict.WallOnly)
    if (sys.env.contains("SPARK_GRAFT_RECORD_BASELINE")) {
      // a partial baseline would permanently exempt the failed queries
      // from regression gating (the verdict requires a recorded entry)
      // — refuse rather than silently losing coverage
      val failedQs = results.collect { case (k, c, _) if c.median < 0 => k }
      require(failedQs.isEmpty,
        s"refusing to record a baseline with failed queries: " +
          failedQs.mkString(", "))
      // ANY record run with SPARK_GRAFT_ONLY must carry the UNTOUCHED
      // baseline entries through, or a single-query record silently
      // truncates the whole envelope to that query (observed: 149 -> 3
      // on a filtered record in r15); an UNFILTERED record replaces the
      // file wholesale
      val recorded = results.map { case (k, c, _) => k -> c }
      val entries = if (only.isDefined) baseline ++ recorded else recorded.toMap
      val body = entries.toSeq.sortBy(_._1).map { case (k, c) =>
        s"""  "$k": {"median": ${c.median}, "mad": ${c.mad}, "task_ms": ${c.taskMs}, "cpu_ms": ${c.cpuMs}, "cpu_mad": ${c.cpuMad}, "gc_ms": ${c.gcMs}}""" }
        .mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.writeString(basePath, body)
      System.err.println(s"[bench] recorded baseline -> $basePath")
    }
    // a run with ANY failed query has no meaningful total: summing only
    // the survivors would report a LOWER total when an expensive query
    // breaks — the run must read as invalid, not as a speedup
    val total =
      if (results.exists(_._2.median < 0)) -1.0
      else results.map(_._2.median).sum
    // micro-batch counts of the chunked-replay streaming gates: a slow
    // streaming number with an UNCHANGED batch count is per-batch floor
    // (host) noise; a changed count is a semantics/code change
    val replayBatches = {
      import scala.jdk.CollectionConverters._
      graft.streaming.ReplayStats.batches.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }
    // STDOUT CONTRACT — two JSON lines (JSON-lines, NOT one document):
    //   line 1: minimal verdict {metric,value,unit,errors,sf,
    //           regressions,contended_flags,wall_only_warnings}
    //   line 2: the full record (same verdict fields repeated LAST)
    // Consumers must parse lines independently and prefer the LAST
    // complete line; parsing all of stdout as a single JSON document is
    // unsupported. The layout is built for the driver's 2,000-char TAIL
    // capture: the minimal verdict line goes out FIRST (covers any
    // head-based capture), and the full line puts every bulky per-gate
    // map up front so its LAST ~1,000 chars are the verdict fields —
    // total, errors, regressions, contention flags — which is what a
    // tail capture keeps. The per-run times are stderr forensics (also
    // echoed per-run above as they happen).
    val fullRecord = f"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"warmup_sec":$warmupSec%.2f,"sf":"$sfDir","queries":${perGate(_.median.toString)},"mad":${perGate(_.mad.toString)},"task_ms":${perGate(_.taskMs.toString)},"cpu_ms":${perGate(_.cpuMs.toString)},"gc_ms":${perGate(_.gcMs.toString)},"baseline_delta_pct":$deltaJson,"replay_batches":$replayBatches,"errors":$errs,"total":$total,"regressions":$regressions,"contended_flags":$contendedFlags,"wall_only_warnings":$wallOnly}"""
    println(f"""{"metric":"total","value":$total,"unit":"sec","errors":$errs,"sf":"$sfDir","regressions":$regressions,"contended_flags":$contendedFlags,"wall_only_warnings":$wallOnly}""")
    println(fullRecord)
    // The driver's stdout JSON extractor has come back empty for 5+
    // rounds (`parsed: null` in BENCH_r14-r18) because sbt's own footer
    // follows the program's stdout. Belt and braces (r18 VERDICT item
    // 2): the full record ALSO lands in a file the driver (or anyone)
    // can read without parsing sbt output, and build.sbt suppresses
    // sbt's `[success]` footer so the full-record line above is the
    // last stdout line of a successful run.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_RESULT.json"), fullRecord + "\n")
    System.err.println(s"""[bench] runs: $runs""")
    SparkEntry.dropCachedIndexes(spark)
    spark.stop()
  }

  /** One gate's clocks: the medians over its reps of wall time (s) and
    * of its tasks' summed executor run, CPU and JVM-GC time (ms), and
    * the MADs of wall and CPU. A failed gate reads -1 throughout. A
    * BENCH_BASELINE.json entry has the same fields (`median`, `mad`,
    * `task_ms`, `cpu_ms`, `cpu_mad`, `gc_ms`). */
  final case class Clocks(median: Double, mad: Double, taskMs: Double,
                          cpuMs: Double, cpuMad: Double, gcMs: Double)

  sealed trait Verdict
  object Verdict {
    case object Clean extends Verdict
    case object Regression extends Verdict
    /** Tasks ran longer on unchanged CPU: they waited for a core. */
    case object Contended extends Verdict
    /** Neither task clock moved: the extra wall is driver-side. */
    case object WallOnly extends Verdict
  }

  /** The mechanical verdict on one gate against its baseline entry.
    * A clock is over when it exceeds its baseline median by more than
    * max(5 x its BASELINE MAD, 15%, a floor): wall with a 50 ms floor,
    * task CPU with 250 ms. Task run time has no MAD term, only
    * max(15%, 250 ms): it is the witness of tasks waiting for a core,
    * and the record's own waits (cold first reps) would widen it. The
    * baseline MAD only: this run's MAD would let a real regression
    * that also inflates per-rep jitter widen its own tolerance.
    *  - Wall within its bound is clean.
    *  - A gate whose baseline task time is under 10% of its wall (mostly
    *    driver or streaming machinery) has no task witness: a wall
    *    regression is a regression.
    *  - Otherwise the task clocks name the cause: CPU over its bound is
    *    more work done, so a regression; run time over it on CPU within
    *    it is tasks waiting for a core, so a contended host; neither
    *    over is driver-side time (planning, codegen, scheduling), a
    *    warning. */
  def classify(base: Clocks, now: Clocks): Verdict = {
    def over(t: Double, b: Double, mad: Double, floor: Double) =
      t > b + math.max(5 * mad, math.max(0.15 * b, floor))
    if (!over(now.median, base.median, base.mad, 0.05)) Verdict.Clean
    else if (base.taskMs < 0.1 * base.median * 1000) Verdict.Regression
    else if (over(now.cpuMs, base.cpuMs, base.cpuMad, 250.0))
      Verdict.Regression
    else if (over(now.taskMs, base.taskMs, 0.0, 250.0))
      Verdict.Contended
    else Verdict.WallOnly
  }
}
