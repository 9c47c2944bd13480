package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale validation: replicate the sf0.1 tables k-fold
  * IN MEMORY (no writes outside the repo) and time the heavy operators
  * at 1x / 4x / 10x, so SCALE.md's "would this survive 100x" claims are
  * measured growth exponents, not prose.
  *
  * Replication must create DECORRELATED data, or the measurement lies:
  * identical copies make every original near-dup pair appear k^2/2
  * times (output — and candidate work — would grow quadratically with a
  * corpus that is really just "the same data again"). Instead:
  *  - documents: copy i rewrites every token w -> w_i. Token renaming is
  *    a bijection per copy, so WITHIN a copy the shingle-set structure
  *    (and thus every jaccard/minhash/simhash relation) is preserved
  *    exactly, while across copies no shingle collides — k-fold more
  *    distinct documents, the same per-document statistics. n_chars
  *    grows slightly; ids are offset per copy.
  *  - embeddings: copy i flips the sign of a per-(copy, dim) hash-chosen
  *    half of the dimensions. Sign patterns are fixed per copy, so
  *    within-copy cosines are EXACTLY preserved (x.y == sx.sy for the
  *    same sign vector s), while cross-copy cosines are decorrelated
  *    (expected overlap of two random half-flips ~ 0).
  *  - lineitem: ids offset per copy; measure aggregation both on keys
  *    whose cardinality grows with data (orderkey) and on constant-
  *    cardinality keys (returnflag/linestatus — the map-side-combine
  *    regime).
  *
  * Env-tunable: SPARK_GRAFT_SCALES (replication factors),
  * SPARK_GRAFT_PROBE_ONLY (query subset), SPARK_GRAFT_PROBE_REPS
  * (median-of-n per query; default 1). Caches are cleared between
  * scales so each scale is measured cold on its own data.
  * Output: one JSON line per scale {"scale":k,"times":{...}}; the
  * growth-exponent table lives in SCALE.md.
  */
object ScaleProbe {

  private def replicateDocs(base: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      if (i == 0) base
      else {
        // the copy marker is joined with U+0001 — a control byte that
        // cannot occur inside a whitespace-delimited token of real text
        // — so a renamed token can never equal a base-corpus token (a
        // plain "_i" suffix collides with base tokens that already end
        // in "_<i>": base "foo_1" == copy-1's renamed "foo")
        // Tokenize on \\s+ with empty-token filtering — EXACTLY the
        // operators' tokenization: a plain split(" ") would leave a
        // tab/newline-joined chunk as ONE "token" whose pieces the
        // operators then split apart UNRENAMED (cross-copy collisions —
        // the correlated growth this decorrelation exists to prevent)
        val renamed = concat_ws(" ",
          transform(
            filter(split(col("text"), "\\s+"), w => w =!= ""),
            w => concat(w, lit("\u0001" + i))))
        base.select(
          (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          renamed.as("text"),
          col("lang"), col("source"),
          // text grew by the marker bytes — recompute instead of
          // carrying the stale base value
          length(renamed).cast("bigint").as("n_chars"))
      }
    }.reduce(_ unionAll _)

  private def replicateEmb(base: DataFrame, k: Int): DataFrame = {
    val asD = graft.functions.VectorFunctions.asDoubles(col("embedding"))
    (0 until k).map { i =>
      if (i == 0) base.select(col("vec_id"), asD.as("embedding"), col("label"))
      else base.select(
        (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        transform(asD, (x, j) =>
          x * (lit(1.0) - lit(2.0) *
            pmod(xxhash64(j + lit(i * 131L)), lit(2)).cast("double")))
          .as("embedding"),
        col("label"))
    }.reduce(_ unionAll _)
  }

  private def replicateLineitem(base: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      if (i == 0) base
      else base.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L))
    }.reduce(_ unionAll _)

  /** New users per copy: per-user event streams keep their exact shape,
    * so keyed time joins grow linearly in users — real corpus growth. */
  private def replicateEvents(base: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      if (i == 0) base
      else base
        .withColumn("event_id", col("event_id") + lit(i * 1000000000L))
        .withColumn("user_id", col("user_id") + lit(i * 10000000L))
    }.reduce(_ unionAll _)

  /** Keyed streaming-state probe: tumbling(16) count windows through
    * CountWindows.countStream at resolution = size (flatMapGroupsWithState,
    * the runtime the engine's pipelines use) on the RocksDB state store,
    * with the user population growing with scale. Replays the events in
    * per-user-ordered chunks through a real file-source stream and reads
    * the query's own StateOperatorProgress, so the SCALE.md claim
    * "per-key state is O(window size), independent of stream length" is
    * a measured number: state rows must track the user count (one
    * state row per user) and bytes/key must stay flat while total
    * data grows k-fold. Returns a JSON fragment for the scale line. */
  private def streamingStateProbe(spark: SparkSession, events: DataFrame,
                                  nChunks: Int = 4): String = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // session-wide conf: save and restore (same pattern as Watermarks/
    // Clustering) so later streaming work in this session keeps its own
    // provider choice
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = scala.util.Try(Option(spark.conf.get(providerKey)))
      .toOption.flatten
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // chunk by per-user rank so every user's samples arrive in seq order
    // across triggers (the operators' stale-seq replay guard would
    // otherwise drop out-of-order deliveries and shrink later batches);
    // the stage/move/drain mechanics are ChunkedReplay's (shared with
    // Watermarks.lateDataReplay)
    val keyed = events.select(col("user_id").cast("string").as("key"),
      col("event_id").cast("long").as("seq"),
      col("value").cast("double").as("value"))
    val byUser = Window.partitionBy("key").orderBy("seq")
    val replay = new graft.streaming.ChunkedReplay(keyed,
      Seq(col("key"), col("seq"), col("value")),
      least(floor(percent_rank().over(byUser) * nChunks),
        lit(nChunks - 1)).cast("int"),
      nChunks)
    implicit val ss: SparkSession = spark
    val stream = spark.readStream.schema(replay.schema)
      .parquet(replay.streamDir.toString)
      .as[graft.windows.CountWindows.KeyedSample]
    val q = graft.windows.CountWindows.countStream(stream, 16, 16, "sum")
      .writeStream.format("noop")
      .option("checkpointLocation", replay.root.resolve("ckpt").toString)
      .outputMode("append").start()
    try {
      replay.run(() => q.processAllAvailable())
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      // an empty input (or a filter leaving zero rows) must report
      // zeros, not crash on progs.last after the staging/stream cost
      // was already paid
      val batchMs = progs.map(p =>
        graft.streaming.Telemetry.progress(p).triggerExecutionMs)
      val (stateRows, stateMem, sstBytes) =
        progs.lastOption.flatMap(_.stateOperators.headOption) match {
          case Some(st) => (st.numRowsTotal, st.memoryUsedBytes,
            Option(st.customMetrics.get("rocksdbSstFileSize"))
              .map(_.longValue).getOrElse(0L))
          case None => (0L, 0L, 0L)
        }
      s""""streaming_state":{"input_rows":${progs.map(_.numInputRows).sum},""" +
        s""""state_rows":$stateRows,""" +
        s""""state_mem_bytes":$stateMem,""" +
        s""""sst_bytes":$sstBytes,""" +
        s""""batch_ms":[${batchMs.mkString(",")}]}"""
    } finally {
      q.stop()
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
      // the staged replica (the k-fold events copy — the largest temp
      // artifact in the probe) is spent once the metrics are read
      replay.cleanup()
    }
  }

  /** Session-window state probe: the SCALE.md claim "streaming
    * sessionization holds state ∝ concurrently-OPEN sessions, not
    * history" as a measured number. Replays the events through
    * session_window + watermark in ts-ordered chunks and reads the
    * final StateOperatorProgress: input rows grow k-fold with scale,
    * state rows at the end must track only sessions not yet closed by
    * the final watermark. */
  private def sessionStateProbe(spark: SparkSession,
                                events: DataFrame): String = {
    val nChunks = 6
    val src = events.select(col("user_id").cast("string").as("k"),
      col("ts"), col("value").cast("double").as("value"))
    val replay = new graft.streaming.ChunkedReplay(
      src, Seq(col("k"), col("ts"), col("value")),
      graft.streaming.ReplayChunks.byTime(src, "ts", nChunks), nChunks)
    val stream = spark.readStream.schema(replay.schema)
      .parquet(replay.streamDir.toString)
    val q = graft.streaming.StreamingSessions
      .sessionAgg(stream, "k", "ts", "value", "1 hour", "12 hours")
      .writeStream.format("noop")
      .option("checkpointLocation", replay.root.resolve("ckpt").toString)
      .outputMode("append").start()
    try {
      replay.run(() => q.processAllAvailable())
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      val batchMs = progs.map(p =>
        graft.streaming.Telemetry.progress(p).triggerExecutionMs)
      val (stateRows, stateMem) =
        progs.lastOption.flatMap(_.stateOperators.headOption) match {
          case Some(st) => (st.numRowsTotal, st.memoryUsedBytes)
          case None => (0L, 0L)
        }
      s""""streaming_sessions":{"input_rows":${progs.map(_.numInputRows).sum},""" +
        s""""open_state_rows":$stateRows,""" +
        s""""state_mem_bytes":$stateMem,""" +
        s""""batch_ms":[${batchMs.mkString(",")}]}"""
    } finally {
      q.stop()
      replay.cleanup()
    }
  }

  /** Rate-cap state probe: the SCALE.md claim "state is O(1) per key —
    * a kept count plus the (ts, id) high-water mark" as a measured
    * number: replay [[graft.streaming.StreamingCaps.rateCap]] (cap 8)
    * over the scaled events and report the state store's row count and
    * bytes (expected: rows == #distinct keys, bytes/key ~flat across
    * decades) plus per-batch trigger times. */
  private def rateCapStateProbe(spark: SparkSession,
                                events: DataFrame): String = {
    val nChunks = 6
    val src = events.select(col("user_id").cast("long").as("k"),
      unix_micros(col("ts")).as("tsUs"),
      col("event_id").cast("long").as("id"), col("ts"))
    val replay = new graft.streaming.ChunkedReplay(
      src, Seq(col("k"), col("tsUs"), col("id")),
      graft.streaming.ReplayChunks.byTime(src, "ts", nChunks), nChunks)
    val stream = spark.readStream.schema(replay.schema)
      .parquet(replay.streamDir.toString)
    import spark.implicits._
    val q = graft.streaming.StreamingCaps
      .rateCap(stream.as[graft.streaming.StreamingCaps.CapEvent], 8)(spark)
      .toDF()
      .writeStream.format("noop")
      .option("checkpointLocation", replay.root.resolve("ckpt").toString)
      .outputMode("append").start()
    try {
      replay.run(() => q.processAllAvailable())
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      val batchMs = progs.map(p =>
        graft.streaming.Telemetry.progress(p).triggerExecutionMs)
      val (stateRows, stateMem) =
        progs.lastOption.flatMap(_.stateOperators.headOption) match {
          case Some(st) => (st.numRowsTotal, st.memoryUsedBytes)
          case None => (0L, 0L)
        }
      s""""rate_cap_state":{"input_rows":${progs.map(_.numInputRows).sum},""" +
        s""""state_rows":$stateRows,""" +
        s""""state_mem_bytes":$stateMem,""" +
        s""""batch_ms":[${batchMs.mkString(",")}]}"""
    } finally {
      q.stop()
      replay.cleanup()
    }
  }

  /** TTL'd rate-cap state probe — the SCALE.md claim "rateCapTtl state
    * is ∝ keys active within one ttl horizon, not all keys ever seen"
    * as a measured number: same replay as [[rateCapStateProbe]] but
    * through [[graft.streaming.StreamingCaps.rateCapTtl]] (event-time
    * eviction at last-event + ttl). With ttl = 12 event-time hours over
    * the ~1-month fixture (~67 events/key → mean last-event gap ~11 h),
    * a key whose last event precedes the final watermark by more than
    * 12 h is evicted — expected: state_rows a strict fraction of
    * distinct_keys (~2/3 at sf0.01), and the ratio ~flat across decades
    * because scaling replicates KEYS with the same temporal profile
    * (replicateEvents shifts user_id per replica). */
  private def rateCapTtlStateProbe(spark: SparkSession,
                                   events: DataFrame): String = {
    val nChunks = 6
    val ttlMs = 12L * 3600L * 1000L
    val src = events.select(col("user_id").cast("long").as("k"),
      col("ts"), col("event_id").cast("long").as("id"))
    val distinctKeys = src.select(col("k")).distinct().count()
    val replay = new graft.streaming.ChunkedReplay(
      src, Seq(col("k"), col("ts"), col("id")),
      graft.streaming.ReplayChunks.byTime(src, "ts", nChunks), nChunks)
    val stream = spark.readStream.schema(replay.schema)
      .parquet(replay.streamDir.toString)
      .withWatermark("ts", "0 seconds")
    import spark.implicits._
    val q = graft.streaming.StreamingCaps
      .rateCapTtl(stream.as[graft.streaming.StreamingCaps.CapEventTs],
        8, ttlMs)(spark)
      .toDF()
      .writeStream.format("noop")
      .option("checkpointLocation", replay.root.resolve("ckpt").toString)
      .outputMode("append").start()
    try {
      replay.run(() => q.processAllAvailable())
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      // evictions land in the trailing NO-DATA batch (that is where the
      // watermark advance fires the timeouts), so the state row count
      // must come from the LAST progress of any kind, not the last
      // data-bearing one
      val (stateRows, stateMem) =
        q.recentProgress.lastOption.flatMap(_.stateOperators.headOption)
          match {
          case Some(st) => (st.numRowsTotal, st.memoryUsedBytes)
          case None => (0L, 0L)
        }
      s""""rate_cap_ttl_state":{"input_rows":${progs.map(_.numInputRows).sum},""" +
        s""""distinct_keys":$distinctKeys,""" +
        s""""state_rows":$stateRows,""" +
        s""""state_mem_bytes":$stateMem}"""
    } finally {
      q.stop()
      replay.cleanup()
    }
  }

  /** Stream-stream join state probe — the SCALE.md claim "interval-join
    * state is bounded by rate × (within + delay) per side, not stream
    * length" as a measured number: clicks ⋈ purchases within 2 h under
    * a 30 min delay, replayed in 6 time-ordered chunks. replicateEvents
    * grows the event RATE k-fold over the same ~1-month span, so PEAK
    * state rows must grow ~k (state ∝ rate) while staying a small
    * fraction of total input (state ∝ the join window, not history) —
    * and the END state must be near zero, because watermark eviction
    * is the entire scale story. Both numbers are reported. */
  private def streamJoinStateProbe(spark: SparkSession,
                                   events: DataFrame): String = {
    val nChunks = 6
    val chunk = graft.streaming.ReplayChunks.byTime(events, "ts", nChunks)
    def side(p: String, typ: String) = new graft.streaming.ChunkedReplay(
      events.where(col("event_type") === typ),
      Seq(col("ts").as(s"${p}_ts"),
        col("user_id").cast("long").as(s"${p}_key"),
        col("event_id").cast("long").as(s"${p}_id")), chunk, nChunks)
    val l = side("l", "click")
    val r = side("r", "purchase")
    val ls = spark.readStream.schema(l.schema).parquet(l.streamDir.toString)
    val rs = spark.readStream.schema(r.schema).parquet(r.streamDir.toString)
    val q = graft.streaming.StreamingJoins
      .intervalJoin(ls, rs, "30 minutes", "2 hours")
      .writeStream.format("noop")
      .option("checkpointLocation", l.root.resolve("ckpt").toString)
      .outputMode("append").start()
    try {
      (0 until nChunks).foreach { k =>
        l.moveChunk(k); r.moveChunk(k); q.processAllAvailable()
      }
      val progs = q.recentProgress
      val dataProgs = progs.filter(_.numInputRows > 0)
      val peakState = progs.flatMap(_.stateOperators.headOption)
        .map(_.numRowsTotal).foldLeft(0L)(math.max)
      val endState = progs.lastOption.flatMap(_.stateOperators.headOption)
        .map(_.numRowsTotal).getOrElse(0L)
      s""""stream_join_state":{"input_rows":${dataProgs.map(_.numInputRows).sum},""" +
        s""""peak_state_rows":$peakState,""" +
        s""""end_state_rows":$endState}"""
    } finally {
      q.stop(); l.cleanup(); r.cleanup()
    }
  }

  /** Compaction-decade probe: the SCALE.md claim "a many-times-extended
    * index accretes small files per bucket/cell until open/seek cost
    * dominates the probe, and blue/green compaction restores it" as a
    * measured number across decades. Builds an IVF index over the
    * k-fold corpus, folds in 20 fixed-size deltas (id-disjoint by
    * construction, so the default-on disjointness scan is opted out —
    * the documented upstream-guarantee case — to keep the folds
    * O(delta)), then measures probe wall (median of 3) and corpus-table
    * file count BEFORE and AFTER [[graft.operators.PersistedIndex
    * .compact]]. Both generations are dropped before return. */
  private def compactionProbe(spark: SparkSession, emb: DataFrame,
                              sfDir: String, k: Int): String = {
    import graft.operators.Similarity
    val cents = engine.Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < 10)
    val queries = engine.Tables.embeddings(spark, sfDir)
      .where(col("vec_id").between(100, 104))
    val path = java.nio.file.Files
      .createTempDirectory(s"graft-probe-cmp-$k").toString
    val idx = Similarity.buildIvfIndex(emb, "vec_id", "embedding",
      cents, "vec_id", "embedding", s"probe_cmp_idx_$k", path)
    var out: graft.operators.IvfIndex = null
    val checkKey = graft.operators.IndexAdmin.CheckDisjointKey
    try {
      spark.conf.set(checkKey, "false")
      try (0 until 20).foreach { f =>
        idx.extend(
          engine.Tables.embeddings(spark, sfDir)
            .where(col("vec_id") < 250)
            .select((col("vec_id") + 100000000000L + f * 10000000L)
              .as("vec_id"), col("embedding")),
          "vec_id", "embedding")
      } finally spark.conf.unset(checkKey)
      def probeMedian(i: graft.operators.IvfIndex): Double =
        (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          Similarity.ivfKnnFromIndex(spark, queries, "vec_id",
            "embedding", i, 3).count()
          (System.nanoTime() - t0) / 1e9
        }.sorted.apply(1)
      def files(i: graft.operators.IvfIndex): Int =
        spark.table(i.corpusTable).inputFiles.length
      // untimed warmup: the first IVF probe in a JVM pays plan codegen
      // that would otherwise inflate ONLY the before side
      Similarity.ivfKnnFromIndex(spark, queries, "vec_id", "embedding",
        idx, 3).count()
      val (filesBefore, probeBefore) = (files(idx), probeMedian(idx))
      val outPath = java.nio.file.Files
        .createTempDirectory(s"graft-probe-cmp2-$k").toString
      val tc0 = System.nanoTime()
      out = idx.compact(spark, s"probe_cmp_out_$k", outPath)
      val compactSec = (System.nanoTime() - tc0) / 1e9
      val (filesAfter, probeAfter) = (files(out), probeMedian(out))
      s""""ivf_compaction":{"folds":20,"files_before":$filesBefore,""" +
        s""""probe_before_s":${"%.3f".format(probeBefore)},""" +
        s""""compact_s":${"%.3f".format(compactSec)},""" +
        s""""files_after":$filesAfter,""" +
        s""""probe_after_s":${"%.3f".format(probeAfter)}}"""
    } finally {
      idx.drop(spark)
      if (out != null) out.drop(spark)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,4,10")
      .split(",").map(_.trim.toInt).toSeq
    val spark = GraftSession("graft-probe")

    import graft.operators.{Dedup, Similarity}

    // one tiny pass per plan family so scale-1 doesn't pay codegen/JIT
    locally {
      val d0 = replicateDocs(engine.Tables.documents(spark, sfDir), 2)
        .where(col("doc_id") % 100 === 0)
      val e0 = replicateEmb(engine.Tables.embeddings(spark, sfDir), 2)
        .where(col("vec_id") % 100 === 0)
      Dedup.jaccardPairs(d0, "doc_id", "text", 3, 0.8).count()
      Dedup.minhashPairs(d0, "doc_id", "text", 3, 0.8).count()
      Dedup.simhashPairs(d0, "doc_id", "text", 3).count()
      Dedup.exactGroups(d0, "doc_id", "text").count()
      Dedup.embeddingPairs(e0, "vec_id", "embedding", 0.85, dim = 64).count()
      Dedup.embeddingPairs(e0, "vec_id", "embedding", 0.4).count()
      Similarity.bruteForceKnn(e0.limit(5), e0, "vec_id", "embedding", 10)
        .count()
      operators.CorpusStats.heavyHitters(
        d0.select(explode(graft.functions.TextFunctions
          .wordNgramsAll(col("text"), 2)).as("item")), "item", 0.01).count()
      Dedup.passageDedup(d0, "doc_id", "text", 8, 2).count()
      locally {
        val cb0 = Similarity.trainSq(e0, "embedding")
        Similarity.sqKnn(e0.limit(3), e0, "vec_id", "embedding", 5, cb0)
          .count()
      }
      spark.catalog.clearCache()
    }

    scales.foreach { k =>
      val docs = replicateDocs(engine.Tables.documents(spark, sfDir), k)
      val emb = replicateEmb(engine.Tables.embeddings(spark, sfDir), k)
      val li = replicateLineitem(engine.Tables.lineitem(spark, sfDir), k)
      val events = replicateEvents(engine.Tables.events(spark, sfDir), k)

      // SPARK_GRAFT_PROBE_ONLY=a,b limits the probe (e.g. skip the
      // by-design-quadratic blocked branch when probing extra decades);
      // parsed ONCE — the query filter and the streaming-state branch
      // must never read the env differently
      val onlyNames = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
        .map(_.split(",").map(_.trim).toSet)
      def wanted(name: String): Boolean = onlyNames.forall(_.contains(name))

      // pairs for the clustering probe are materialized BEFORE the timed
      // loop (a lazy val would be first forced INSIDE dedup_clusters'
      // timing window, silently folding minhash generation into the
      // published closure exponent); only computed when selected
      val ccPairs =
        if (wanted("dedup_clusters")) {
          val p = Dedup.minhashPairs(docs, "doc_id", "text", 3, 0.8).persist()
          p.count(); p
        } else null

      // incremental-index probe: the index over the k-fold corpus is
      // built UNTIMED (it is a once-per-corpus write by contract); the
      // timed query probes a FIXED delta (copy-0 docs, re-keyed to
      // disjoint ids so they near-dup-match their copy-0 originals)
      // against it — the measurement that pins per-delta cost as the
      // indexed corpus grows
      val incIdx =
        if (wanted("dedup_incremental")) {
          val path = java.nio.file.Files
            .createTempDirectory(s"graft-probe-idx-$k").toString
          Dedup.buildIndex(docs, "doc_id", "text", s"probe_inc_idx_$k", path)
        } else null

      // line-frequency-index probe: same contract — the k-fold corpus
      // (regrouped into 8-token lines, the gate construction) is folded
      // into the bucketed index untimed; a FIXED re-keyed copy-0 delta
      // probes it, so the measurement is per-delta probe cost as the
      // indexed line vocabulary grows k-fold
      val lineIdx =
        if (wanted("dedup_lines_incr")) {
          val path = java.nio.file.Files
            .createTempDirectory(s"graft-probe-lfidx-$k").toString
          Dedup.buildLineIndex(docs.select(col("doc_id"),
            graft.functions.TextFunctions.tokenLines(
              col("text"), 8).as("text")),
            "doc_id", "text", s"probe_lf_idx_$k", path)
        } else null

      // semdedup probe: the cell assignment is materialized UNTIMED
      // (once-per-corpus artifact by contract — at 100 TB it is read
      // out of the persisted cell-partitioned IVF index); the timed
      // branch measures ONLY the within-cell stage. Centroids grow
      // with the corpus so cells hold at ~50 vectors.
      val semAsg =
        if (wanted("semdedup")) {
          import graft.functions.VectorFunctions.{asDoubles, l2Norm}
          val v0 = emb.select(col("vec_id").cast("long").as("vid"),
              asDoubles(col("embedding")).as("v"))
            .withColumn("nrm", l2Norm(col("v")))
            .where(col("nrm") > 0.0)
          val cents = emb.where(pmod(col("vec_id"), lit(50L)) === 0)
            .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
          val a = Similarity.assignCells(v0, "vid", "v", cents,
              "cid", "cvec")
            .select(col("vid"), col("v"), col("nrm"), col("cell"),
              (round(col("cell_sim"), 6) + lit(0.0)).as("cent_sim"))
            .persist()
          a.count(); a
        } else null

      // gram-frequency (span) index probe: same contract — the k-fold
      // corpus's every-position 20-grams fold into the bucketed index
      // untimed; a FIXED re-keyed copy-0 delta probes it, so the
      // measurement is per-delta substring-dedup cost as the indexed
      // gram inventory grows k-fold (the delta never rescans history)
      val spanIdx =
        if (wanted("dedup_spans_incr")) {
          val path = java.nio.file.Files
            .createTempDirectory(s"graft-probe-spidx-$k").toString
          Dedup.buildSpanIndex(docs, "doc_id", "text", 20,
            s"probe_sp_idx_$k", path)
        } else null

      // n-gram count-table index probe: the k-fold corpus's per-order
      // counts fold into the bucketed index untimed (once-per-corpus
      // by contract); the timed probe scores a FIXED 250-doc delta
      // against it — per-scoring-run cost as the indexed gram
      // inventory grows k-fold, never a train-side re-count
      val ngIdx =
        if (wanted("ngram_lm_incr")) {
          val path = java.nio.file.Files
            .createTempDirectory(s"graft-probe-ngidx-$k").toString
          operators.CorpusStats.buildNgramIndex(docs, "doc_id", "text",
            5, s"probe_ng_idx_$k", path)
        } else null

      // embedding-index probe: same contract as dedup_incremental — the
      // k-fold corpus is signed into the bucketed index untimed, a
      // FIXED shifted-copy delta (near-dups of copy-0 vectors) probes it
      val embIncIdx =
        if (wanted("dedup_emb_incremental")) {
          val path = java.nio.file.Files
            .createTempDirectory(s"graft-probe-embidx-$k").toString
          Dedup.buildEmbeddingIndex(emb, "vec_id", "embedding",
            s"probe_emb_idx_$k", path, 0.85, dim = 64)
        } else null
      val embIncDelta = {
        import graft.functions.VectorFunctions.asDoubles
        engine.Tables.embeddings(spark, sfDir)
          .where(col("vec_id") < 250)
          .select((col("vec_id") + 100000000000L).as("vec_id"),
            transform(asDoubles(col("embedding")), x => x + lit(0.08))
              .as("embedding"))
      }

      // IVF-index probe: cells assigned over the k-fold corpus at build
      // (untimed, once per corpus); the timed probe reads ONLY the
      // probed cells' partitions. The inline twin re-assigns the whole
      // corpus per query — the pair measures what the persisted layout
      // buys as the corpus grows.
      val ivfCents = engine.Tables.embeddings(spark, sfDir)
        .where(col("vec_id") < 10)
      val ivfQueries = engine.Tables.embeddings(spark, sfDir)
        .where(col("vec_id").between(100, 104))
      // SQ8 codebook over the k-fold corpus, trained untimed (a
      // once-per-corpus scan by contract, like the index builds)
      val sqCb =
        if (wanted("knn_sq8")) Similarity.trainSq(emb, "embedding")
        else null

      val ivfIdx =
        if (wanted("knn_ivf_indexed") || wanted("knn_ivf_extend")) {
          val path = java.nio.file.Files
            .createTempDirectory(s"graft-probe-ivf-$k").toString
          Similarity.buildIvfIndex(emb, "vec_id", "embedding",
            ivfCents, "vec_id", "embedding", s"probe_ivf_idx_$k", path)
        } else null
      // PQ codebook over the k-fold corpus (untimed, sample-capped by
      // contract); the IVFADC index pays assignment+encoding at build
      val pqCb =
        if (wanted("knn_pq") || wanted("knn_ivfpq_indexed"))
          Similarity.trainPq(emb, "embedding", m = 16, codesPerSub = 32,
            seed = 7L)
        else null
      val ivfPqIdx =
        if (wanted("knn_ivfpq_indexed")) {
          val path = java.nio.file.Files
            .createTempDirectory(s"graft-probe-ivfpq-$k").toString
          Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
            ivfCents, "vec_id", "embedding", pqCb,
            s"probe_ivfpq_idx_$k", path)
        } else null
      // fixed-size fold-in delta (250 re-keyed vectors) against the
      // k-fold index: assignment + append are O(delta) by design, so
      // the fold wall must stay ~flat as the indexed corpus decades up.
      // The re-key offset varies per rep: extendIvfIndex's contract is
      // delta-ids-DISJOINT from the index, so a REPS>1 run must fold a
      // fresh id range each time rather than re-appending rep 1's ids
      // (which would both violate the contract and time appends into a
      // progressively duplicated index).
      // delta offsets sit at 1e11 — beyond any replica id (replica i
      // is base + i*1e7, so a 9xxM offset collided exactly at the
      // k=95..100 decade and tripped the disjoint-ids guard)
      def ivfDelta(rep: Int): DataFrame = engine.Tables
        .embeddings(spark, sfDir)
        .where(col("vec_id") < 250)
        .select((col("vec_id") + 100000000000L + rep * 10000000L)
          .as("vec_id"), col("embedding"))

      // chunk-index probe: same contract as dedup_incremental — the
      // k-fold corpus's chunk inventory is persisted untimed, a FIXED
      // delta (copy-0 docs re-keyed, so every chunk is already indexed)
      // scores novelty against it; per-delta cost must stay ~flat as
      // the indexed corpus decades up
      val chunkIdx =
        if (wanted("chunk_novelty") || wanted("incremental_pipeline")) {
          val path = java.nio.file.Files
            .createTempDirectory(s"graft-probe-chunkidx-$k").toString
          operators.Chunking.buildChunkIndex(docs, "doc_id", "text",
            s"probe_chunk_idx_$k", path)
        } else null

      // skewed count-window frame: ONE hot key with k * 2M samples
      // (unique seq = the W1 ordering contract) + a 40-key cold tail.
      // Built from spark.range so the SOURCE is parallel — the probe
      // isolates the ranking stage's serialization, not scan skew.
      val hotKeyFrame = {
        val hot = spark.range(k * 2000000L).select(
          lit("hot").as("key"), col("id").as("seq"),
          (col("id") % 19).cast("double").as("value"))
        val cold = spark.range(40L * 1000).select(
          concat(lit("cold"), (col("id") % 40)).as("key"),
          (col("id") / 40).as("seq"),
          (col("id") % 13).cast("double").as("value"))
        hot.unionAll(cold)
      }

      val queries: Seq[(String, () => Long)] = Seq(
        "dedup_exact" -> (() =>
          Dedup.exactGroups(docs, "doc_id", "text").count()),
        // zero-shuffle row-local chunking: the exponent must be ~1 and
        // the constant pure scan+codegen (nothing crosses the wire)
        "cdc_chunks" -> (() =>
          operators.Chunking.cdcChunks(docs, "doc_id", "text").count()),
        // + one hash-only aggregate: 16-byte keys at chunk cardinality
        "cdc_dedup" -> (() =>
          operators.Chunking.chunkDuplicates(docs, "doc_id", "text")
            .count()),
        "chunk_novelty" -> (() =>
          operators.Chunking.deltaNovelty(
            engine.Tables.documents(spark, sfDir)
              .where(col("doc_id") < 250)
              .withColumn("doc_id", col("doc_id") + lit(100000000000L)),
            "doc_id", "text", chunkIdx).count()),
        // zero-shuffle row-local window explode: exponent ~1, output
        // multiplies by ~size/stride but nothing crosses the wire
        "token_windows" -> (() =>
          operators.Chunking.tokenWindows(docs, "doc_id", "text",
            size = 64, stride = 48).count()),
        // one scan + a k-row aggregate: the per-scale wall must be the
        // text-kernel scan, the shuffle a fixed 10 rows per task
        "calibration" -> (() =>
          operators.Features.calibrationBins(
            docs.select(round(graft.functions.TextFunctions
                .qualityScore(col("text")), 6).as("score"),
              graft.functions.TextFunctions.gopherFlags(col("text"))
                .getField("pass").as("label")),
            "score", "label", 10).count()),
        // the full capstone with a FIXED delta: novelty (flat — indexed
        // side streams) + held-out LM (train counts grow with the
        // corpus — the dominating stage) + fuzzy decontamination
        // (fixed bench). Measures the composition, and WHICH stage
        // carries the growth.
        "incremental_pipeline" -> (() => {
          // half verbatim re-crawls (novelty drops them), half
          // content-mutated (translate flips most chunks → accepted
          // unless the LM/decontamination stages object) — rows flow
          // through every stage instead of dying at the first filter
          val base = engine.Tables.documents(spark, sfDir)
            .where(col("doc_id") < 250)
          val delta = base
            .withColumn("doc_id", col("doc_id") + lit(100000000000L))
            .withColumn("text",
              when(col("doc_id") % 2 === 0,
                translate(col("text"), "e", "q")).otherwise(col("text")))
          val nov = operators.Chunking
            .deltaNovelty(delta, "doc_id", "text", chunkIdx)
            .where(col("novelty") >= 0.3)
            .select(col("doc_id"), col("novelty"))
          val lm = operators.CorpusStats
            .bigramLogProbAgainst(docs, delta, "doc_id", "text")
            .where(col("avg_lp") >= -4.5)
            .select(col("doc").as("doc_id"), col("avg_lp"))
          val dirty = operators.Contamination.flagContaminatedFuzzy(
              delta, "doc_id", "text",
              engine.Tables.documents(spark, sfDir)
                .where(col("doc_id") < 50),
              "doc_id", "text", 3, 0.35)
            .select(col("doc").as("doc_id"))
          nov.join(lm, "doc_id")
            .join(dirty, Seq("doc_id"), "left_anti").count()
        }),
        // the mixture-build capstone end-to-end over the replicated
        // corpus: quality floor (distinct-length cum-sum) → fingerprint
        // keep-first → temperature targets + draw → packing windows —
        // every shuffle is group/fingerprint/stratum-keyed, so wall
        // must track the corpus scans, never a pair blowup
        "curation_pipeline" -> (() => {
          val all = docs.select(col("doc_id"), col("source"),
            col("n_chars"), col("text"))
          val q = operators.Features.quantileFilter(
            all, "source", "n_chars", 0.25)
          val kept = q
            .withColumn("__fp",
              graft.functions.TextFunctions.fingerprint(col("text")))
            .withColumn("__keep", min(col("doc_id")).over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col("__fp"))))
            .where(col("doc_id") === col("__keep"))
            .select(col("doc_id"), col("source"),
              graft.functions.TextFunctions.tokenCount(col("text"))
                .cast("bigint").as("n_tok"))
          val mixed = operators.Sampling.temperatureSample(
            kept, "doc_id", "source", rate = 4.0, alpha = 0.5,
            salt = "cur")
          operators.Sampling.packSequences(mixed, "doc_id", "source",
            "n_tok", 2048L, salt = "cur").count()
        }),
        // two kernel chunkings + ONE (id, hash, count) shuffle — wall
        // must track the scans; the diff side reuses the same frame
        // with a fixed deterministic edit
        "chunk_diff" -> (() =>
          operators.Chunking.chunkDiff(docs,
            docs.select(col("doc_id"),
              when(col("doc_id") % 4 === 0,
                concat(col("text"), lit(" REVISED"))).otherwise(col("text"))
                .as("text")),
            "doc_id", "text").count()),
        // per-round cost = one pair aggregate over the DISTINCT-word
        // frame + a 1-row argmax; replicas grow the word frame k-fold
        // (worst case for the Zipf amortization, as for subword)
        "bpe_train" -> (() =>
          operators.Subword.trainBpeMerges(docs, "text", 4).count()),
        // ranked-apply encode: per-DISTINCT-word walk, rule-count-
        // independent per word — wall must track the distinct-word
        // frame (Zipf-sublinear), like subword inference
        "bpe_encode_large" -> (() =>
          operators.Subword.bpeEncode(docs, "doc_id", "text",
            Seq(("e", "r"), ("i", "n"), ("o", "w"), ("t", "h"),
              ("th", "e"), ("er", "s"), ("a", "n"), ("an", "d"))).count()),
        // the documented W1/W2 hot-key boundary, priced: ONE mega-hot
        // key whose sample count grows k-fold. The plain path ranks the
        // whole key in a single task (wall must grow ~linearly with k
        // and CANNOT parallelize); the salted path range-buckets the
        // key's ordered stream, ranks buckets in parallel and restitches
        // exact ranks (TumblingSaltedSpec pins equality), so its wall
        // must stay well under plain's as k grows — the measured basis
        // for SCALE.md's "salt at the source when the stream is
        // parallelizable" advice
        "count_window_hot_plain" -> (() =>
          windows.CountWindows.tumblingBatch(
            hotKeyFrame, "key", "seq", "value", 16, "sum").count()),
        "count_window_hot_salted" -> (() =>
          windows.CountWindows.tumblingBatchSalted(
            hotKeyFrame, "key", "seq", "value", 16, "sum").count()),
        // W2 twin pair: trailing-frame aggregation over the same
        // mega-hot key — plain serializes BOTH the rank and the frame
        // walk in one task; the salted form spreads frames over
        // n/chunkRows overlap-chunks
        "sliding_window_hot_plain" -> (() =>
          windows.CountWindows.slidingBatch(
            hotKeyFrame, "key", "seq", "value", 16, 4, "sum").count()),
        "sliding_window_hot_salted" -> (() =>
          windows.CountWindows.slidingBatchSalted(
            hotKeyFrame, "key", "seq", "value", 16, 4, "sum").count()),
        // k-bounded per-task heap + k-sized driver merge: wall must
        // track the scan, never a sort
        "weighted_sample" -> (() =>
          operators.Sampling.weightedSample(docs, "doc_id", "n_chars",
            1000).count()),
        // driverEdgeCap=0 forces the DISTRIBUTED star path — the probe
        // measures the scale branch, not the driver union-find shortcut
        "dedup_clusters" -> (() =>
          operators.Clustering.dedupVerdicts(ccPairs, "d1", "d2",
            driverEdgeCap = 0L).count()),
        "dedup_incremental" -> (() =>
          Dedup.pairsAgainstIndex(
            engine.Tables.documents(spark, sfDir)
              .where(col("doc_id") < 250)
              .withColumn("doc_id", col("doc_id") + lit(100000000000L)),
            "doc_id", "text", incIdx, 0.8).count()),
        "dedup_emb_incremental" -> (() =>
          Dedup.embeddingPairsAgainstIndex(embIncDelta, "vec_id",
            "embedding", embIncIdx).count()),
        "dedup_lines_incr" -> (() =>
          Dedup.lineDedupAgainstIndex(
            engine.Tables.documents(spark, sfDir)
              .where(col("doc_id") < 250)
              .select((col("doc_id") + lit(100000000000L)).as("doc_id"),
                graft.functions.TextFunctions.tokenLines(
                  col("text"), 8).as("text")),
            "doc_id", "text", lineIdx).count()),
        "dedup_spans_incr" -> (() =>
          Dedup.duplicateSpansAgainstIndex(
            engine.Tables.documents(spark, sfDir)
              .where(col("doc_id") < 250)
              .select((col("doc_id") + lit(100000000000L)).as("doc_id"),
                col("text")),
            "doc_id", "text", spanIdx).count()),
        // trainer probe: TWO Viterbi-EM rounds + seed mining over the
        // distinct-word frame, which the renamed replicas grow k-fold
        // (amortization worst case); driver state stays vocab-sized
        "unigram_train" -> (() =>
          operators.Subword.trainUnigram(docs, "text", 60, 40,
            2, 4, 2, -10.0).length.toLong),
        // classifier probe: the hashed feature space is CONSTANT (512
        // buckets) while the corpus grows k-fold, so the (doc, bucket)
        // frame — and with it every GD iteration's two aggregations —
        // must track the corpus linearly; driver state stays 513 longs
        "quality_classifier" -> (() => {
          val (w, b) = operators.Selection.trainQualityClassifier(docs,
            col("source") === "src1", "doc_id", "text",
            iters = 4, lr = 0.5, buckets = 512)
          operators.Selection.scoreQualityClassifier(docs, "doc_id",
            "text", w, b).count()
        }),
        "dedup_jaccard" -> (() =>
          Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8).count()),
        "dedup_minhash" -> (() =>
          Dedup.minhashPairs(docs, "doc_id", "text", 3, 0.8).count()),
        // asymmetric containment: prefix(small) x FULL inverted index —
        // candidate work grows faster than jaccard's prefix x prefix by
        // design; the probe prices that honesty (df cap bounds it)
        "dedup_containment" -> (() =>
          Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.6).count()),
        // stratum-pair matrix: distinct (source, shingle) + one
        // self-join; output cardinality is pairs-that-share (constant
        // 20 sources here), so wall must track the distinct, not pairs
        "source_overlap" -> (() =>
          operators.CorpusStats.sourceOverlap(docs, "source", "text", 3)
            .count()),
        "dedup_simhash" -> (() =>
          Dedup.simhashPairs(docs, "doc_id", "text", 3).count()),
        "dedup_emb_lsh_085" -> (() =>
          Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.85, dim = 64)
            .count()),
        // exact quadratic branch: expected exponent ~2, kept here so the
        // probe DOCUMENTS the inherent O(n^2) rather than hiding it
        "dedup_emb_blocked_04" -> (() =>
          Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.4).count()),
        "knn_bruteforce" -> (() =>
          Similarity.bruteForceKnn(
            emb.where(col("vec_id") < 5), emb, "vec_id", "embedding", 10)
            .count()),
        // whole-corpus graph: candidates ~ n x occupancy x nProbe; at
        // fixed cell count occupancy grows with n, so the probe prices
        // the n^2/cells curve — the lever at scale is more centroids
        // (occupancy ~ const), which the inline twin can't show
        "knn_graph" -> (() =>
          Similarity.knnGraph(emb, "vec_id", "embedding",
            ivfCents, "vec_id", "embedding", k = 3, nProbe = 2).count()),
        "knn_ivf_inline" -> (() =>
          Similarity.ivfKnn(ivfQueries, emb, "vec_id", "embedding",
            ivfCents, "vec_id", "embedding", 3).count()),
        "knn_ivf_indexed" -> (() =>
          Similarity.ivfKnnFromIndex(spark, ivfQueries, "vec_id",
            "embedding", ivfIdx, 3).count()),
        // MUTATES ivfIdx (appends the delta), so it sits after the
        // indexed probe in run order; each decade rebuilds the index.
        // The rep counter advances per invocation so repeated folds
        // stay id-disjoint (see ivfDelta).
        "knn_ivf_extend" -> {
          var extendRep = 0
          () => {
            val d = ivfDelta(extendRep)
            extendRep += 1
            ivfIdx.extend(d, "vec_id", "embedding")
            d.count()
          }
        },
        // ADC flat scan: m lookups per corpus vector (no d-dim dots),
        // per-partition bounded heaps — wall must grow ~linearly with
        // the corpus, with a far smaller constant than brute force
        "knn_pq" -> (() =>
          Similarity.pqKnn(ivfQueries, emb, "vec_id", "embedding", 3,
            pqCb, refine = 48).count()),
        // IVFADC probe: partition-pruned to probed cells + codes-only
        // column read — wall must stay ~flat as the corpus decades up
        "knn_ivfpq_indexed" -> (() =>
          Similarity.ivfPqKnnFromIndex(spark, ivfQueries, "vec_id",
            "embedding", ivfPqIdx, 3, nProbe = 1, refine = 48).count()),
        "agg_constant_groups" -> (() =>
          li.groupBy("l_returnflag", "l_linestatus")
            .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1)))
            .count()),
        "agg_growing_groups" -> (() =>
          li.groupBy("l_orderkey").agg(sum("l_quantity")).count()),
        // benchmark side FIXED (copy-0 docs) while the corpus grows:
        // the broadcast-semi-join shape must stay linear in the corpus
        "decontaminate" -> (() =>
          operators.Contamination.flagContaminated(
            docs, "doc_id", "text",
            engine.Tables.documents(spark, sfDir).where(col("doc_id") < 50),
            "doc_id", "text", 8).count()),
        "asof_join" -> (() => {
          val purchases = events.where(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts"))
          val clicks = events.where(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts"), col("value"))
          operators.AsOfJoin.asOf(purchases, clicks, "user_id", "ts",
            Map("click_id" -> "event_id", "click_value" -> "value")).count()
        }),
        "range_join" -> (() => {
          val purchases = events.where(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts"))
          val clicks = events.where(col("event_type") === "click")
            .select(col("event_id").as("c_id"), col("user_id"), col("ts"))
          operators.RangeJoin.timeRange(purchases, clicks, "user_id", "ts",
            3600000L, 3600000L).count()
        }),
        "text_analysis" -> (() =>
          docs.select(col("doc_id"),
            graft.functions.TextFunctions.textStats(col("text")).as("st"),
            graft.functions.TextFunctions.langId(col("text")).as("lang"),
            graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
            .where(col("lang").isNotNull).count()),
        // MG candidates + exact recount: replication keeps shares ~flat,
        // so the measurement is pure per-row scan cost — the exponent
        // must stay ~1 (the whole point of never shuffling the stream)
        "heavy_hitters" -> (() =>
          operators.CorpusStats.heavyHitters(
            docs.select(explode(graft.functions.TextFunctions
              .wordNgramsAll(col("text"), 2)).as("item")),
            "item", 0.0015).count()),
        // hash-only content shuffle + doc-keyed reassembly: both scale
        // with corpus rows, not passage-pair combinations
        "dedup_passage" -> (() =>
          Dedup.passageDedup(docs, "doc_id", "text", 8, 2).count()),
        // same hash-only discipline at LINE grain: the multi-line
        // corpus is rebuilt from tokenSpans (the gate's construction),
        // token renaming keeps within-copy duplicate lines and
        // decorrelates across copies — duplicate-line work must grow
        // ~linearly with k, never with pair combinations
        "dedup_lines" -> (() =>
          Dedup.lineDedup(docs.select(col("doc_id"),
            graft.functions.TextFunctions.tokenLines(
              col("text"), 8).as("text")),
            "doc_id", "text").count()),
        // codebook trained untimed (once-per-corpus by contract); the
        // timed probe is the byte-code scan + top-R refine
        "knn_sq8" -> (() =>
          Similarity.sqKnn(
            engine.Tables.embeddings(spark, sfDir)
              .where(col("vec_id") < 5),
            emb, "vec_id", "embedding", 10, sqCb).count()),
        // user population grows with scale, per-user history is constant
        // — one shuffle + per-key sorts, so wall must grow ~linearly
        "sessionize" -> (() =>
          operators.Sessionize.summarize(events, "user_id", "ts", 43200L,
            "value", Seq("event_id")).count()),
        // decorrelated copies rename tokens, so the VOCABULARY grows
        // k-fold with the corpus — the df aggregate and tf join are the
        // probe, document bodies never shuffle
        "tfidf" -> (() =>
          operators.CorpusStats.tfidf(docs, "doc_id", "text").count()),
        // bench side GROWS with scale (50 docs per copy): the broadcast
        // path must ship a k-fold shingle set to every task, the bloom
        // path a fixed-size sketch — this pair measures the crossover
        // the bloom variant exists for (overlap work itself grows ~k
        // because renamed tokens only match within a copy)
        "decontam_bcast_growing" -> (() =>
          operators.Contamination.flagContaminated(
            docs, "doc_id", "text",
            docs.where(pmod(col("doc_id"), lit(10000000L)) < 50),
            "doc_id", "text", 8).count()),
        "decontam_bloom_growing" -> (() =>
          operators.Contamination.flagContaminatedBloom(
            docs, "doc_id", "text",
            docs.where(pmod(col("doc_id"), lit(10000000L)) < 50),
            "doc_id", "text", 8).count()),
        // fuzzy (Jaccard) contamination with a FIXED bench: the corpus
        // side is one explode + the (doc, bench) overlap aggregate —
        // wall must track the scan, the agg is bounded by overlaps
        "decontam_fuzzy" -> (() =>
          operators.Contamination.flagContaminatedFuzzy(
            docs, "doc_id", "text",
            engine.Tables.documents(spark, sfDir)
              .where(col("doc_id") < 50),
            "doc_id", "text", 3, 0.35).count()),
        // held-out LM with a FIXED scored split and a GROWING training
        // corpus: the train-count aggregates (vocab grows k-fold by
        // replica construction — worst case) are what is measured
        "bigram_heldout" -> (() =>
          operators.CorpusStats.bigramLogProbAgainst(
            docs,
            engine.Tables.documents(spark, sfDir)
              .where(col("doc_id") < 250)
              .withColumn("doc_id", col("doc_id") + lit(1300000000L)),
            "doc_id", "text").count()),
        // SemDeDup's within-cell stage over the UNTIMED pre-assigned
        // frame (semAsg below — assignment is a once-per-corpus
        // artifact by contract, the IVF family's probed concern; the
        // first probe run of this branch measured the convenience
        // form's corpus × k argmax going quadratic at 100x, 124.8 s,
        // which is exactly why semDedupAssigned exists). Centroid
        // count GROWS with the corpus (vec_id % 50 == 0 of the
        // replicated set — replica offsets are multiples of 50, so
        // every copy contributes equally), holding cells at ~50
        // vectors: the timed work is Σ|cell|² dot products + the
        // closure + the keep window — wall must grow ~k, never k²
        "semdedup" -> (() =>
          Dedup.semDedupAssigned(semAsg, 0.85)
            .where(col("keep")).count()),
        // order-5 stupid backoff, same fixed-scored/growing-train
        // shape: the FIVE per-order count tables are what is measured.
        // Replica token-renaming grows every j-gram vocabulary k-fold
        // (worst case — real corpora repeat grams); the count-table
        // shuffles must grow ~k and the scored side stays fixed, so
        // wall beyond ~k would mean a count join stopped being
        // vocabulary-shaped
        "ngram_lm" -> (() =>
          operators.CorpusStats.ngramLogProbAgainst(
            docs,
            engine.Tables.documents(spark, sfDir)
              .where(col("doc_id") < 250)
              .withColumn("doc_id", col("doc_id") + lit(1300000000L)),
            "doc_id", "text", order = 5).count()),
        // the incremental twin: same fixed scored side, but the train
        // counts fold Exchange-free out of the persisted 5-order index
        // instead of being re-counted — the pair measures what the
        // index buys per nightly scoring run as history grows k-fold
        "ngram_lm_incr" -> (() =>
          operators.CorpusStats.ngramLogProbAgainstIndex(
            engine.Tables.documents(spark, sfDir)
              .where(col("doc_id") < 250)
              .withColumn("doc_id", col("doc_id") + lit(1300000000L)),
            "doc_id", "text", ngIdx).count()),
        // stage cascade: per-stage keyed min-ts aggregates over a user
        // population growing with scale — reach frames stay 1 row/user
        "funnel" -> (() =>
          operators.EventAnalytics.funnel(events, "user_id", "ts",
            "event_type", Seq("view", "click", "purchase"))
            .agg(sum(col("n_keys"))).head.getLong(0)),
        "retention" -> (() =>
          operators.EventAnalytics.retention(events, "user_id", "ts")
            .count()),
        // like tfidf, the n-gram vocabulary grows k-fold by replica
        // construction — worst case for the two n-gram-keyed joins
        "bigram_lm" -> (() =>
          operators.CorpusStats.bigramLogProb(docs, "doc_id", "text")
            .count()),
        // fixed query set over a growing corpus: the pre-aggregate
        // vocabulary prune keeps the shuffled tf frame ~constant
        // (renamed replica tokens never match the queries), so wall
        // should track the scan/explode, not the corpus vocabulary
        "bm25" -> (() =>
          operators.CorpusStats.bm25TopK(docs, "doc_id", "text",
            Map("p1" -> "fast vector scan", "p2" -> "customer query data"),
            10).count()),
        // distinct words grow k-fold by replica construction — worst
        // case for the Zipf amortization (real corpora add occurrences
        // faster than words); the per-word walk + (doc, word, count)
        // shuffle are what is measured
        // hashed-feature table is CONSTANT (512 buckets) while the
        // vocabulary grows k-fold by replica construction: the
        // (doc, bucket) aggregate must track the token scan, and the
        // distribution joins stay one ~512-row broadcast each — wall
        // growth beyond ~k here would mean the bucket cap leaked
        "dsir_weights" -> (() =>
          operators.Selection.dsirWeights(docs,
            pmod(col("doc_id"), lit(3L)) === lit(0L), "doc_id", "text")
            .count()),
        // vocabulary (hence the word-total shuffle-hash join) grows
        // k-fold — worst case; the output stays one row per source
        "source_kl" -> (() =>
          operators.CorpusStats.sourceDivergence(docs, "source", "text")
            .count()),
        "subword" -> (() =>
          operators.Subword.pieceCounts(docs, "doc_id", "text",
            Seq("a", "b", "c", "d", "e", "g", "h", "i", "k", "l", "m",
              "n", "o", "p", "r", "s", "t", "w", "y", "wind", "ow",
              "table", "merge", "batch", "val", "quer", "cust", "omer",
              "fast", "filt", "er", "gro", "join", "key", "str", "eam",
              "agg", "data", "sort", "scan", "slow", "small", "spark",
              "row", "hash", "lin", "col", "umn", "ord", "vect", "or",
              "big", "part", "the")).count()),
        // every-position 20-grams: the measured costs are the hash-only
        // content shuffle ((md5, doc, pos) — never text) and the
        // per-doc island-merge window. Gram rows grow ~k with corpus
        // chars, and renamed tokens keep cross-copy grams distinct, so
        // dup-hit work grows ~k too — never pair-quadratically
        "dedup_spans" -> (() =>
          Dedup.duplicateSpans(docs, "doc_id", "text", 20).count()),
        // TOKEN-grain spans at a ~20-char-equivalent window (4 tokens
        // x ~5-char mean token): the same two-shuffle plan, but the
        // pre-shuffle gram volume is ~4 x the TOKEN stream instead of
        // 20 x every CHAR — the decade row quantifies the
        // amplification drop vs dedup_spans at matched coverage
        "dedup_spans_tokens" -> (() =>
          Dedup.duplicateTokenSpans(docs, "doc_id", "text", 4).count()),
        // the span-curation capstone end-to-end: substring dedup ->
        // cut -> length floor -> re-tokenize -> pack. Composes the
        // dedup_spans probe's gram shuffle with a doc-keyed reassembly
        // and the packSequences window — no new join shapes, so wall
        // must track the dedup_spans row plus a packing epsilon
        "span_pipeline" -> (() => {
          val spans = Dedup.duplicateSpans(docs, "doc_id", "text", 20)
          val kept = Dedup.cutSpans(docs, spans, "doc_id", "text")
            .where(length(col("kept_text")) >= 40)
          val toks = kept
            .join(docs.select(col("doc_id").as("doc"), col("source")), "doc")
            .select(col("doc").as("doc_id"), col("source"),
              graft.functions.TextFunctions.tokenCount(col("kept_text"))
                .cast("bigint").as("n_tok"))
          operators.Sampling.packSequences(toks, "doc_id", "source",
            "n_tok", 256L, "span1").count()
        }),
        // unigram Viterbi DP once per DISTINCT word: replication grows
        // the vocabulary k-fold (worst case for the Zipf amortization —
        // real corpora add occurrences faster than words); renamed
        // words walk the same DP through the unk arm
        "unigram" -> (() =>
          operators.Subword.unigramCounts(docs, "doc_id", "text",
            Map("wind" -> -0.7, "ow" -> -1.1, "table" -> -1.4,
              "fast" -> -1.6, "er" -> -1.9, "a" -> -2.5, "b" -> -2.6,
              "c" -> -2.7, "d" -> -2.8, "e" -> -2.9, "t" -> -3.0,
              "o" -> -3.1, "w" -> -3.2, "l" -> -3.3, "s" -> -3.4),
            -10.0).count())
      )

      val selected = queries.filter(q => wanted(q._1))
      // SPARK_GRAFT_PROBE_REPS=n: median of n runs per query (default 1
      // — single-shot keeps the multi-decade sweep cheap, but a
      // contention-suspect run can be re-probed with reps=3 the same
      // way Bench defuses host stalls with its median-of-3)
      val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "1").toInt
        .max(1)
      val times = selected.map { case (name, run) =>
        val (dts, ns) = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val n = run()
          val dt = (System.nanoTime() - t0) / 1e9
          // every rep and query starts cold: no dedup cache carries over
          Dedup.clearCaches()
          (dt, n)
        }.unzip
        val dt = dts.sorted.apply((reps - 1) / 2)
        System.err.println(
          f"[probe] scale=$k $name%-22s $dt%7.2fs rows=${ns.head}")
        s""""$name":${"%.3f".format(dt)}"""
      }
      // streaming-state branch rides the same name filter
      val streamingJson =
        if (wanted("streaming_state")) {
          val t0 = System.nanoTime()
          val j = streamingStateProbe(spark, events)
          System.err.println(
            f"[probe] scale=$k streaming_state ${(System.nanoTime() - t0) / 1e9}%7.2fs")
          "," + j
        } else ""
      val rateCapJson =
        if (wanted("rate_cap_state")) {
          val t0 = System.nanoTime()
          val j = rateCapStateProbe(spark, events)
          System.err.println(
            f"[probe] scale=$k rate_cap_state ${(System.nanoTime() - t0) / 1e9}%7.2fs")
          "," + j
        } else ""
      val rateCapTtlJson =
        if (wanted("rate_cap_ttl_state")) {
          val t0 = System.nanoTime()
          val j = rateCapTtlStateProbe(spark, events)
          System.err.println(
            f"[probe] scale=$k rate_cap_ttl_state ${(System.nanoTime() - t0) / 1e9}%7.2fs")
          "," + j
        } else ""
      val sessionsJson =
        if (wanted("streaming_sessions")) {
          val t0 = System.nanoTime()
          val j = sessionStateProbe(spark, events)
          System.err.println(
            f"[probe] scale=$k streaming_sessions ${(System.nanoTime() - t0) / 1e9}%7.2fs")
          "," + j
        } else ""
      val streamJoinJson =
        if (wanted("stream_join_state")) {
          val t0 = System.nanoTime()
          val j = streamJoinStateProbe(spark, events)
          System.err.println(
            f"[probe] scale=$k stream_join_state ${(System.nanoTime() - t0) / 1e9}%7.2fs")
          "," + j
        } else ""
      val compactionJson =
        if (wanted("ivf_compaction")) {
          val t0 = System.nanoTime()
          val j = compactionProbe(spark, emb, sfDir, k)
          System.err.println(
            f"[probe] scale=$k ivf_compaction ${(System.nanoTime() - t0) / 1e9}%7.2fs")
          "," + j
        } else ""
      spark.catalog.clearCache()
      // the per-scale index is corpus-sized on disk — drop it before
      // the next decade (a 50x sweep would otherwise accrete ~85x the
      // corpus in /tmp)
      if (incIdx != null) incIdx.drop(spark)
      if (ivfIdx != null) ivfIdx.drop(spark)
      if (embIncIdx != null) embIncIdx.drop(spark)
      if (ivfPqIdx != null) ivfPqIdx.drop(spark)
      if (chunkIdx != null) chunkIdx.drop(spark)
      if (lineIdx != null) lineIdx.drop(spark)
      if (spanIdx != null) spanIdx.drop(spark)
      if (ngIdx != null) ngIdx.drop(spark)
      println(s"""{"scale":$k,"times":{${times.mkString(",")}}$streamingJson$rateCapJson$rateCapTtlJson$sessionsJson$streamJoinJson$compactionJson}""")
    }
    spark.stop()
  }
}
