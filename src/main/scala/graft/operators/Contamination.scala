package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.functions.TextFunctions

/** Benchmark decontamination — flag training documents that share long
  * n-grams with an evaluation set. The standard pre-training hygiene
  * step: an 8-gram (or longer) overlap between a training document and a
  * benchmark item is strong evidence of contamination.
  *
  * Two plan shapes, same exact result:
  *
  *  - [[flagContaminated]]: the benchmark's exploded shingle set
  *    broadcasts; the corpus explodes its shingles map-side and the
  *    flagging is a broadcast semi-join + count. Right when the bench
  *    shingle set fits the broadcast budget (thousands of items).
  *  - [[flagContaminatedBloom]]: when the eval suite is itself large
  *    (millions of items — full benchmark batteries), its shingle set
  *    no longer broadcasts. A fixed-size Bloom sketch of the bench
  *    shingles (built distributed, collected as one ~MB binary) prunes
  *    the corpus shingle stream map-side via Spark's codegen'd
  *    `might_contain`; only the surviving sliver reaches the exact
  *    verification join, which then needs no broadcast of the bench
  *    side at all. False positives die in the verify join, so the
  *    result equals the exact operator bit-for-bit (spec-pinned even
  *    with a deliberately undersized sketch).
  *
  * In both shapes the corpus is scanned once and its shingle stream is
  * never shuffled in full — at 100 TB the only corpus-sized cost is the
  * map-side explode+filter.
  */
object Contamination {

  private def shingles(df: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    df.select(col(idCol).as("doc"),
      explode(TextFunctions.wordShingles(col(textCol), n)).as("s"))

  /** NEAR-DUPLICATE decontamination — the fuzzy sibling of
    * [[flagContaminated]]: flag corpus documents whose shingle-set
    * Jaccard with ANY benchmark item reaches `threshold`. Exact n-gram
    * overlap misses lightly paraphrased or reformatted benchmark leaks
    * (token substitutions break every long n-gram while most short
    * shingles survive); set-level Jaccard at 3-gram grain is the
    * standard fuzzy-contamination check for that gap. Output: one row
    * per contaminated doc — (doc, bench, jaccard) for the BEST-matching
    * benchmark item (ties by bench id), benchmark's own ids excluded.
    *
    * Scale shape: the benchmark side broadcasts (eval suites are
    * thousands of items by contract — the [[flagContaminated]]
    * budget); the corpus explodes its distinct shingles map-side and
    * the only shuffle is the (doc, bench) overlap aggregate, whose
    * cardinality is bounded by actually-overlapping pairs, not the
    * corpus. Per-doc shingle counts ride row-locally; no corpus-sized
    * join ever forms. */
  def flagContaminatedFuzzy(corpus: DataFrame, id: String, text: String,
                            benchmark: DataFrame, benchId: String,
                            benchText: String, n: Int = 3,
                            threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val c = graft.util.Parallelism.spread(corpus)
      .select(col(id).as("doc"),
        TextFunctions.wordShingles(col(text), n).as("csh"))
      .select(col("doc"), size(col("csh")).as("c_size"),
        explode(col("csh")).as("s"))
    val b = benchmark
      .select(col(benchId).as("bench"),
        TextFunctions.wordShingles(col(benchText), n).as("bsh"))
      .select(col("bench"), size(col("bsh")).as("b_size"),
        explode(col("bsh")).as("s"))
    val benchIds = benchmark.select(col(benchId).as("doc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc"))
      .orderBy(col("jaccard").desc, col("bench").asc)
    c.join(broadcast(b), "s")
      .join(broadcast(benchIds), Seq("doc"), "left_anti")
      .groupBy(col("doc"), col("bench"))
      .agg(count(lit(1)).as("o"),
        first(col("c_size")).as("cs"), first(col("b_size")).as("bs"))
      .withColumn("jaccard", round(
        col("o") / (col("cs") + col("bs") - col("o")), 6))
      .where(col("jaccard") >= threshold)
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .select(col("doc"), col("bench"), col("jaccard"))
  }

  /** AT-INGEST streaming decontamination — the stateless stream shape
    * of [[flagContaminated]] (the `chunkVerdictStream` discipline):
    * each arriving document explodes its distinct shingles ROW-LOCALLY
    * and checks them against the broadcast benchmark shingle set
    * (stream-static broadcast join — append mode, no watermark, no
    * state store, per-record latency). Emits one row per (doc, shared
    * shingle) — the contamination-hit stream; roll hits up per doc
    * downstream on whatever cadence the ingest commits (a per-doc
    * count would need stateful aggregation, deliberately avoided).
    * Benchmark's own ids are excluded. Works identically on a batch
    * frame — which is what the replay gate's oracle checks, the
    * statelessness making replay == batch exact. For benchmark sets
    * past the broadcast budget, build the [[flagContaminatedBloom]]
    * sketch once and prepend its `might_contain` prune — the join
    * below then sees the sliver only. */
  def decontaminateStream(stream: DataFrame, idCol: String,
                          textCol: String, benchmark: DataFrame,
                          benchId: String, benchText: String,
                          n: Int): DataFrame = {
    val benchShingles = shingles(benchmark, benchId, benchText, n)
      .select(col("s")).distinct()
    val benchIds = benchmark.select(col(benchId).as("doc"))
    shingles(stream, idCol, textCol, n)
      .join(broadcast(benchShingles), "s")
      .join(broadcast(benchIds), Seq("doc"), "left_anti")
      .select(col("doc"), col("s"))
  }

  /** Documents sharing >= 1 n-gram with the benchmark, with the count of
    * distinct shared n-grams. Output: (doc, n_shared), benchmark docs
    * themselves excluded by id. Output is empty when nothing overlaps. */
  def flagContaminated(corpus: DataFrame, id: String, text: String,
                       benchmark: DataFrame, benchId: String,
                       benchText: String, n: Int): DataFrame = {
    // spread the CORPUS side before its shingle fan-out (guard: no-op
    // at cluster scale); the benchmark side is small by contract and
    // the stream variant must stay untouched (no .rdd on a stream)
    val corpusShingles =
      shingles(graft.util.Parallelism.spread(corpus), id, text, n)
    val benchShingles = shingles(benchmark, benchId, benchText, n)
      .select(col("s")).distinct()
    val benchIds = benchmark.select(col(benchId).as("doc"))
    corpusShingles
      .join(broadcast(benchShingles), "s")
      .join(broadcast(benchIds), Seq("doc"), "left_anti")
      .groupBy("doc")
      .agg(countDistinct(col("s")).as("n_shared"))
  }

  /** Same contract and output as [[flagContaminated]], scale path for a
    * LARGE benchmark side: a Bloom sketch over `xxhash64(shingle)` is
    * built with Spark's native `BloomFilterAggregate` (distributed
    * build, merged map-side), collected to the driver as one binary of
    * at most `maxNumBits/8` bytes (the explicit driver-memory cap), and
    * embedded as a literal so the corpus-side prune is a codegen'd
    * scalar filter BEFORE any join. Survivors — true overlaps plus an
    * `fpp` fraction of false positives — then verify against the bench
    * shingles in an ordinary shuffled equi-join sized by the sliver,
    * not the corpus.
    *
    * NOTE this builder is EAGER twice (not lazy like most operators):
    * constructing the returned DataFrame runs one counting job over the
    * bench shingles (sizing the sketch to the actual volume instead of
    * `expectedItems`' ceiling — a multi-MB plan literal otherwise rides
    * in every task closure) and then the bloom-build aggregation
    * itself. Callers composing or retrying pay those two bench-side
    * jobs at build time.
    */
  def flagContaminatedBloom(corpus: DataFrame, id: String, text: String,
                            benchmark: DataFrame, benchId: String,
                            benchText: String, n: Int,
                            expectedItems: Long = 4000000L,
                            fpp: Double = 0.01,
                            maxNumBits: Long = 256L * 1024 * 1024): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    // the sketch builds from the RAW (non-distinct) shingle stream:
    // bloom insertion is idempotent and BloomFilterAggregate merges
    // fixed-size partial sketches map-side, so skipping distinct()
    // avoids hash-shuffling the whole bench shingle stream — the very
    // bench-side shuffle this path exists to avoid; distinct() is kept
    // only for the verify join, where it bounds join multiplicity
    val benchShinglesRaw = shingles(benchmark, benchId, benchText, n)
      .select(col("s"))
    val benchShingles = benchShinglesRaw.distinct()
    // Size the sketch to the benchmark's ACTUAL shingle volume, not the
    // caller's ceiling: `expectedItems` is an upper bound for the
    // millions-of-items case, but a sketch sized to it unconditionally
    // embeds a multi-MB binary as a plan literal even for a small eval
    // set — and that literal rides in every task closure and every
    // plan-tree walk (measured at sf0.1: a 4.6 MB literal put ~2 s of
    // driver-side wall on a query whose executor work is 0.4 s). One
    // cheap counting pass over the bench side (the guide's §3.2
    // scan-the-small-side-twice trade, already paid by the build pass)
    // bounds the bit count honestly; the raw (non-distinct) count can
    // only oversize, never undersize, the fpp target. False positives
    // remain correctness-free either way — the exact verify join
    // discards them (spec-pinned with a deliberately undersized
    // sketch).
    val sizedItems = math.max(1L,
      math.min(expectedItems, benchShinglesRaw.count()))
    // optimal bit count for the target fpp, capped to bound the binary
    // the driver holds (cap/8 bytes); past the cap the sketch degrades
    // to a higher fpp, never to incorrectness
    val numBits = math.min(maxNumBits, math.max(64L,
      math.ceil(-sizedItems * math.log(fpp) /
        (math.log(2) * math.log(2))).toLong))
    val buildHash = ColumnBridge.expression(xxhash64(col("s")))
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(buildHash, Literal(sizedItems),
        Literal(numBits)).toAggregateExpression())
    // BloomFilterAggregate SILENTLY clamps its arguments to the session
    // confs runtime.bloomFilter.maxNumItems (default 4e6) and
    // .maxNumBits (default 64 Mi) — left alone, a caller sizing for a
    // larger benchmark would get a sketch whose fpp quietly explodes
    // and a prune that passes the whole corpus. The caps are raised in a
    // CLONED session (shared SparkContext/catalog, isolated SQLConf) and
    // the sketch plan rebound there, so the caller's session conf is
    // never touched — a concurrent query planned on the original
    // session during the (eager) build cannot observe the override.
    val scoped = graft.GraftSession.scoped(benchmark.sparkSession,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" ->
        sizedItems.toString,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" ->
        numBits.toString)
    val bin = ColumnBridge.inSession(scoped,
        benchShinglesRaw.select(bloomAgg.as("bf")))
      .head().getAs[Array[Byte]](0)

    val corpusShingles =
      shingles(graft.util.Parallelism.spread(corpus), id, text, n)
    val out =
      if (bin == null) {
        // empty benchmark: nothing can overlap
        corpusShingles.limit(0)
      } else {
        val mightContain = ColumnBridge.column(BloomFilterMightContain(
          ColumnBridge.expression(lit(bin)),
          ColumnBridge.expression(xxhash64(col("s")))))
        corpusShingles
          .where(mightContain)
          .join(benchShingles, "s")
      }
    val benchIds = benchmark.select(col(benchId).as("doc"))
    out
      .join(broadcast(benchIds), Seq("doc"), "left_anti")
      .groupBy("doc")
      .agg(countDistinct(col("s")).as("n_shared"))
  }
}
