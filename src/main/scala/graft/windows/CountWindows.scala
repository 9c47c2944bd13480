package graft.windows

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.reflect.runtime.universe.TypeTag

/** Count-based windows — the one window family Spark has no built-in for.
  *
  * Semantics mirror the reference exactly:
  *  - tumbling(count): accumulate `size` samples, emit aggregate on the
  *    size-th, reset (reference: activity/aggregate/window/windows.go:56-108).
  *  - sliding(count, resolution): ring buffer of the last `size` raw samples;
  *    first emission once the buffer fills, then every `resolution`-th new
  *    sample, aggregating over all `size` buffered samples
  *    (reference: windows.go:210-275; emission cadence windows.go:252-257).
  *
  * At `resolution == size` the sliding rule emits the same windows, at
  * the same samples, as tumbling, so each form below is ONE rule:
  *  1. Batch analogs built from window functions — pure Catalyst plans used
  *     by the correctness gate (hash partition by key + sort within
  *     partition; scales like any ranked-window query). Tumbling stays a
  *     grouped aggregation; [[slidingCadence]] is the one emission rule.
  *  2. One streaming `flatMapGroupsWithState` operator over [[countFold]]
  *    — true incremental per-key state of at most `size` samples,
  *    independent of stream length (none are kept after a tumbling
  *    emission), so a 1000-executor cluster holds state for billions of
  *    keys in the state store. It runs on either state store provider
  *    (the default HDFS-backed one or RocksDB).
  */
object CountWindows {

  // ---------------------------------------------------------------------
  // Batch analogs (deterministic given a unique ordering column)
  // ---------------------------------------------------------------------

  /** Tumbling count window over a batch DataFrame.
    * Returns one row per COMPLETE window per key: (key, window_id, result).
    * Incomplete trailing windows emit nothing — that is the reference's
    * emit-gating/stall semantics (windows.go:94-106: emit only on the
    * size-th sample).
    */
  def tumblingBatch(df: DataFrame, key: String, ord: String, value: String,
                    size: Int, fn: String): DataFrame =
    completeWindows(df.withColumn("__rn",
        row_number().over(Window.partitionBy(col(key)).orderBy(col(ord))) - 1),
      key, ord, value, size, fn)

  /** Hot-key variant of [[tumblingBatch]]: identical output, but the
    * per-key ranking — the one serial stage in the plain path — is
    * computed in PARALLEL by range-salting each key's ordered stream.
    *
    * Why: `row_number() over (partition by key order by ord)` sorts and
    * ranks each key inside ONE task. A mega-hot key (one device
    * emitting 10^9 samples in a 100 TB day) serializes that task no
    * matter how many executors exist — SCALE.md's documented count-
    * window boundary. Ranks, however, are restitchable: split the
    * key's ord-range into `buckets` contiguous ranges, rank each range
    * independently (parallel tasks), and add the prefix-sum of earlier
    * ranges' row counts. The restitched rank is EXACT (ranges are
    * contiguous and disjoint), so the window assignment — and
    * therefore every emission — equals the plain path's bit-for-bit,
    * which TumblingSaltedSpec pins on skewed fixtures for every fn.
    *
    * The final groupBy((key, window_id)) de-skews itself: a hot key's
    * rows spread over n/size distinct window ids, so no single reducer
    * sees more than `size` rows per window.
    *
    * Range bounds come from approximate per-key percentiles of `ord`
    * (cast to double). Approximation only affects BALANCE, never
    * correctness: bucket membership is decided by one consistent
    * comparison, local ranks within a bucket are exact, and offsets
    * are exact counts. The (key × buckets) offset frame is broadcast —
    * callers with millions of distinct keys should pass only their
    * hot keys here and keep the long tail on the plain path.
    *
    * Same contract as [[tumblingBatch]]: `ord` unique per key. */
  def tumblingBatchSalted(df: DataFrame, key: String, ord: String,
                          value: String, size: Int, fn: String,
                          buckets: Int = 32): DataFrame =
    completeWindows(saltedRanks(df, key, ord, buckets), key, ord, value,
      size, fn)

  /** Everything after the ranks of [[tumblingBatch]] and
    * [[tumblingBatchSalted]]: window id from the 0-based rank `__rn`, one
    * row per complete window. */
  private def completeWindows(ranked: DataFrame, key: String, ord: String,
                              value: String, size: Int, fn: String): DataFrame =
    ranked.withColumn("__win", (col("__rn") / size).cast("bigint"))
      .groupBy(col(key), col("__win").as("window_id"))
      .agg(AggFunctions.scalar(fn, col(value), col(ord)).as("result"),
           count(lit(1)).as("n"))
      .where(col("n") === size)
      .drop("n")

  /** Exact per-key 0-based ranks (`__rn` appended to `df`'s columns)
    * computed WITHOUT a per-key single-task sort: range-bucket each
    * key's ord-domain (approximate per-key percentiles — approximation
    * affects only balance), rank buckets independently in parallel,
    * and add the exact prefix-sum of earlier buckets' row counts.
    * Shared rank stage of [[tumblingBatchSalted]] /
    * [[slidingBatchSalted]]. */
  private def saltedRanks(df: DataFrame, key: String, ord: String,
                          buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    // joins below are NULL-SAFE on the key: the plain path's
    // Window.partitionBy keeps a NULL-key group, so an equi-join here
    // would silently drop those rows (caught by the null-injection
    // sweep — q_tumbling_salted lost the null-key windows)
    val probs = (1 until buckets).map(_.toDouble / buckets)
    val bounds = df.groupBy(col(key))
      .agg(percentile_approx(col(ord).cast("double"),
        array(probs.map(lit(_)): _*), lit(10000)).as("__bounds"))
      .withColumnRenamed(key, "__bndk")
    val withB = df.join(broadcast(bounds), col(key) <=> col("__bndk"))
      .withColumn("__b", org.apache.spark.sql.functions.size(
        filter(col("__bounds"), b => b <= col(ord).cast("double"))))
      .drop("__bndk", "__bounds")
    val counts = withB.groupBy(col(key), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val offs = counts.withColumn("__off",
        sum(col("__c")).over(
          Window.partitionBy(col(key)).orderBy(col("__b"))) - col("__c"))
      .drop("__c")
      .withColumnRenamed(key, "__offk")
      .withColumnRenamed("__b", "__offb")
    withB.join(broadcast(offs),
        col(key) <=> col("__offk") && col("__b") === col("__offb"))
      .withColumn("__lrn", row_number().over(
        Window.partitionBy(col(key), col("__b")).orderBy(col(ord))) - 1)
      .withColumn("__rn", col("__off") + col("__lrn"))
      .drop("__b", "__off", "__lrn", "__offk", "__offb")
  }

  /** Sliding count window batch analog. Emission cadence matches the
    * reference exactly (windows.go:252-265): `numSamples` counts samples
    * since the last emission (reset to 0 on emit) and emission requires both
    * a full ring (`canEmit`, first true at sample `size`) and
    * `numSamples >= resolution`. Hence the first emission is at 1-based
    * sample `max(size, resolution)` and subsequent emissions every
    * `resolution` samples; each emission aggregates the last `size`
    * samples. */
  def slidingBatch(df: DataFrame, key: String, ord: String, value: String,
                   size: Int, resolution: Int, fn: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ord))
    slidingEmissions(df.withColumn("__rn", row_number().over(w) - 1), w,
      value, size, resolution, fn)
  }

  /** The reference's sliding emission cadence over a 0-based arrival
    * rank (windows.go:252-265): first at 1-based sample
    * `max(size, resolution)`, then every `resolution` samples. At
    * `resolution == size` it is the tumbling rule. */
  def slidingCadence(rn: Column, size: Int, resolution: Int): Column = {
    val first = math.max(size, resolution) - 1
    rn >= first && (rn - first) % resolution === 0
  }

  /** Everything after the ranks of [[slidingBatch]] and
    * [[slidingBatchSalted]]: the trailing `size`-row frame of `w` (which
    * orders by arrival) at every rank `__rn` the cadence emits on. */
  private def slidingEmissions(ranked: DataFrame, w: WindowSpec, value: String,
                               size: Int, resolution: Int,
                               fn: String): DataFrame =
    ranked
      .withColumn("result", AggFunctions.over(fn, col(value),
        w.rowsBetween(-(size - 1), Window.currentRow)))
      .where(slidingCadence(col("__rn"), size, resolution))
      .withColumn("emit_at", col("__rn").cast("int"))
      .drop("__rn")

  /** Hot-key variant of [[slidingBatch]]: identical emissions, but
    * neither the ranking nor the trailing-frame aggregation runs as a
    * single task per key.
    *
    * Stage 1 is [[tumblingBatchSalted]]'s exact restitched ranking.
    * Stage 2 is the standard overlap-chunk trick for sliding frames:
    * rows split into rank-chunks of `chunkRows`, each chunk BORROWS
    * the previous chunk's last `size - 1` rows (an explode of at most
    * 2 chunk ids per row), the trailing frame is computed inside each
    * (key, chunk) partition — where every rank the frame needs is
    * present exactly once — and only chunk-OWNED rows emit, so each
    * emission's frame is complete and appears exactly once. A hot
    * key's frame work thus spreads over n/chunkRows parallel tasks at
    * a duplication overhead of (size-1)/chunkRows (<0.1% at the
    * defaults) instead of serializing in one.
    *
    * Same contract as [[slidingBatch]] (ord unique per key; emission
    * cadence windows.go:252-265); equality is pinned in
    * TumblingSaltedSpec for every fn including accumulate. */
  def slidingBatchSalted(df: DataFrame, key: String, ord: String,
                         value: String, size: Int, resolution: Int,
                         fn: String, buckets: Int = 32,
                         chunkRows: Long = 262144L): DataFrame = {
    require(size >= 2, s"size must be >= 2, got $size")
    require(chunkRows >= size,
      s"chunkRows ($chunkRows) must be >= size ($size)")
    val withChunk = saltedRanks(df, key, ord, buckets)
      .withColumn("__own", (col("__rn") / chunkRows).cast("long"))
      .withColumn("__ch", explode(
        when(col("__rn") % chunkRows >= chunkRows - (size - 1),
          array(col("__own"), col("__own") + 1))
          .otherwise(array(col("__own")))))
    slidingEmissions(withChunk,
        Window.partitionBy(col(key), col("__ch")).orderBy(col("__rn")),
        value, size, resolution, fn)
      .where(col("__ch") === col("__own"))
      .drop("__own", "__ch")
  }

  // ---------------------------------------------------------------------
  // Streaming operators
  // ---------------------------------------------------------------------

  /** One keyed sample; `seq` must be monotone per key (ingest sequence).
    *
    * Ordering contract: samples for a key must arrive in non-decreasing
    * `seq` order ACROSS micro-batches (within a micro-batch we sort by
    * `seq`). This mirrors the reference, whose per-event push model makes
    * cross-arrival reordering impossible (pipeline/instance.go:50). A
    * sample whose seq is below the key's high-water mark is a contract
    * violation and is dropped (counted nowhere — callers needing late-data
    * semantics should use the time windows, which are event-time based). */
  case class KeyedSample(key: String, seq: Long, value: Double)

  /** One window emission. `result` is the scalar aggregate; for
    * `accumulate` the raw window contents are in `values`. */
  case class WindowEmit(key: String, emitAtSeq: Long, result: Double,
                        values: Seq[Double], count: Long)

  private def applyFn(fn: String, values: Seq[Double]): Double = fn match {
    case "sum"   => values.sum
    case "avg"   => if (values.isEmpty) 0.0 else values.sum / values.length
    case "min"   => values.min
    case "max"   => values.max
    case "count" => values.length.toDouble
    case "accumulate" => Double.NaN // caller reads `values`
  }

  /** One keyed-window sample: `name` is the per-sample map key (the
    * reference's nameKey, windows.go:425-467); window fill counts ALL
    * samples of the group regardless of name, matching the batch
    * formulation in Pipelines.keyedBatchAggregate. */
  case class KeyedNamedSample(key: String, seq: Long, name: String,
                              value: Double)

  /** One keyed-window emission: map[name -> aggregate] over the closed
    * window (the reference's MapData emission, windows.go:469-479). */
  case class KeyedMapEmit(key: String, emitAtSeq: Long,
                          result: Map[String, Double])

  /** Per-key state of the one count-window fold. `ring` holds the samples
    * of the window being filled (at most `size`); `sinceEmit` counts
    * samples since the last emission — the reference's `numSamples`,
    * reset to 0 on every emit (windows.go:262); `lastSeq` is the per-key
    * high-water mark enforcing the KeyedSample ordering contract across
    * micro-batches. */
  case class CountState[A](ring: Vector[A], sinceEmit: Long, lastSeq: Long)

  /** One micro-batch of the count-window fold for one key: sort the
    * batch's (seq, sample) pairs by seq (arrival order within a
    * micro-batch is not guaranteed), drop those at or below the
    * high-water mark (see KeyedSample), then emit `(seq, window)` when
    * the ring holds `size` samples and `resolution` samples arrived since
    * the last emission. An emission keeps only the ring's last
    * `size - resolution` samples (none for tumbling), so the first
    * emission is at sample `max(size, resolution)` and the next every
    * `resolution` samples (windows.go:252-265). */
  private[windows] def countFold[A](rows: Seq[(Long, A)], st0: CountState[A],
                                    size: Int, resolution: Int)
      : (CountState[A], Vector[(Long, Vector[A])]) = {
    var st = st0
    val out = Vector.newBuilder[(Long, Vector[A])]
    rows.sortBy(_._1).iterator.filter(_._1 > st.lastSeq).foreach {
      case (seq, a) =>
        val ring = (st.ring :+ a).takeRight(size)
        val since = st.sinceEmit + 1
        if (ring.length == size && since >= resolution) {
          out += seq -> ring
          st = CountState(ring.takeRight(size - resolution), 0L, seq)
        } else st = CountState(ring, since, seq)
    }
    (st, out.result())
  }

  /** The one streaming count-window operator: [[countFold]] per key in
    * `flatMapGroupsWithState`. Works identically on batch Datasets
    * (Spark executes mapGroups-style state over sorted groups). */
  private def countOperator[S, A: TypeTag, E <: Product: TypeTag](
      ds: Dataset[S], key: S => String, sample: S => (Long, A), size: Int,
      resolution: Int)(emit: (String, Long, Vector[A]) => E)
      (implicit spark: SparkSession): Dataset[E] = {
    require(size >= 1 && resolution >= 1,
      s"count windows need size and resolution >= 1, got $size, $resolution")
    import spark.implicits._
    ds.groupByKey(key)
      .flatMapGroupsWithState[CountState[A], E](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k, rows, state: GroupState[CountState[A]]) =>
          val st0 = state.getOption.getOrElse(CountState(Vector.empty[A], 0L, -1L))
          val (st, out) = countFold(rows.map(sample).toSeq, st0, size, resolution)
          state.update(st)
          out.iterator.map { case (seq, ring) => emit(k, seq, ring) }
      }
  }

  /** Streaming count window: tumbling at `resolution == size`, sliding
    * otherwise (cadence as [[countFold]]). */
  def countStream(ds: Dataset[KeyedSample], size: Int, resolution: Int,
                  fn: String)
                 (implicit spark: SparkSession): Dataset[WindowEmit] =
    countOperator(ds, (s: KeyedSample) => s.key,
        (s: KeyedSample) => (s.seq, s.value), size, resolution) {
      (k, seq, ring) =>
        WindowEmit(k, seq, applyFn(fn, ring), ring, ring.length.toLong)
    }

  /** Streaming keyed tumbling count window: the same fold over
    * (name, value) samples at `resolution = size` (names mixed), emitting
    * map[name -> fn(values of name)]. `accumulate` is unsupported here (a
    * map of lists is not a stable streaming sink type); use the batch form
    * for it. */
  def keyedCountStream(ds: Dataset[KeyedNamedSample], size: Int, fn: String)
                      (implicit spark: SparkSession): Dataset[KeyedMapEmit] = {
    require(fn != "accumulate",
      "accumulate is unsupported for streaming keyed windows")
    countOperator(ds, (s: KeyedNamedSample) => s.key,
        (s: KeyedNamedSample) => (s.seq, (s.name, s.value)), size, size) {
      (k, seq, ring) =>
        KeyedMapEmit(k, seq, ring.groupMap(_._1)(_._2)
          .map { case (n, vs) => n -> applyFn(fn, vs) })
    }
  }
}
