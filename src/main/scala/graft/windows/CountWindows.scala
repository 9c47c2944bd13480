package graft.windows

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
  * Two implementations:
  *  1. Batch analogs built from window functions — pure Catalyst plans used
  *     by the correctness gate (hash partition by key + sort within
  *     partition; scales like any ranked-window query).
  *  2. Streaming `flatMapGroupsWithState` operators — true incremental
  *    per-key state; state size is O(1) for tumbling and O(size) for
  *    sliding per key, independent of stream length, so a 1000-executor
  *    cluster holds state for billions of keys in the state store. They
  *    run on either state store provider (the default HDFS-backed one or
  *    RocksDB).
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
                    size: Int, fn: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ord))
    df.withColumn("__rn", row_number().over(w) - 1)
      .withColumn("__win", (col("__rn") / size).cast("bigint"))
      .groupBy(col(key), col("__win").as("window_id"))
      .agg(AggFunctions.scalar(fn, col(value), col(ord)).as("result"),
           count(lit(1)).as("n"))
      .where(col("n") === size)
      .drop("n")
  }

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
    saltedRanks(df, key, ord, buckets)
      .withColumn("__win", (col("__rn") / size).cast("bigint"))
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
    val firstEmit = math.max(size, resolution)
    val w = Window.partitionBy(col(key)).orderBy(col(ord))
    val frame = w.rowsBetween(-(size - 1), Window.currentRow)
    val agged = fn match {
      case "accumulate" => collect_list(col(value)).over(frame) // frame order
      case "sum"        => sum(col(value)).over(frame)
      case "avg"        => avg(col(value)).over(frame)
      case "min"        => min(col(value)).over(frame)
      case "max"        => max(col(value)).over(frame)
      case "count"      => count(col(value)).over(frame)
      case other => throw new IllegalArgumentException(s"unknown agg fn: $other")
    }
    df.withColumn("__rn", row_number().over(w) - 1)
      .withColumn("result", agged)
      .where(col("__rn") >= firstEmit - 1 &&
        ((col("__rn") - (firstEmit - 1)) % resolution) === 0)
      .withColumn("emit_at", col("__rn"))
      .drop("__rn")
  }

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
    val firstEmit = math.max(size, resolution)
    val ranked = saltedRanks(df, key, ord, buckets)
    val withChunk = ranked
      .withColumn("__own", (col("__rn") / chunkRows).cast("long"))
      .withColumn("__ch", explode(
        when(col("__rn") % chunkRows >= chunkRows - (size - 1),
          array(col("__own"), col("__own") + 1))
          .otherwise(array(col("__own")))))
    val w = Window.partitionBy(col(key), col("__ch"))
      .orderBy(col("__rn"))
    val frame = w.rowsBetween(-(size - 1), Window.currentRow)
    val agged = fn match {
      case "accumulate" => collect_list(col(value)).over(frame)
      case "sum"        => sum(col(value)).over(frame)
      case "avg"        => avg(col(value)).over(frame)
      case "min"        => min(col(value)).over(frame)
      case "max"        => max(col(value)).over(frame)
      case "count"      => count(col(value)).over(frame)
      case other => throw new IllegalArgumentException(s"unknown agg fn: $other")
    }
    withChunk
      .withColumn("result", agged)
      .where(col("__ch") === col("__own"))
      .where(col("__rn") >= firstEmit - 1 &&
        ((col("__rn") - (firstEmit - 1)) % resolution) === 0)
      .withColumn("emit_at", col("__rn").cast("int"))
      .drop("__rn", "__own", "__ch")
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

  case class TumblingState(buf: Vector[Double], lastSeq: Long)

  /** One micro-batch of the tumbling fold for one key — the body of
    * [[tumblingStream]]'s state function. Arrival order within a
    * micro-batch is not guaranteed → sort by seq; a seq at/below the
    * high-water mark from a PRIOR batch violates the ordering contract
    * and is dropped (see KeyedSample). */
  private[windows] def tumblingFold(key: String, rows: Seq[KeyedSample],
                                    st0: TumblingState, size: Int,
                                    fn: String)
      : (TumblingState, Vector[WindowEmit]) = {
    var st = st0
    val out = Vector.newBuilder[WindowEmit]
    rows.sortBy(_.seq).iterator.filter(_.seq > st.lastSeq).foreach { s =>
      val buf = st.buf :+ s.value
      if (buf.length == size) {
        out += WindowEmit(key, s.seq, applyFn(fn, buf), buf, size.toLong)
        st = TumblingState(Vector.empty, s.seq)
      } else st = TumblingState(buf, s.seq)
    }
    (st, out.result())
  }

  /** Streaming tumbling count window. Works identically on batch Datasets
    * (Spark executes mapGroups-style state over sorted groups). */
  def tumblingStream(ds: Dataset[KeyedSample], size: Int, fn: String)
                    (implicit spark: SparkSession): Dataset[WindowEmit] = {
    import spark.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[TumblingState, WindowEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, rows, state: GroupState[TumblingState]) =>
          val st0 = state.getOption.getOrElse(TumblingState(Vector.empty, -1L))
          val (st, out) = tumblingFold(key, rows.toSeq, st0, size, fn)
          state.update(st)
          out.iterator
      }
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

  /** Parallel name/value buffers keep the encoder flat; aggregation by
    * name happens only at emission. */
  case class KeyedTumblingState(names: Vector[String], values: Vector[Double],
                                lastSeq: Long)

  /** Streaming keyed tumbling count window: accumulate `size` samples per
    * group (names mixed), emit map[name -> fn(values of name)] on the
    * size-th, reset. `accumulate` is unsupported here (a map of lists is
    * not a stable streaming sink type); use the batch form for it. */
  def keyedTumblingStream(ds: Dataset[KeyedNamedSample], size: Int, fn: String)
                         (implicit spark: SparkSession): Dataset[KeyedMapEmit] = {
    require(fn != "accumulate",
      "accumulate is unsupported for streaming keyed windows")
    import spark.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[KeyedTumblingState, KeyedMapEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, rows, state: GroupState[KeyedTumblingState]) =>
          var st = state.getOption.getOrElse(
            KeyedTumblingState(Vector.empty, Vector.empty, -1L))
          val out = Vector.newBuilder[KeyedMapEmit]
          rows.toSeq.sortBy(_.seq).iterator.filter(_.seq > st.lastSeq).foreach { s =>
            val names = st.names :+ s.name
            val values = st.values :+ s.value
            if (names.length == size) {
              val m = names.indices.groupBy(names(_))
                .map { case (n, idxs) => n -> applyFn(fn, idxs.map(values)) }
              out += KeyedMapEmit(key, s.seq, m)
              st = KeyedTumblingState(Vector.empty, Vector.empty, s.seq)
            } else st = KeyedTumblingState(names, values, s.seq)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** `sinceEmit` counts samples since the last emission — the reference's
    * `numSamples`, which is reset to 0 on every emit (windows.go:262).
    * `lastSeq` is the per-key high-water mark enforcing the KeyedSample
    * ordering contract across micro-batches, same as TumblingState. */
  case class SlidingState(ring: Vector[Double], nSeen: Long, sinceEmit: Long,
                          lastSeq: Long)

  /** One micro-batch of the sliding fold for one key — the body of
    * [[slidingStream]]'s state function: sort within the batch, drop
    * below-HWM stragglers, ring/cadence update, emissions. */
  private[windows] def slidingFold(key: String, rows: Seq[KeyedSample],
                                   st0: SlidingState, size: Int,
                                   resolution: Int, fn: String)
      : (SlidingState, Vector[WindowEmit]) = {
    var st = st0
    val out = Vector.newBuilder[WindowEmit]
    rows.sortBy(_.seq).iterator.filter(_.seq > st.lastSeq).foreach { s =>
      val ring = (st.ring :+ s.value).takeRight(size)
      val n = st.nSeen + 1
      val since = st.sinceEmit + 1
      if (n >= size && since >= resolution) {
        out += WindowEmit(key, s.seq, applyFn(fn, ring), ring, ring.length.toLong)
        st = SlidingState(ring, n, 0L, s.seq)
      } else st = SlidingState(ring, n, since, s.seq)
    }
    (st, out.result())
  }

  /** Streaming sliding count window with resolution. Cadence matches the
    * reference (windows.go:252-265): emit requires a full ring
    * (nSeen >= size) AND sinceEmit >= resolution, so the first emission is
    * at sample max(size, resolution) and then every `resolution` samples. */
  def slidingStream(ds: Dataset[KeyedSample], size: Int, resolution: Int,
                    fn: String)
                   (implicit spark: SparkSession): Dataset[WindowEmit] = {
    import spark.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[SlidingState, WindowEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, rows, state: GroupState[SlidingState]) =>
          val st0 = state.getOption.getOrElse(SlidingState(Vector.empty, 0L, 0L, -1L))
          val (st, out) = slidingFold(key, rows.toSeq, st0, size, resolution, fn)
          state.update(st)
          out.iterator
      }
  }
}
