package graft.windows

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The hot-key salted tumbling path must be INDISTINGUISHABLE from the
  * plain path: range-salted parallel ranking restitches EXACT global
  * ranks, so every window id, membership, and aggregate agrees
  * bit-for-bit. Pinned here on skewed fixtures (one mega-hot key
  * dwarfing the rest) for every aggregation fn including the
  * order-sensitive `accumulate`. */
class TumblingSaltedSpec extends SparkSpec {
  import CountWindows._

  // one hot key with `hotN` rows + 40 cold keys with 37 rows each;
  // ord deliberately NON-contiguous and interleaved (multiples of
  // large steps) so bucket boundaries never align with window edges
  private def skewed(hotN: Int) = {
    val s = spark
    import s.implicits._
    val hot = (0 until hotN).map(i =>
      ("hot", i * 7L + 3L, (i % 19).toDouble - 4.0))
    val cold = for (k <- 0 until 40; i <- 0 until 37)
      yield (s"cold$k", i * 11L + k, (i * k % 13).toDouble)
    (hot ++ cold).toDF("key", "seq", "value")
  }

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("key", "window_id").collect().map(_.toSeq).toSeq

  for (fn <- Seq("sum", "avg", "min", "max", "count"))
    test(s"salted tumbling equals plain on a skewed frame ($fn)") {
      val df = skewed(5000)
      val plain = tumblingBatch(df, "key", "seq", "value", 16, fn)
      val salted = tumblingBatchSalted(df, "key", "seq", "value", 16, fn,
        buckets = 8)
      assert(canon(salted) == canon(plain))
    }

  test("salted tumbling equals plain for accumulate (order-sensitive)") {
    val df = skewed(1200)
    val plain = tumblingBatch(df, "key", "seq", "value", 10, "accumulate")
    val salted = tumblingBatchSalted(df, "key", "seq", "value", 10,
      "accumulate", buckets = 8)
    assert(canon(salted) == canon(plain))
  }

  test("salted tumbling: window size not dividing bucket sizes") {
    // size 13 vs 8 buckets over 997 rows — every window near a bucket
    // boundary spans two buckets; restitched ranks must still assemble
    // the exact same windows
    val df = skewed(997)
    val plain = tumblingBatch(df, "key", "seq", "value", 13, "sum")
    val salted = tumblingBatchSalted(df, "key", "seq", "value", 13, "sum",
      buckets = 8)
    assert(canon(salted) == canon(plain))
  }

  test("salted tumbling: degenerate single-bucket skew stays correct") {
    // constant-ish ord percentiles collapse bounds — balance degrades,
    // correctness must not (all rows in few buckets is still exact)
    val s = spark
    import s.implicits._
    val df = (0 until 300).map(i => ("k", i.toLong, 1.0))
      .toDF("key", "seq", "value")
    val plain = tumblingBatch(df, "key", "seq", "value", 7, "count")
    val salted = tumblingBatchSalted(df, "key", "seq", "value", 7, "count",
      buckets = 32)
    assert(canon(salted) == canon(plain))
  }

  private def canonS(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("key", "emit_at").collect().map(_.toSeq).toSeq

  for (fn <- Seq("sum", "min", "accumulate"))
    test(s"salted sliding equals plain on a skewed frame ($fn)") {
      val df = skewed(3000)
      val plain = slidingBatch(df, "key", "seq", "value", 16, 5, fn)
      // chunkRows tiny so MANY chunk boundaries land inside frames —
      // the borrowed-tail path is exercised hundreds of times
      val salted = slidingBatchSalted(df, "key", "seq", "value", 16, 5,
        fn, buckets = 8, chunkRows = 64L)
      assert(canonS(salted) == canonS(plain))
    }

  test("salted sliding: resolution > size cadence preserved") {
    val df = skewed(500)
    val plain = slidingBatch(df, "key", "seq", "value", 3, 7, "avg")
    val salted = slidingBatchSalted(df, "key", "seq", "value", 3, 7,
      "avg", buckets = 4, chunkRows = 32L)
    assert(canonS(salted) == canonS(plain))
  }

  test("salted paths keep NULL-key groups (null-safe joins)") {
    // Window.partitionBy keeps a NULL-key partition; the salted joins
    // must too — an equi-join drops it (the null-sweep regression)
    val s = spark
    import s.implicits._
    val df = ((0 until 64).map(i => (Option.empty[String], i.toLong,
        i.toDouble)) ++
      (0 until 40).map(i => (Some("k"), i.toLong, 1.0)))
      .toDF("key", "seq", "value")
    val plain = tumblingBatch(df, "key", "seq", "value", 8, "sum")
    val salted = tumblingBatchSalted(df, "key", "seq", "value", 8, "sum",
      buckets = 4)
    assert(canon(salted) == canon(plain))
    assert(salted.where(col("key").isNull).count() == 8)
    val plainS = slidingBatch(df, "key", "seq", "value", 8, 4, "sum")
    val saltedS = slidingBatchSalted(df, "key", "seq", "value", 8, 4,
      "sum", buckets = 4, chunkRows = 16L)
    assert(canonS(saltedS) == canonS(plainS))
  }

  test("salted ranking parallelizes: hot-key rows spread over buckets") {
    // structural assertion behind the scale claim: the per-(key,bucket)
    // rank partitions each hold ~n/buckets of the hot key, so no single
    // task ranks the whole key (the plain path's serialization)
    val df = skewed(4000)
    val probs = (1 until 8).map(_.toDouble / 8)
    val bounds = df.groupBy(col("key"))
      .agg(percentile_approx(col("seq").cast("double"),
        array(probs.map(lit(_)): _*), lit(10000)).as("__bounds"))
    val withB = df.join(broadcast(bounds), Seq("key"))
      .withColumn("__b", org.apache.spark.sql.functions.size(
        filter(col("__bounds"), b => b <= col("seq").cast("double"))))
    val sizes = withB.where(col("key") === "hot")
      .groupBy("__b").count().collect().map(_.getLong(1))
    assert(sizes.length == 8, s"expected 8 occupied buckets, got ${sizes.length}")
    assert(sizes.max <= 4000 / 8 + 400,
      s"bucket sizes should be ~balanced, got ${sizes.toSeq}")
  }
}
