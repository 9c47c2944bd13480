package graft.windows

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Parity with the reference's window tests
  * (activity/aggregate/window/windows_test.go). */
class CountWindowsSpec extends SparkSpec {
  import CountWindows._

  private def keyed(values: Seq[Double]) = {
    val s = spark
    import s.implicits._
    values.zipWithIndex.map { case (v, i) => ("k", (i + 1).toLong, v) }
      .toDF("key", "seq", "value")
  }

  // TestTumblingWindow_AddSample (windows_test.go:21-40): size 3, avg;
  // 1,2,3 -> emit 2; 4,5,6 -> emit 5
  test("tumbling count avg matches reference vectors") {
    val out = tumblingBatch(keyed(Seq(1, 2, 3, 4, 5, 6)), "key", "seq",
        "value", 3, "avg")
      .orderBy("window_id").select("result").collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(2.0, 5.0))
  }

  // TestTumblingWindow_AddSampleAccum (windows_test.go:42-65)
  test("tumbling count accumulate emits full windows in order") {
    val out = tumblingBatch(keyed(Seq(1, 2, 3, 4, 5, 6, 7)), "key", "seq",
        "value", 3, "accumulate")
      .orderBy("window_id").select("result").collect()
      .map(_.getSeq[Double](0).toList)
    // 7th sample never completes a window -> only two emissions
    assert(out.toSeq == Seq(List(1.0, 2.0, 3.0), List(4.0, 5.0, 6.0)))
  }

  // TestSlidingWindow_AddSample (windows_test.go:131-151): size 5 res 2, avg;
  // emits at sample 5 (avg 1..5 = 3) and sample 7 (avg 3..7 = 5)
  test("sliding count avg matches reference vectors") {
    val out = slidingBatch(keyed(Seq(1, 2, 3, 4, 5, 6, 7)), "key", "seq",
        "value", 5, 2, "avg")
      .orderBy("emit_at").select("emit_at", "result").collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    assert(out.toSeq == Seq((4, 3.0), (6, 5.0)))
  }

  // cadence when resolution > size (windows.go:252-257: emit requires
  // numSamples >= Resolution): first emit at sample max(size, resolution)
  test("sliding count first emission waits for resolution samples") {
    val out = slidingBatch(keyed((1 to 12).map(_.toDouble)), "key", "seq",
        "value", 2, 5, "sum")
      .orderBy("emit_at").select("emit_at", "result").collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    // 0-based emit_at 4 (samples 4+5), 9 (9+10)
    assert(out.toSeq == Seq((4, 9.0), (9, 19.0)))
  }

  test("streaming tumbling operator equals batch analog on real data") {
    val s = spark
    import s.implicits._
    implicit val ss: org.apache.spark.sql.SparkSession = s
    val ev = graft.engine.Tables.events(s, sf())
    val ds = ev.select(col("user_id").cast("string").as("key"),
      col("event_id").as("seq"), col("value")).as[KeyedSample]
    val stream = countStream(ds, 5, 5, "sum")
      .select(col("key"), round(col("result"), 6).as("r"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    val batch = tumblingBatch(
        ev.withColumn("key", col("user_id").cast("string")),
        "key", "event_id", "value", 5, "sum")
      .select(col("key"), round(col("result"), 6).as("r"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(stream == batch)
    assert(stream.nonEmpty)
  }

  test("streaming sliding operator equals batch analog on real data") {
    val s = spark
    import s.implicits._
    implicit val ss: org.apache.spark.sql.SparkSession = s
    val ev = graft.engine.Tables.events(s, sf())
    val ds = ev.select(col("user_id").cast("string").as("key"),
      col("event_id").as("seq"), col("value")).as[KeyedSample]
    val stream = countStream(ds, 5, 2, "avg")
      .select(col("key"), round(col("result"), 6).as("r"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    val batch = slidingBatch(
        ev.withColumn("key", col("user_id").cast("string")),
        "key", "event_id", "value", 5, 2, "avg")
      .select(col("key"), round(col("result"), 6).as("r"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(stream == batch)
    assert(stream.nonEmpty)
  }
}
