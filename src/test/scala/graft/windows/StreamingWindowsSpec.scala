package graft.windows

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** True Structured Streaming execution: state must carry across
  * micro-batches (the reference's stall/resume semantics, E6 — a window
  * only emits once filled, even when its samples span arrivals). */
class StreamingWindowsSpec extends SparkSpec {
  import CountWindows._

  test("tumbling count window state spans micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    implicit val ss: org.apache.spark.sql.SparkSession = s
    val input = MemoryStream[KeyedSample]
    val query = countStream(input.toDS(), 3, 3, "sum")
      .writeStream.format("memory").queryName("tumbling_mb")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: two samples -> window not full, nothing emitted (stall)
      input.addData(KeyedSample("a", 1, 1.0), KeyedSample("a", 2, 2.0))
      query.processAllAvailable()
      assert(s.sql("SELECT * FROM tumbling_mb").count() == 0)
      // batch 2: third sample completes the window -> resume/emit
      input.addData(KeyedSample("a", 3, 3.0))
      query.processAllAvailable()
      val rows = s.sql("SELECT key, emitAtSeq, result FROM tumbling_mb")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq(("a", 3L, 6.0)))
      // batch 3: next window fills across one batch; other key independent
      input.addData(KeyedSample("a", 4, 4.0), KeyedSample("a", 5, 5.0),
        KeyedSample("a", 6, 6.0), KeyedSample("b", 1, 10.0))
      query.processAllAvailable()
      val all = s.sql("SELECT key, result FROM tumbling_mb ORDER BY key, result")
        .collect().map(r => (r.getString(0), r.getDouble(1)))
      assert(all.toSeq == Seq(("a", 6.0), ("a", 15.0)))
    } finally query.stop()
  }

  test("sliding count window ring survives micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    implicit val ss: org.apache.spark.sql.SparkSession = s
    val input = MemoryStream[KeyedSample]
    val query = countStream(input.toDS(), 3, 2, "avg")
      .writeStream.format("memory").queryName("sliding_mb")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(KeyedSample("a", 1, 1.0), KeyedSample("a", 2, 2.0))
      query.processAllAvailable()
      assert(s.sql("SELECT * FROM sliding_mb").count() == 0)
      // sample 3 fills the ring (1,2,3) -> avg 2; sample 5 -> avg (3,4,5)=4
      input.addData(KeyedSample("a", 3, 3.0), KeyedSample("a", 4, 4.0),
        KeyedSample("a", 5, 5.0))
      query.processAllAvailable()
      val rows = s.sql("SELECT emitAtSeq, result FROM sliding_mb ORDER BY emitAtSeq")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.toSeq == Seq((3L, 2.0), (5L, 4.0)))
    } finally query.stop()
  }

  test("out-of-order sample below high-water mark is dropped") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    implicit val ss: org.apache.spark.sql.SparkSession = s
    val input = MemoryStream[KeyedSample]
    val query = countStream(input.toDS(), 2, 2, "sum")
      .writeStream.format("memory").queryName("ooo_mb")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(KeyedSample("a", 10, 1.0), KeyedSample("a", 20, 2.0))
      query.processAllAvailable()
      // seq 5 violates the per-key ordering contract -> dropped, not folded
      input.addData(KeyedSample("a", 5, 100.0), KeyedSample("a", 30, 3.0),
        KeyedSample("a", 40, 4.0))
      query.processAllAvailable()
      val rows = s.sql("SELECT result FROM ooo_mb ORDER BY result")
        .collect().map(_.getDouble(0))
      assert(rows.toSeq == Seq(3.0, 7.0))
    } finally query.stop()
  }

  test("sliding window drops below-high-water-mark samples too") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    implicit val ss: org.apache.spark.sql.SparkSession = s
    val input = MemoryStream[KeyedSample]
    val query = countStream(input.toDS(), 2, 1, "sum")
      .writeStream.format("memory").queryName("ooo_sliding_mb")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(KeyedSample("a", 10, 1.0), KeyedSample("a", 20, 2.0))
      query.processAllAvailable()
      // seq 5 is below the key's HWM (20): must be dropped, NOT folded into
      // the ring — otherwise the next emission would aggregate (2.0, 100.0)
      input.addData(KeyedSample("a", 5, 100.0), KeyedSample("a", 30, 3.0))
      query.processAllAvailable()
      val rows = s.sql("SELECT emitAtSeq, result FROM ooo_sliding_mb ORDER BY emitAtSeq")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.toSeq == Seq((20L, 3.0), (30L, 5.0)))
    } finally query.stop()
  }

  test("watermark drops late rows and gates append-mode emission") {
    // hand vector for Watermarks.tumblingAgg (1-hour windows, 1-hour
    // delay): a row whose window end <= the watermark set by earlier
    // batches must be DROPPED, and a window emits only once the
    // watermark passes its end
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def h(x: Double): Long = 1704067200000L + (x * 3600000L).toLong // 2024-01-01 + x hours (ms)
    val input = MemoryStream[(Long, Double)]
    val sdf = input.toDF()
      .select(org.apache.spark.sql.functions
          .timestamp_millis(org.apache.spark.sql.functions.col("_1")).as("ts"),
        org.apache.spark.sql.functions.col("_2").as("v"))
    val q = graft.streaming.Watermarks.tumblingAgg(sdf, "ts", "v",
        "1 hour", "1 hour")
      .writeStream.format("memory").queryName("wm_vector")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: windows 0 and 3 open; watermark after = 03:00 - 1h = 02:00
      input.addData((h(0.17), 1.0), (h(3.0), 2.0))
      q.processAllAvailable()
      // batch 2: 00:20 is late (window end 01:00 <= 02:00) -> dropped;
      // 02:30 is in-time (window end 03:00 > 02:00) -> kept
      input.addData((h(0.33), 100.0), (h(2.5), 3.0))
      q.processAllAvailable()
      // nothing may emit yet: no window end <= 02:00 holds state... the
      // 00:00 window does (end 01:00 <= 02:00) — it emits on the batch
      // AFTER the watermark passed it; everything later is still open
      // batch 3: advance the watermark to 09:00 -> emits windows 0, 2, 3;
      // the 10:00 row's own window stays withheld
      input.addData((h(10.0), 0.0))
      q.processAllAvailable()
      val rows = s.sql(
        "SELECT unix_timestamp(window.start), n, sv FROM wm_vector ORDER BY 1")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq(
        (h(0.0) / 1000, 1L, 1.0),   // late 100.0 NOT folded in
        (h(2.0) / 1000, 1L, 3.0),
        (h(3.0) / 1000, 1L, 2.0)))  // the 10:00 window is withheld
    } finally q.stop()
  }

  test("lateDataReplay: file-source replay reproduces the hand vector") {
    // same vector through the REAL replay harness (chunks staged up
    // front, then moved into the watched dir one chunk at a time with a
    // drain between moves — NOT maxFilesPerTrigger, which would lag the
    // late filter a batch behind) — pins that chunk k runs as
    // micro-batch k, which is what the q_watermark_late oracle assumes
    val s = spark
    import s.implicits._
    implicit val ss: org.apache.spark.sql.SparkSession = s
    def h(x: Double): Long = 1704067200000L + (x * 3600000L).toLong
    val events = Seq(
      (h(0.17), 1.0, 0), (h(3.0), 2.0, 0),
      (h(0.33), 100.0, 1), (h(2.5), 3.0, 1),
      (h(10.0), 0.0, 2)).toDF("ms", "value", "chunk")
      .select(org.apache.spark.sql.functions
          .timestamp_millis(org.apache.spark.sql.functions.col("ms")).as("ts"),
        org.apache.spark.sql.functions.col("value"),
        org.apache.spark.sql.functions.col("chunk"))
    val out = graft.streaming.Watermarks.lateDataReplay(events, "ts", "value",
        org.apache.spark.sql.functions.col("chunk"), 3, "1 hour", "1 hour")
      .select(org.apache.spark.sql.functions
          .unix_timestamp(org.apache.spark.sql.functions.col("window.start")),
        org.apache.spark.sql.functions.col("n"),
        org.apache.spark.sql.functions.col("sv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (h(0.0) / 1000, 1L, 1.0),
      (h(2.0) / 1000, 1L, 3.0),
      (h(3.0) / 1000, 1L, 2.0)))
  }

  test("keyed sliding watermark: lateness is per pane instance") {
    // hand vector for Watermarks.slidingKeyedAgg (2-hour windows, 1-hour
    // slide, 1-hour delay): a late row expands to TWO panes and each is
    // judged against the watermark independently — here the 02:30 row's
    // older pane [01:00,03:00) hits the equality edge (end == watermark
    // 03:00 -> dropped) while its newer pane [02:00,04:00) absorbs it.
    // This pins the exact convention the q_keyed_time_sliding oracle
    // replays (dropped iff end <= wm, emitted iff end <= final wm).
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def h(x: Double): Long = 1704067200000L + (x * 3600000L).toLong
    val input = MemoryStream[(Long, String, Double)]
    val sdf = input.toDF()
      .select(org.apache.spark.sql.functions
          .timestamp_millis(org.apache.spark.sql.functions.col("_1")).as("ts"),
        org.apache.spark.sql.functions.col("_2").as("key"),
        org.apache.spark.sql.functions.col("_3").as("v"))
    val q = graft.streaming.Watermarks.slidingKeyedAgg(sdf, "ts", "key",
        "v", "1 hour", "2 hours", "1 hour")
      .writeStream.format("memory").queryName("ks_vector")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: watermark after = 04:00 - 1h = 03:00
      input.addData((h(0.17), "a", 1.0), (h(4.0), "b", 2.0))
      q.processAllAvailable()
      // batch 2: 02:30 -> pane [01:00,03:00) dropped (end == wm), pane
      // [02:00,04:00) kept; 04:30 panes both kept (merge with 04:00)
      input.addData((h(2.5), "a", 10.0), (h(4.5), "b", 3.0))
      q.processAllAvailable()
      // batch 3: advance watermark to 08:00 -> every pane ending <=
      // 08:00 emits; the 09:00 row's own panes stay withheld
      input.addData((h(9.0), "z", 0.0))
      q.processAllAvailable()
      val rows = s.sql(
        "SELECT unix_timestamp(window.start), key, n, sv FROM ks_vector ORDER BY 1, 2")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3)))
      assert(rows.toSeq == Seq(
        (h(-1.0) / 1000, "a", 1L, 1.0),
        (h(0.0) / 1000, "a", 1L, 1.0),
        (h(2.0) / 1000, "a", 1L, 10.0), // late row in its NEWER pane only
        (h(3.0) / 1000, "b", 2L, 5.0),
        (h(4.0) / 1000, "b", 2L, 5.0)))
    } finally q.stop()
  }

  test("streaming timeTumbling avgCompat=int equals the batch result") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val p = graft.engine.Dsl.parsePipeline("p",
      """{
        |"metadata": {"input": [{"name":"v","type":"long"}]},
        |"stages": [{"ref":"#aggregate",
        |            "settings":{"function":"avg","windowType":"timeTumbling",
        |                        "windowSize":"1000","avgCompat":"int"},
        |            "input":{"value":"=$.v"}}]
        |}""".stripMargin)
    // pane 0: (1,2) -> 3/2 = 1; pane 1: (4,5,7) -> 16/3 = 5
    val events = Seq((1L, 0L), (2L, 100L), (4L, 1100L), (5L, 1200L),
      (7L, 1300L))
    val input = MemoryStream[(Long, Long)]
    val sdf = input.toDF()
      .select(org.apache.spark.sql.functions.col("_1").as("v"),
        org.apache.spark.sql.functions
          .timestamp_millis(org.apache.spark.sql.functions.col("_2")).as("__ts"),
        org.apache.spark.sql.functions.col("_2").as("__seq"))
    val q = graft.engine.Pipelines.compileStream(p, sdf)
      .writeStream.format("memory").queryName("avgint_stream")
      .outputMode("append").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      input.addData((0L, 100000L)) // advance the watermark past both panes
      q.processAllAvailable()
      val got = s.sql("SELECT result FROM avgint_stream ORDER BY result")
        .collect().map(_.getLong(0)).toSeq
      assert(got == Seq(1L, 5L), s"streaming int-avg: $got")
    } finally q.stop()
  }

  test("streaming timeSliding warm-up gate equals batch emission set " +
      "(windows_test.go:153-184 vector)") {
    // the reference's SlidingTimeWindow vector: size=30, resolution=10,
    // panes of samples (1,2,3,4,5 | 5,5 | 4,1 | 10,20) — canEmit
    // suppresses every pane until a full window of panes has elapsed
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val p = graft.engine.Dsl.parsePipeline("p",
      """{
        |"metadata": {"input": [{"name":"v","type":"double"}]},
        |"stages": [{"ref":"#aggregate",
        |            "settings":{"function":"sum","windowType":"timeSliding",
        |                        "windowSize":"30","resolution":"10"},
        |            "input":{"value":"=$.v"}}]
        |}""".stripMargin)
    val events = Seq( // (value, ts-ms) — the reference vector
      (1.0, 0L), (2.0, 2L), (3.0, 4L), (4.0, 6L), (5.0, 8L),
      (5.0, 10L), (5.0, 15L),
      (4.0, 20L), (1.0, 25L),
      (10.0, 30L), (20.0, 35L))
    val closing = (0.0, 10000L) // advances the watermark past the vector

    // batch: one emission — the pane holding (10, 20), anchored at ts=35
    // (every earlier pane is pre-warm-up: ts - min(ts) < 30)
    val batchIn = (events :+ closing).zipWithIndex
      .map { case ((v, ms), i) => (v, ms, i.toLong) }
      .toDF("v", "ms", "__seq")
      .withColumn("__ts", org.apache.spark.sql.functions
        .timestamp_millis(org.apache.spark.sql.functions.col("ms")))
    val batchOut = graft.engine.Pipelines.compileBatch(p, batchIn)
      .select("result").collect().map(_.getDouble(0)).sorted.toSeq

    // streaming: the warm-up gate must produce the same emission set —
    // one window for the vector (ending at the same pane, 40), plus the
    // closing event's own
    val input = MemoryStream[(Double, Long)]
    val sdf = input.toDF()
      .select(org.apache.spark.sql.functions.col("_1").as("v"),
        org.apache.spark.sql.functions
          .timestamp_millis(org.apache.spark.sql.functions.col("_2")).as("__ts"),
        org.apache.spark.sql.functions.col("_2").as("__seq"))
    val q = graft.engine.Pipelines.compileStream(p, sdf)
      .writeStream.format("memory").queryName("warmgate_vector")
      .outputMode("append").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      input.addData(closing)
      q.processAllAvailable()
      input.addData((0.0, 20000L)) // close the closing event's pane too
      q.processAllAvailable()
      val streamRows = s.sql(
        "SELECT __seq, result FROM warmgate_vector ORDER BY __seq")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      // emission SET parity: same count, same anchoring panes as batch
      // (one vector emission + the closing event's pane)
      assert(streamRows.length == batchOut.length,
        s"stream=$streamRows batch=$batchOut")
      // the vector emission is the window [10, 40) — the trailing full
      // window of the pane holding ts=30/35, value 5+5+4+1+10+20 = 45
      // (pane-aligned: exactly the reference's block ring at its second
      // tick; batch reports the event-anchored trailing range, 54)
      assert(streamRows.head == (40L, 45.0), s"got ${streamRows.head}")
      assert(batchOut.contains(54.0), s"got $batchOut")

      // divergence #6 CLOSED behind the compat flag: the same pipeline
      // with paneAligned=true makes the unkeyed batch VALUES pane-
      // aligned too, so batch == streaming row-for-row on the vector
      val pAligned = graft.engine.Dsl.parsePipeline("p",
        """{
          |"metadata": {"input": [{"name":"v","type":"double"}]},
          |"stages": [{"ref":"#aggregate",
          |            "settings":{"function":"sum","windowType":"timeSliding",
          |                        "windowSize":"30","resolution":"10",
          |                        "paneAligned":"true"},
          |            "input":{"value":"=$.v"}}]
          |}""".stripMargin)
      val alignedOut = graft.engine.Pipelines.compileBatch(pAligned, batchIn)
        .select("result").collect().map(_.getDouble(0)).sorted.toSeq
      assert(alignedOut == streamRows.map(_._2).sorted.toSeq,
        s"paneAligned batch $alignedOut != stream ${streamRows.toSeq}")
      assert(alignedOut.contains(45.0), s"got $alignedOut")
    } finally {
      q.stop()
      s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
