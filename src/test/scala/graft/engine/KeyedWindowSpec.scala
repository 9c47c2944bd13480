package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** W5 keyed windows through the DSL (reference MapData semantics,
  * windows.go:425-561) + streaming time-window DSL coverage. */
class KeyedWindowSpec extends SparkSpec {

  test("keyed tumbling count window emits map[name -> agg] per window") {
    val s = spark
    import s.implicits._
    val p = Dsl.parsePipeline("p",
      """{
        |"metadata": {"input": [{"name":"n","type":"string"},
        |                       {"name":"v","type":"double"}]},
        |"stages": [{"ref":"#aggregate",
        |            "settings":{"function":"sum","windowType":"tumbling",
        |                        "windowSize":"3",
        |                        "nameKey":"=$.n","valueKey":"=$.v"}}]
        |}""".stripMargin)
    // window 1: a=1, b=2, a=3 -> {a: 4.0, b: 2.0}; trailing partial ignored
    val input = Seq(("a", 1.0), ("b", 2.0), ("a", 3.0), ("b", 9.0))
      .zipWithIndex.map { case ((n, v), i) => (n, v, i.toLong) }
      .toDF("n", "v", "__seq")
    val out = Pipelines.compileBatch(p, input).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Map[String, Double]]("result") ==
      Map("a" -> 4.0, "b" -> 2.0))
  }

  test("keyed timeTumbling window groups by pane and name") {
    val s = spark
    import s.implicits._
    val p = Dsl.parsePipeline("p",
      """{
        |"metadata": {"input": [{"name":"n","type":"string"},
        |                       {"name":"v","type":"double"}]},
        |"stages": [{"ref":"#aggregate",
        |            "settings":{"function":"avg","windowType":"timeTumbling",
        |                        "windowSize":"1000",
        |                        "nameKey":"=$.n","valueKey":"=$.v"}}]
        |}""".stripMargin)
    val input = Seq(("a", 2.0, 0L), ("a", 4.0, 500L), ("b", 10.0, 900L),
        ("a", 7.0, 1500L))
      .zipWithIndex
      .map { case ((n, v, ms), i) => (n, v, ms, i.toLong) }
      .toDF("n", "v", "ms", "__seq")
      .withColumn("__ts", timestamp_millis(col("ms")))
    val out = Pipelines.compileBatch(p, input)
      .orderBy("__win").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Map[String, Double]]("result") ==
      Map("a" -> 3.0, "b" -> 10.0))
    assert(out(1).getAs[Map[String, Double]]("result") == Map("a" -> 7.0))
  }

  test("keyed timeSliding aggregates the trailing size-ms of panes") {
    val s = spark
    import s.implicits._
    val p = Dsl.parsePipeline("p",
      """{
        |"metadata": {"input": [{"name":"n","type":"string"},
        |                       {"name":"v","type":"double"}]},
        |"stages": [{"ref":"#aggregate",
        |            "settings":{"function":"sum","windowType":"timeSliding",
        |                        "windowSize":"2000","resolution":"1000",
        |                        "nameKey":"=$.n","valueKey":"=$.v"}}]
        |}""".stripMargin)
    val input = Seq(("a", 1.0, 900L), ("a", 2.0, 1500L), ("b", 5.0, 1800L))
      .zipWithIndex
      .map { case ((n, v, ms), i) => (n, v, ms, i.toLong) }
      .toDF("n", "v", "ms", "__seq")
      .withColumn("__ts", timestamp_millis(col("ms")))
    val out = Pipelines.compileBatch(p, input).orderBy("__win").collect()
    // pane 0 is inside the warm-up (no full 2000ms elapsed); pane 1000
    // aggregates the trailing 2000ms: a = 1+2 (panes 0+1000), b = 5
    assert(out.length == 1)
    assert(out(0).getAs[Long]("__win") == 1000L)
    assert(out(0).getAs[Map[String, Double]]("result") ==
      Map("a" -> 3.0, "b" -> 5.0))
  }

  test("keyed sliding(count) is rejected like the reference") {
    val s = spark
    import s.implicits._
    val p = Dsl.parsePipeline("p",
      """{
        |"metadata": {"input": [{"name":"n","type":"string"},
        |                       {"name":"v","type":"double"}]},
        |"stages": [{"ref":"#aggregate",
        |            "settings":{"function":"sum","windowType":"sliding",
        |                        "windowSize":"3",
        |                        "nameKey":"=$.n","valueKey":"=$.v"}}]
        |}""".stripMargin)
    val input = Seq(("a", 1.0, 0L)).toDF("n", "v", "__seq")
    intercept[IllegalArgumentException] {
      Pipelines.compileBatch(p, input)
    }
  }

  test("streaming keyed tumbling window matches the batch keyed result") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val p = Dsl.parsePipeline("p",
      """{
        |"metadata": {"input": [{"name":"n","type":"string"},
        |                       {"name":"v","type":"double"}]},
        |"stages": [{"ref":"#aggregate",
        |            "settings":{"function":"sum","windowType":"tumbling",
        |                        "windowSize":"3",
        |                        "nameKey":"=$.n","valueKey":"=$.v"}}]
        |}""".stripMargin)
    val samples = Seq(("a", 1.0), ("b", 2.0), ("a", 3.0), ("b", 9.0),
      ("b", 5.0), ("a", 6.0), ("a", 7.0))
      .zipWithIndex.map { case ((n, v), i) => (n, v, i.toLong) }
    val input = MemoryStream[(String, Double, Long)]
    val sdf = input.toDF().select(col("_1").as("n"), col("_2").as("v"),
      col("_3").as("__seq"))
    val q = Pipelines.compileStream(p, sdf)
      .writeStream.format("memory").queryName("keyed_tumbling_stream")
      .outputMode("append").start()
    try {
      // window 1 spans the micro-batch boundary (stall/resume, E6)
      input.addData(samples.take(2): _*)
      q.processAllAvailable()
      assert(s.sql("SELECT * FROM keyed_tumbling_stream").count() == 0)
      input.addData(samples.drop(2): _*)
      q.processAllAvailable()
      val got = s.sql(
        "SELECT __seq, result FROM keyed_tumbling_stream ORDER BY __seq")
        .collect().map(r => (r.getLong(0), r.getAs[Map[String, Double]](1)))
      val batch = Pipelines.compileBatch(p,
          samples.toDF("n", "v", "__seq"))
        .select("__seq", "result").orderBy("__seq")
        .collect().map(r => (r.getLong(0), r.getAs[Map[String, Double]](1)))
      assert(got.toSeq == batch.toSeq)
      assert(got.toSeq == Seq((2L, Map("a" -> 4.0, "b" -> 2.0)),
        (5L, Map("a" -> 6.0, "b" -> 14.0))))
    } finally q.stop()
  }

  test("streaming keyed tumbling window keys a NULL name as \"\" like batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val p = Dsl.parsePipeline("p",
      """{
        |"metadata": {"input": [{"name":"n","type":"string"},
        |                       {"name":"v","type":"double"}]},
        |"stages": [{"ref":"#aggregate",
        |            "settings":{"function":"sum","windowType":"tumbling",
        |                        "windowSize":"3",
        |                        "nameKey":"=$.n","valueKey":"=$.v"}}]
        |}""".stripMargin)
    val samples = Seq[(String, Double, Long)](("a", 1.0, 0L), (null, 2.0, 1L),
      ("a", 3.0, 2L))
    val input = MemoryStream[(String, Double, Long)]
    val sdf = input.toDF().select(col("_1").as("n"), col("_2").as("v"),
      col("_3").as("__seq"))
    val q = Pipelines.compileStream(p, sdf)
      .writeStream.format("memory").queryName("keyed_null_name_stream")
      .outputMode("append").start()
    try {
      input.addData(samples: _*)
      q.processAllAvailable()
      val got = s.sql("SELECT result FROM keyed_null_name_stream")
        .collect().map(_.getAs[Map[String, Double]](0)).toSeq
      val batch = Pipelines.compileBatch(p, samples.toDF("n", "v", "__seq"))
        .select("result").collect().map(_.getAs[Map[String, Double]](0)).toSeq
      assert(got == batch)
      assert(got == Seq(Map("" -> 2.0, "a" -> 4.0)))
    } finally q.stop()
  }

  test("streaming keyed timeTumbling window assembles per-name maps") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val p = Dsl.parsePipeline("p",
      """{
        |"metadata": {"input": [{"name":"n","type":"string"},
        |                       {"name":"v","type":"double"}]},
        |"stages": [{"ref":"#aggregate",
        |            "settings":{"function":"avg","windowType":"timeTumbling",
        |                        "windowSize":"1000",
        |                        "nameKey":"=$.n","valueKey":"=$.v"}}]
        |}""".stripMargin)
    val input = MemoryStream[(String, Double, Long)]
    val sdf = input.toDF().select(col("_1").as("n"), col("_2").as("v"),
      timestamp_millis(col("_3")).as("__ts"), col("_3").as("__seq"))
    val q = Pipelines.compileStream(p, sdf)
      .writeStream.format("memory").queryName("keyed_time_stream")
      .outputMode("append").start()
    try {
      input.addData(("a", 2.0, 0L), ("a", 4.0, 500L), ("b", 10.0, 900L))
      q.processAllAvailable()
      input.addData(("a", 7.0, 1500L))
      q.processAllAvailable()
      input.addData(("z", 0.0, 30000L)) // advance watermark, close panes
      q.processAllAvailable()
      val rows = s.sql(
        "SELECT result FROM keyed_time_stream ORDER BY __seq")
        .collect().map(_.getAs[Map[String, Double]](0))
      assert(rows.take(2).toSeq == Seq(Map("a" -> 3.0, "b" -> 10.0),
        Map("a" -> 7.0)))
    } finally q.stop()
  }

  test("streaming keyed timeSliding window gates warm-up panes") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val p = Dsl.parsePipeline("p",
      """{
        |"metadata": {"input": [{"name":"n","type":"string"},
        |                       {"name":"v","type":"double"}]},
        |"stages": [{"ref":"#aggregate",
        |            "settings":{"function":"sum","windowType":"timeSliding",
        |                        "windowSize":"2000","resolution":"1000",
        |                        "nameKey":"=$.n","valueKey":"=$.v"}}]
        |}""".stripMargin)
    val input = MemoryStream[(String, Double, Long)]
    val sdf = input.toDF().select(col("_1").as("n"), col("_2").as("v"),
      timestamp_millis(col("_3")).as("__ts"), col("_3").as("__seq"))
    val q = Pipelines.compileStream(p, sdf)
      .writeStream.format("memory").queryName("keyed_timesliding_stream")
      .outputMode("append").start()
    try {
      // a@500 and b@1500 land inside the warm-up window (< first + size):
      // the canEmit gate must suppress all their panes, exactly as the
      // keyed BATCH path does with its ts - min(ts) >= size predicate
      input.addData(("a", 1.0, 500L), ("b", 5.0, 1500L))
      q.processAllAvailable()
      input.addData(("z", 7.0, 30000L)) // warm + pane-anchored
      q.processAllAvailable()
      input.addData(("zz", 0.0, 999999L)) // close z's panes
      q.processAllAvailable()
      val rows = s.sql("SELECT result FROM keyed_timesliding_stream")
        .collect().map(_.getAs[Map[String, Double]](0))
      // one emission: z's trailing pane [29000,31000); a/b panes gated
      assert(rows.toSeq == Seq(Map("z" -> 7.0)))
    } finally {
      q.stop()
      s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming DSL timeSliding window with a watermark setting") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val p = Dsl.parsePipeline("p",
      """{
        |"metadata": {"input": [{"name":"v","type":"double"}]},
        |"stages": [{"ref":"#aggregate",
        |            "settings":{"function":"sum","windowType":"timeSliding",
        |                        "windowSize":"2000","resolution":"1000",
        |                        "watermark":"1 seconds"},
        |            "input":{"value":"=$.v"}}]
        |}""".stripMargin)
    val input = MemoryStream[(Double, Long)]
    val sdf = input.toDF()
      .select(col("_1").as("v"), timestamp_millis(col("_2")).as("__ts"),
        col("_2").as("__seq"))
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = Pipelines.compileStream(p, sdf)
      .writeStream.format("memory").queryName("dsl_timesliding_stream")
      .outputMode("append").start()
    try {
      // 1.0@500 and 2.0@1500 are inside the warm-up window — every pane
      // they anchor is gated (matching the batch path's emission set)
      input.addData((1.0, 500L), (2.0, 1500L))
      q.processAllAvailable()
      input.addData((99.0, 30000L)) // warm + anchored; watermark lags 1s
      q.processAllAvailable()
      // the 1-second watermark delays closing 99's pane until a later
      // event advances event time past 31000 + 1000
      val before = s.sql("SELECT count(*) FROM dsl_timesliding_stream")
        .collect()(0).getLong(0)
      assert(before == 0L, s"watermark must still hold the pane: $before")
      input.addData((0.0, 999999L))
      q.processAllAvailable()
      val rows = s.sql(
        "SELECT __seq, result FROM dsl_timesliding_stream ORDER BY __seq")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      // one emission: 99's trailing pane [29000,31000)
      assert(rows.toSeq == Seq((31000L, 99.0)))
    } finally {
      q.stop()
      s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming DSL timeTumbling window emits closed panes") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val p = Dsl.parsePipeline("p",
      """{
        |"metadata": {"input": [{"name":"v","type":"double"}]},
        |"stages": [{"ref":"#aggregate",
        |            "settings":{"function":"sum","windowType":"timeTumbling",
        |                        "windowSize":"1000"},
        |            "input":{"value":"=$.v"}}]
        |}""".stripMargin)
    val input = MemoryStream[(Double, Long)]
    val sdf = input.toDF()
      .select(col("_1").as("v"), timestamp_millis(col("_2")).as("__ts"),
        col("_2").as("__seq"))
    val q = Pipelines.compileStream(p, sdf)
      .writeStream.format("memory").queryName("dsl_time_stream")
      .outputMode("append").start()
    try {
      input.addData((1.0, 0L), (2.0, 500L), (3.0, 1500L))
      q.processAllAvailable()
      // advance the watermark far past pane 0 and 1 so both close
      input.addData((99.0, 10000L))
      q.processAllAvailable()
      val rows = s.sql(
        "SELECT result FROM dsl_time_stream ORDER BY result")
        .collect().map(_.getDouble(0))
      assert(rows.toSeq == Seq(3.0, 3.0)) // pane0: 1+2, pane1: 3
    } finally q.stop()
  }
}
