package graft.util

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

class ParallelismSpec extends SparkSpec {

  test("spread returns a streaming frame unchanged instead of throwing") {
    val stream = spark.readStream.format("rate").load()
    assert(Parallelism.scanPartitions(stream).isEmpty)
    assert(Parallelism.spread(stream) eq stream)
  }

  test("a Filter with an IN subquery is not scan-shaped: no job at build") {
    val sc = spark.sparkContext
    val group = s"spread-build-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      val df = spark.range(1000).toDF("id")
        .where(col("id").isin(spark.range(0, 1000, 7).toDF("id")))
      sc.setJobGroup(group, "operator build")
      val spread = Parallelism.spread(df)
      val parts = Parallelism.scanPartitions(df)
      // the listener bus delivers in order: once the marker job is seen,
      // any job the build submitted has been seen before it
      sc.setJobGroup(marker, "marker")
      spark.range(1).count()
      sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (!groups.contains(marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(groups.contains(marker), "marker job never reached the listener")
      assert(!groups.contains(group),
        "building the operator submitted a Spark job")
      assert(parts.isEmpty && (spread eq df))
      // the subquery still filters as written
      assert(spread.count() == 143)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
