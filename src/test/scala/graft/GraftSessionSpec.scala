package graft

/** The test suite runs on the session settings the bench times. */
class GraftSessionSpec extends SparkSpec {

  test("the shared spec session carries every SQL setting Bench's session sets") {
    // Bench's session settings other than the core count and the
    // warehouse dir, which depend on its arguments
    val bench = Seq(
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "2000")
    bench.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    assert(new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
      .toUri.getPath == s"${sys.props("java.io.tmpdir")}/${SparkSpec.name}-warehouse")
  }

  test("a second GraftSession call in the same JVM returns the same session") {
    val again = GraftSession("graft-other", 2)
    assert(again eq spark)
    assert(again.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
