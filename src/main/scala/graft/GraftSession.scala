package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft JVM builds its SparkSession. Bench, Verify,
  * Plans, ScaleProbe, the fixture generators and the test suite all run
  * on these settings, so the configuration that is verified, timed and
  * tested is one configuration. */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS` if set, else every core the JVM
    * sees. */
  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The JVM's session. The first call builds it on `local[cores]` with
    * `cores` shuffle partitions and its warehouse in
    * `<java.io.tmpdir>/<name>-warehouse`; later calls return that
    * session unchanged, whatever their arguments. */
  def apply(name: String, cores: Int = defaultCores): SparkSession =
    SparkSession.getDefaultSession.filterNot(_.sparkContext.isStopped)
      .getOrElse {
        val spark = SparkSession.builder()
          .master(s"local[$cores]")
          .appName(name)
          .config("spark.sql.shuffle.partitions", cores.toString)
          .config("spark.ui.enabled", "false")
          .config("spark.sql.session.timeZone", "UTC")
          // events.parquet stores ts as TIMESTAMP(NANOS), which Spark 4
          // refuses to read without this (ts then reads as bigint nanos)
          .config("spark.sql.legacy.parquet.nanosAsLong", "true")
          // queries that persist bucketed index tables must never drop a
          // spark-warehouse/ dir into the working directory
          .config("spark.sql.warehouse.dir",
            s"${sys.props("java.io.tmpdir")}/$name-warehouse")
          // let AQE size CACHED-plan partitions by bytes (default false):
          // iteration loops re-read persisted frames every round, and a
          // vocabulary-sized cache materialized at the session's full
          // shuffle width re-pays per-task fixed cost x width per job
          // (measured: unigram trainer -30%, warm jaccard -20% from this
          // alone). Scale-adaptive by construction — AQE's parallelism-
          // first coalescing keeps corpus-sized caches at full width on a
          // cluster; only byte-small caches narrow.
          .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true")
          // the generated-class cache defaults to 100 entries; a 186-query
          // suite cycles hundreds of distinct codegen units through it, so
          // later queries re-pay Janino compilation for classes the warm-up
          // already built (driver-side fixed cost in every stage). Sized to
          // hold the whole suite; memory cost is the class metadata only.
          .config("spark.sql.codegen.cache.maxEntries", "2000")
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        spark
      }

  /** A session on `parent`'s SparkContext and catalog with its own SQL
    * conf: `parent`'s runtime-modifiable settings, then `overrides`.
    * `newSession()` starts from SparkConf-time defaults, not the
    * parent's runtime conf, so without the copy a caller's runtime
    * settings (shuffle partitions, ANSI mode, time zone) would revert
    * inside the scoped run; static keys are shared through the
    * SparkContext already. Queries planned concurrently on `parent`
    * never see the overrides. */
  def scoped(parent: SparkSession, overrides: (String, String)*): SparkSession = {
    val s = parent.newSession()
    parent.conf.getAll.foreach { case (k, v) =>
      if (!s.conf.getOption(k).contains(v) && s.conf.isModifiable(k))
        s.conf.set(k, v)
    }
    overrides.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}
