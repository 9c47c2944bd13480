package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish test tables (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst gets full
  * pushdown/pruning; at cluster scale the same code paths work against
  * any parquet-backed table location.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS), which Spark 4 refuses to read
    // (PARQUET_TYPE_ILLEGAL) unless nanos are surfaced as long — sessions
    // must set spark.sql.legacy.parquet.nanosAsLong=true (GraftSession does).
    // We then restore a proper TimestampType column (µs precision).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      // integral division: `/` on longs is double division, whose 2^53
      // mantissa cannot represent epoch nanos exactly (±256 ns ULP) and
      // can shift a boundary timestamp into the wrong pane
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (name == "events" &&
        df.schema("ts").dataType == TimestampNTZType)
      // generator emits timestamp[us] WITHOUT isAdjustedToUTC, which
      // Spark 4 infers as TIMESTAMP_NTZ — a type unix_micros/unix_millis
      // reject. GraftSession pins spark.sql.session.timeZone=UTC, so the
      // cast to TIMESTAMP (LTZ) interprets the naive wall-clock as UTC:
      // the exact instant DuckDB's epoch math assigns the same bytes.
      // Normalizing at the read keeps every downstream operator on one
      // timestamp type regardless of generator vintage.
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
