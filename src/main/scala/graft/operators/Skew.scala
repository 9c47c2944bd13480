package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation helpers for hot-key aggregation at cluster scale.
  *
  * A groupBy over a key where one value holds a large share of all rows
  * serializes that key's work into a single reducer. AQE's skew-join
  * splitting does not help aggregations, so the classic fix is salting:
  * two-phase aggregation through a composite (key, salt) shuffle.
  * Correct for any algebraic aggregate (sum/count/min/max, and avg via
  * sum+count); use the built-in single-phase groupBy for everything else.
  */
object Skew {

  /** Two-phase salted sum/count aggregation.
    * Phase 1 shuffles on (key, salt) — the hot key fans out over
    * `numSalts` reducers; phase 2 re-aggregates the tiny per-salt partials
    * on the key alone. Emits: key, `<valueAlias>` (sum), n (row count,
    * count(*) semantics), n_val (non-null value count — the divisor a
    * correct average needs, since sum() skips nulls). */
  def saltedSumCount(df: DataFrame, key: Column, value: Column,
                     valueAlias: String, numSalts: Int = 32): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(numSalts)))
    salted
      .groupBy(key.as("__key"), col("__salt"))
      .agg(sum(value).as("__psum"), count(lit(1)).as("__pn"),
        count(value).as("__pnv"))
      .groupBy(col("__key"))
      .agg(sum(col("__psum")).as(valueAlias), sum(col("__pn")).as("n"),
        sum(col("__pnv")).as("n_val"))
      .withColumnRenamed("__key", "key")
  }
}
