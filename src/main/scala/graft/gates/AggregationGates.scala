package graft.gates

import org.apache.spark.sql.functions._
import graft.windows.AggFunctions
import GateSupport._

/** Aggregation-function gates (F1-F6). */
object AggregationGates {

  val gates: Seq[Gate] = Seq(

    Gate("q_groupby_agg", (s, d) =>
      li(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 4).as("sum_qty"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(min("l_quantity"), 4).as("min_qty"),
          round(max("l_quantity"), 4).as("max_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 4) AS sum_qty,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(min(l_quantity), 4) AS min_qty,
        |       round(max(l_quantity), 4) AS max_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // F6 accumulate: order-preserving collect per key. The array is
    // serialized to a fixed-point CSV string (decimal(18,4) keeps trailing
    // zeros identically in Spark and DuckDB) because the driver's pandas
    // compare cannot hash array-typed columns.
    Gate("q_accumulate", (s, d) =>
      ev(s, d)
        .groupBy("user_id")
        .agg(AggFunctions.scalar("accumulate", col("value"), col("event_id"))
          .as("vals_arr"))
        .select(col("user_id"),
          concat_ws(",", transform(col("vals_arr"),
            x => round(x, 4).cast("decimal(18,4)").cast("string"))).as("vals"))
        .orderBy("user_id"),
      """SELECT user_id,
        |  array_to_string(list(round(value, 4)::DECIMAL(18,4)::VARCHAR
        |                       ORDER BY event_id), ',') AS vals
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // W5 keyed variant: per-key aggregation (nameKey=event_type)
    Gate("q_keyed_agg", (s, d) =>
      ev(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
        .orderBy("event_type"),
      """SELECT event_type, count(*) AS n, round(avg(value), 4) AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // E5 groupBy discriminator: per-key partitioned state
    Gate("q_groupby_state", (s, d) =>
      ev(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sv"))
        .orderBy("user_id"),
      """SELECT user_id, count(*) AS n, round(sum(value), 4) AS sv
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // vector element-wise aggregation (F1/F2 vector forms)
    Gate("q_vector_agg", (s, d) => {
      val v = emb(s, d).withColumn("v", col("embedding").cast("array<double>"))
      v.groupBy("label")
        .agg(AggFunctions.vector("sum", col("v")).as("vs"),
          AggFunctions.vector("avg", col("v")).as("va"))
        .select(col("label"), posexplode(arrays_zip(col("vs"), col("va"))))
        .select(col("label"), (col("pos") + 1).cast("bigint").as("idx"),
          (round(col("col.vs"), 4) + lit(0.0)).as("vsum"),
          (round(col("col.va"), 4) + lit(0.0)).as("vavg"))
        .orderBy("label", "idx")
    },
      """SELECT label, i AS idx, round(sum(x), 4) + 0.0 AS vsum, round(avg(x), 4) + 0.0 AS vavg
        |FROM (SELECT label, unnest(embedding::DOUBLE[]) x,
        |             generate_subscripts(embedding, 1) i
        |      FROM embeddings)
        |GROUP BY label, i ORDER BY label, idx""".stripMargin)
  )
}
