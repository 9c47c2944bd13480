package graft.gates

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.windows.CountWindows
import GateSupport._

/** Count-window gates (W1/W2). */
object CountWindowGates {

  val gates: Seq[Gate] = Seq(

    Gate("q_tumbling_count", (s, d) =>
      CountWindows.tumblingBatch(ev(s, d), "user_id", "event_id", "value",
          10, "sum")
        .select(col("user_id"), col("window_id"),
          round(col("result"), 4).as("result"))
        .orderBy("user_id", "window_id"),
      """SELECT user_id, window_id, round(sum(value), 4) AS result FROM (
        |  SELECT user_id, value,
        |         (row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1)
        |           // 10 AS window_id,
        |         count(*) OVER (PARTITION BY user_id) AS cnt,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn
        |  FROM events)
        |GROUP BY user_id, window_id HAVING count(*) = 10
        |ORDER BY user_id, window_id""".stripMargin),

    // the hot-key parallel-rank path against the SAME oracle as
    // q_tumbling_count: range-salted ranking + exact restitch must be
    // indistinguishable from the plain path on real keyed data (the
    // skewed-fixture equality lives in TumblingSaltedSpec; this gate
    // pins the oracle agreement)
    Gate("q_tumbling_salted", (s, d) =>
      CountWindows.tumblingBatchSalted(ev(s, d), "user_id", "event_id",
          "value", 10, "sum", buckets = 8)
        .select(col("user_id"), col("window_id"),
          round(col("result"), 4).as("result"))
        .orderBy("user_id", "window_id"),
      // identical replay to q_tumbling_count — the salted path's output
      // contract IS the plain path's
      """SELECT user_id, window_id, round(sum(value), 4) AS result FROM (
        |  SELECT user_id, value,
        |         (row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1)
        |           // 10 AS window_id
        |  FROM events)
        |GROUP BY user_id, window_id HAVING count(*) = 10
        |ORDER BY user_id, window_id""".stripMargin),

    Gate("q_sliding_count", (s, d) =>
      CountWindows.slidingBatch(ev(s, d), "user_id", "event_id", "value",
          10, 3, "avg")
        .select(col("user_id"), col("emit_at").cast("bigint").as("emit_at"),
          round(col("result"), 4).as("result"))
        .orderBy("user_id", "emit_at"),
      """SELECT user_id, rn AS emit_at, round(a, 4) AS result FROM (
        |  SELECT user_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn,
        |         avg(value) OVER (PARTITION BY user_id ORDER BY event_id
        |                          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS a
        |  FROM events)
        |WHERE rn >= 9 AND (rn - 9) % 3 = 0
        |ORDER BY user_id, emit_at""".stripMargin),

    // W2 through the overlap-chunk salted path against q_sliding_count's
    // replay; chunkRows deliberately tiny so chunk boundaries land
    // inside frames and the borrowed-tail machinery is exercised at
    // gate scale, not just in the spec
    Gate("q_sliding_salted", (s, d) =>
      CountWindows.slidingBatchSalted(ev(s, d), "user_id", "event_id",
          "value", 10, 3, "avg", buckets = 8, chunkRows = 32L)
        .select(col("user_id"), col("emit_at").cast("bigint").as("emit_at"),
          round(col("result"), 4).as("result"))
        .orderBy("user_id", "emit_at"),
      // identical replay to q_sliding_count — the salted path's output
      // contract IS the plain path's
      """SELECT user_id, rn AS emit_at, round(a, 4) AS result FROM (
        |  SELECT user_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn,
        |         avg(value) OVER (PARTITION BY user_id ORDER BY event_id
        |                          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS a
        |  FROM events)
        |WHERE rn >= 9 AND (rn - 9) % 3 = 0
        |ORDER BY user_id, emit_at""".stripMargin),

    // W1 via the streaming flatMapGroupsWithState operator (batch-executed)
    Gate("q_tumbling_stream", (s, d) => {
      implicit val ss: SparkSession = s
      import s.implicits._
      val ds = ev(s, d).select(col("user_id").cast("string").as("key"),
        col("event_id").as("seq"), col("value")).as[CountWindows.KeyedSample]
      CountWindows.countStream(ds, 7, 7, "sum")
        .select(col("key").cast("bigint").as("user_id"),
          col("emitAtSeq").as("emit_seq"), round(col("result"), 4).as("result"))
        .orderBy("user_id", "emit_seq")
    },
      """SELECT user_id, event_id AS emit_seq, round(s, 4) AS result FROM (
        |  SELECT user_id, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
        |         sum(value) OVER (PARTITION BY user_id ORDER BY event_id
        |                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s
        |  FROM events)
        |WHERE rn % 7 = 0 ORDER BY user_id, emit_seq""".stripMargin)
  )
}
