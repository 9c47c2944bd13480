package graft.gates

import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}
import GateSupport._

/** Filter-activity gates (P1). */
object FilterGates {

  val gates: Seq[Gate] = Seq(

    // mapper zeroes out large values, non-zero filter drops them
    Gate("q_filter_nonzero", (s, d) =>
      ev(s, d)
        .select(col("event_id"),
          when(col("value") > 50, lit(0.0)).otherwise(col("value")).as("v"))
        .where(col("v") =!= 0.0)
        .orderBy("event_id"),
      """SELECT event_id, v FROM (
        |  SELECT event_id, CASE WHEN value > 50 THEN 0.0 ELSE value END AS v
        |  FROM events) WHERE v <> 0.0 ORDER BY event_id""".stripMargin),

    // vector form: keep vectors with any non-zero element
    Gate("q_filter_nonzero_vec", (s, d) =>
      emb(s, d)
        .where(!VF.allZero(col("embedding")))
        .select(col("vec_id"))
        .orderBy("vec_id"),
      """SELECT vec_id FROM embeddings
        |WHERE len(list_filter(embedding, x -> x <> 0)) > 0
        |ORDER BY vec_id""".stripMargin)
  )
}
