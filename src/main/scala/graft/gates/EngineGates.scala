package graft.gates

import org.apache.spark.sql.functions._
import graft.engine.{Dsl, Tables}
import GateSupport._

/** Engine-level gates: the stage chain, mappers and the expression language. */
object EngineGates {

  val gates: Seq[Gate] = Seq(

    // E1/E2/E3: stage chain = filter -> projection -> aggregate
    Gate("q_pipeline_chain", (s, d) =>
      li(s, d)
        .where(col("l_quantity") > 10)
        .select(col("l_returnflag"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum(col("rev")), 2).as("revenue"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag, count(*) AS n,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem WHERE l_quantity > 10
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // E4: expression language (string + arithmetic mapper)
    Gate("q_expr_mapper", (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          concat(lit("order-"), col("o_orderstatus")).as("tag"),
          // round to 4: price*0.9 has exactly 3 decimal digits, so 4-decimal
          // rounding has no ties (2 decimals hits exact half-cents, where
          // DuckDB's decimal-aware rounding differs from double HALF_UP)
          round(col("o_totalprice") * 0.9, 4).as("discounted"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, concat('order-', o_orderstatus) AS tag,
        |       round(o_totalprice * 0.9, 4) AS discounted
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // E4 bonus: JSON field extraction in the mapper
    Gate("q_expr_json", (s, d) =>
      ev(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id"),
      """SELECT event_id, regexp_extract(props, '"k": ([0-9]+)', 1)::INTEGER AS k
        |FROM events ORDER BY event_id""".stripMargin),

    // E4 breadth: the extended flogo function surface routed through
    // Dsl.translate itself (not hand-built columns), pinning the
    // argument-convention adaptations — 0-based substring, literal
    // (non-regex) split, 0-based/-1-absent indexOf — against DuckDB
    Gate("q_expr_functions", (s, d) =>
      docs(s, d).selectExpr(
        Dsl.translate("=$.doc_id") + " AS doc_id",
        Dsl.translate("=string.substring($.text, 0, 10)") + " AS head10",
        Dsl.translate("=string.indexOf($.text, 'the')") + " AS idx_the",
        Dsl.translate("=string.endsWith($.source, '1')") + " AS src1",
        Dsl.translate("=array.length(string.split($.text, ' '))")
          + " AS n_parts",
        Dsl.translate("=math.ceil(number.round($.doc_id / 7.0, 1))")
          + " AS bucket7")
        .orderBy("doc_id"),
      // flogo conventions, DuckDB-side: 1-based substring shift, strpos-1
      // for 0-based indexOf, literal string_split, ceil cast to BIGINT
      // (Spark's ceil(double) is integral)
      """SELECT doc_id,
        |       substring(text, 1, 10) AS head10,
        |       strpos(text, 'the') - 1 AS idx_the,
        |       ends_with(source, '1') AS src1,
        |       len(string_split(text, ' ')) AS n_parts,
        |       ceil(round(doc_id / 7.0, 1))::BIGINT AS bucket7
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
