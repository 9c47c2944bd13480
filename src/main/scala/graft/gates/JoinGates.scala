package graft.gates

import org.apache.spark.sql.functions._
import graft.engine.Tables
import GateSupport._

/** Join and grouping gates: broadcast and shuffle joins, star and anti
  * joins, rollup, cube, grouping sets and top-k. */
object JoinGates {

  val gates: Seq[Gate] = Seq(

    Gate("q_join_broadcast", (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 2).as("acctbal"))
        .orderBy("r_name", "n_name"),
      """SELECT r_name, n_name, count(*) AS n_cust,
        |       round(sum(c_acctbal), 2) AS acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    Gate("q_join_shuffle", (s, d) =>
      Tables.orders(s, d)
        .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01")))
        .join(li(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_orderkey")).as("n_orders"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority, count(DISTINCT o_orderkey) AS n_orders,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // TPC-H Q5-style 5-way join: dims (customer->nation->region) reduce
    // to a broadcastable (custkey, nation) map; the only shuffle is the
    // orders-lineitem fact join, with the date filter pushed to the
    // orders scan — the join-depth plan shape a warehouse query needs
    Gate("q_star_join", (s, d) => {
      val o = Tables.orders(s, d)
        .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val dim = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_name"))
      li(s, d)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
            4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= '1996-01-01'
        |  AND o_orderdate < '1997-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // anti-join: customers with no order in the window — the left_anti
    // shape; the build side is the DISTINCT active keys, so the
    // broadcast carries one row per customer, not one per order
    Gate("q_anti_join", (s, d) => {
      val active = Tables.orders(s, d)
        .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01")))
        .select(col("o_custkey"))
        .distinct()
      Tables.customer(s, d)
        .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_inactive"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(*) AS n_inactive
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= '1996-01-01'
        |                    AND o_orderdate < '1997-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // rollup: hierarchical totals in one pass (grouping sets expand
    // map-side — no extra scan per level). The GROUP BY ROLLUP itself
    // goes through spark.sql: Dataset.rollup + agg(sum) trips Spark
    // 4.1's ambiguous-self-join check on the Expand-duplicated
    // grouping attributes, while the SQL-parsed form of the same plan
    // analyzes cleanly.
    Gate("q_rollup", (s, d) => {
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("rg"), col("n_name").as("nt"),
          col("c_acctbal"))
        .createOrReplaceTempView("q_rollup_in")
      s.sql(
        """SELECT coalesce(rg, 'ALL') AS region,
          |       coalesce(nt, 'ALL') AS nation,
          |       count(*) AS n_cust, round(sum(c_acctbal), 2) AS acctbal
          |FROM q_rollup_in GROUP BY ROLLUP (rg, nt)
          |ORDER BY region, nation""".stripMargin)
    },
      """SELECT coalesce(r_name, 'ALL') AS region,
        |       coalesce(n_name, 'ALL') AS nation,
        |       count(*)::BIGINT AS n_cust, round(sum(c_acctbal), 2) AS acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name) ORDER BY region, nation""".stripMargin),

    // cube: all 2^n grouping-set combinations in one pass (adds the
    // (nation-only) slice ROLLUP lacks). Same SQL-parsed construction as
    // q_rollup — see that query's note on the Dataset API's
    // ambiguous-self-join check.
    Gate("q_cube", (s, d) => {
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("rg"), col("n_name").as("nt"),
          col("c_acctbal"))
        .createOrReplaceTempView("q_cube_in")
      s.sql(
        """SELECT coalesce(rg, 'ALL') AS region,
          |       coalesce(nt, 'ALL') AS nation,
          |       count(*) AS n_cust, round(sum(c_acctbal), 2) AS acctbal
          |FROM q_cube_in GROUP BY CUBE (rg, nt)
          |ORDER BY region, nation""".stripMargin)
    },
      """SELECT coalesce(r_name, 'ALL') AS region,
        |       coalesce(n_name, 'ALL') AS nation,
        |       count(*)::BIGINT AS n_cust, round(sum(c_acctbal), 2) AS acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, n_name) ORDER BY region, nation""".stripMargin),

    // explicit GROUPING SETS: hand-picked slices ((region), (nation)) in
    // ONE Expand pass — the shape neither ROLLUP nor CUBE expresses
    // (two independent single-dimension aggregations, no grand total,
    // no cross product). Same SQL-parsed construction as q_rollup.
    Gate("q_grouping_sets", (s, d) => {
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("rg"), col("n_name").as("nt"),
          col("c_acctbal"))
        .createOrReplaceTempView("q_gsets_in")
      s.sql(
        """SELECT coalesce(rg, 'ALL') AS region,
          |       coalesce(nt, 'ALL') AS nation,
          |       count(*) AS n_cust, round(sum(c_acctbal), 2) AS acctbal
          |FROM q_gsets_in GROUP BY GROUPING SETS ((rg), (nt))
          |ORDER BY region, nation""".stripMargin)
    },
      """SELECT coalesce(r_name, 'ALL') AS region,
        |       coalesce(n_name, 'ALL') AS nation,
        |       count(*)::BIGINT AS n_cust, round(sum(c_acctbal), 2) AS acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (n_name))
        |ORDER BY region, nation""".stripMargin),

    // pre-aggregate the fact side BEFORE the dimension join: the shuffle
    // carries one row per customer, and the join build side broadcasts
    Gate("q_topk", (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(round(sum("o_totalprice"), 2).as("total"))
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("total"))
        .orderBy(col("total").desc, col("c_custkey").asc)
        .limit(10),
      """SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS total
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY total DESC, c_custkey LIMIT 10""".stripMargin)
  )
}
