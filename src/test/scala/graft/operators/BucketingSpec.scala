package graft.operators

import graft.SparkSpec
import graft.engine.Tables

/** Bucketed co-located join: correctness AND the plan property that
  * matters at 100 TB — no Exchange on either join side. */
class BucketingSpec extends SparkSpec {

  test("bucketed orders/lineitem join runs without shuffling either side") {
    val s = spark
    val orders = Tables.orders(s, sf())
    val lineitem = Tables.lineitem(s, sf())
    Bucketing.writeBucketed(orders, "b_orders", "o_orderkey", 8)
    Bucketing.writeBucketed(lineitem, "b_lineitem", "l_orderkey", 8)
    // force the shuffle-join path: at test scale the planner would
    // broadcast instead (which also skips bucket pruning)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.coLocatedJoin(s, "b_orders", "b_lineitem",
        "o_orderkey", "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      // the whole point: no shuffle between scan and join
      assert(!plan.contains("Exchange"),
        s"bucketed join should be Exchange-free, got:\n$plan")

      // same result as the plain (shuffling) join
      val expected = orders.join(lineitem,
        orders("o_orderkey") === lineitem("l_orderkey")).count()
      assert(joined.count() == expected)
    } finally {
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      s.sql("DROP TABLE b_orders")
      s.sql("DROP TABLE b_lineitem")
    }
  }
}
