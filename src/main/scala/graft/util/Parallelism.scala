package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical._

/** Fan-out parallelism guard (optimization guide §1.2 step 1, §2.5
  * "input skew").
  *
  * The engine's hottest map stages multiply each input row into orders
  * of magnitude more work than its bytes suggest — tokenize + n-gram /
  * shingle explode + digest kernels over compressed text, per-position
  * gram generators, embedding kernels. Spark sizes scan splits by
  * BYTES (`maxPartitionBytes`, floored by `openCostInBytes` = 4 MB),
  * so a small-but-hot table scans as 1-2 tasks and the whole fan-out
  * stage serializes onto 1-2 cores (measured at sf0.1: every
  * tokenize-heavy stage over the 0.57 MB documents table ran 2 tasks
  * wide with 30 cores idle; a session-wide lower `openCostInBytes`
  * floor recovered those stages but taxed every CHEAP scan in the
  * suite with ~10 ms/task of driver fixed cost — the wrong knob, so
  * the spread lives at the operator fan-out points instead).
  *
  * [[spread]] inserts one round-robin repartition to the session's
  * core count ONLY when all three of these hold (r18 ADVICE items):
  *  1. the input is a batch, scan-shaped plan (no shuffle-inducing
  *     node) — peeking partition counts via `Dataset.rdd` on a plan
  *     containing exchanges would, under AQE, MATERIALIZE the upstream
  *     query stages as an eager job at operator-build time, and throws
  *     outright on a stream; for exchange-free plans the peek is a
  *     pure planning walk over the (cached) file listing;
  *  2. the scan yields fewer partitions than cores;
  *  3. the plan-estimated input is byte-SMALL: under
  *     cores x `maxPartitionBytes`, so the added round-robin exchange
  *     moves at most one scan-split per core — at 100 TB the corpus
  *     fails both 2 and 3 and no text-carrying shuffle is ever added
  *     (PlanPropertiesSpec bounds the round-robin text-exchange count).
  * Callers whose input is not scan-shaped get the identity — the
  * conservative reading of "this plan already paid for parallelism
  * somewhere upstream". Round-robin keeps Spark's
  * sort-before-repartition determinism (retry-stable row placement),
  * and no result in the engine depends on partitioning.
  */
object Parallelism {
  /** Scan-split count of a batch, exchange-free (scan-shaped) plan;
    * None for streams or plans whose `.rdd` peek would run jobs under
    * AQE (joins/aggregations/windows/repartitions/sorts upstream, or a
    * subquery inside any node's expressions, whose jobs the peek's
    * physical planning submits). */
  def scanPartitions(df: DataFrame): Option[Int] = {
    if (df.isStreaming) return None
    // whitelist of narrow, no-job logical nodes: anything else (Join,
    // Aggregate, Window, Sort, RepartitionOperation, Distinct, ...)
    // plans an exchange or a subquery, where Dataset.rdd is no longer
    // a free peek
    val scanShaped = df.queryExecution.analyzed.collectFirst {
      case p if !(p.isInstanceOf[Project] || p.isInstanceOf[Filter] ||
        p.isInstanceOf[Generate] || p.isInstanceOf[SubqueryAlias] ||
        p.isInstanceOf[Union] || p.isInstanceOf[LeafNode]) ||
        p.expressions.exists(_.exists(_.isInstanceOf[SubqueryExpression])) => p
    }.isEmpty
    if (scanShaped) Some(df.rdd.getNumPartitions) else None
  }

  def spread(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val cores = sess.sparkContext.defaultParallelism
    // the size estimate optimizes the plan, which throws on a stream:
    // evaluate it only once scanPartitions has ruled streams out
    def byteSmall =
      df.queryExecution.optimizedPlan.stats.sizeInBytes <
        BigInt(cores.toLong) * sess.sessionState.conf.filesMaxPartitionBytes
    scanPartitions(df) match {
      case Some(n) if n < cores && byteSmall => df.repartition(cores)
      case _ => df
    }
  }
}
