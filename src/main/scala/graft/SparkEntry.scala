package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.gates._

/** Driver contract — one gate per implemented operator from SURVEY.md §2
  * (+ the LLM-pipeline extensions). Each gate is one [[gates.Gate]] in
  * its family file under `graft/gates/`; `queries` and `oracleSql` are
  * derived from that one registry.
  */
object SparkEntry {

  /** Every gate, family by family. */
  val gates: Seq[Gate] = Seq(
    EngineGates.gates, FilterGates.gates, AggregationGates.gates,
    CountWindowGates.gates, TimeWindowGates.gates, ChannelGates.gates,
    JoinGates.gates, TextGates.gates, DedupGates.gates,
    SimilarityGates.gates, PipelineGates.gates, MultimodalGates.gates
  ).flatten
  require(gates.map(_.name).distinct.size == gates.size,
    "duplicate gate names: " +
      gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n })

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.spark).toMap

  val oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracleSql).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_groupby_agg")(spark, "/root/testdata/sf0.001")

  /** Bench warm-up hook: pre-fill the shared replays so the timed
    * gates measure their steady-state projections (the established
    * index-gate discipline — warm-up wall is reported separately).
    * Warms BOTH the full-outer replay (serving inner/right/full) and
    * the left-outer one (its gate runs the REAL left_outer streaming
    * plan — r16 ADVICE: keep a second join-type code path live in
    * Verify, not just in StreamingJoinsSpec). */
  def warmStreamJoinReplay(s: SparkSession, d: String): Unit = {
    GateSupport.ssjFullReplay(s, d)
    GateSupport.ssjReplay(s, d, "left_outer")
    ()
  }

  /** Drop every memoized index table and delete its backing /tmp
    * directory, then forget the handles. Verify/Bench call this before
    * `spark.stop()` so harness processes never orphan corpus-sized
    * index directories under java.io.tmpdir. */
  def dropCachedIndexes(spark: SparkSession): Unit =
    GateSupport.dropMemos(spark)
}
