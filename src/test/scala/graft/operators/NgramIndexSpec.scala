package graft.operators

import graft.SparkSpec
import graft.engine.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted incremental n-gram count-table index
  * ([[CorpusStats.buildNgramIndex]] family): the train side of the
  * CCNet-style quality signal becomes a build/extend/compact artifact
  * instead of a per-run re-count. Pins (1) score-against-extended-index
  * == score-against-full-retrain (the incremental==batch contract —
  * also oracle-gated by q_ngram_lm_incr), (2) the plan property that
  * the per-order count folds read their buckets with no Exchange,
  * (3) the disjoint-ids guard on extend, (4) compaction collapsing
  * slices without changing scores. */
class NgramIndexSpec extends SparkSpec {

  private def tmpPath(): String =
    java.nio.file.Files.createTempDirectory("graft-ng-spec").toString

  private def scores(df: DataFrame): Seq[(Long, Long, Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4))).sortBy(_._1).toSeq

  test("score against built+extended index equals the full retrain") {
    val s = spark
    val all = Tables.documents(s, sf())
    val idx = CorpusStats.buildNgramIndex(
      all.where(col("doc_id") % 3 === 1), "doc_id", "text", 3,
      "ng_spec_a", tmpPath())
    try {
      idx.extend(all.where(col("doc_id") % 3 === 2), "doc_id", "text")
      val incr = scores(CorpusStats.ngramLogProbAgainstIndex(
        all.where(col("doc_id") % 3 === 0), "doc_id", "text", idx)
        .select("doc", "n_tokens", "n_oov", "n_backed", "avg_lp"))
      val batch = scores(CorpusStats.ngramLogProbAgainst(
        all.where(col("doc_id") % 3 =!= 0),
        all.where(col("doc_id") % 3 === 0), "doc_id", "text", 3)
        .select("doc", "n_tokens", "n_oov", "n_backed", "avg_lp"))
      assert(incr == batch,
        "index-fed scoring must equal the full retrain")
      // the vector is non-vacuous: some position actually backed off,
      // so the fold of BOTH slices' counts was load-bearing
      assert(incr.exists(_._4 > 0), "no backoff exercised — vacuous")
    } finally idx.drop(s)
  }

  test("count folds read the gram buckets without an Exchange") {
    val s = spark
    val all = Tables.documents(s, sf())
    val idx = CorpusStats.buildNgramIndex(
      all.where(col("doc_id") % 3 === 1), "doc_id", "text", 2,
      "ng_spec_b", tmpPath())
    try {
      idx.extend(all.where(col("doc_id") % 3 === 2), "doc_id", "text")
      // the fold the probe path runs per order: groupBy(g).sum(n) over
      // the bucketed slices must reuse the bucket partitioning
      (1 to 2).foreach { j =>
        val fold = s.table(idx.gramsTable(j))
          .groupBy("g").agg(sum("n").as("n"))
        val plan = fold.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"order-$j slice fold must be Exchange-free:\n$plan")
      }
      // and the whole scoring plan never broadcasts a count table
      // (each is corpus-vocabulary-sized at scale)
      val probe = CorpusStats.ngramLogProbAgainstIndex(
        all.where(col("doc_id") % 3 === 0), "doc_id", "text", idx)
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"),
        s"count joins must be shuffle-hash:\n$plan")
    } finally idx.drop(s)
  }

  test("extend refuses a delta whose ids are already indexed") {
    val s = spark
    val all = Tables.documents(s, sf())
    val slice = all.where(col("doc_id") % 3 === 1)
    val idx = CorpusStats.buildNgramIndex(slice, "doc_id", "text", 2,
      "ng_spec_c", tmpPath())
    try {
      val e = intercept[IllegalArgumentException] {
        idx.extend(slice.limit(5), "doc_id", "text")
      }
      assert(e.getMessage.contains("disjoint"))
    } finally idx.drop(s)
  }

  test("compaction collapses slices and preserves scores") {
    val s = spark
    val all = Tables.documents(s, sf())
    val idx = CorpusStats.buildNgramIndex(
      all.where(col("doc_id") % 3 === 1), "doc_id", "text", 2,
      "ng_spec_d", tmpPath())
    try {
      idx.extend(all.where(col("doc_id") % 3 === 2), "doc_id", "text")
      val sc = all.where(col("doc_id") % 3 === 0)
      val before = scores(CorpusStats.ngramLogProbAgainstIndex(
        sc, "doc_id", "text", idx)
        .select("doc", "n_tokens", "n_oov", "n_backed", "avg_lp"))
      val out = idx.compact(s, "ng_spec_d2",
        tmpPath())
      try {
        // one row per distinct gram after compaction (two slices before)
        val g1 = s.table(out.gramsTable(1))
        assert(g1.groupBy("g").count().where(col("count") > 1).isEmpty,
          "compaction left multi-slice grams")
        val after = scores(CorpusStats.ngramLogProbAgainstIndex(
          sc, "doc_id", "text", out)
          .select("doc", "n_tokens", "n_oov", "n_backed", "avg_lp"))
        assert(after == before, "compaction changed scores")
      } finally out.drop(s)
    } finally idx.drop(s)
  }
}
