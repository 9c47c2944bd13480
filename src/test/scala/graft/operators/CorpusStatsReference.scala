package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-source n-gram scorer, kept as the specs' reference: it
  * scores through the count and scoring-tail seams of [[CorpusStats]]
  * on its own, so SelectionSpec can check the fused specialist pass of
  * [[Selection.doremiWeights]] against it. */
object CorpusStatsReference {

  /** [[CorpusStats.ngramLogProbAgainst]] per SOURCE — the specialist
    * models DoReMi's order-n loss passes score against: count tables re-keyed
    * by (src, gram digest) (same stream volume, one extra key column —
    * exactly how the bigram form re-keys), per-source (N, V) rows
    * broadcast (#domains rows), and each held-out doc joined to ITS
    * OWN domain's tables. A held-out domain absent from train has no
    * specialist model and drops (the inner nv join — loudly documented
    * rather than silently mis-scored). Output per doc is the same
    * (doc, n_tokens, n_oov, n_backed, avg_lp) contract, where OOV/V
    * are relative to the doc's own domain vocabulary. */
  def ngramLogProbAgainstBySource(train: DataFrame, score: DataFrame,
                                  idCol: String, textCol: String,
                                  srcCol: String, order: Int,
                                  alpha: Double = 0.4,
                                  k: Double = 0.5): DataFrame = {
    require(order >= 2 && order <= 8,
      s"order must be in 2..8, got $order")
    val countsU = CorpusStats.ngramCountsUnified(train, textCol, order,
      Some(srcCol))
    // per-src (N, V) derived from the per-src unigram slice — same
    // exact-derivation argument as the global form, one less corpus pass
    val nv = countsU.where(col("j") === 1).groupBy("src")
      .agg(sum("c").as("__n"), count(lit(1)).as("__v"))
    CorpusStats.ngramScoreTail(countsU, nv, score, idCol, textCol, order,
      alpha, k, Some(srcCol))
  }
}
