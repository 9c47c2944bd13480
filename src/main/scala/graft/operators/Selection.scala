package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-matched data selection — score every raw document by
  * how much more likely its content is under a TARGET distribution
  * (e.g. the high-quality slice a model should be trained toward) than
  * under the raw-corpus distribution, using hashed n-gram features.
  * This is the DSIR recipe (Xie et al., "Data Selection for Language
  * Models via Importance Resampling", NeurIPS 2023): estimate two bag-
  * of-hashed-features unigram distributions p_target and p_raw over B
  * hash buckets, then weight each document by
  *
  *   log w(x) = Σ_f c_f(x) · ln( p_target(f) / p_raw(f) )
  *
  * (the paper's log importance weight of x under the bucket-multinomial
  * model, add-k smoothed so buckets unseen in the target stay finite).
  * Downstream, resample with [[Sampling.weightedSample]] on exp-scaled
  * weights or keep a top quantile with [[Features.quantileFilter]] —
  * both already plan-bounded — so this operator deliberately ends at
  * the per-document log weight, the reusable quantity.
  *
  * Why hashed buckets rather than raw vocabulary: B caps the feature
  * table at a constant (512 here, 10k in the paper) regardless of
  * corpus vocabulary, which is what makes the distributions BROADCAST-
  * able at 100 TB — hash collisions only smooth the estimate (the
  * paper's own argument). The bucket hash is the engine's md5-prefix
  * convention (Sampling.hashBucket's 24-bit form): deterministic,
  * seed-free, and replayable by any SQL engine as
  * `('0x' || substr(md5(w),1,6))::BIGINT % B`.
  *
  * Plan shape at scale: the raw token stream is aggregated ONCE at
  * (doc, bucket) grain — the only shuffle that sees per-token rows, and
  * map-side combine collapses it to ≤ B rows per document before the
  * exchange. Both distributions are re-aggregations of that bounded
  * frame (≤ B rows each) joined back by broadcast; corpus totals are
  * one-row broadcasts. Document bodies never shuffle, and no state
  * anywhere exceeds B rows.
  *
  * Output: (doc, n_tokens, dsir_weight rounded to 4). Documents with
  * zero tokens have no features and drop out, matching every other
  * per-token operator in the engine.
  */
object Selection {

  /** The (doc, bucket) count frame is cached — it feeds FIVE
    * consumers (the weight join, both distributions, both totals), and
    * unlike the raw token stream it is bounded at ≤ B rows per
    * document (tfidf/bigramLogProb cache nothing: their frames are
    * vocabulary×doc-sized and have only two consumers). */
  def dsirWeights(docs: DataFrame, isTarget: Column, idCol: String,
                  textCol: String, buckets: Int = 512,
                  k: Double = 0.5): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(k > 0.0, s"smoothing k must be positive, got $k")
    import graft.functions.TextFunctions
    val feats = docs
      .select(col(idCol).as("doc"), isTarget.as("is_target"),
        explode(TextFunctions.tokens(col(textCol))).as("w"))
      .withColumn("b",
        pmod(conv(substring(md5(col("w")), 1, 6), 16, 10).cast("long"),
          lit(buckets.toLong)))
    // the one per-token shuffle: (doc, bucket) counts with map-side
    // combine; is_target rides along (functionally dependent on doc)
    val dc = feats.groupBy("doc", "is_target", "b")
      .agg(count(lit(1)).as("c")).persist()
    // both distributions re-aggregate the bounded frame: <= B rows each,
    // broadcast back; raw covers every bucket dc has by construction,
    // target may miss buckets (LEFT join + smoothing keeps them finite)
    val tgt = dc.where(col("is_target")).groupBy("b").agg(sum("c").as("ct"))
    val raw = dc.groupBy("b").agg(sum("c").as("cr"))
    val nt = tgt.agg(sum("ct").cast("double").as("__nt"))
    val nr = raw.agg(sum("cr").cast("double").as("__nr"))
    val kb = lit(k * buckets)
    dc.join(broadcast(raw), Seq("b"))
      .join(broadcast(tgt), Seq("b"), "left")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .groupBy("doc")
      .agg(sum("c").as("n_tokens"),
        round(sum(col("c") *
          log(((coalesce(col("ct"), lit(0L)) + lit(k)) / (col("__nt") + kb)) /
            ((col("cr") + lit(k)) / (col("__nr") + kb)))), 4)
          .as("dsir_weight"))
  }

  /** The [[trainQualityClassifier]] feature frame: one row per
    * DISTINCT (doc, bucket) with the doc's 0/1 label — presence of a
    * hashed unigram (the hashing-trick linear text classifier; same
    * md5-prefix bucket convention as [[dsirWeights]], so any SQL
    * engine replays it). Rows with a NULL label are excluded (no
    * training signal); docs with no tokens have no features and drop,
    * the engine's per-token convention. */
  private def presenceFeatures(docs: DataFrame, isTarget: Column,
                               idCol: String, textCol: String,
                               buckets: Int): DataFrame = {
    import graft.functions.TextFunctions
    // NOT spread (Parallelism.spread) deliberately: measured at sf0.1,
    // a pre-explode redistribution here cost more than the wider fill
    // saved (3.6 -> 4.1 s median) — the frame is immediately
    // repartitioned by doc and persisted anyway, so the fill pays one
    // extra exchange for a stage the iteration loop never re-runs
    docs
      .where(isTarget.isNotNull)
      .select(col(idCol).as("doc"),
        isTarget.cast("int").cast("double").as("y"),
        explode(TextFunctions.tokens(col(textCol))).as("w"))
      .withColumn("b",
        pmod(conv(substring(md5(col("w")), 1, 6), 16, 10).cast("long"),
          lit(buckets.toLong)))
      .select("doc", "y", "b").distinct()
  }

  /** Round half away from zero to a Long — DuckDB's `round(x)::BIGINT`
    * on doubles, exactly (Math.round would disagree on negative
    * halves: Math.round(-2.5) = -2, DuckDB -3). */
  private[graft] def roundAway(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Quality-classifier TRAINING — the CCNet/fastText-surrogate every
    * crawl pipeline runs (Wenzek et al. train a linear classifier on
    * hashed features to rank pages by reference-likeness; fastText's
    * supervised mode is the usual tool): batch-gradient-descent
    * logistic regression on hashed-unigram PRESENCE features, returning
    * `(bucket weights, bias)` in integer MICRO-UNITS (w x 1e6).
    *
    * FULL integer quantization is the cross-engine determinism design,
    * one step stricter than the unigram trainer's round6 scores —
    * every order-dependent sum in the loop is a sum of LONGS:
    *
    *  - margins are integer dot products (exact, order-free),
    *  - the per-doc probability quantizes to integer micro-units
    *    (`round(1e6 / (1 + exp(-margin/1e6)))` — ulp noise from exp
    *    collapses at the integer grid),
    *  - residuals are integer micro-units (`y*1e6 - p_micro`), so
    *    per-bucket gradient sums are EXACT integers — no float
    *    aggregation order anywhere,
    *  - the weight update `roundAway(lr * grad_micro / n)` rounds a
    *    double both engines compute from the SAME integers with the
    *    same two operations — bit-identical even when it lands exactly
    *    on a .5 boundary (which grid-valued gradients make common:
    *    an earlier float-gradient form was caught by the
    *    local==distributed spec flipping one weight by 1 micro-unit
    *    when a persist changed partition sum order).
    *
    * The DuckDB oracle replays ALL `iters` iterations bit-exactly
    * (generated CTE chain, one margin/probability/gradient/update
    * block per round). Driver state is (buckets+1) Longs; each
    * iteration is two aggregations of the persisted (doc, bucket)
    * frame — the only corpus-sized shuffle is building that frame
    * once. Labels: `isTarget` null rows are excluded; tokenless docs
    * drop (no features). */
  def trainQualityClassifier(docs: DataFrame, isTarget: Column,
                             idCol: String, textCol: String,
                             iters: Int = 8, lr: Double = 0.5,
                             buckets: Int = 512): (Array[Long], Long) = {
    require(iters >= 1, s"iters must be positive, got $iters")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = docs.sparkSession
    import spark.implicits._
    // persisted DOC-partitioned: every iteration's jobs aggregate or
    // join this frame BY DOC (margins groupBy doc; gradients join r on
    // doc, r itself doc-partitioned by its aggregation) — caching the
    // partitioning removes one corpus-frame exchange from each
    // iteration job. The PARTITION COUNT is sized from the input scan
    // rather than the session's shuffle parallelism (the Clustering
    // iteration-sizing discipline): every GD iteration re-pays the
    // per-task fixed cost over the cached partitioning, so a
    // laptop-scale corpus at the session's full width pays
    // iters x width x fixed-cost for milliseconds of integer compute
    // (measured at sf0.1: 4.0 s at 32 cached partitions vs 2.7 s at
    // 8); at cluster scale the scan carries >= the session width and
    // the cap keeps full parallelism.
    // scanPartitions (not a bare .rdd peek): a caller-supplied frame
    // containing shuffles — or a stream — must not run jobs at
    // operator-build time (r18 ADVICE); such inputs fall back to the
    // session's shuffle width, the pre-r18 sizing
    val featParts = math.max(4, math.min(
      docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      graft.util.Parallelism.scanPartitions(docs).getOrElse(Int.MaxValue)))
    val feats = presenceFeatures(docs, isTarget, idCol, textCol, buckets)
      .repartition(featParts, col("doc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = feats.select("doc").distinct().count()
      require(n > 0, "no labeled documents with tokens to train on")
      val w = Array.fill(buckets)(0L)
      var bias = 0L
      var it = 0
      while (it < iters) {
        val wDf = w.toIndexedSeq.zipWithIndex
          .map { case (wt, b) => (b.toLong, wt) }.toDF("b", "w")
        // integer margin -> integer micro-unit residual. Persisted:
        // both the per-bucket gradient job and the bias job consume
        // it, and without the persist each re-runs the margin
        // aggregation — doubling the round's dominant cost
        val r = feats.join(broadcast(wDf), "b")
          .groupBy("doc", "y").agg(sum("w").as("mg0"))
          .select(col("doc"),
            (col("y").cast("long") * 1000000L -
              round(lit(1e6) / (lit(1.0) +
                exp(-(col("mg0") + bias).cast("double") / 1e6)), 0)
                .cast("long"))
              .as("r"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // per-bucket gradients AND the bias gradient in ONE action:
          // the bias is the sum of residuals over docs, i.e. exactly a
          // pseudo-bucket (-1, r) row per doc unioned into the same
          // groupBy — halves the scheduler round-trips per iteration
          // (2 jobs -> 1; the margin aggregation is computed once
          // either way, r is persisted). Bucket ids are >= 0 by
          // construction, so -1 can never collide.
          val grads = feats.join(r, "doc")
            .select(col("b"), col("r"))
            .unionAll(r.select(lit(-1L).as("b"), col("r")))
            .groupBy("b").agg(sum("r").as("g"))
            .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
          val gBias = grads.getOrElse(-1L, 0L)
          var b = 0
          while (b < buckets) {
            w(b) += roundAway(lr * grads.getOrElse(b.toLong, 0L) / n)
            b += 1
          }
          bias += roundAway(lr * gBias / n)
        } finally { r.unpersist(); () }
        it += 1
      }
      (w, bias)
    } finally { feats.unpersist(); () }
  }

  /** Score documents under a trained classifier: integer micro-unit
    * margin (`score_micro` — BIGINT, exact, no rounding surface) and
    * the decision `pred = margin > 0`. Same feature derivation as
    * training; label-null docs score too (pass `lit(0)` as isTarget's
    * stand-in via the y column being unused here). */
  def scoreQualityClassifier(docs: DataFrame, idCol: String,
                             textCol: String, weights: Array[Long],
                             bias: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val feats = presenceFeatures(docs, lit(0), idCol, textCol,
      weights.length)
    val wDf = weights.toIndexedSeq.zipWithIndex
      .map { case (wt, b) => (b.toLong, wt) }.toDF("b", "w")
    feats.join(broadcast(wDf), "b")
      .groupBy("doc").agg((sum("w") + bias).as("score_micro"))
      .select(col("doc"), col("score_micro"),
        (col("score_micro") > 0L).as("pred"))
  }

  /** Tercile labels over a scored frame's `avg_lp` — the shared back
    * half of both [[perplexityBuckets]] overloads (one copy of the
    * bucket rule, zero drift — review finding): avg_lp is rounded to
    * 4 decimals, so ×10^4 is integral up to FP dust and
    * round-to-nearest lands every score exactly on the long grid;
    * boundaries are discrete data values via the shared
    * `discreteBounds` cum-sum, 1-row broadcast, row-local label. */
  private def tercileBuckets(scored: DataFrame,
                             passthrough: Seq[String]): DataFrame = {
    val g = scored.withColumn("__s",
      round(col("avg_lp") * 10000, 0).cast("long"))
    val bounds = Sampling.discreteBounds(g, "__s", Seq(1.0 / 3, 2.0 / 3))
    g.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(col("__s") > col("__b1"), lit("head"))
          .when(col("__s") > col("__b0"), lit("middle"))
          .otherwise(lit("tail")))
      .select((Seq("doc") ++ passthrough ++
        Seq("avg_lp", "bucket")).map(col): _*)
  }

  /** CCNet-style head/middle/tail partition (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", LREC 2020): score every document against a reference-
    * corpus language model, then split the scored population into
    * terciles — "head" (most reference-like) through "tail" (least) —
    * so downstream mixing can keep head+middle, or sample the tail at
    * a reduced rate, exactly as CCNet ships its crawl slices. The LM
    * is [[CorpusStats.bigramLogProbAgainst]] (the engine's held-out
    * bigram model — CCNet uses a 5-gram KenLM; same shape, same
    * decision rule: mean log-probability per document, higher = more
    * reference-like).
    *
    * Bucket boundaries are DISCRETE data values on an integer grid
    * (the 4-decimal-rounded score scaled by 10^4), computed with the
    * same cum-sum construction as [[Sampling.lengthBuckets]] — so the
    * tercile edges are hash-stable across engines by construction,
    * never subject to 1-ulp quantile-interpolation flips. Ties at a
    * boundary all land on the same side (documents sharing a rounded
    * score are indistinguishable to the filter, as they should be).
    *
    * Scale shape: scoring is bigramLogProbAgainst's (train counts
    * shuffle once at vocabulary grain; scored bigrams shuffle to the
    * count joins); the boundary frame is a 1-row broadcast over the
    * distinct-score aggregate; the bucket label is a row-local
    * comparison. Nothing new shuffles.
    *
    * Output: (doc, n_bigrams, n_unseen, avg_lp, bucket∈{head,middle,
    * tail}). Documents with fewer than two tokens have no bigrams and
    * drop out (bigramLogProbAgainst's contract). */
  def perplexityBuckets(train: DataFrame, score: DataFrame, idCol: String,
                        textCol: String, k: Double = 0.5): DataFrame =
    tercileBuckets(
      CorpusStats.bigramLogProbAgainst(train, score, idCol, textCol, k),
      Seq("n_bigrams", "n_unseen"))

  /** CCNet buckets at the PAPER's grain — order-n scoring (Wenzek et
    * al. use a 5-gram KenLM; this is the engine's 5-gram with stupid
    * backoff, [[CorpusStats.ngramLogProbAgainst]]) instead of the
    * order-2 surrogate above. Same flip-immune tercile construction
    * on the integer grid; the scoring plan is the n-gram model's (one
    * count-table shuffle per order, doc-windowed contexts), the
    * bucketing adds only the 1-row bounds broadcast.
    *
    * Output: (doc, n_tokens, n_oov, n_backed, avg_lp, bucket) —
    * every doc with ≥1 token appears (the unigram floor scores even
    * 1-token docs, unlike the bigram form's ≥2). */
  def perplexityBuckets(train: DataFrame, score: DataFrame, idCol: String,
                        textCol: String, order: Int, alpha: Double,
                        k: Double): DataFrame =
    tercileBuckets(
      CorpusStats.ngramLogProbAgainst(train, score, idCol, textCol,
        order, alpha, k),
      Seq("n_tokens", "n_oov", "n_backed"))

  /** The DoReMi multiplicative-weights loop over STATIC per-domain
    * excess losses — shared verbatim between [[doremiWeights]]'s
    * driver path and SelectionSpec's local twin (the unigramEmCore
    * discipline: one loop implementation, zero drift). All state is
    * integer: weights in micro-units, the per-round multiplier
    * `1e6 + roundAway(eta · excess_i4 · 100)` (excess is on the 1e-4
    * loss grid, ×100 lifts it to micro-units), and renormalization
    * `roundAway(raw/total · 1e6)` — the one double division per
    * (domain, round), computed from exact longs, so any engine
    * replays every round bit-identically. Input rows:
    * (source, n_docs, loss_global_i4, loss_own_i4). Returns
    * (source → (excess_i4, weight_micro, alpha_micro)). */
  private[graft] def doremiLoop(perSource: Seq[(String, Long, Long, Long)],
                                rounds: Int, eta: Double,
                                smoothMicro: Long): Map[String, (Long, Long, Long)] = {
    val kDom = perSource.length
    require(kDom >= 1, "no domains to weight")
    val ex = perSource.map { case (src, _, lg, lo) =>
      src -> math.max(0L, lg - lo) }.toMap
    var w = perSource.map { case (src, _, _, _) => src -> 1000000L }.toMap
    var r = 0
    while (r < rounds) {
      val raw = perSource.map { case (src, _, _, _) =>
        src -> w(src) * (1000000L + roundAway(eta * (ex(src) * 100L).toDouble))
      }.toMap
      val total = raw.values.sum
      w = perSource.map { case (src, _, _, _) =>
        src -> roundAway(raw(src).toDouble / total.toDouble * 1000000.0)
      }.toMap
      r += 1
    }
    perSource.map { case (src, _, _, _) =>
      val alpha = roundAway(((1000000L - smoothMicro) * w(src)).toDouble /
          1000000.0) + roundAway(smoothMicro.toDouble / kDom)
      src -> ((ex(src), w(src), alpha))
    }.toMap
  }

  /** DoReMi-style domain-weight LEARNING (Xie et al., "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    * NeurIPS 2023): learn per-source mixture weights by exponentiated-
    * gradient ascent on per-domain EXCESS loss, then smooth with the
    * uniform distribution — the paper's Algorithm 1 with this engine's
    * held-out bigram LM standing in for the proxy/reference model
    * pair. The loss surrogate: the REFERENCE loss of domain d is its
    * own specialist model (held-out docs of d scored by counts trained
    * on d's train split — the best a model of this family achieves on
    * d), the PROXY loss is the global generalist (same docs under
    * counts trained on ALL domains); the excess
    * `max(0, L_global(d) − L_own(d))` upweights domains the
    * generalist underserves relative to their intrinsic entropy —
    * exactly the paper's argument for excess over raw loss. The
    * multiplicative update uses the Hedge-style linear multiplier
    * `(1 + eta·excess)` rather than `exp(eta·excess)` (both are the
    * public MW recipe — Freund & Schapire 1997) because it keeps the
    * whole loop on the integer grid: no transcendental whose last ulp
    * could differ across engines.
    *
    * Determinism: per-doc scores land on the 1e-4 grid (the engine's
    * round-4 avg-of-logs convention); per-domain sums of those grid
    * values are exact integer arithmetic, the per-domain mean is one
    * double division of exact longs, and [[doremiLoop]] replays in
    * any engine bit-exactly — the quality classifier's quantization
    * discipline applied to mixture learning.
    *
    * Plan shape at 100 TB: the global model is
    * [[CorpusStats.bigramLogProbAgainst]]'s (count tables shuffle once
    * at vocabulary grain); the per-domain model re-keys the same
    * streams by (source, gram) — same volume, one extra key column —
    * and the per-source vocabulary frame broadcasts (#domains rows).
    * Driver state is #domains × 4 longs (the mixture-component count —
    * tens, by the same bounded-collect contract as the classifier's
    * 513 gradient rows). Docs with a NULL source carry no domain label
    * and are excluded; a held-out domain absent from train has no
    * specialist model and drops (both loudly documented here rather
    * than silently mis-scored).
    *
    * Output: (source, n_docs, loss_global_i4, loss_own_i4, excess_i4,
    * weight_micro, alpha_micro) — losses in 1e-4 nats, weights/alpha
    * in micro-units summing to ~1e6 (±1 per domain of rounding dust),
    * ready for [[Sampling]]'s byWeight/temperature mixers. */
  def doremiWeights(train: DataFrame, heldout: DataFrame, idCol: String,
                    textCol: String, sourceCol: String, rounds: Int = 4,
                    eta: Double = 0.5, smoothMicro: Long = 200000L,
                    k: Double = 0.5): DataFrame = {
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    require(eta > 0.0, s"eta must be positive, got $eta")
    require(smoothMicro >= 0L && smoothMicro <= 1000000L,
      s"smoothMicro must be in [0, 1e6], got $smoothMicro")
    import graft.functions.TextFunctions
    val tr = train.where(col(sourceCol).isNotNull)
    val ho = heldout.where(col(sourceCol).isNotNull)
    // proxy loss: the global generalist
    val g = CorpusStats.bigramLogProbAgainst(tr, ho, idCol, textCol, k)
      .select(col("doc"),
        round(col("avg_lp") * 10000, 0).cast("long").as("gi"))
    // reference loss: each domain's own specialist — the same count
    // joins re-keyed by (src, gram); per-source vocab broadcasts
    val c2 = tr.select(col(sourceCol).as("src"),
        explode(TextFunctions.wordNgramsAll(col(textCol), 2)).as("bg"))
      .groupBy("src", "bg").agg(count(lit(1)).as("c2"))
      .hint("shuffle_hash")
    val ug = tr.select(col(sourceCol).as("src"),
        explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("src", "w").agg(count(lit(1)).as("c1"))
      .hint("shuffle_hash")
    val vd = ug.groupBy("src").agg(count(lit(1)).as("__v"))
    val o = ho.select(col(idCol).as("doc"), col(sourceCol).as("src"),
        explode(TextFunctions.wordNgramsAll(col(textCol), 2)).as("bg"))
      .join(c2, Seq("src", "bg"), "left_outer")
      .withColumn("w", substring_index(col("bg"), " ", 1))
      .join(ug, Seq("src", "w"), "left_outer")
      .join(broadcast(vd), Seq("src")) // train-absent domains drop
      .withColumn("__lp", log(
        (coalesce(col("c2"), lit(0L)) + lit(k)) /
          (coalesce(col("c1"), lit(0L)) + lit(k) * col("__v"))))
      .groupBy("doc")
      .agg(round(avg(col("__lp")), 4).as("avg_lp"))
      .select(col("doc"),
        round(col("avg_lp") * 10000, 0).cast("long").as("oi"))
    doremiFromDocScores(ho, idCol, sourceCol, g, o, rounds, eta,
      smoothMicro)
  }

  /** DoReMi at the ORDER-n grain — [[doremiWeights]] with both loss
    * passes routed through the stupid-backoff LM
    * ([[CorpusStats.ngramLogProbAgainst]]'s model for the global
    * generalist, the same model per source for each domain's
    * specialist) instead of the add-k bigram surrogate: the paper's
    * excess-loss signal at CCNet's actual 5-gram grain is just
    * `order = 5` here. Everything downstream of the two scoring
    * passes — the 1e-4 loss grid, the integer MW rounds, the uniform
    * smoothing — is the SAME [[doremiLoop]] engine, so the learned
    * mixture remains bit-reproducible on any cluster; the distributed
    * work is two vocabulary-shaped order-n scoring plans (each: one
    * count shuffle per order + the doc-windowed score side), both
    * already decade-probed. */
  def doremiWeights(train: DataFrame, heldout: DataFrame, idCol: String,
                    textCol: String, sourceCol: String, order: Int,
                    alpha: Double, rounds: Int, eta: Double,
                    smoothMicro: Long, k: Double): DataFrame = {
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    require(eta > 0.0, s"eta must be positive, got $eta")
    require(smoothMicro >= 0L && smoothMicro <= 1000000L,
      s"smoothMicro must be in [0, 1e6], got $smoothMicro")
    val tr = train.where(col(sourceCol).isNotNull)
    val ho = heldout.where(col(sourceCol).isNotNull)
    // Both loss passes in ONE fused plan (optimization guide §2.4:
    // share exchanges instead of recomputing): the specialist pass
    // needs per-source count tables C_j(src, g_j) — and the
    // generalist's global tables are exactly those summed over src
    // (counts are additive), its (N, V) row is (sum c1, #rows) of the
    // summed unigram table (the ngramLogProbAgainstIndex derivation),
    // and its position stream is the specialist's minus the src
    // column. Spark's ReuseExchange then runs every corpus-sized
    // subtree once: measured at sf0.1 this replaced the generalist's
    // five tokenize+explode count scans, both nv token scans, and its
    // own position build with vocabulary-shaped aggregates over the
    // specialist pass's exchanges. Scores are bit-identical: long
    // count sums are exact and the 128-bit gram digests are the
    // engine-wide collision-free join-key contract.
    val srcCounts = CorpusStats.ngramCountsUnified(tr, textCol, order,
      Some(sourceCol))
    val globalCounts = srcCounts
      .groupBy("j", "g").agg(sum("c").as("c"))
    val nvGlobal = broadcast(globalCounts.where(col("j") === 1)
      .agg(sum("c").as("__n"), count(lit(1)).as("__v")))
    val nvSrc = srcCounts.where(col("j") === 1).groupBy("src")
      .agg(sum("c").as("__n"), count(lit(1)).as("__v"))
    val pos = CorpusStats.gramPositions(ho, idCol, textCol, order,
      Some(sourceCol))
    val g = CorpusStats.ngramScoreTailFromPos(globalCounts, nvGlobal,
        pos.drop("src"), order, alpha, k, None)
      .select(col("doc"),
        round(col("avg_lp") * 10000, 0).cast("long").as("gi"))
    val o = CorpusStats.ngramScoreTailFromPos(srcCounts, nvSrc, pos,
        order, alpha, k, Some(sourceCol))
      .select(col("doc"),
        round(col("avg_lp") * 10000, 0).cast("long").as("oi"))
    doremiFromDocScores(ho, idCol, sourceCol, g, o, rounds, eta,
      smoothMicro)
  }

  /** The shared back half of both [[doremiWeights]] grains (one copy
    * of the aggregation + loop + output shape, zero drift): per-domain
    * integer loss means from the per-doc 1e-4-grid scores, the
    * [[doremiLoop]] MW rounds, and the output frame. Driver state is
    * #domains × 4 longs by the bounded-collect contract. */
  private def doremiFromDocScores(ho: DataFrame, idCol: String,
                                  sourceCol: String, g: DataFrame,
                                  o: DataFrame, rounds: Int, eta: Double,
                                  smoothMicro: Long): DataFrame = {
    val spark = ho.sparkSession
    import spark.implicits._
    val perSource = ho.select(col(idCol).as("doc"),
        col(sourceCol).as("src"))
      .join(g, "doc").join(o, "doc")
      .groupBy("src").agg(count(lit(1)).as("n"),
        sum("gi").as("sg"), sum("oi").as("so"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        roundAway((-r.getLong(2)).toDouble / r.getLong(1)),
        roundAway((-r.getLong(3)).toDouble / r.getLong(1))))
      .toSeq.sortBy(_._1)
    val learned = doremiLoop(perSource, rounds, eta, smoothMicro)
    perSource.map { case (src, n, lg, lo) =>
      val (ex, wm, am) = learned(src)
      (src, n, lg, lo, ex, wm, am)
    }.toDF("source", "n_docs", "loss_global_i4", "loss_own_i4",
      "excess_i4", "weight_micro", "alpha_micro")
      .orderBy("source")
  }
}
