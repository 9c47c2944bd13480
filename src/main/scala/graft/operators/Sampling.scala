package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus mixing: deterministic per-stratum token-budget sampling.
  *
  * Training-data pipelines rarely take a corpus whole — they take "N
  * tokens of web, M of books, K of code" from it, and the draw must be
  * (a) unbiased w.r.t. storage order, (b) exactly reproducible across
  * reruns and engines, and (c) order-stable under corpus APPENDS: a
  * doc's place in the per-stratum order is a pure function of its id,
  * so appending data can only advance the budget frontier past docs —
  * never reshuffle the draw — and every doc kept from the combined
  * corpus that existed before the append was also kept before
  * (kept(C∪D) ∩ C ⊆ kept(C), spec-pinned). The reference
  * engine has no sampling surface; this extends the LLM-pipeline layer
  * the same way splitAssign does, and uses the same engine-portable
  * hash (first 8 hex chars of md5) so an external system — or the
  * DuckDB oracle — can replicate the draw byte-for-byte.
  *
  * Scale shape: one hash-shuffle by stratum + a per-stratum window
  * cumulative sum. The per-stratum SORT is the scale cost — inherent
  * to an exact budget cut (the budget is a global property of the
  * stratum). At extreme stratum sizes the standard two-pass
  * refinement applies: estimate the hash cutoff from a sample, filter
  * to the frontier neighborhood, and sort only that sliver; the
  * exact operator here is the correctness anchor either way.
  */
object Sampling {

  /** Salted engine-portable order key (DuckDB:
    * `('0x' || substr(md5(salt || id::VARCHAR), 1, 8))::BIGINT`). */
  def orderHash(id: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), id.cast("string"))
      .cast("binary")), 1, 8), 16, 10).cast("bigint")

  /** Deterministic exact-n sample per stratum — the balanced-subset
    * draw (n docs per language/source for eval sets, annotation pools,
    * ablations): the n rows of each stratum with the smallest salted
    * [[orderHash]] (ties by id). A pure function of (ids, n, salt):
    * reruns and engines agree row-for-row, and appending new docs to a
    * stratum can only replace members whose hash outranks a new
    * arrival — never reshuffle the whole draw.
    *
    * Scale shape: one hash shuffle by stratum; the `row_number <= n`
    * filter is planner-recognized (InferWindowGroupLimit), so each map
    * task keeps a bounded top-n heap per stratum BEFORE the exchange —
    * the shuffle carries ~n rows per (task, stratum), not the corpus,
    * and no full per-stratum sort ever materializes. Skewed strata are
    * therefore bounded by n, not by their row count.
    *
    * Output: the input columns of the sampled rows (no helper cols). */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       n: Long, salt: String = "graft"): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(orderHash(col(idCol), salt), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= n)
      .drop("__rk")
  }

  /** Quality-ranked per-stratum cap — the C4/RefinedWeb-style "at most
    * n documents per domain" rule that stops a single crawl host from
    * dominating a training mix: per stratum (domain/source), keep the
    * `n` rows with the HIGHEST `scoreCol` (a quality signal), ties
    * broken by id. Contrast [[stratifiedSample]]: that draws a
    * hash-uniform subset; this keeps the best-scoring one — selection,
    * not sampling.
    *
    * Determinism contract: rank by the score VALUE with id as the
    * tie-break, so the kept set is a pure function of (ids, scores, n)
    * — reruns and external engines agree row-for-row. Callers ranking
    * on a float signal should pre-round it to their reproducibility
    * budget (the gate rounds to 6), since cross-engine float noise
    * below the rounding quantum would otherwise flip equal-score ranks.
    *
    * Scale shape: identical to [[stratifiedSample]] — one hash shuffle
    * by stratum, and the `row_number <= n` filter is
    * planner-recognized (InferWindowGroupLimit): each map task keeps a
    * bounded top-n heap per stratum BEFORE the exchange, so a skewed
    * mega-domain costs ~n rows per task, never a stratum sort.
    *
    * Output: the input columns of the kept rows + `__rk` (1-based rank
    * within the stratum) for auditability. */
  def capPerStratum(df: DataFrame, idCol: String, stratumCol: String,
                    scoreCol: String, n: Long): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= n)
  }

  /** Temperature (power-law) mixture sampling — the T5/mT5-style
    * mixture flattener: per stratum s with n_s rows, keep
    * `target_s = min(n_s, floor(rate * n_s^alpha))` rows, drawn in the
    * deterministic salted-hash order of [[stratifiedSample]].
    * `alpha < 1` flattens the source distribution (head strata
    * downsample aggressively, tail strata keep proportionally more);
    * `alpha = 1` keeps a proportional fraction; `alpha = 0` keeps
    * `floor(rate)` rows of every stratum.
    *
    * RATE form, not budget form, deliberately: `target_s` depends only
    * on the stratum's OWN count — no cross-stratum normalizing sum
    * whose floating accumulation order another engine could disagree
    * with. (Budget form — solve `rate` so the targets sum to a token
    * budget — is a driver-side solve over the tiny per-stratum count
    * frame.) Cross-engine exactness: `n^alpha` is bit-portable at
    * alpha 0.5/1/0 (`sqrt` is IEEE correctly-rounded and dispatched
    * explicitly; general `pow` is NOT correctly-rounded and carries no
    * cross-libm guarantee) — the gate pins alpha = 0.5.
    *
    * NOT append-stable, by contract: appending to a stratum moves its
    * `n_s` and therefore its target — unlike [[stratifiedSample]],
    * whose fixed n makes the draw append-monotone.
    *
    * Scale shape: a count aggregate at stratum cardinality broadcasts
    * back; the draw pays one hash shuffle by stratum + the per-stratum
    * window. The data-dependent limit defeats the planner's
    * row_number group-limit heap (it recognizes literal limits only),
    * so this sits on the [[byTokenBudget]] cost model — the
    * per-stratum sort is inherent to an exact count cut. */
  def temperatureSample(df: DataFrame, idCol: String, stratumCol: String,
                        rate: Double, alpha: Double,
                        salt: String = "graft"): DataFrame = {
    require(rate > 0.0, s"rate must be positive, got $rate")
    require(alpha >= 0.0 && alpha <= 1.0,
      s"alpha must be in [0, 1], got $alpha")
    val nD = col("__n").cast("double")
    val powered =
      if (alpha == 1.0) nD
      else if (alpha == 0.5) sqrt(nD) // correctly-rounded, engine-portable
      else if (alpha == 0.0) lit(1.0)
      else pow(nD, lit(alpha))
    // null-safe target join (the Features.zscore discipline): a null
    // stratum samples against its own target, never silently drops
    val targets = df.groupBy(col(stratumCol).as("__g"))
      .agg(count(lit(1)).as("__n"))
      .select(col("__g"),
        least(col("__n"), floor(lit(rate) * powered).cast("long"))
          .as("__target"))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(orderHash(col(idCol), salt), col(idCol))
    df.join(broadcast(targets), col(stratumCol) <=> col("__g"))
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= col("__target"))
      .select(df.columns.map(col).toSeq: _*)
  }

  /** Driver-side BUDGET solve for [[temperatureSample]]: the largest
    * rate `r` whose per-stratum targets `min(n_s, floor(r·n_s^alpha))`
    * sum to at most `budget`. The cross-stratum sum — exactly what the
    * distributed draw refuses to compute for portability — lives HERE,
    * driver-local over the tiny per-stratum count map (stratum
    * cardinality, not corpus), deterministic by bisection. Compose:
    * `temperatureSample(df, id, stratum, solveTemperatureRate(counts,
    * a, budget), a)`. The total is a step function of r, so the solved
    * rate undershoots `budget` by at most one doc per uncapped stratum
    * (capped strata stopped contributing). */
  def solveTemperatureRate(counts: Map[String, Long], alpha: Double,
                           budget: Long): Double = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(counts.nonEmpty && counts.values.forall(_ > 0),
      "counts must be non-empty positive stratum sizes")
    require(alpha >= 0.0 && alpha <= 1.0,
      s"alpha must be in [0, 1], got $alpha")
    // mirror temperatureSample's column dispatch exactly: sqrt at
    // alpha=0.5 (math.pow(x, 0.5) is not guaranteed equal to the
    // correctly-rounded sqrt, and a one-ulp difference at a knife-edge
    // solved rate flips floor(r*pow) by 1 per stratum, breaking the
    // budget the solver promised)
    def powered(n: Double): Double =
      if (alpha == 1.0) n
      else if (alpha == 0.5) math.sqrt(n)
      else if (alpha == 0.0) 1.0
      else math.pow(n, alpha)
    def target(r: Double, n: Long): Long =
      math.min(n, math.floor(r * powered(n.toDouble)).toLong)
    def total(r: Double): Long = counts.values.map(target(r, _)).sum
    var lo = 0.0
    // rMax: every stratum fully kept
    var hi = counts.values
      .map(n => (n + 1).toDouble / powered(n.toDouble)).max
    var i = 0
    while (i < 64) {
      val mid = (lo + hi) / 2
      if (total(mid) <= budget) lo = mid else hi = mid
      i += 1
    }
    lo
  }

  /** Deterministic weighted up/down-sampling by stratum — the "epochs"
    * side of corpus mixing: a mixing weight of 2.25 means every doc of
    * the stratum appears twice and a deterministic 25% of docs appear a
    * third time. Fractional copies are drawn by the same engine-portable
    * md5 hash as [[byTokenBudget]]'s order (mod 1e6 against a per-stratum
    * threshold of `round(frac(w) * 1e6)`), so the draw is reproducible
    * across reruns, engines, and corpus appends: a doc's copy count is a
    * pure function of (id, weight, salt). The 32-bit hash mod 1e6 has a
    * ~1e-4 relative bias toward the low residues — irrelevant for mixing
    * and the price of a draw an external SQL engine replicates exactly.
    *
    * Output: input columns + `__rep` (0-based copy ordinal). Strata
    * absent from `weights` are dropped — the mix is an explicit
    * contract, as in [[byTokenBudget]]. Weights below 1 Bernoulli-thin
    * the stratum; weight 0 drops it.
    *
    * Scale shape: ZERO shuffles — a broadcast join against the weight
    * table and a map-side `explode(sequence)`. The explode multiplies
    * bytes, not shuffle traffic; downstream consumers decide their own
    * partitioning.
    */
  def byWeight(df: DataFrame, idCol: String, stratumCol: String,
               weights: Map[String, Double],
               salt: String = "graft"): DataFrame = {
    require(weights.nonEmpty, "byWeight needs at least one stratum weight")
    // finite + bounded: Infinity would overflow the per-row copy count
    // into a silent drop, and even a "legitimate" 1e9 would explode a
    // billion rows per input row — both are caller bugs to fail on
    require(weights.valuesIterator.forall(w =>
      w >= 0.0 && !w.isNaN && w <= 1000000.0),
      s"weights must be finite, >= 0 and <= 1e6, got $weights")
    val sp = df.sparkSession
    import sp.implicits._
    val rows = weights.toSeq.map { case (stratum, w) =>
      val base = math.floor(w).toLong
      (stratum, base, math.round((w - base) * 1000000L))
    }
    val wdf = broadcast(rows.toDF(stratumCol, "__base", "__thresh"))
    df.join(wdf, stratumCol)
      .withColumn("__n", col("__base") +
        when(pmod(orderHash(col(idCol), salt), lit(1000000L)) < col("__thresh"),
          lit(1L)).otherwise(lit(0L)))
      .where(col("__n") > 0L)
      .withColumn("__rep", explode(sequence(lit(0L), col("__n") - 1L)))
      .drop("__base", "__thresh", "__n")
  }

  /** Apply LEARNED target shares (e.g. [[Selection.doremiWeights]]'
    * alpha_micro column) as a [[byWeight]] resample: each stratum's
    * mixing weight is its target SHARE divided by its CURRENT share,
    *
    * {{{ w_d = round(alpha_d / 10^6 · N / n_d, 6) }}}
    *
    * so over-represented strata thin toward their target (w < 1:
    * fractional keep) and under-represented ones upsample (w > 1:
    * copy counts) — both byWeight branches. The conversion lands on
    * the 6-decimal grid via one driver-side HALF_UP round per stratum
    * (the engine-wide grid convention), and the per-stratum counts are
    * a #strata-row bounded collect — the same contract as the learning
    * loop that produced the alphas. Strata present in `df` but absent
    * from `alphaMicro` are REFUSED (a silent zero weight would drop a
    * whole domain; pass an explicit 0 to mean that). */
  def byAlphaMicro(df: DataFrame, idCol: String, stratumCol: String,
                   alphaMicro: Map[String, Long],
                   salt: String = "graft"): DataFrame = {
    require(alphaMicro.nonEmpty, "byAlphaMicro needs at least one share")
    require(alphaMicro.valuesIterator.forall(_ >= 0L),
      s"alpha shares must be >= 0, got $alphaMicro")
    val grouped = df.groupBy(stratumCol).count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    // a NULL stratum would silently vanish in byWeight's weights join —
    // the exact silent-drop this operator exists to refuse
    require(!grouped.contains(None),
      s"${grouped.getOrElse(None, 0L)} rows carry a NULL $stratumCol — " +
        "filter or label them explicitly before mixing")
    val counts = grouped.map { case (k, n) => k.get -> n }
    val missing = counts.keySet -- alphaMicro.keySet
    require(missing.isEmpty,
      s"strata present in the frame but absent from alphaMicro: " +
        s"${missing.toSeq.sorted.mkString(", ")} — a silent zero " +
        "weight would drop whole domains; pass explicit 0 shares")
    val n = counts.values.sum
    val w = counts.map { case (stratum, nd) =>
      stratum -> BigDecimal(
        alphaMicro(stratum).toDouble / 1000000.0 * n / nd)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    byWeight(df, idCol, stratumCol, w, salt)
  }

  /** Deterministic weighted sampling WITHOUT replacement — the
    * Efraimidis–Spirakis A-Res draw (IPL 97(5), 2006): each row gets
    * key = ln(u) / w for a per-row uniform u, and the k largest keys
    * are the sample, which is distributionally identical to drawing k
    * rows one-by-one with probability ∝ weight. This is the
    * quality-weighted corpus draw ("sample 1M docs, favoring high
    * quality scores") that [[stratifiedSample]]'s uniform hash cannot
    * express.
    *
    * u is the salted 48-bit md5 hash mapped into (0, 1) — the
    * engine-portable [[orderHash]] discipline — so the draw is a pure
    * function of (ids, weights, k, salt): reruns and engines agree on
    * MEMBERSHIP. (The key VALUE itself crosses a libm boundary: Spark's
    * `log` and another engine's may differ in the last ulp, so callers
    * comparing across engines must compare the selected set, not raw
    * keys — measured min adjacent-key gap on the gate corpus is ~5e-9,
    * ten orders above ulp noise, so membership is stable.)
    *
    * Rows with non-positive weight are excluded — mathematically the
    * w → 0 limit (key → -∞, inclusion probability 0), not a silent
    * data fix.
    *
    * Scale shape: no window, no global sort — `orderBy(...).limit(k)`
    * plans TakeOrderedAndProject: each task keeps a k-bounded heap and
    * the driver merges k·tasks candidates, so 100 TB costs one scan
    * plus a k-sized reduction, and skew is irrelevant (no keyed
    * shuffle at all). Output: the input columns of the sampled rows. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, salt: String = "graft"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.where(col(weightCol) > 0)
      .withColumn("__key", aresKey(col(idCol), col(weightCol), salt))
      .orderBy(col("__key").desc, col(idCol).asc)
      .limit(k)
      .drop("__key")
  }

  /** The A-Res key ln(u)/w with u the salted 48-bit md5 uniform in
    * (0, 1) — shared by [[weightedSample]] and
    * [[weightedSamplePerStratum]]. */
  private def aresKey(id: Column, w: Column, salt: String): Column = {
    val u = (conv(substring(md5(concat(lit(salt), id.cast("string"))
        .cast("binary")), 1, 12), 16, 10).cast("bigint") + lit(0.5)) /
      lit(281474976710656.0) // 2^48
    log(u) / w
  }

  /** [[weightedSample]] per stratum: k rows of EACH stratum, drawn with
    * probability ∝ weight within the stratum — the balanced
    * quality-weighted draw ("100 docs per language, favoring quality").
    * Same A-Res key and membership-only cross-engine contract.
    *
    * Scale shape: the [[stratifiedSample]] discipline — one hash
    * shuffle by stratum, `row_number <= k` planner-recognized
    * (InferWindowGroupLimit) so each map task keeps a k-bounded heap
    * per stratum before the exchange; a skewed mega-stratum costs ~k
    * rows per task, never a stratum sort. */
  def weightedSamplePerStratum(df: DataFrame, idCol: String,
                               stratumCol: String, weightCol: String,
                               k: Int, salt: String = "graft"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("__key").desc, col(idCol).asc)
    df.where(col(weightCol) > 0)
      .withColumn("__key", aresKey(col(idCol), col(weightCol), salt))
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .drop("__key", "__rk")
  }

  /** Length-bucketed batching report — the padding-efficiency lever for
    * batched training/inference: documents batch with peers of similar
    * length, so the per-batch pad-to-max waste collapses (the dynamic-
    * batching/"bucketing by sequence length" standard practice). Rows
    * are assigned to `quantiles.size + 1` buckets by DISCRETE quantile
    * boundaries of `lenCol`: boundary `q` is the smallest ACTUAL data
    * value whose cumulative count reaches `ceil(q * n)` (the
    * `percentile_disc` convention). A boundary is therefore an integer
    * the data contains, and bucket assignment is an integer-vs-integer
    * strict `>` — engine-portable BY CONSTRUCTION. (The first cut used
    * interpolated `percentile` boundaries; when a boundary landed
    * exactly on a duplicated data value, a 1-ulp cross-engine
    * difference in the interpolation formula flipped those rows between
    * buckets — integers compared to interpolated doubles are never
    * hash-stable. Ties at a boundary all land in the LOWER bucket.)
    * Output is one row per bucket: count, min/max length, token sum,
    * and `padding_waste` = what pad-to-bucket-max costs — compare
    * against the single-bucket degenerate case to price the win.
    *
    * Scale shape: two scans, no sort of the corpus — boundaries come
    * from a (length -> count) frame whose cardinality is the number of
    * DISTINCT lengths (bounded by max document size, millions at most),
    * cum-summed in one tiny single-partition window and reduced to a
    * 1-row frame that broadcasts back (crossJoin against one row is
    * the foldable-frame pattern); bucket assignment is a row-local
    * comparison chain, and the report is a groupBy at bucket
    * cardinality with map-side combine. */
  def lengthBuckets(df: DataFrame, idCol: String, lenCol: String,
                    quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75))
      : DataFrame = {
    require(quantiles.nonEmpty && quantiles == quantiles.sorted &&
      quantiles.forall(q => q > 0.0 && q < 1.0),
      s"quantiles must be sorted fractions in (0,1), got $quantiles")
    val bounds = discreteBounds(df, lenCol, quantiles)
    val bucket = quantiles.indices
      .map(i => when(col(lenCol).cast("long") > col(s"__b$i"), 1L)
        .otherwise(0L))
      .reduce(_ + _)
    // a null length is EXCLUDED from the report (not silently bucketed:
    // the when..otherwise(0) chain would drop it into bucket 0, where
    // it would count in n_docs yet contribute nothing to min/max/sum —
    // a doc of unknown length cannot be batched). Same convention as
    // discreteBounds' population.
    df.select(col(idCol), col(lenCol))
      .where(col(lenCol).isNotNull)
      .crossJoin(broadcast(bounds))
      .withColumn("bucket", bucket)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col(lenCol)).cast("long").as("min_len"),
        max(col(lenCol)).cast("long").as("max_len"),
        sum(col(lenCol)).cast("long").as("sum_len"))
      .withColumn("padding_waste",
        col("max_len") * col("n_docs") - col("sum_len"))
  }

  /** Per-GROUP discrete `q`-quantile over a pre-projected
    * `(__g, __v)` frame: the smallest `__v` of the group whose
    * cumulative count reaches `ceil(q * n)` — the one shared
    * implementation of the cum-sum construction ([[discreteBounds]]'
    * per-group form; Features.quantileFilter/robustZscore and
    * CorpusStats.corpusReport all ride this). Null `__v` values are
    * excluded from the population (a null is never a quantile and
    * engines disagree on where nulls sort); a group with ONLY nulls
    * yields NO row — append-shaped callers must join back LEFT so
    * such groups keep their rows with a null statistic.
    * Returns `(__g, __m)` at group cardinality. */
  private[operators] def discreteQuantileByGroup(in: DataFrame,
                                                 q: Double): DataFrame = {
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    in.where(col("__v").isNotNull)
      .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .groupBy("__g")
      .agg(min(when(col("__cum") >= ceil(lit(q) * col("__n")), col("__v")))
        .as("__m"))
  }

  /** 1-row frame of DISCRETE quantile boundaries of `valueCol`
    * (columns `__b0..__b{k-1}`): boundary i is the smallest ACTUAL
    * data value whose cumulative count reaches `ceil(q_i * n)` — the
    * `percentile_disc` convention, built from a cum-summed
    * (value -> count) frame so no engine's quantile implementation is
    * trusted and every downstream comparison is integer-vs-integer
    * (see [[lengthBuckets]] for why interpolated boundaries are never
    * hash-stable; `ceil(q * n)` itself is one IEEE multiply + ceil,
    * bit-identical in any IEEE-754 engine). The frame has
    * distinct-value cardinality, so the unpartitioned windows are
    * deliberately tiny; q < 1 guarantees every boundary exists on a
    * non-empty frame. Shared by [[lengthBuckets]] and
    * [[Features.winsorize]]. */
  private[operators] def discreteBounds(df: DataFrame, valueCol: String,
                                        quantiles: Seq[Double])
      : DataFrame = {
    // nulls are EXCLUDED from the population: a null can never be a
    // boundary, and counting nulls into n would both inflate
    // ceil(q*n) and diverge cross-engine (Spark's ascending window
    // orders nulls first, DuckDB's cum-sum orders them last)
    val vcs = df.select(col(valueCol).cast("long").as("__v"))
      .where(col("__v").isNotNull)
      .groupBy("__v").agg(count(lit(1)).as("__c"))
    val wCum = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = vcs
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wAll))
    val boundAggs = quantiles.zipWithIndex.map { case (q, i) =>
      min(when(col("__cum") >= ceil(lit(q) * col("__n")), col("__v")))
        .as(s"__b$i")
    }
    cum.agg(boundAggs.head, boundAggs.tail: _*)
  }

  /** Sequence packing — the concat-then-chunk step that turns a curated
    * corpus into fixed-token-budget training sequences: documents are
    * laid end-to-end in a deterministic order and the token stream is
    * cut every `budget` tokens. Per document this emits its starting
    * token offset within its stratum's stream and the id of the
    * sequence its FIRST token lands in (`floor(offset / budget)`) —
    * enough for a writer to materialize shards, and for boundary docs
    * (those spanning a cut) to be identified as
    * `(offset + n_tok - 1) / budget > __seq`.
    *
    * The order is the same salted engine-portable hash as
    * [[byTokenBudget]] (ties by id), so packing is a pure function of
    * (ids, token counts, salt): appends to OTHER strata never move a
    * doc, and reruns/engines agree byte-for-byte.
    *
    * Scale shape: identical to byTokenBudget — one hash shuffle by
    * stratum + a per-stratum window prefix sum. Packing is per-stratum
    * by design (pretraining shards are built per source/mixture
    * component); a global single-stream packing would serialize on one
    * ordering and is the degenerate single-stratum call.
    *
    * Output: input columns + `__offset` (starting token offset, 0-based)
    * and `__seq` (sequence ordinal). Docs longer than `budget` span
    * multiple sequences; `__seq` is where they start.
    */
  def packSequences(df: DataFrame, idCol: String, stratumCol: String,
                    tokensCol: String, budget: Long,
                    salt: String = "graft"): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("__h").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__h", orderHash(col(idCol), salt))
      .withColumn("__offset",
        sum(col(tokensCol)).over(w) - col(tokensCol))
      .withColumn("__seq", floor(col("__offset") / lit(budget)))
      .drop("__h")
  }

  /** Covering slices for a packed corpus — what a shard writer actually
    * materializes. [[packSequences]] locates each doc's starting offset,
    * but a doc whose tokens span a cut contributes to SEVERAL
    * sequences; this emits one row per (doc, sequence) intersection:
    * `(stratum, seq, id, tok_start, tok_len)` with `tok_start`/`tok_len`
    * DOC-RELATIVE (the writer re-slices the doc's own token array
    * locally — token content never crosses a shuffle, the passage-dedup
    * discipline). Union of slices covers every sequence exactly: per
    * doc the slice lengths sum to its token count, per sequence they
    * sum to `budget` (except each stratum's tail sequence).
    *
    * Zero-token docs occupy no tokens and emit no slice.
    *
    * Scale shape: packSequences' one shuffle + window, then a row-local
    * explode with multiplicity `1 + floor((start%budget + n-1)/budget)`
    * — output rows ~ total_tokens/budget + docs, both linear. */
  def explodePackedSlices(df: DataFrame, idCol: String, stratumCol: String,
                          tokensCol: String, budget: Long,
                          salt: String = "graft"): DataFrame = {
    packSequences(df, idCol, stratumCol, tokensCol, budget, salt)
      .where(col(tokensCol) > 0L)
      .withColumn("__last",
        floor((col("__offset") + col(tokensCol) - 1L) / lit(budget)))
      .withColumn("seq", explode(sequence(col("__seq"), col("__last"))))
      .withColumn("tok_start",
        greatest(col("seq") * lit(budget) - col("__offset"), lit(0L)))
      .withColumn("tok_len",
        least((col("seq") + 1L) * lit(budget) - col("__offset"),
          col(tokensCol)) - col("tok_start"))
      .select(col(stratumCol), col("seq"), col(idCol),
        col("tok_start"), col("tok_len"))
  }

  /** Fill-in-the-middle transform (the FIM data augmentation infilling
    * models train on): a deterministic `pct`% of documents split into
    * (prefix, middle, suffix) at two salted-hash cut points and
    * reassemble in PSM sentinel order `pre+prefix+suf+suffix+mid+middle`
    * — the model learns to emit the middle AFTER seeing both sides.
    * The rest pass through unchanged (that mix ratio is the real
    * training knob).
    *
    * Everything is a pure function of (id, salt): selection is
    * `orderHash(id, salt) % 100 < pct`, the two cuts are independent
    * salted hashes mapped into `[1, n-1]` (so prefix and suffix are
    * never empty; the middle may be — cuts can coincide), and n counts
    * CODE POINTS. Reruns, engines, and the DuckDB oracle agree
    * byte-for-byte. Documents that are NULL or shorter than 2 code
    * points pass through (`fim_applied = false`, length columns NULL).
    *
    * Scale shape: row-local (three hash computations + substrings),
    * zero shuffle, stays inside whole-stage codegen — the 100 TB cost
    * is the rewrite bandwidth itself.
    *
    * Output: input columns + `fim_applied`, `n_prefix`, `n_middle`,
    * `n_suffix` (code points, NULL when not applied), `fim_text`. */
  def fimSplit(df: DataFrame, idCol: String, textCol: String,
               pct: Int = 60, salt: String = "fim",
               pre: String = "<PRE>", suf: String = "<SUF>",
               mid: String = "<MID>"): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be in [0,100], got $pct")
    val t = col(textCol)
    val n = length(t)
    val applied = t.isNotNull && n >= 2 &&
      orderHash(col(idCol), salt) % 100 < pct
    // cuts in [1, n-1]: evaluated only under `applied` (n >= 2), so
    // the modulus is never zero in either engine
    val span = (n - 1).cast("bigint")
    val ha = orderHash(col(idCol), salt + "-a") % span + 1L
    val hb = orderHash(col(idCol), salt + "-b") % span + 1L
    val c1 = least(ha, hb)
    val c2 = greatest(ha, hb)
    val psm = concat(lit(pre), t.substr(lit(1), c1),
      lit(suf), t.substr(c2 + 1L, n - c2),
      lit(mid), t.substr(c1 + 1L, c2 - c1))
    df.withColumn("fim_applied", applied)
      .withColumn("n_prefix", when(applied, c1))
      .withColumn("n_middle", when(applied, c2 - c1))
      .withColumn("n_suffix", when(applied, n.cast("bigint") - c2))
      .withColumn("fim_text", when(applied, psm).otherwise(t))
  }

  /** Keep, per stratum, the hash-ordered prefix of documents whose
    * running token total stays within that stratum's budget (strict:
    * the doc that would cross the budget is dropped). Strata absent
    * from `budgets` are dropped entirely — the mix is an explicit
    * contract. Output: input columns + `__cum` (the running total,
    * budget-inclusive) for auditability. */
  def byTokenBudget(df: DataFrame, idCol: String, stratumCol: String,
                    tokensCol: String, budgets: Map[String, Long],
                    salt: String = "graft"): DataFrame = {
    require(budgets.nonEmpty, "byTokenBudget needs at least one stratum budget")
    val sp = df.sparkSession
    import sp.implicits._
    val b = broadcast(budgets.toSeq.toDF(stratumCol, "__budget"))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("__h").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__h", orderHash(col(idCol), salt))
      .join(b, stratumCol)
      .withColumn("__cum", sum(col(tokensCol)).over(w))
      .where(col("__cum") <= col("__budget"))
      .drop("__h", "__budget")
  }

  /** Deterministic training-shard assignment: `shard =
    * orderHash(id, salt) mod nShards` — a pure function of (id, salt,
    * nShards), so reruns and engines agree, appends never move an
    * already-assigned document, and any worker can recompute a doc's
    * shard with no lookup table. The salted hash decorrelates shard
    * membership from id order (ids are usually crawl-ordered; an
    * unsalted modulo would put temporally-adjacent documents in the
    * same shard — exactly the correlation a training shuffle exists
    * to break). Row-local projection, zero shuffle. */
  def withShard(df: DataFrame, idCol: String, nShards: Int,
                salt: String = "shard"): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    df.withColumn("shard",
      pmod(orderHash(col(idCol), salt), lit(nShards.toLong)).cast("int"))
  }

  /** Shard manifest — the delivery audit table a downstream trainer
    * checks before reading a single payload byte: per shard, the doc
    * count, total payload size, and an ORDER-INVARIANT content
    * checksum (the sum of per-doc salted hashes — commutative, so
    * partition/file order cannot change it; exact BIGINT arithmetic
    * on 32-bit hash values never overflows below ~2^31 docs/shard;
    * engine-portable via the md5 convention, so the oracle replays
    * it). One k-row aggregate over one scan. */
  def shardManifest(df: DataFrame, idCol: String, charsCol: String,
                    nShards: Int, salt: String = "shard"): DataFrame =
    withShard(df, idCol, nShards, salt).groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col(charsCol)).as("n_chars"),
        sum(orderHash(col(idCol), salt + ":ck")).as("checksum"))
}
