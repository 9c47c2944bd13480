package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Handle to a persisted incremental n-gram COUNT-TABLE index — the
  * corpus-shaped artifact behind the CCNet-style quality signal
  * ([[CorpusStats.ngramLogProbAgainst]]), given the same
  * build/extend/compact/drop lifecycle as every other index family
  * (the [[SpanIndex]] template: gram-keyed counts are exactly its
  * shape). One bucketed table per order j: (16-byte BINARY gram
  * digest g, occurrence count n), one row per distinct j-gram per
  * ingest slice — counts are additive over id-disjoint ingests, so a
  * nightly crawl folds in O(delta) instead of re-counting the corpus,
  * and scoring folds slices Exchange-free out of the g buckets. N and
  * V (token total, vocabulary) are DERIVED from the folded unigram
  * table, so no side state can drift from the counts. The doc ledger
  * backs the disjoint-ids guard. */
case class NgramIndex(name: String, path: String, numBuckets: Int,
                      order: Int) {
  def gramsTable(j: Int): String = s"${name}_g$j"
  def docsTable: String = s"${name}_docs"
  def allTables: Seq[String] = (1 to order).map(gramsTable) :+ docsTable
}

/** Corpus-level frequency and cardinality statistics for training-data
  * curation at scale: exact heavy hitters without shuffling the full item
  * stream, and sketch-vs-exact certificates for the approximate
  * aggregates (HLL++ distinct counts, quantile sketches) a 100 TB
  * pipeline runs where exact computation is unaffordable.
  *
  * Reference scope: the reference engine's aggregation surface is
  * min/max/sum/avg/count/accumulate over windows
  * (/root/reference/functions, one file per agg); corpus-frequency
  * statistics are part
  * of this library's training-data extension, alongside
  * [[Dedup]]/[[Similarity]].
  */
object CorpusStats {

  /** Exact heavy hitters over `itemCol`: every item whose occurrence
    * count is at least `ceil(minShare * total)`, with its exact count and
    * share — computed WITHOUT shuffling the full item stream.
    *
    * Two-pass Misra–Gries + recount, the standard exact-at-scale shape:
    *
    *  1. '''Candidate pass''': each partition runs a Misra–Gries summary
    *     with `k = ceil(1/minShare) + 1` counters over its local items
    *     and emits only its surviving candidate items plus its local row
    *     count. MG guarantees every item with local count
    *     `> n_p / (k+1)` survives; an item with global share >= minShare
    *     must (pigeonhole over `sum n_p`) reach local share >= minShare
    *     in at least one partition, and `minShare > 1/(k+1)` by choice of
    *     k — so the union of per-partition candidates is a SUPERSET of
    *     every true heavy hitter. Only `<= k` items per partition leave
    *     the executors.
    *  2. '''Recount pass''': exact `groupBy(item).count` restricted to
    *     the candidate set via a broadcast semi-join, then filter by the
    *     exact threshold. False candidates die here, so the final result
    *     is exact and independent of the partition layout
    *     (CorpusStatsSpec pins invariance under repartition).
    *
    * At 100 TB this is the difference between shuffling one row per
    * distinct n-gram per partition (vocabulary ~ corpus size for n-grams,
    * URLs, hashes) and shuffling `O(partitions / minShare)` candidate
    * rows: the full stream is scanned twice but never shuffled. The two
    * scans are the deliberate trade — persist the exploded items only if
    * the upstream explode is more expensive than a re-scan.
    *
    * Returns `(item, n, share)` for items meeting the threshold; ordering
    * is the caller's. Null items are ignored.
    */
  def heavyHitters(items: DataFrame, itemCol: String,
                   minShare: Double): DataFrame = {
    require(minShare > 0.0 && minShare < 1.0,
      s"minShare must be in (0,1), got $minShare")
    val spark = items.sparkSession
    import spark.implicits._
    val k = math.ceil(1.0 / minShare).toInt + 1

    val base = items.select(col(itemCol).cast("string").as("item"))
      .where(col("item").isNotNull)

    // Pass 1: per-partition MG summaries. Each partition emits one
    // null-item row carrying its total row count plus one row per
    // surviving counter, so both the candidate set and the global total
    // come out of the single scan. <= k+1 rows per partition.
    val summaries = base.as[String].mapPartitions { it =>
      val counters = new scala.collection.mutable.HashMap[String, Long]
      var n = 0L
      while (it.hasNext) {
        val x = it.next()
        n += 1
        counters.get(x) match {
          case Some(c) => counters.update(x, c + 1L)
          case None =>
            if (counters.size < k) counters.update(x, 1L)
            else {
              // decrement-all step: amortized O(1) per item — each
              // decrement cancels one prior increment
              val dead = List.newBuilder[String]
              counters.foreach { case (key, c) =>
                if (c == 1L) dead += key else counters.update(key, c - 1L)
              }
              dead.result().foreach(counters.remove)
            }
        }
      }
      if (n == 0L) Iterator.empty
      else Iterator.single((n, null: String)) ++
        counters.keysIterator.map(item => (0L, item))
    }.toDF("part_total", "item")

    // Both derived frames are O(partitions * k); cache so the single MG
    // scan is not re-run for the total and the candidate set.
    summaries.persist()
    val totalRow = summaries.where(col("item").isNull)
      .agg(sum(col("part_total"))).as[Option[Long]].head()
    val total = totalRow.getOrElse(0L)
    if (total == 0L) {
      summaries.unpersist()
      return base.limit(0)
        .select(col("item"), lit(0L).as("n"), lit(0.0).as("share"))
    }
    val threshold = math.ceil(minShare * total).toLong
    // eager localCheckpoint: materializes the O(partitions * k) candidate
    // set so the MG scan's cache can be released before returning (the
    // returned plan must not pin it)
    val candidates = summaries.select(col("item"))
      .where(col("item").isNotNull).distinct()
      .localCheckpoint(true)
    summaries.unpersist()

    // Pass 2: exact recount of candidates only. The broadcast semi-join
    // prunes before the groupBy, so the shuffle carries at most the
    // candidate vocabulary (map-side partial counts make it one row per
    // candidate per partition).
    val out = base
      .join(broadcast(candidates), Seq("item"), "left_semi")
      .groupBy("item").agg(count(lit(1)).as("n"))
      .where(col("n") >= threshold)
      .select(col("item"), col("n"),
        round(col("n") / lit(total.toDouble), 6).as("share"))
    out
  }

  /** TF-IDF scoring over a document corpus: one row per (doc, term) with
    * the raw term frequency and `tf * (ln((N+1)/(df+1)) + 1)` — the
    * smoothed-idf formulation (df never zeroes the log, every term keeps
    * a positive weight), the same one scikit-learn's TfidfTransformer
    * documents. Tokenization is [[graft.functions.TextFunctions.tokens]]
    * (lower-cased whitespace split), the corpus-wide contract shared
    * with tokenCount and the DuckDB oracle.
    *
    * Plan shape: explode + groupBy(doc, term) is the one big shuffle
    * (map-side partial counts collapse duplicate tokens per partition
    * first); document frequency is a vocabulary-sized aggregate OF that
    * tf frame (one row per (doc, term) already, so a plain count), and
    * the corpus size joins in as a broadcast one-row aggregate — the
    * document bodies are never shuffled. With `persistTf` the tf frame
    * is cached across its two consumers (score rows + df aggregate);
    * left false, the explode pipeline runs twice — the standard
    * scan-twice vs. materialize trade, same dial as Dedup's
    * persistShingles.
    *
    * Output: (doc, term, tf, score), score rounded to 4 decimals.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String,
            persistTf: Boolean = false): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    val tfc = if (persistTf) tf.persist() else tf
    val dfreq = tfc.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("__n"))
    tfc.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .select(col("doc"), col("term"), col("tf"),
        round(col("tf") *
          (log((col("__n") + lit(1)) / (col("df") + lit(1))) + lit(1)), 4)
          .as("score"))
  }

  /** Count-based bigram log-probability scoring — perplexity-style
    * quality filtering WITHOUT an external language model: the corpus
    * is its own model. Per document, the mean `ln P(w2 | w1)` over its
    * bigram occurrences, with `P(w2|w1) = C(w1 w2) / C(w1)` (MLE;
    * self-scoring guarantees every observed bigram has nonzero count,
    * so no smoothing term is needed). Low scores flag documents whose
    * word transitions are rare in the corpus — gibberish, boilerplate
    * with unusual joins, wrong-language fragments — the same signal
    * perplexity filters use, reproducible by any SQL engine.
    *
    * Plan shape: the bigram-occurrence stream shuffles twice by n-gram
    * key (its own count join, then the first-word unigram join) and
    * once by doc for the final mean — all three carry (doc, short
    * string, count) rows, never document bodies. `persistBigrams`
    * caches the exploded stream across its two consumers, the same
    * dial as [[tfidf]]'s persistTf.
    *
    * Output: (doc, n_bigrams, avg_lp rounded to 4); documents with
    * fewer than two tokens have no bigrams and drop out.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    persistBigrams: Boolean = false): DataFrame = {
    import graft.functions.TextFunctions
    val bg0 = docs.select(col(idCol).as("doc"),
      explode(TextFunctions.wordNgramsAll(col(textCol), 2)).as("bg"))
    val bg = if (persistBigrams) bg0.persist() else bg0
    val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
    val ug = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    bg.join(c2, "bg")
      .withColumn("w", substring_index(col("bg"), " ", 1))
      .join(ug, "w")
      .groupBy("doc")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("c2") / col("c1"))), 4).as("avg_lp"))
  }

  /** Held-out bigram-LM scoring — the CCNet-style quality filter
    * (Wenzek et al., "CCNet", LREC 2020 use a wiki-trained LM; the
    * same shape at bigram order): train counts on one split, score
    * ANOTHER, so the score measures how much a document looks like the
    * reference corpus rather than how much it looks like itself
    * ([[bigramLogProb]]'s in-set formulation cannot distinguish the
    * two). Add-k smoothing makes unseen n-grams finite:
    * p(w2|w1) = (c2 + k) / (c1 + k·V) with V = the training unigram
    * vocabulary; a fully-unseen history scores k/(k·V) = 1/V. Output
    * per scored doc: (doc, n_bigrams, n_unseen, avg_lp) — `n_unseen`
    * is the OOV-bigram count, itself a strong junk signal.
    *
    * Scale shape: train counts shuffle once at vocabulary cardinality
    * with map-side combine; the scored side shuffles its bigram
    * instances to the LEFT joins (shuffle-hash against the count
    * tables — the train side is corpus-sized, never broadcast); V
    * broadcasts as a one-row frame. Downstream, keep docs above a
    * quantile with [[Features.quantileFilter]]. */
  def bigramLogProbAgainst(train: DataFrame, score: DataFrame,
                           idCol: String, textCol: String,
                           k: Double = 0.5): DataFrame = {
    require(k > 0.0, s"smoothing k must be positive, got $k")
    import graft.functions.TextFunctions
    val c2 = train
      .select(explode(TextFunctions.wordNgramsAll(col(textCol), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2")).hint("shuffle_hash")
    val ug = train
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1")).hint("shuffle_hash")
    val vocab = broadcast(ug.agg(count(lit(1)).as("__v")))
    score.select(col(idCol).as("doc"),
        explode(TextFunctions.wordNgramsAll(col(textCol), 2)).as("bg"))
      .join(c2, Seq("bg"), "left_outer")
      .withColumn("w", substring_index(col("bg"), " ", 1))
      .join(ug, Seq("w"), "left_outer")
      .crossJoin(vocab)
      .withColumn("__lp", log(
        (coalesce(col("c2"), lit(0L)) + lit(k)) /
          (coalesce(col("c1"), lit(0L)) + lit(k) * col("__v"))))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c2").isNull, 1L).otherwise(0L)).as("n_unseen"),
        round(avg(col("__lp")), 4).as("avg_lp"))
  }

  /** Exact powers alpha^0..alpha^maxExp by repeated MULTIPLICATION
    * (never Math.pow — libm pow results differ across engines at the
    * last ulp; a chain of IEEE multiplies from the same literal does
    * not). SparkEntry's oracle generator embeds these same doubles as
    * shortest-round-trip literals, so both engines score with
    * bit-identical backoff penalties. */
  private[graft] def alphaPowers(alpha: Double,
                                 maxExp: Int): IndexedSeq[Double] =
    Iterator.iterate(1.0)(_ * alpha).take(maxExp + 1).toIndexedSeq

  /** Held-out ORDER-n LM scoring with STUPID BACKOFF (Brants et al.,
    * "Large Language Models in Machine Translation", EMNLP 2007) — the
    * CCNet quality filter at its actual grain (Wenzek et al. bucket on
    * a 5-gram KenLM; [[bigramLogProbAgainst]] is the order-2
    * surrogate). Stupid backoff is the one n-gram smoothing DESIGNED
    * for this engine's execution model: the score
    *
    * {{{ S(w | h) = count(h w)/count(h)          if count(h w) > 0
    *              = alpha * S(w | shorter h)      otherwise }}}
    *
    * needs only raw count tables — no discounting state, no
    * normalization pass, no held-out tuning — which is exactly why
    * Brants et al. chose it for their distributed LM; Kneser-Ney's
    * continuation counts would add a per-history aggregate at every
    * order for ~no filtering benefit. Every token is scored at the
    * LONGEST history available (min(position, order-1) words — a
    * document's first token scores as a unigram with no penalty;
    * alpha penalizes only genuine backoff, i.e. using a shorter
    * history than the position offers). The unigram floor is add-k
    * over the training vocabulary, `(c1 + k)/(N + k·V)`, so OOV words
    * stay finite — the same convention as the bigram model.
    *
    * Determinism contract (the DuckDB oracle replays every branch):
    * backoff penalties are [[alphaPowers]]' exact multiply chain
    * embedded as literals in both plans; each branch's arithmetic is
    * `(apow * c) / c_ctx` over BIGINT counts — two IEEE ops from
    * identical inputs; only the final `round(avg(ln(s)), 4)` has a
    * summation-order surface, the engine-wide avg-of-logs convention.
    *
    * Plan shape at 100 TB — and why the count tables stay affordable:
    *
    *  - TRAIN side: `order` count tables C_1..C_order, each ONE
    *    map-side-combined shuffle at j-gram-vocabulary cardinality
    *    (Heaps-law growth, probed in ScaleProbe's ngram_lm decade
    *    branch — the 5-gram table grows with DISTINCT 5-grams, far
    *    sublinear in corpus tokens). They join shuffle-hash, never
    *    broadcast: at scale each is corpus-vocabulary-sized.
    *  - SCORE side: ONE doc-keyed window builds all `order` gram
    *    columns from lagged tokens (no token-array duplication — the
    *    r14 longdoc lesson: any per-position slice of a kept array is
    *    O(len²) per document), then the position stream shuffles once
    *    per count-table join carrying (doc, p, grams). Context counts
    *    are NOT joined: the count of the j-gram ending at p-1 IS
    *    lag(c_j) — a second doc-keyed window replaces order-1 more
    *    corpus-wide join shuffles, and the final groupBy(doc) reuses
    *    its partitioning exchange-free.
    *
    * Output per scored doc: (doc, n_tokens, n_oov, n_backed, avg_lp):
    * `n_oov` = tokens absent from the training vocabulary, `n_backed`
    * = positions that could not use their full available history —
    * both junk signals, like the bigram model's n_unseen. Docs with
    * ≥1 token appear (the unigram floor scores even 1-token docs). */
  def ngramLogProbAgainst(train: DataFrame, score: DataFrame,
                          idCol: String, textCol: String, order: Int,
                          alpha: Double = 0.4,
                          k: Double = 0.5): DataFrame = {
    require(order >= 2 && order <= 8,
      s"order must be in 2..8, got $order")
    import graft.functions.TextFunctions
    val countsU = ngramCountsUnified(train, textCol, order, None)
    // one-row broadcast: N and V DERIVED from the unigram slice of the
    // unified count table (sum of counts / row count — exact long sums,
    // digest keys are the engine-wide collision-free contract, and the
    // same derivation the index path uses), instead of a second full
    // tokenize+explode pass over the train corpus; ReuseExchange feeds
    // it from the count shuffle the scoring join already pays for
    val nv = broadcast(countsU.where(col("j") === 1)
      .agg(sum("c").as("__n"), count(lit(1)).as("__v")))
    ngramScoreTail(countsU, nv, score, idCol, textCol, order, alpha, k,
      None)
  }

  /** [[ngramLogProbAgainst]] with RAW gram-string join keys instead of
    * 16-byte digests — the pre-digest formulation, kept ONLY as the
    * ScaleProbe A/B twin so "digests shrink the shuffle" is a measured
    * bytes-and-wall decade comparison, never prose. Not a public
    * contract; output is identical to the digest path. */
  private[graft] def ngramLogProbAgainstStrKeys(
      train: DataFrame, score: DataFrame, idCol: String,
      textCol: String, order: Int, alpha: Double = 0.4,
      k: Double = 0.5): DataFrame = {
    import graft.functions.TextFunctions
    val countsU = ngramCountsUnified(train, textCol, order, None,
      digest = false)
    val nv = broadcast(countsU.where(col("j") === 1)
      .agg(sum("c").as("__n"), count(lit(1)).as("__v")))
    ngramScoreTail(countsU, nv, score, idCol, textCol, order, alpha, k,
      None, digest = false)
  }

  /** md5 digest (16 raw bytes) of a gram string — the engine's
    * shuffle-key convention for gram-shaped joins (the span-dedup
    * family established it for exactly this reason,
    * [[graft.expressions.TextExprs.gramHashes]]): count tables and the
    * score-side position stream join on fixed 16-byte BINARY keys
    * instead of up-to-`order` space-joined words, so every score-side
    * shuffle carries 16 bytes per gram column regardless of order.
    * Collision-safe at 128 bits; a NULL gram (too-short history)
    * digests to NULL and keeps its no-match join semantics. Digests
    * are internal — no output column ever renders one. Computed by the
    * [[graft.expressions.GramDigest]] kernel — bit-identical to
    * `unhex(md5(g))` but through the single-block fast path, so the
    * fixed-width-key trade costs a hash, not a MessageDigest + hex
    * round-trip per gram (the A/B decade probe prices both sides). */
  private def gdig(g: org.apache.spark.sql.Column) =
    graft.expressions.TextExprs.gramDigest(g)

  /** The order-1..order gram count frames over `train`, keyed by
    * 16-byte gram digest (`g\$j` -> `c\$j`) — each is ONE map-side-
    * combined shuffle at j-gram-vocabulary cardinality, shuffle-hash
    * pinned for its score-side join (never broadcast: at scale each is
    * corpus-vocabulary-sized). With `srcCol` set, keys are
    * (src, g\$j): the per-domain specialist tables the order-n DoReMi
    * form scores against. Shared by [[ngramLogProbAgainst]] and
    * [[buildNgramIndex]]/[[extendNgramIndex]] so batch and incremental
    * count at the identical grain. */
  private[graft] def ngramCounts(train0: DataFrame, textCol: String,
                                 order: Int,
                                 srcCol: Option[String],
                                 digest: Boolean = true): Seq[DataFrame] = {
    import graft.functions.TextFunctions
    def key(c: org.apache.spark.sql.Column) = if (digest) gdig(c) else c
    // NOT spread (Parallelism.spread) deliberately: tokenize+explode is
    // cheap per input byte (regex split), and the count aggregates are
    // map-side combined — measured at sf0.1, a pre-explode repartition
    // added two exchanges and ~30 ms/task of fixed cost per 32-task
    // stage for zero wall win on every ngram-family gate
    val train = train0
    (1 to order).map { j =>
      val g =
        if (j == 1) explode(TextFunctions.tokens(col(textCol)))
        else explode(TextFunctions.wordNgramsAll(col(textCol), j))
      val keyed = srcCol match {
        case Some(s) => train.select(col(s).as("src"), g.as("__g"))
          .select(col("src"), key(col("__g")).as(s"g$j"))
        case None => train.select(g.as("__g"))
          .select(key(col("__g")).as(s"g$j"))
      }
      keyed
        .groupBy((srcCol.map(_ => "src").toSeq :+ s"g$j").map(col): _*)
        .agg(count(lit(1)).as(s"c$j"))
        .hint("shuffle_hash")
    }
  }

  /** The score-side position stream: (doc, p, g1..g`order`) with every
    * gram column a 16-byte digest of the gram ending at p — ONE
    * doc-keyed window builds all `order` columns from lagged tokens
    * (no token-array duplication — the r14 longdoc lesson: any
    * per-position slice of a kept array is O(len²) per document).
    * concat null-propagates, so a position with a too-short history
    * gets NULL (concat_ws would silently collapse it onto the shorter
    * gram); the digest is taken row-locally BEFORE any shuffle, so
    * only 16-byte keys ever move. Shared by [[ngramScoreTail]] and
    * [[ArpaIO.scoreAgainst]] so the position grain can never drift
    * between the count-table and imported-model scorers. */
  private[graft] def gramPositions(score0: DataFrame, idCol: String,
                                   textCol: String, order: Int,
                                   srcCol: Option[String],
                                   digest: Boolean = true): DataFrame = {
    import graft.functions.TextFunctions
    // spread (re-measured r19): under the count()-pruned r18 bench the
    // posexplode stage looked cheap; the noop-timed plans show it as a
    // 1-2 task stage of ~1-2 s pure CPU (tokenize + posexplode + order
    // digest kernels per position) feeding the doc-window exchange —
    // the gramPositions digests are row-local work BEFORE the shuffle,
    // so the guarded redistribution parallelizes them at bench scale
    // and is a no-op at corpus scale
    val score = graft.util.Parallelism.spread(score0)
    val srcCols = srcCol.map(_ => "src").toSeq
    val w = Window.partitionBy("doc").orderBy("p")
    val gramCols = (1 to order).map { j =>
      val parts = ((j - 1) to 1 by -1).flatMap(d =>
        Seq(lag(col("tok"), d).over(w), lit(" "))) :+ col("tok")
      val g = if (j == 1) col("tok") else concat(parts: _*)
      (if (digest) gdig(g) else g).as(s"g$j")
    }
    score
      .select(srcCol.map(s => Seq(col(s).as("src"))).getOrElse(Nil) ++
        Seq(col(idCol).as("doc"),
          posexplode(TextFunctions.tokens(col(textCol)))
            .as(Seq("p0", "tok"))): _*)
      .select((srcCols :+ "doc").map(col) ++
        Seq((col("p0") + 1).as("p"), col("tok")): _*)
      .select((srcCols :+ "doc").map(col) ++ (col("p") +: gramCols): _*)
  }

  /** All `order` gram-count grains in ONE frame, keyed (src?, j, g):
    * one scan pass over `train` (each row concatenates its per-j gram
    * arrays tagged with j, exploded once) and ONE map-side-combined
    * count shuffle replace the `order` separate tokenize+explode+
    * groupBy plans of [[ngramCounts]] (guide §2.4: fewer exchanges,
    * same shuffled bytes — the per-order shuffles were disjoint slices
    * of exactly this one). Counts are identical to the per-order
    * tables: j rides in the key, so grams of different orders can
    * never merge. Used by every scoring path; [[ngramCounts]] stays
    * for the persisted per-order index layout (build/extend) and the
    * ARPA export, whose artifacts are per-order by contract. */
  private[graft] def ngramCountsUnified(train: DataFrame, textCol: String,
                                        order: Int, srcCol: Option[String],
                                        digest: Boolean = true): DataFrame = {
    import graft.functions.TextFunctions
    def key(c: org.apache.spark.sql.Column) = if (digest) gdig(c) else c
    val gramsAll = explode(concat((1 to order).map { j =>
      val arr =
        if (j == 1) TextFunctions.tokens(col(textCol))
        else TextFunctions.wordNgramsAll(col(textCol), j)
      transform(arr, g => struct(lit(j).as("j"), g.as("g")))
    }: _*))
    // spread: unlike the r18 per-order counts (5 regex-cheap scans the
    // count() action mostly pruned, where a pre-explode repartition
    // measured pure overhead), the unified scan does ALL orders' gram
    // construction + digests in one pass — a 1-2 task stage of >1 s
    // pure CPU at bench scale (stage profile in OPTIMIZATION_r19.md);
    // guarded no-op at corpus scale
    val spreadTrain = graft.util.Parallelism.spread(train)
    val keyed = srcCol match {
      case Some(s) => spreadTrain.select(col(s).as("src"), gramsAll.as("__jg"))
        .select(col("src"), col("__jg.j").as("j"),
          key(col("__jg.g")).as("g"))
      case None => spreadTrain.select(gramsAll.as("__jg"))
        .select(col("__jg.j").as("j"), key(col("__jg.g")).as("g"))
    }
    // no builder-level join hint: the tail applies shuffle_hash at its
    // join site (a frame-level hint here would also ride into the nv
    // aggregate consumers, where it is not part of a join and warns)
    keyed
      .groupBy((srcCol.map(_ => "src").toSeq ++ Seq("j", "g")).map(col): _*)
      .agg(count(lit(1)).as("c"))
  }

  /** The scoring tail shared by every stupid-backoff entry point
    * (direct [[ngramLogProbAgainst]], index-fed
    * [[ngramLogProbAgainstIndex]], and the by-source DoReMi form):
    * joins the position stream against the unified (src?, j, g)-keyed
    * count frame `countsU` and the `nv` (N, V) frame (one row, or one
    * row per src), then replays every backoff branch. See
    * [[ngramLogProbAgainst]] for the model and determinism contract. */
  private[graft] def ngramScoreTail(countsU: DataFrame, nv: DataFrame,
                                    score: DataFrame, idCol: String,
                                    textCol: String, order: Int,
                                    alpha: Double, k: Double,
                                    srcCol: Option[String],
                                    digest: Boolean = true): DataFrame =
    ngramScoreTailFromPos(countsU, nv,
      gramPositions(score, idCol, textCol, order, srcCol, digest),
      order, alpha, k, srcCol)

  /** [[ngramScoreTail]] over a PREBUILT position stream — the seam that
    * lets two scoring passes over the same held-out corpus (DoReMi's
    * generalist + specialist losses) share ONE [[gramPositions]]
    * subtree: within one plan the doc-keyed window exchange under the
    * positions canonicalizes identically on both sides, so the
    * tokenize + posexplode + digest work runs once and the second
    * consumer reads the reused exchange.
    *
    * Join shape (r19 restructure, guide §2.3/§2.4 — equivalence pinned
    * by NgramTailEquivalenceSpec against [[ngramScoreTailFromPosSeq]]):
    * the wide position row (doc, p, g1..g_order) is UNPIVOTED to one
    * slim (src?, doc, p, j, g) row per available order (g_j is NULL
    * iff p < j — those rows join to nothing by construction, so they
    * are dropped before the shuffle and the pivot rebuild reads the
    * missing cell back as NULL) and joined ONCE against the unified
    * (src?, j, g) count frame: one (src?, j, g)-keyed exchange on the
    * score side. The pivot rebuild groupBy(src?, doc, p) then collapses
    * the per-order rows on the map side and shuffles one wide row per
    * position through a (src?, doc, p) exchange. That partitioning does
    * not satisfy the doc-keyed lag window, so a third, doc-keyed
    * exchange follows; the final groupBy(doc) reuses it. Versus the
    * previous `order` sequential left joins (one join exchange per
    * order) this is 3 score-side exchanges whatever the order, and the
    * join's shuffled rows carry one 16-byte key instead of the
    * up-to-order-wide gram row with accumulated count columns (~60%
    * fewer score-side shuffle bytes at order 5). */
  private[graft] def ngramScoreTailFromPos(countsU: DataFrame,
                                           nv: DataFrame, pos: DataFrame,
                                           order: Int, alpha: Double,
                                           k: Double,
                                           srcCol: Option[String])
      : DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"backoff alpha must be in (0, 1], got $alpha")
    require(k > 0.0, s"smoothing k must be positive, got $k")
    val srcCols = srcCol.map(_ => "src").toSeq
    val jg = explode(array((1 to order).map(j =>
      struct(lit(j).as("j"), col(s"g$j").as("g"))): _*)).as("__jg")
    val stacked = pos
      .select((srcCols ++ Seq("doc", "p")).map(col) :+ jg: _*)
      .select((srcCols ++ Seq("doc", "p")).map(col) ++
        Seq(col("__jg.j").as("j"), col("__jg.g").as("g")): _*)
      .where(col("g").isNotNull)
    val joined = stacked
      .join(countsU.hint("shuffle_hash"),
        srcCols ++ Seq("j", "g"), "left_outer")
    // the pivot rebuild is a plain groupBy so its PARTIAL aggregate
    // collapses the `order` per-level rows back to one per position on
    // the map side — the (doc, p) exchange then carries P wide rows,
    // not order x P slim ones (an explicit repartition(doc) here was
    // measured 2x task time: it shipped every unpivoted row and
    // demoted the pivot to a single complete-mode aggregation)
    val cAggs = (1 to order).map(j =>
      max(when(col("j") === j, col("c"))).as(s"c$j"))
    val wide = joined
      .groupBy((srcCols ++ Seq("doc", "p")).map(col): _*)
      .agg(cAggs.head, cAggs.tail: _*)
    ngramBackoffFromWide(wide, nv, order, alpha, k, srcCol)
  }

  /** The backoff-branch replay over a wide (src?, doc, p, c1..c_order)
    * per-position frame — shared by the unified tail above and the
    * sequential reference below so the model arithmetic exists once. */
  private def ngramBackoffFromWide(wide: DataFrame, nv: DataFrame,
                                   order: Int, alpha: Double, k: Double,
                                   srcCol: Option[String]): DataFrame = {
    val apows = alphaPowers(alpha, order - 1)
    // exponent ∈ {0..order-1} selects its precomputed literal — the
    // conditions are disjoint, so the chain order is immaterial
    def alphaPow(e: org.apache.spark.sql.Column) =
      (1 until order).foldLeft(lit(1.0)) { (acc, i) =>
        when(e === i, lit(apows(i))).otherwise(acc) }
    val srcCols = srcCol.map(_ => "src").toSeq
    // context counts via lag: count of the j-gram ending at p-1 is the
    // denominator for the (j+1)-gram branch (a prefix of an observed
    // gram is observed at least as often, so the division is safe)
    val w2 = Window.partitionBy("doc").orderBy("p")
    val withCtx = wide.select(
      (srcCols :+ "doc").map(col) ++ Seq(col("p")) ++
        (1 to order).map(j => col(s"c$j")) ++
        (1 until order).map(j => lag(col(s"c$j"), 1).over(w2).as(s"b$j")): _*)
    val m = least(col("p"), lit(order)) // longest history available
    val base = alphaPow(m - 1) *
      (coalesce(col("c1"), lit(0L)) + lit(k)) /
      (col("__n") + lit(k) * col("__v"))
    val s = (2 to order).foldLeft(base) { (acc, j) =>
      when(col(s"c$j").isNotNull,
        alphaPow(m - j) * col(s"c$j") / col(s"b${j - 1}"))
        .otherwise(acc)
    }
    // the full-available-order count at this position — null means the
    // position backed off below what its history allowed
    val fullA = (2 until order).foldLeft(
      when(col("p") >= order, col(s"c$order"))) { (acc, j) =>
      acc.when(col("p") === j, col(s"c$j"))
    }
    val withNv = srcCol match {
      // per-src (N, V): broadcast #domains rows; inner join drops
      // held-out domains absent from train (no specialist model)
      case Some(_) => withCtx.join(broadcast(nv), Seq("src"))
      case None => withCtx.crossJoin(nv)
    }
    withNv
      .select(col("doc"),
        when(col("c1").isNull, 1L).otherwise(0L).as("__oov"),
        when(col("p") >= 2 && fullA.isNull, 1L).otherwise(0L)
          .as("__backed"),
        log(s).as("__lp"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_tokens"), sum("__oov").as("n_oov"),
        sum("__backed").as("n_backed"),
        round(avg(col("__lp")), 4).as("avg_lp"))
  }

  /** The pre-r19 sequential tail — `order` left joins of the wide
    * position row against per-order count frames (g\$j -> c\$j,
    * optionally (src, g\$j)-keyed). Kept as the reference
    * implementation NgramTailEquivalenceSpec pins the unified
    * [[ngramScoreTailFromPos]] against; not on any query path. */
  private[graft] def ngramScoreTailFromPosSeq(counts: Seq[DataFrame],
                                              nv: DataFrame, pos: DataFrame,
                                              order: Int, alpha: Double,
                                              k: Double,
                                              srcCol: Option[String])
      : DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"backoff alpha must be in (0, 1], got $alpha")
    require(k > 0.0, s"smoothing k must be positive, got $k")
    val srcCols = srcCol.map(_ => "src").toSeq
    val joined = counts.zipWithIndex.foldLeft(pos) { case (df, (c, i)) =>
      df.join(c, srcCols :+ s"g${i + 1}", "left_outer")
    }
    ngramBackoffFromWide(joined.select(
      (srcCols :+ "doc").map(col) ++ Seq(col("p")) ++
        (1 to order).map(j => col(s"c$j")): _*),
      nv, order, alpha, k, srcCol)
  }

  /** [[ngramLogProbAgainst]] per SOURCE — the specialist models
    * DoReMi's order-n loss passes score against: count tables re-keyed
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
    import graft.functions.TextFunctions
    val countsU = ngramCountsUnified(train, textCol, order, Some(srcCol))
    // per-src (N, V) derived from the per-src unigram slice — same
    // exact-derivation argument as the global form, one less corpus pass
    val nv = countsU.where(col("j") === 1).groupBy("src")
      .agg(sum("c").as("__n"), count(lit(1)).as("__v"))
    ngramScoreTail(countsU, nv, score, idCol, textCol, order, alpha, k,
      Some(srcCol))
  }

  /** Persist the corpus's order-1..order gram counts as a scorable
    * index — see [[NgramIndex]]. Each order's table is ONE map-side-
    * combined count shuffle (the same [[ngramCounts]] frames the
    * direct scorer builds), written bucketed+sorted by digest. */
  def buildNgramIndex(df: DataFrame, id: String, text: String,
                      order: Int, name: String, path: String,
                      numBuckets: Int = 32): NgramIndex = {
    require(order >= 2 && order <= 8,
      s"order must be in 2..8, got $order")
    val idx = NgramIndex(name, path, numBuckets, order)
    ngramCounts(df, text, order, None).zipWithIndex.foreach {
      case (c, i) =>
        val j = i + 1
        c.select(col(s"g$j").as("g"), col(s"c$j").as("n"))
          .write.mode(SaveMode.Overwrite)
          .bucketBy(numBuckets, "g").sortBy("g")
          .option("path", s"$path/${idx.gramsTable(j)}")
          .format("parquet").saveAsTable(idx.gramsTable(j))
    }
    df.select(col(id).cast("long").as("doc_id")).distinct()
      .write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, "doc_id").sortBy("doc_id")
      .option("path", s"$path/${idx.docsTable}")
      .format("parquet").saveAsTable(idx.docsTable)
    idx
  }

  /** Fold a crawl delta into the index: O(delta) — appends the delta's
    * own per-order gram-count slices plus its ledger ids; history is
    * never rescanned. Counts are additive over id-disjoint ingests
    * (guarded); probes fold slices with sum and [[compactNgramIndex]]
    * re-collapses. */
  def extendNgramIndex(delta: DataFrame, id: String, text: String,
                       idx: NgramIndex): Unit = {
    IndexAdmin.requireDisjointIds(delta, id, idx.docsTable, "doc_id",
      "extendNgramIndex")
    ngramCounts(delta, text, idx.order, None).zipWithIndex.foreach {
      case (c, i) =>
        val j = i + 1
        c.select(col(s"g$j").as("g"), col(s"c$j").as("n"))
          .write.mode(SaveMode.Append)
          .bucketBy(idx.numBuckets, "g").sortBy("g")
          .format("parquet").saveAsTable(idx.gramsTable(j))
    }
    delta.select(col(id).cast("long").as("doc_id")).distinct()
      .write.mode(SaveMode.Append)
      .bucketBy(idx.numBuckets, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(idx.docsTable)
  }

  /** [[ngramLogProbAgainst]] with the TRAIN side read out of a
    * persisted index instead of re-counted from text: per-order slices
    * fold Exchange-free out of their g buckets, N and V derive from
    * the folded unigram table (one row, broadcast), and the scoring
    * tail is byte-identical to the direct form — under the
    * id-disjointness contract the result EQUALS scoring against a
    * full retrain on corpus ∪ every folded delta (oracle-gated, the
    * q_dedup_spans_incr pattern). This is what makes the CCNet
    * quality signal delta-sized on a nightly crawl: the index is a
    * once-per-corpus artifact, extended in O(delta), and a scoring
    * run's train-side cost is a bucket fold, not an order-wide
    * re-count of 100 TB of history. */
  def ngramLogProbAgainstIndex(score: DataFrame, idCol: String,
                               textCol: String, idx: NgramIndex,
                               alpha: Double = 0.4,
                               k: Double = 0.5): DataFrame = {
    val spark = score.sparkSession
    // the per-order slice folds stay Exchange-free out of their g
    // buckets; tagging with j and unioning into the unified (j, g)
    // frame costs one vocabulary-sized re-key the slim unpivoted tail
    // (order-1 fewer score-side exchanges) more than pays for
    val countsU = (1 to idx.order).map { j =>
      spark.table(idx.gramsTable(j))
        .groupBy("g").agg(sum("n").as("c"))
        .select(lit(j).as("j"), col("g"), col("c"))
    }.reduce(_.unionAll(_))
    val nv = broadcast(
      spark.table(idx.gramsTable(1))
        .groupBy("g").agg(sum("n").as("n"))
        .agg(sum("n").as("__n"), count(lit(1)).as("__v")))
    ngramScoreTail(countsU, nv, score, idCol, textCol, idx.order, alpha,
      k, None)
  }

  /** Blue/green compaction: collapse each order's accumulated
    * per-ingest slices to one row per gram in a NEW index, then the
    * caller cuts over and drops the old one. */
  def compactNgramIndex(spark: SparkSession, idx: NgramIndex,
                        name: String, path: String): NgramIndex = {
    require(name != idx.name && path != idx.path,
      "compaction is blue/green: compact into a NEW name and path, " +
        "then drop the old index")
    val out = NgramIndex(name, path, idx.numBuckets, idx.order)
    (1 to idx.order).foreach { j =>
      spark.table(idx.gramsTable(j))
        .groupBy("g").agg(sum("n").as("n"))
        .write.mode(SaveMode.Overwrite)
        .bucketBy(out.numBuckets, "g").sortBy("g")
        .option("path", s"$path/${out.gramsTable(j)}")
        .format("parquet").saveAsTable(out.gramsTable(j))
    }
    Dedup.copyBucketed(spark, s"${idx.path}/${idx.docsTable}",
      out.docsTable, s"$path/${out.docsTable}", idx.numBuckets, "doc_id")
    out
  }

  def dropNgramIndex(spark: SparkSession, idx: NgramIndex): Unit =
    IndexAdmin.dropTablesAndPath(spark, idx.allTables, idx.path)

  /** BM25 ranked retrieval: for each named query, the top-`k` documents
    * by the Robertson/Lucene BM25 score
    *
    * {{{ score(q, D) = sum_t idf(t) * tf(t,D) * (k1+1)
    *                        / (tf(t,D) + k1 * (1 - b + b * |D| / avgdl)) }}}
    *
    * with the non-negative idf variant `ln(1 + (N - df + 0.5)/(df + 0.5))`
    * (the one Lucene documents — never negative, so a term present in
    * every document still contributes). Tokenization is
    * [[graft.functions.TextFunctions.tokens]] for BOTH sides, documents
    * and query strings, so the scoring contract matches tokenCount/tfidf
    * and the DuckDB oracle.
    *
    * Plan shape — the retrieval analog of [[tfidf]]'s discipline:
    *
    *  - ONE corpus-sized shuffle: `explode(tokens)` → `groupBy(doc,
    *    term)` with the per-doc length riding along as `first(dl)`
    *    (constant per doc, so it crosses the shuffle once instead of
    *    re-joining the corpus by doc later). Map-side partial counts
    *    collapse repeated tokens per partition first.
    *  - The query set broadcasts (queries are a handful of strings by
    *    contract), pruning the tf frame to query-vocabulary rows BEFORE
    *    anything else touches it — at 100 TB the post-prune frame is
    *    `docs-containing-a-query-term` rows, not the corpus.
    *  - Document frequency is computed from the PRUNED frame only
    *    (query-vocabulary terms; one row per (doc, term) already, so a
    *    plain count) and broadcasts back. N and avgdl are a one-row
    *    aggregate: the token-count sum is exact integer arithmetic
    *    (LongType until one final IEEE division), so avgdl is
    *    bit-identical across engines and partitionings.
    *  - The per-query ranking is `row_number <= k` over the rounded
    *    score — planner-recognized (InferWindowGroupLimit), so each map
    *    task keeps a bounded top-k heap per query before the final
    *    exchange. Ranking uses the ROUNDED score (ties broken by doc
    *    id) so an external engine reproduces the cut exactly.
    *
    * Output: `(query_id, doc, score, rank)`, score rounded to 4. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: Map[String, String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "bm25TopK needs at least one query")
    require(k > 0, s"k must be positive, got $k")
    import graft.functions.TextFunctions
    val spark = docs.sparkSession
    import spark.implicits._

    // query terms: same tokenizer as the corpus side, distinct per query
    val qt = queries.toSeq.toDF("query_id", "qtext")
      .select(col("query_id"),
        explode(TextFunctions.tokens(col("qtext"))).as("term"))
      .distinct()
    val qterms = broadcast(qt)

    // per-(doc, term) counts with the doc length riding the one shuffle.
    // The broadcast semi-join prunes to query vocabulary BELOW the
    // aggregate, so the exchange carries only query-term occurrences —
    // at 100 TB with a fixed query set that is a constant-ish frame, not
    // the corpus vocabulary. Dropped non-query terms contribute nothing
    // to tf, df, or the score, so the prune is semantics-free.
    // The lazy localCheckpoint materializes the pruned frame once for
    // its two consumers (df aggregate + score join) instead of
    // re-running the corpus explode.
    // dl is computed BELOW the generate and rides through it as a bare
    // 8-byte attribute. Any non-trivial expression in the same select
    // as a generator is planned in the projection ABOVE the Generate —
    // i.e. evaluated once per OUTPUT row — so the original
    // `tokenCount(text)` beside the explode re-ran the full-document
    // stats kernel per TOKEN row (O(n²) per document, a measured stall
    // on 10 MB documents).
    val tfq = docs
      .select(col(idCol).as("doc"),
        org.apache.spark.sql.functions.size(
          TextFunctions.tokens(col(textCol))).cast("long").as("dl"),
        TextFunctions.tokens(col(textCol)).as("__tk"))
      .select(col("doc"), col("dl"), explode(col("__tk")).as("term"))
      .join(broadcast(qt.select("term").distinct()), Seq("term"), "left_semi")
      .groupBy("doc", "term")
      .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
      .localCheckpoint(false)

    val dfreq = broadcast(
      tfq.groupBy("term").agg(count(lit(1)).cast("double").as("df")))
    // N and avgdl: exact integer token sum, one IEEE division — engines
    // agree bit-for-bit (a double-summed avg would not, order-dependent)
    val stats = broadcast(docs
      .select(TextFunctions.tokenCount(col(textCol)).cast("long").as("__dl"))
      .agg(count(lit(1)).cast("double").as("__n"),
        (sum(col("__dl")).cast("double") /
          count(lit(1)).cast("double")).as("__avgdl")))

    val contrib = tfq
      .join(qterms, "term")
      .join(dfreq, "term")
      .crossJoin(stats)
      .select(col("query_id"), col("doc"),
        (log(lit(1.0) + (col("__n") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast("double") / col("__avgdl"))))
          .as("__c"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc").asc)
    contrib.groupBy("query_id", "doc")
      .agg(round(sum(col("__c")), 4).as("score"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Distinct-count certificate: per group, the EXACT distinct count of
    * `itemCol` alongside a boolean asserting the HLL++ estimate
    * (`approx_count_distinct` at relative standard deviation `rsd`)
    * lands within `relTol` of it.
    *
    * The exact count exists to certify the sketch at test scale; at
    * 100 TB you run only the sketch column — HLL registers are fixed-size
    * (~`1.04/rsd²` bytes per group), merge associatively in the map-side
    * partial, and never shuffle the item stream, while `countDistinct`
    * shuffles every distinct item. The estimate is deterministic for a
    * given multiset (xxhash64-based registers, order-independent max
    * merge), so the certificate is stable across runs and partitionings.
    */
  def distinctCertificate(df: DataFrame, groupCol: String, itemCol: String,
                          rsd: Double = 0.01,
                          relTol: Double = 0.05): DataFrame = {
    // ONE deduplicating pass feeds BOTH aggregates (r19): a single
    // groupBy carrying countDistinct + the sketch triggers Spark's
    // single-distinct rewrite — a first aggregation at the
    // (group, item) grain that carries partial_approx_count_distinct
    // state, i.e. one multi-KB HLL register buffer PER DISTINCT ITEM,
    // through the exchange (plan evidence: the partial-merge node's
    // input row was 1641 columns wide — MS[0..1638] register words —
    // per (source, item); plans/r19/q_approx_distinct_before.txt).
    // Measured at sf0.1 under the noop action: GC-locker thrash on the
    // register allocations, 4.6 s wall / 3.8 s task for work worth
    // ~0.5 s. Instead the item
    // stream is deduplicated once at the (group, item) grain (partial
    // map-side combine, the same shuffle countDistinct's rewrite pays
    // anyway), and the per-group aggregate computes the exact count as
    // a plain count AND the sketch over the deduplicated stream — one
    // HLL register set per GROUP. The estimate is BIT-IDENTICAL to a
    // sketch over the raw stream: HLL register state is
    // max-of-hashes, a pure function of the distinct SET, so
    // deduplication cannot change it. Null handling matches
    // countDistinct/approx_count_distinct exactly: a (group, null) row
    // survives the distinct so an all-null group keeps its certificate
    // row, and both count(col) and the sketch skip the null itself.
    df.select(col(groupCol), col(itemCol)).distinct()
      .groupBy(col(groupCol))
      .agg(count(col(itemCol)).as("exact_distinct"),
        approx_count_distinct(col(itemCol), rsd).as("approx"))
      .select(col(groupCol), col("exact_distinct"),
        (abs(col("approx") - col("exact_distinct")) <=
          col("exact_distinct") * relTol).as("approx_ok"))
  }

  /** Quantile certificate: per group, the EXACT interpolated p50/p90 of
    * `valCol` (matching `quantile_cont` semantics, so an external SQL
    * oracle can reproduce them bit-for-bit after rounding) alongside
    * booleans asserting the quantile SKETCH (`percentile_approx`, a
    * KLL/GK-style summary with rank error <= 1/accuracy) returns a value
    * of rank within `rankTol * n` of the target.
    *
    * The rank check is sketch-agnostic: it recounts `rows <= approx` /
    * `rows < approx` per group in a second pass and accepts when the
    * target rank falls in (or within `rankTol` of) that interval — no
    * assumption about which element the sketch picks among ties. Exact
    * percentiles certify at test scale; at 100 TB only the sketch runs
    * (fixed-size summary, map-side mergeable — `percentile` shuffles and
    * sorts every value per group).
    */
  def quantileCertificate(df: DataFrame, groupCol: String, valCol: String,
                          accuracy: Int = 1000,
                          rankTol: Double = 0.1): DataFrame = {
    val v = col(valCol).cast("double")
    val agg = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      percentile_approx(v, array(lit(0.5), lit(0.9)), lit(accuracy))
        .as("ap"),
      expr(s"percentile(cast($valCol as double), array(0.5D, 0.9D))")
        .as("ex"))
      .select(col(groupCol), col("n"),
        col("ap").getItem(0).as("ap50"), col("ap").getItem(1).as("ap90"),
        col("ex").getItem(0).as("p50"), col("ex").getItem(1).as("p90"))

    // second pass: rank positions of the sketch's picks within each
    // group. Joins are NULL-SAFE (the Features.zscore discipline) —
    // a null group is its own stratum and must keep its certificate
    // row; the string-Seq join this replaced silently dropped it.
    val ranks = df.select(col(groupCol).as("__rg"), v.as("_v"))
      .join(agg.select(col(groupCol).as("__ag"), col("ap50"), col("ap90")),
        col("__rg") <=> col("__ag"))
      .groupBy(col("__rg")).agg(
        sum(when(col("_v") <= col("ap50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("_v") < col("ap50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("_v") <= col("ap90"), 1L).otherwise(0L)).as("le90"),
        sum(when(col("_v") < col("ap90"), 1L).otherwise(0L)).as("lt90"))

    def rankOk(le: String, lt: String, p: Double) = {
      val n = col("n").cast("double")
      (col(le) >= (lit(p) - lit(rankTol)) * n) &&
        (col(lt) <= (lit(p) + lit(rankTol)) * n)
    }

    agg.join(ranks, col(groupCol) <=> col("__rg"))
      .select(col(groupCol), col("n"),
        round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"),
        rankOk("le50", "lt50", 0.5).as("ok_p50"),
        rankOk("le90", "lt90", 0.9).as("ok_p90"))
  }

  /** Mergeable per-group distinct-count sketches — the INCREMENTAL
    * corpus-stats primitive: each ingest day builds one
    * (group, sketch) row with Spark's Datasketches HLL aggregate,
    * persists it (a few KB per group), and "distinct values per group
    * over any day range" is answered by UNIONING sketches — no history
    * re-scan, ever. HLL union takes register maxima, so it is
    * order-insensitive and associative: merging daily sketches equals
    * the single-pass sketch over the union EXACTLY (spec-pinned, the
    * same certify-the-sketch discipline as [[distinctCertificate]]),
    * and the estimate carries the standard ~1.04/sqrt(2^lgK) relative
    * error. */
  def distinctSketches(df: DataFrame, groupCol: String, valueCol: String,
                       lgK: Int = 12): DataFrame =
    df.groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))

  /** Union previously-built sketch rows per group (any number of days'
    * frames unioned into `sketches`). */
  def mergeDistinctSketches(sketches: DataFrame,
                            groupCol: String): DataFrame =
    sketches.groupBy(col(groupCol))
      .agg(hll_union_agg(col("sketch"), lit(true)).as("sketch"))

  /** Estimate per-group distinct counts from sketch rows. */
  def estimateDistinct(sketches: DataFrame, groupCol: String): DataFrame =
    sketches.select(col(groupCol),
      hll_sketch_estimate(col("sketch")).as("estimate"))

  /** Per-stratum corpus audit report — the data-card numbers a curation
    * run publishes: document and token counts, exact-duplicate rate
    * (1 − distinct fingerprints / docs), mean heuristic quality, and
    * the DISCRETE median length (an actual data value — the
    * [[Features.quantileFilter]] threshold construction, flip-immune).
    * One row per stratum.
    *
    * Scale shape: one pass computes per-doc signals row-locally
    * (codegen kernels); the report is a stratum-cardinality aggregate
    * with map-side combine, plus the tiny distinct-length cum-sum for
    * the median — the corpus shuffles (16-byte fp, stratum) pairs for
    * the distinct count and nothing bigger. */
  def corpusReport(df: DataFrame, idCol: String, stratumCol: String,
                   textCol: String): DataFrame = {
    val tf = graft.functions.TextFunctions
    val base = df.select(col(stratumCol).as("src"),
      tf.tokenCount(col(textCol)).cast("long").as("__ntok"),
      tf.qualityScore(col(textCol)).as("__q"),
      tf.fingerprint(col(textCol)).as("__fp"),
      length(col(textCol)).cast("long").as("__nch"))
    val agg = base.groupBy("src").agg(
      count(lit(1)).as("n_docs"),
      sum(col("__ntok")).as("n_tokens"),
      countDistinct(col("__fp")).as("n_distinct"),
      round(avg(col("__q")), 4).as("mean_quality"))
    // the shared per-group discrete-quantile construction (nulls
    // excluded from the median population)
    val med = Sampling.discreteQuantileByGroup(
        base.select(col("src").as("__g"), col("__nch").as("__v")), 0.5)
      .withColumnRenamed("__m", "p50_chars")
    // null-safe LEFT join (the Features.zscore discipline): a null
    // stratum is its own report row, never dropped — and a stratum
    // whose text is entirely null (a malformed ingest partition, the
    // exact rows an audit most needs) keeps its report row with a
    // null p50 instead of vanishing
    agg.join(med, col("src") <=> col("__g"), "left").drop("__g")
      .select(col("src"), col("n_docs"), col("n_tokens"),
        round(lit(1.0) - col("n_distinct").cast("double") /
          col("n_docs").cast("double"), 6).as("dup_rate"),
        col("mean_quality"), col("p50_chars"))
  }

  /** Cross-source overlap matrix — the mixture-planning signal "how
    * much of source A's content already lives in source B": for every
    * pair of strata, the Jaccard and containment of their DISTINCT
    * `n`-gram shingle SETS (corpus-level, not per-document). High
    * containment of a small source inside a big one means adding it
    * buys little new signal; the matrix is what a dedup/mixing plan is
    * priced against before any per-document work runs.
    *
    * Only overlapping pairs emit (a pair sharing zero shingles carries
    * zero information and its absence IS the answer).
    *
    * Scale shape: the (stratum, shingle) frame distincts ONCE (one
    * shuffle on the exact shingle string — exactness over hashing here,
    * since the output is counts an oracle replays; at 100 TB hash with
    * a collision-correction pass); per-stratum sizes are a tiny
    * aggregate; the pair counts self-join shuffles on the shingle with
    * both sides pinned shuffle-hash (corpus×corpus — never broadcast),
    * emitting (stratum, stratum) rows bounded by pairs-that-share, and
    * the final arithmetic is integer-exact single divisions. */
  def sourceOverlap(df: DataFrame, stratumCol: String, textCol: String,
                    n: Int): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    val ss = df
      .select(col(stratumCol).as("src"),
        explode(graft.functions.TextFunctions
          .wordShingles(col(textCol), n)).as("sh"))
      .distinct()
    val sizes = ss.groupBy("src").agg(count(lit(1)).as("n"))
    val shared = ss.hint("shuffle_hash").as("a")
      .join(ss.hint("shuffle_hash").as("b"),
        col("a.sh") === col("b.sh") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src1"), col("b.src").as("src2"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("src").as("src1"),
        col("n").as("n1"))), "src1")
      .join(broadcast(sizes.select(col("src").as("src2"),
        col("n").as("n2"))), "src2")
      .select(col("src1"), col("src2"), col("n1"), col("n2"),
        col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("n1") + col("n2") - col("n_shared")).cast("double"), 6)
          .as("jaccard"),
        round(col("n_shared").cast("double") /
          least(col("n1"), col("n2")).cast("double"), 6)
          .as("containment"))
  }

  /** Per-stratum distribution drift — KL(P_s ‖ P_corpus) of each
    * stratum's unigram distribution against the whole corpus, the
    * mixture-diagnostics complement of [[sourceOverlap]]: overlap says
    * "these sources repeat each other's CONTENT", divergence says
    * "this source's LANGUAGE is unlike the blend" (domain jargon,
    * boilerplate monoculture, wrong-language pockets). Data-mixing
    * work reweights toward/away from exactly this quantity (the
    * DoReMi/DSIR line of work measures domain shift the same way).
    * MLE estimates need no smoothing here BY CONSTRUCTION: every word
    * a stratum has occurs in the corpus, so P_corpus(w) > 0 on every
    * term of the sum, and P_s(w) = 0 terms contribute 0 (never
    * evaluated — only the stratum's own words are summed).
    *
    * Scale shape: the raw token stream aggregates ONCE at
    * (stratum, word) grain with map-side combine — the only shuffle
    * that sees per-token rows. Corpus word totals RE-aggregate that
    * frame (vocabulary-sized, joined back shuffle-hash on the word —
    * never broadcast); per-stratum totals and the corpus total are
    * tiny/one-row broadcasts. Document bodies never shuffle.
    *
    * Output: (stratum, n_tokens, kl rounded to 4), one row per
    * stratum. */
  def sourceDivergence(docs: DataFrame, stratumCol: String,
                       textCol: String,
                       persistCounts: Boolean = true): DataFrame = {
    // persistCounts caches the (stratum, word) aggregate — four
    // consumers (the KL join, word totals, stratum totals, the corpus
    // total), and the cached frame is the vocabulary-grained AGGREGATE,
    // not the raw token stream, so default-on
    val sw0 = docs
      .select(col(stratumCol).as("grp"),
        explode(graft.functions.TextFunctions
          .tokens(col(textCol))).as("w"))
      .groupBy("grp", "w").agg(count(lit(1)).as("c"))
    val sw = if (persistCounts) sw0.persist() else sw0
    val cw = sw.groupBy("w").agg(sum("c").as("cw"))
    // a NULL stratum is a legitimate groupBy group (docs with no source
    // tag are exactly the slice a drift report must not lose) — the
    // totals join is null-safe so it survives; the word join needs no
    // <=> (tokens() never yields null words)
    val ns = sw.groupBy("grp").agg(sum("c").as("ns"))
      .select(col("grp").as("__g"), col("ns"))
    val n = sw.agg(sum("c").cast("double").as("__n"))
    sw.join(cw.hint("shuffle_hash"), Seq("w"))
      .join(broadcast(ns), col("grp") <=> col("__g"))
      .crossJoin(broadcast(n))
      .groupBy("grp")
      .agg(sum("c").as("n_tokens"),
        round(sum((col("c") / col("ns")) *
          log((col("c") / col("ns")) / (col("cw") / col("__n")))), 4)
          .as("kl"))
  }
}
