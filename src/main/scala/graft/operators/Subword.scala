package graft.operators

import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._

/** Subword tokenization: three tokenizer families, each a per-word
  * segmenter, and the trainers that learn their vocabularies.
  *
  *  - Greedy longest-match against an explicit vocabulary
  *    (WordPiece-inference style, [[tokenizeWord]]): a position no
  *    vocab piece covers degrades to a single-char `<unk>` advance, so
  *    tokenization is total and deterministic. [[topNgramPieces]]
  *    mines candidate vocabularies.
  *  - BPE by a rank-ordered merge list ([[applyMergesRanked]]); the
  *    rules are what [[trainBpeMerges]] learns.
  *  - Unigram-LM Viterbi segmentation over a scored vocabulary
  *    ([[viterbiWord]]); the vocabulary is what [[trainUnigram]]
  *    learns, whose soft E-step segments with [[softWordCounts]].
  *
  * Scale shape — the Zipf trick: segmentation runs once per DISTINCT
  * word, never per occurrence. The corpus shuffles once into `(w, c)`
  * ([[corpusWords]]) or `(doc, w, c)` ([[docWords]]) counts (map-side
  * combine collapses repeats). One walk ([[walk]]) segments the
  * distinct-word frame — vocabulary-sized, orders of magnitude smaller
  * than the corpus — with the operator's segmenter; per-doc totals,
  * piece frequencies, id encodings and the unigram E-steps all join
  * its output back by word. Document bodies never cross a shuffle, and
  * per-word work is amortized over every occurrence.
  *
  * The DuckDB oracles replay each family over the same vocabulary or
  * rules (recursive CTEs for greedy and Viterbi, nested `replace` for
  * BPE). The reference engine has no tokenizer surface; this extends
  * the LLM-pipeline layer like [[CorpusStats]]. */
object Subword {

  /** The unk marker emitted for an uncovered single character. */
  val Unk = "<unk>"

  /** UTF-16 offsets of a word's code points: `offs(i)` starts the i-th
    * code point and the last entry is the word's length. Every
    * segmenter counts positions and piece lengths in CODE POINTS (an
    * astral character is one character, one unk), and candidate
    * substrings sit on code point boundaries — the character model of
    * Spark's and DuckDB's string functions. */
  private def cpOffsets(word: String): Array[Int] = {
    val offs = new Array[Int](word.codePointCount(0, word.length) + 1)
    var ci = 0
    var off = 0
    while (off < word.length) {
      offs(ci) = off
      ci += 1
      off += Character.charCount(word.codePointAt(off))
    }
    offs(ci) = word.length
    offs
  }

  /** One word as an array of CODE POINT strings — the initial BPE
    * segmentation shared by every local walk in this file. NOT
    * `word.split("")`: Java's split("") separates at UTF-16 code-unit
    * boundaries, so an astral character (emoji — a surrogate pair)
    * becomes TWO lone-surrogate symbols, silently diverging from
    * Spark SQL's `split(w, '')` and DuckDB's `string_split(w, '')`,
    * both of which are code-point based. */
  private[graft] def charSeg(word: String): Array[String] = {
    val offs = cpOffsets(word)
    Array.tabulate(offs.length - 1)(i => word.substring(offs(i), offs(i + 1)))
  }

  /** One word's segmentation: its pieces in word order, how many of
    * them are [[Unk]] (the segmenter's own count) and the path score
    * (0 where the family has none). `wt` weighs each piece in the
    * piece frequencies: 1 for every hard segmentation; the soft E-step
    * emits each piece once, weighted by its expected count in
    * micro-occurrences. Not `private`: the walk's generated serializer
    * calls its accessors, which Janino cannot resolve on a private
    * class. */
  private[graft] final case class Seg(w: String, ps: Array[String],
                                      wt: Array[Long], nu: Long,
                                      sc: Double)

  private def hardSeg(w: String, ps: Array[String], nu: Long,
                      sc: Double): Seg =
    Seg(w, ps, Array.fill(ps.length)(1L), nu, sc)

  /** A per-word segmenter, opened once per partition of the walk:
    * opening builds the lookup state (vocab set, score map, rank map)
    * that the returned function segments every word of the partition
    * with. */
  private type Segmenter = () => String => Seg

  /** The segmentation walk: every distinct word of `words`' `w` column,
    * segmented once. Output `(w, ps, wt, nu, sc)`, one row per
    * distinct word (see [[Seg]]). */
  private def walk(words: DataFrame, open: Segmenter): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    words.select(col("w")).distinct().as[String].mapPartitions { it =>
      val seg = open()
      it.map(seg)
    }.toDF()
  }

  /** The corpus word frame `(w, c)`: every distinct token of `textCol`
    * and its occurrence count. */
  private[graft] def corpusWords(docs: DataFrame,
                                 textCol: String): DataFrame =
    docs.select(explode(
        graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** The per-doc word frame `(doc, w, c)` — the one corpus-sized
    * shuffle of the per-doc operators. */
  private def docWords(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("doc", "w").agg(count(lit(1)).as("c"))

  /** Per-doc word counts joined to their words' segmentations, grouped
    * by doc over `(c, np, nu, sc)` — what the per-doc totals sum. */
  private def perDoc(docs: DataFrame, idCol: String, textCol: String,
                     open: Segmenter): RelationalGroupedDataset = {
    val dwc = docWords(docs, idCol, textCol)
    dwc.join(walk(dwc, open).select(col("w"),
        size(col("ps")).as("np"), col("nu"), col("sc")), "w")
      .groupBy("doc")
  }

  private def nPieces = sum(col("c") * col("np")).as("n_pieces")
  private def nUnk = sum(col("c") * col("nu")).as("n_unk")

  /** Corpus piece frequencies `(piece, n)` under a segmenter: every
    * piece weighted by its word's occurrence count (and its own weight,
    * see [[Seg]]); unks collapse into the `<unk>` row. */
  private def frequencies(wc: DataFrame, open: Segmenter): DataFrame =
    wc.join(walk(wc, open), "w")
      .select(col("c"), inline(arrays_zip(col("ps"), col("wt"))))
      .groupBy(col("ps").as("piece")).agg(sum(col("c") * col("wt")).as("n"))

  // ----------------------------------------------------------------
  // Greedy longest-match (WordPiece-inference style)
  // ----------------------------------------------------------------

  /** Greedy longest-match pieces of one word, and how many of them are
    * [[Unk]]. Pure function — the spec pins hand-computed vectors. */
  def tokenizeWord(word: String, vocab: Set[String],
                   maxPieceLen: Int): (List[String], Long) = {
    val offs = cpOffsets(word)
    val ncp = offs.length - 1
    val out = List.newBuilder[String]
    var nu = 0L
    var p = 0
    while (p < ncp) {
      var l = math.min(maxPieceLen, ncp - p)
      var found: String = null
      while (l >= 1 && found == null) {
        val cand = word.substring(offs(p), offs(p + l))
        if (vocab.contains(cand)) found = cand else l -= 1
      }
      if (found != null) { out += found; p += l }
      else { out += Unk; nu += 1; p += 1 }
    }
    (out.result(), nu)
  }

  private def greedy(vocab: Seq[String]): Segmenter = {
    require(vocab.nonEmpty, "subword vocab must not be empty")
    require(vocab.forall(_.nonEmpty), "vocab pieces must be non-empty")
    val maxLen = vocab.map(p => p.codePointCount(0, p.length)).max
    () => {
      val vs = vocab.toSet
      w => {
        val (ps, nu) = tokenizeWord(w, vs, maxLen)
        hardSeg(w, ps.toArray, nu, 0.0)
      }
    }
  }

  /** Per-document piece totals: `(doc, n_pieces, n_unk)` — the token
    * accounting a budget-packed training shard is built from. */
  def pieceCounts(docs: DataFrame, idCol: String, textCol: String,
                  vocab: Seq[String]): DataFrame =
    perDoc(docs, idCol, textCol, greedy(vocab)).agg(nPieces, nUnk)

  /** Corpus-wide piece frequencies: `(piece, n)`, every unk collapsed
    * into the `<unk>` row — the distribution a vocab curator audits
    * (and the gate that proves PIECE IDENTITY across engines, not just
    * counts). */
  def pieceFrequencies(docs: DataFrame, textCol: String,
                       vocab: Seq[String]): DataFrame =
    frequencies(corpusWords(docs, textCol), greedy(vocab))

  /** The top `k` character n-grams (lengths `minN..maxN`) of a `(w, c)`
    * frame by occurrence-weighted count, ties by piece: `(piece,
    * n_occ)`. All codegen'd `explode(sequence)` + `substring`; the
    * top-k is an `orderBy.limit` (TakeOrderedAndProject — a bounded
    * per-partition heap, no full sort). */
  private def topNgrams(wc: DataFrame, minN: Int, maxN: Int,
                        k: Int): DataFrame =
    wc.withColumn("n", explode(sequence(lit(minN), lit(maxN))))
      .where(length(col("w")) >= col("n"))
      .withColumn("s", explode(sequence(lit(0), length(col("w")) - col("n"))))
      .select(expr("substring(w, s + 1, n)").as("piece"), col("c"))
      .groupBy("piece").agg(sum(col("c")).as("n_occ"))
      .orderBy(col("n_occ").desc, col("piece").asc)
      .limit(k)

  /** Candidate-vocabulary mining — the TRAINING half of the greedy
    * tokenizer: the top-`k` character n-grams (lengths `minN..maxN`)
    * by occurrence-weighted frequency, rank ties broken by piece. This
    * is the candidate-scoring pass a BPE/WordPiece trainer iterates;
    * one pass of it is already a usable frequency-derived vocabulary
    * for [[pieceCounts]] (plus whatever single-char floor the caller
    * adds).
    *
    * Scale shape: n-grams are generated from the DISTINCT-word frame
    * (weighted by occurrence counts), and the candidate aggregate
    * shuffles (piece, count) pairs whose cardinality is bounded by
    * distinct words × piece lengths, never the corpus. The rank column
    * is windowed over the k survivors only.
    *
    * Output: `(piece, n_occ, rk)`, rk 1-based dense. */
  def topNgramPieces(docs: DataFrame, textCol: String, minN: Int,
                     maxN: Int, k: Int): DataFrame = {
    require(minN >= 1 && maxN >= minN,
      s"need 1 <= minN <= maxN, got $minN..$maxN")
    require(k > 0, s"k must be positive, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occ").desc, col("piece").asc)
    topNgrams(corpusWords(docs, textCol), minN, maxN, k)
      .withColumn("rk", row_number().over(w))
  }

  // ----------------------------------------------------------------
  // BPE merge training
  // ----------------------------------------------------------------

  /** Cap on the driver-local merge loop's WORKING SET (JVM-estimate
    * bytes, see the estimate in [[trainBpeMerges]]): the frame is
    * Zipf-small — even a 100 TB corpus has a distinct-word frame in
    * the tens of millions, and real BPE trainers run the merge loop
    * over exactly this frame in one process. 2 GiB admits frames
    * around 60M chars / 15M words, priced at what the loop actually
    * allocates, so a near-cap frame does not risk a multi-GB
    * driver-heap surprise. */
  private val LocalFrameBytes: Long = 2048L << 20

  /** BPE merge training (Sennrich et al., ACL '16) — learn `numMerges`
    * merge rules from the corpus. Rounds count adjacent symbol pairs
    * over the DISTINCT-word frame (occurrence-weighted: pair
    * statistics per distinct word, multiplied by its count, never a
    * per-occurrence walk), pick the most frequent pair (ties by (lhs,
    * rhs) — binary string order, so any engine agrees), and apply it
    * to every word as a left-to-right non-overlapping merge.
    *
    * Spark shape: ONE corpus-sized shuffle builds the word frame, and
    * its measured size picks the training shape. Because the frame is
    * Zipf-small it normally COLLECTS and the entire merge loop runs
    * driver-local with incrementally-maintained pair counts
    * ([[trainBpeMergesLocal]] — the standard in-memory BPE-trainer
    * shape: a 32k-merge vocab is one Spark job plus one local loop,
    * not 32k jobs). A frame whose working set would pass 2 GiB falls
    * back to the EXACT batched distributed trainer
    * ([[trainBpeMergesDistributed]]) — uncapped merge count, many
    * merges per round where the statistics prove it safe, one merge
    * per round in the worst case. The two produce identical rule lists
    * by construction (spec-pinned on adversarial corpora: overlapping
    * runs, cascading merges, count ties, shared-symbol candidates —
    * plus a randomized cross-check).
    *
    * [[bpeEncode]] is the apply path. No end-of-word marker is modeled
    * — merges never cross word boundaries here, which is the
    * within-word BPE variant; the marker is one column away if a
    * caller wants it.
    *
    * Returns `(rk, lhs, rhs, merged, pair_count)` — rank-ordered merge
    * rules; fewer than `numMerges` rows iff the corpus runs out of
    * pairs (every word fully merged). */
  def trainBpeMerges(docs: DataFrame, textCol: String,
                     numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be positive, got $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val wc = corpusWords(docs, textCol).persist()
    try {
      val st = wc.agg(count(lit(1)).as("nw"),
        coalesce(sum(length(col("w"))), lit(0L)).as("nc")).collect().head
      val (nWords, nChars) = (st.getLong(0), st.getLong(1))
      // models the TRAINING working set, not just the collected tuples:
      // per char — 2 B collected UTF-16 + 8 B interned-symbol array ref
      // + ~22 B amortized pair->word bitset index; per word — tuple +
      // String + symbol-array headers. Symbol strings themselves are
      // interned (one instance per distinct piece), so they don't scale
      // with nChars.
      val estBytes = 32L * nChars + 128L * nWords
      if (estBytes <= LocalFrameBytes)
        trainBpeMergesLocal(wc.as[(String, Long)].collect(), numMerges)
          .toDF("rk", "lhs", "rhs", "merged", "pair_count")
          .withColumn("rk", col("rk").cast("long"))
      else trainBpeMergesDistributed(wc, numMerges)
    } finally { wc.unpersist(); () }
  }

  /** Exact BATCHED distributed trainer (see [[trainBpeMerges]]) —
    * vocab-scale merge counts on frames that cannot sit on the driver,
    * with rule lists IDENTICAL to the sequential/local trainer by
    * construction, never by approximation.
    *
    * Each round runs a bounded set of jobs over the persisted symbol
    * frame: (1) the (pair, count) aggregate, top-`candK` candidates
    * collected through a bounded heap; (2) the symbol inventory of
    * that (already tiny) pair table; (3) adjacent-TRIPLE counts
    * restricted to the candidates (left_semi against the broadcast
    * candidate list — a triple matching two candidates still counts
    * once). A driver-side simulation then admits a BATCH of merges,
    * longest verified prefix of the true sequential merge sequence:
    *
    *  - a merge's effect on every tracked count is computed EXACTLY
    *    from the triples — each (x, l, r) adjacency destroys pair
    *    (x, l) and creates (x, l+r); each (l, r, y) destroys (r, y)
    *    and creates (l+r, y) — valid because admission excludes every
    *    pattern those local formulas cannot see: self patterns
    *    `l r l` (t3(l,r,l) must be 0, which also kills `l r l r`),
    *    adjacent occurrences of two batch rules (t3(li,ri,lj) and
    *    t3(lj,rj,li) must be 0 pairwise), merged-string collisions
    *    with live symbols (the inventory check), and l == r;
    *  - a candidate whose count an earlier batch merge DENTED, or a
    *    pair BORN this round, may be the true next pick — the batch
    *    closes before it rather than guessing (both are recomputed
    *    exactly next round);
    *  - with more live pairs than `candK`, the batch also closes once
    *    the pick's count no longer strictly exceeds the best
    *    uncollected pair's bound (the K+1-th count);
    *  - the round's FIRST pick is always applied even when the
    *    statistics cannot extend it (it is the global argmax of the
    *    full ordered aggregate) — so worst-case throughput degrades
    *    to the old one-merge-per-round shape, never to a wrong list.
    *
    * The batch applies in ONE `mapPartitions` scan (admission makes
    * batch rules pairwise non-adjacent, so a single left-to-right
    * pass equals sequential application; a forced lone rule gets the
    * same greedy non-overlapping walk as [[mergeWord]]), and the
    * frame re-persists so a round reads materialized symbols, not a
    * rounds-deep lineage. Triple statistics above `tripleCap` rows
    * (pathological frames) make the round fall back to the forced
    * single merge. */
  private[graft] def trainBpeMergesDistributed(wc: DataFrame,
      numMerges: Int, candK: Int = 4096, tripleCap: Int = 4000000)
      : DataFrame = {
    val spark = wc.sparkSession
    import spark.implicits._
    import scala.collection.mutable
    val pairsExpr = expr(
      """zip_with(slice(syms, 1, size(syms) - 1),
        |         slice(syms, 2, size(syms) - 1),
        |         (a, b) -> named_struct('l', a, 'r', b))""".stripMargin)
    // zero-length slices make words shorter than 3 symbols contribute
    // an empty triple array without a CASE branch
    val triplesExpr = expr(
      """zip_with(slice(syms, 1, greatest(size(syms) - 2, 0)),
        |  zip_with(slice(syms, 2, greatest(size(syms) - 2, 0)),
        |           slice(syms, 3, greatest(size(syms) - 2, 0)),
        |           (b, c) -> named_struct('b', b, 'c', c)),
        |  (a, bc) -> named_struct('a', a, 'b', bc.b, 'c', bc.c))"""
        .stripMargin)
    // rounds materialize through EAGER localCheckpoints (the
    // Clustering.connectedComponents pattern): persist would nest one
    // InMemoryRelation per round and the plan TREE (and every explain
    // string AQE renders) grows without bound over hundreds of rounds
    // — a measured driver OOM at vocab scale, not a style choice
    var cur: DataFrame = wc
      .select(split(col("w"), "").as("syms"), col("c"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val pairDF = cur
        .select(explode(pairsExpr).as("p"), col("c"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("c")).as("n"))
        .persist()
      val top = pairDF
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(candK + 1).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) { exhausted = true; pairDF.unpersist(); () }
      else {
        val knownAll = top.length <= candK
        val unknownBound = if (knownAll) Long.MinValue else top(candK)._3
        val cands = top.take(candK)
        // merged-string collision check: a symbol matters iff it
        // participates in some adjacency (a string colliding only with
        // lone single-symbol words can never change a pair count), so
        // the pair table's own symbols are the exact inventory
        val inventory: Set[String] = pairDF
          .select(explode(array(col("l"), col("r"))).as("s"))
          .distinct().as[String].collect().toSet
        pairDF.unpersist()
        val trips: Array[((String, String, String), Long)] =
          if (cands.length == 1) Array.empty
            // a 1-candidate frame with triples forces all-equal
            // adjacent pairs, i.e. l == r — forced-single below anyway
          else {
            val candDF = cands.toSeq.map(c => (c._1, c._2))
              .toDF("cl", "cr")
            cur
              .select(explode(triplesExpr).as("t"), col("c").as("cnt"))
              .join(broadcast(candDF),
                (col("t.b") === col("cl") && col("t.c") === col("cr")) ||
                  (col("t.a") === col("cl") && col("t.b") === col("cr")),
                "left_semi")
              .groupBy(col("t.a").as("ta"), col("t.b").as("tb"),
                col("t.c").as("tc"))
              .agg(sum(col("cnt")).as("n"))
              .limit(tripleCap + 1).collect()
              .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
                r.getLong(3)))
          }
        val tripleOverflow = trips.length > tripleCap
        val tripN = mutable.HashMap.empty[(String, String, String), Long]
        val tlIdx = mutable.HashMap
          .empty[(String, String), mutable.ArrayBuffer[(String, Long)]]
        val trIdx = mutable.HashMap
          .empty[(String, String), mutable.ArrayBuffer[(String, Long)]]
        if (!tripleOverflow) {
          val candSet = cands.map(c => (c._1, c._2)).toSet
          trips.foreach { case ((a, b, c), n) =>
            tripN.put((a, b, c), n)
            if (candSet((b, c)))
              tlIdx.getOrElseUpdate((b, c), mutable.ArrayBuffer.empty) +=
                ((a, n))
            if (candSet((a, b)))
              trIdx.getOrElseUpdate((a, b), mutable.ArrayBuffer.empty) +=
                ((c, n))
          }
        }
        def t3(a: String, b: String, c: String): Long =
          tripN.getOrElse((a, b, c), 0L)
        final class Cand(val l: String, val r: String, var n: Long,
                         val orig: Long)
        val candMap = mutable.LinkedHashMap.empty[(String, String), Cand]
        cands.foreach(c =>
          candMap.put((c._1, c._2), new Cand(c._1, c._2, c._3, c._3)))
        val newPairs = mutable.HashMap.empty[(String, String), Long]
        val selMerged = mutable.HashSet.empty[String]
        val batch = mutable.ArrayBuffer.empty[(String, String, Long)]
        var stop = false
        val maxBatch = numMerges - rank + 1
        while (!stop && batch.length < maxBatch) {
          // argmax over live candidates + pairs born this round:
          // (count desc, lhs, rhs) in UTF-8 byte order — the exact
          // sequential argmax, because every tracked count is exact
          var bl: String = null
          var br: String = null
          var bn = 0L
          var isNew = false
          def consider(l: String, r: String, n: Long, nw: Boolean): Unit =
            if (n > 0L && (bl == null || n > bn || (n == bn && {
              val cl = utf8Compare(l, bl)
              cl < 0 || (cl == 0 && utf8Compare(r, br) < 0)
            }))) { bl = l; br = r; bn = n; isNew = nw }
          candMap.valuesIterator.foreach(c => consider(c.l, c.r, c.n, false))
          newPairs.foreach { case ((l, r), n) => consider(l, r, n, true) }
          if (bl == null || isNew) stop = true
          else {
            val cd = candMap((bl, br))
            val m = bl + br
            val admissible =
              cd.n == cd.orig &&
                bl != br &&
                (knownAll || cd.n > unknownBound) &&
                !tripleOverflow &&
                t3(bl, br, bl) == 0L &&
                !inventory.contains(m) && !selMerged.contains(m) &&
                batch.forall { case (pl, pr, _) =>
                  t3(pl, pr, bl) == 0L && t3(bl, br, pl) == 0L }
            if (!admissible) {
              // inadmissible as a batch EXTENSION; as the round's first
              // pick it is still the exact global argmax — apply alone
              if (batch.isEmpty) {
                batch += ((bl, br, cd.n)); candMap.remove((bl, br)); ()
              }
              stop = true
            } else {
              batch += ((bl, br, cd.n))
              selMerged += m
              candMap.remove((bl, br))
              tlIdx.getOrElse((bl, br), mutable.ArrayBuffer.empty)
                .foreach { case (x, n) =>
                  newPairs.updateWith((x, m))(o => Some(o.getOrElse(0L) + n))
                  candMap.get((x, bl)).foreach(c => c.n -= n)
                }
              trIdx.getOrElse((bl, br), mutable.ArrayBuffer.empty)
                .foreach { case (y, n) =>
                  newPairs.updateWith((m, y))(o => Some(o.getOrElse(0L) + n))
                  candMap.get((br, y)).foreach(c => c.n -= n)
                }
            }
          }
        }
        batch.foreach { case (l, r, n) =>
          merges += ((rank, l, r, l + r, n))
          rank += 1
        }
        val bm = batch.map { case (l, r, _) => ((l, r), l + r) }.toMap
        cur = cur.as[(Seq[String], Long)].mapPartitions { it =>
          it.map { case (s, c) =>
            (applyBatchLocal(s.toArray, bm).toSeq, c)
          }
        }.toDF("syms", "c").localCheckpoint(true)
      }
    }
    merges.result()
      .toDF("rk", "lhs", "rhs", "merged", "pair_count")
      .withColumn("rk", col("rk").cast("long"))
  }

  /** One greedy left-to-right pass applying a BATCH of merge rules —
    * equal to applying them sequentially in rank order because
    * admission in [[trainBpeMergesDistributed]] guarantees no two
    * rules' occurrences are adjacent or overlapping in any word; for
    * a single rule this is exactly [[mergeWord]]'s non-overlapping
    * walk (including the l == r case). Merged outputs never re-match
    * (a rule's sides are pre-existing symbols; merged strings are
    * collision-checked against the live inventory). */
  private[graft] def applyBatchLocal(
      s: Array[String], rules: Map[(String, String), String])
      : Array[String] = {
    if (s.length < 2 || rules.isEmpty) return s
    val out = Array.newBuilder[String]
    out.sizeHint(s.length)
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length) {
        val m = rules.getOrElse((s(i), s(i + 1)), null)
        if (m != null) { out += m; i += 2 }
        else { out += s(i); i += 1 }
      } else { out += s(i); i += 1 }
    }
    out.result()
  }

  /** UTF-8 byte comparison — the binary string order Spark's
    * `orderBy(asc)` uses, so local tie-breaks equal distributed ones
    * even off-ASCII (Java's `compareTo` is UTF-16 code-unit order,
    * which DISAGREES with UTF-8 byte order for supplementary-plane vs
    * U+E000..U+FFFF text). */
  private[graft] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private def containsPair(s: Array[String], l: String, r: String)
      : Boolean = {
    var i = 0
    while (i < s.length - 1) {
      if (s(i) == l && s(i + 1) == r) return true
      i += 1
    }
    false
  }

  /** Left-to-right non-overlapping merge of one rule into one word:
    * every `l r` adjacency, scanned from the left with an i+2 skip
    * after each merge, becomes `l+r`. */
  private[graft] def mergeWord(s: Array[String], l: String, r: String,
                        lr: String): Array[String] = {
    val out = Array.newBuilder[String]
    out.sizeHint(s.length)
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
        out += lr; i += 2
      } else { out += s(i); i += 1 }
    }
    out.result()
  }

  /** Driver-local merge loop over a collected (word, count) frame —
    * bit-equal to the distributed trainer by construction: the same
    * per-code-POINT initial segmentation ([[charSeg]], matching Spark
    * SQL's `split(w, '')`), the same
    * left-to-right non-overlapping merge, and the same
    * (count desc, lhs, rhs) argmax in UTF-8 byte order. Pair counts
    * maintain INCREMENTALLY (only words containing the merged pair are
    * touched, found via an add-only pair->word index) with a
    * lazy-deletion max-heap for the argmax — the standard in-memory
    * BPE-trainer shape, so a 32k-merge vocab is one collect + one
    * local loop. */
  private[graft] def trainBpeMergesLocal(
      wordCounts: Array[(String, Long)],
      numMerges: Int): Seq[(Int, String, String, String, Long)] = {
    import scala.collection.mutable
    val nW = wordCounts.length
    val syms = new Array[Array[String]](nW)
    val cnt = new Array[Long](nW)
    // symbol strings are INTERNED: every occurrence of a 1-char symbol
    // (and later of a merged piece) shares one String instance, so the
    // per-char resident cost is the 8-byte array reference, not a
    // 40+-byte String per character — the working set the collect
    // estimate in trainBpeMerges models
    val intern = mutable.HashMap.empty[String, String]
    var i = 0
    while (i < nW) {
      syms(i) = charSeg(wordCounts(i)._1)
        .map(c => intern.getOrElseUpdate(c, c))
      cnt(i) = wordCounts(i)._2
      i += 1
    }
    val pairN = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]
    // dequeues the CURRENT argmax: greatest count, ties to the UTF-8
    // smallest (lhs, rhs); entries are snapshots, validated against
    // pairN on pop (lazy deletion)
    val ord = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String),
                  b: (Long, String, String)): Int = {
        val c1 = java.lang.Long.compare(a._1, b._1)
        if (c1 != 0) c1
        else {
          val c2 = utf8Compare(b._2, a._2)
          if (c2 != 0) c2 else utf8Compare(b._3, a._3)
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    def bump(wi: Int, sign: Long): Unit = {
      val s = syms(wi); val d = cnt(wi) * sign
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val n = pairN.getOrElse(p, 0L) + d
        if (n <= 0L) pairN.remove(p)
        else {
          pairN.update(p, n)
          heap.enqueue((n, p._1, p._2))
        }
        if (sign > 0L) pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += wi
        j += 1
      }
    }
    i = 0; while (i < nW) { bump(i, 1L); i += 1 }
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      var top: (Long, String, String) = null
      while (top == null && heap.nonEmpty) {
        val cand = heap.dequeue()
        if (pairN.get((cand._2, cand._3)).contains(cand._1)) top = cand
      }
      if (top == null) done = true
      else {
        val (n, l, r) = (top._1, top._2, top._3)
        val lr = intern.getOrElseUpdate(l + r, l + r)
        out += ((rank, l, r, lr, n))
        // the index is a SUPERSET (add-only): re-check adjacency before
        // paying the reprocess. After the pass no (l, r) adjacency
        // survives anywhere, so pairN(l, r) drains to zero via bump.
        val affected = pairWords.getOrElse((l, r), mutable.BitSet.empty)
        pairWords.remove((l, r))
        affected.foreach { wi =>
          if (containsPair(syms(wi), l, r)) {
            bump(wi, -1L)
            syms(wi) = mergeWord(syms(wi), l, r, lr)
            bump(wi, 1L)
          }
        }
        // lazy deletion means every count update leaves a stale heap
        // snapshot behind; over thousands of merges the heap would
        // otherwise grow without bound. When stale entries dominate
        // 4:1, rebuild from the live pair counts in one pass.
        if (heap.size > 4 * pairN.size + 1024) {
          heap.clear()
          pairN.foreach { case ((pl, pr), pn) => heap.enqueue((pn, pl, pr)) }
        }
        rank += 1
      }
    }
    out.result()
  }

  // ----------------------------------------------------------------
  // BPE apply
  // ----------------------------------------------------------------

  /** Ranked BPE apply for one word — the standard encoder loop, exact
    * for ANY rule list: starting from the word's characters, repeatedly
    * take the lowest rank ABOVE the last rank applied among the pairs
    * present, and merge all of that pair's occurrences left-to-right
    * ([[mergeWord]]), until no rule above the last one matches. This
    * is the sequential rank-order fold (every rule applied once, in
    * list order) with its no-op steps skipped: the word does not change
    * between two applied rules, so every rule ranked between them finds
    * its pair absent, exactly as the fold would. `ranks` keeps every
    * rank of a repeated pair ([[rankMap]]), so a rule listed twice can
    * fire twice, and a rule listed before the rule that creates one of
    * its sides never fires on that side. Per-word cost is O(len ·
    * merges applied), independent of the rule-list size — which is
    * what makes a 32k-rule vocabulary encodable. */
  private[graft] def applyMergesRanked(
      word: String, ranks: java.util.HashMap[(String, String), Array[Int]])
      : Array[String] = {
    var syms = charSeg(word)
    var last = -1
    var go = syms.length > 1
    while (go) {
      var best = Int.MaxValue
      var bi = -1
      var i = 0
      while (i < syms.length - 1) {
        val rs = ranks.get((syms(i), syms(i + 1)))
        if (rs != null) {
          var k = 0
          while (k < rs.length && rs(k) <= last) k += 1
          if (k < rs.length && rs(k) < best) { best = rs(k); bi = i }
        }
        i += 1
      }
      if (bi < 0) go = false
      else {
        val (l, r) = (syms(bi), syms(bi + 1))
        syms = mergeWord(syms, l, r, l + r)
        last = best
        go = syms.length > 1
      }
    }
    syms
  }

  /** Every pair's ranks (0-based list positions), ascending. */
  private[graft] def rankMap(merges: Seq[(String, String)])
      : java.util.HashMap[(String, String), Array[Int]] = {
    val m = new java.util.HashMap[(String, String), Array[Int]]()
    merges.zipWithIndex.groupMap(_._1)(_._2).foreach { case (p, rs) =>
      m.put(p, rs.toArray)
    }
    m
  }

  private def bpe(merges: Seq[(String, String)]): Segmenter = {
    require(merges.nonEmpty, "merge list must not be empty")
    require(merges.forall { case (l, r) => l.nonEmpty && r.nonEmpty },
      "merge rule sides must be non-empty")
    () => {
      val ranks = rankMap(merges)
      w => hardSeg(w, applyMergesRanked(w, ranks), 0L, 0.0)
    }
  }

  /** BPE ENCODE — inference with an explicit rank-ordered merge list
    * (what [[trainBpeMerges]] learns): each word starts as characters
    * and every merge applies in rank order ([[applyMergesRanked]]), so
    * `encode(train(corpus))` is the end-to-end tokenizer. This is the
    * true BPE apply (merge ranks decide segmentation), distinct from
    * [[pieceCounts]]'s greedy longest-match (WordPiece-style) — the
    * two disagree on words like "lowering" whenever a high-rank merge
    * blocks a longer vocab hit. Any number of rules: the rule list only
    * sizes the per-partition rank map, not the per-word cost.
    *
    * Returns per-document `(doc, n_pieces)`. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame =
    perDoc(docs, idCol, textCol, bpe(merges)).agg(nPieces)

  /** Corpus piece frequencies under BPE-by-merges: `(piece, n)` — the
    * piece-IDENTITY witness for [[bpeEncode]]'s segmentation (counts
    * alone cannot distinguish two segmentations of equal length). */
  def bpePieceFrequencies(docs: DataFrame, textCol: String,
                          merges: Seq[(String, String)]): DataFrame =
    frequencies(corpusWords(docs, textCol), bpe(merges))

  /** Frequency-ranked vocabulary table for a merge list:
    * `(piece, id)` with 0-based ids by corpus frequency descending
    * (ties by piece, binary order) — the id assignment every trained
    * tokenizer ships. Vocab-sized frame; the global rank window is
    * deliberately tiny. */
  def vocabTable(docs: DataFrame, textCol: String,
                 merges: Seq[(String, String)]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("piece").asc)
    bpePieceFrequencies(docs, textCol, merges)
      .withColumn("id", (row_number().over(w) - 1).cast("long"))
      .select(col("piece"), col("id"))
  }

  /** Token-id ENCODING — the tokenizer's output artifact: each
    * document becomes its array of vocabulary ids under the merge
    * list, pieces in document order. The final step of
    * `encode(train(corpus))`: what actually lands in a training shard
    * next to [[graft.operators.Sampling.packSequences]]' offsets.
    *
    * Scale shape: segmentation runs per DISTINCT word (the walk); the
    * corpus-sized streams carry (doc, positions, piece-id) INTEGERS
    * only, the vocab joins broadcast (vocab-sized by construction),
    * and the per-doc array reassembles with one collect_list +
    * array_sort (output == document length — inherent to emitting the
    * encoding, the [[graft.windows.AggFunctions]] accumulate
    * contract). Pieces absent from `vocab` (cross-corpus encoding)
    * drop with the inner join — pass a vocab containing every single
    * char to make encoding total. */
  def encodeToIds(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[(String, String)],
                  vocab: DataFrame): DataFrame = {
    val seg = bpe(merges)
    // spread: the tokenize + posexplode fan-out feeds the corpus-sized
    // word join's shuffle write — on the 2-task bench scan that map
    // side serialized (q_encode_ids task 6.4 s / wall 2.4 s under the
    // noop action); guarded no-op at cluster scale
    val toks = graft.util.Parallelism.spread(docs)
      .select(col(idCol).as("doc"),
        posexplode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as(Seq("tp", "w")))
    toks.join(walk(toks, seg).select(col("w"), col("ps")), "w")
      .select(col("doc"), col("tp"),
        posexplode(col("ps")).as(Seq("pp", "piece")))
      .join(broadcast(vocab), "piece")
      .groupBy(col("doc"))
      .agg(transform(
        array_sort(collect_list(struct(col("tp"), col("pp"), col("id")))),
        s => s.getField("id")).as("ids"))
  }

  /** Token-id DECODING — the inverse of [[encodeToIds]]: each
    * `(doc, ids)` row becomes the document's decoded text, pieces
    * looked up in `vocab` and concatenated in id order. Because BPE
    * segmentation partitions each word's code points, decoding an
    * encoded corpus reproduces its tokens exactly (word boundaries are
    * not represented in the id stream, so the decoded form is the
    * boundary-free token concatenation — the `q_decode_roundtrip` gate
    * certifies `decode(encode(doc)) == concat(tokens(doc))` per
    * document).
    *
    * Scale shape: the id stream shuffles once on doc for reassembly
    * (inherent to emitting a per-doc value), the vocab join broadcasts
    * (vocab-sized by construction), and nothing else is corpus-global.
    * Ids absent from `vocab` drop with the inner join — decoding with
    * the wrong vocabulary surfaces as a round-trip failure, never a
    * crash. */
  def decodeIds(encoded: DataFrame, docCol: String, idsCol: String,
                vocab: DataFrame): DataFrame =
    encoded
      .select(col(docCol).as("doc"),
        posexplode(col(idsCol)).as(Seq("pos", "id")))
      .join(broadcast(vocab), "id")
      .groupBy("doc")
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("pos"), col("piece")))),
        s => s.getField("piece"))).as("decoded"))

  // ----------------------------------------------------------------
  // Unigram-LM (SentencePiece-style) Viterbi segmentation
  // ----------------------------------------------------------------

  /** One Viterbi-segmented word: `(pieces, score, nUnk)` — the
    * segmentation maximizing the sum of per-piece log-probability
    * scores from `vocab`, the THIRD tokenizer family next to greedy
    * longest-match ([[tokenizeWord]]) and rank-ordered BPE
    * ([[applyMergesRanked]]). This is the inference rule of a
    * SentencePiece unigram model (Kudo 2018): pieces compete globally
    * over the whole word instead of left-to-right greedily, so
    * `value` can segment as `val+ue` even when a longer-at-position-0
    * piece exists.
    *
    * A code point no vocab piece covers advances one position as
    * [[Unk]] at `unkScore` (progress is guaranteed, segmentation is
    * total); the unk arm applies ONLY where the single code point is
    * itself out-of-vocab, matching SentencePiece's unk semantics.
    * Positions, piece lengths, and the DP itself count CODE POINTS
    * (the character model of Spark's `substr` and DuckDB's).
    *
    * Determinism across engines: the DuckDB oracle replays this DP
    * with a sliding window of the last `maxPieceLen` states and picks
    * the per-position argmax via `list_max` over
    * `STRUCT(sc, np, nu, ps)` — DuckDB struct/list total order. This
    * comparator mirrors that order exactly: score, then piece count,
    * then unk count, then the piece list element-wise by UTF-8 BYTES
    * (a shorter prefix sorts first). Path scores accumulate
    * left-to-right along the path in both engines, so equal paths are
    * BIT-equal and near-ties resolve identically; the gate vocabulary
    * makes true ties impossible outright (scores are -ln(prime) with
    * distinct primes — path sums are -ln of a product of primes,
    * unique per piece multiset by unique factorization, and the fixed
    * unk penalty cannot cancel a prime ratio since e^unkScore is
    * irrational), so the tail of the comparator is defensive. */
  def viterbiWord(word: String, vocab: Map[String, Double],
                  maxPieceLen: Int,
                  unkScore: Double): (List[String], Double, Long) = {
    val offs = cpOffsets(word)
    val ncp = offs.length - 1
    // best-per-position states; ps held REVERSED for O(1) extension
    val sc = new Array[Double](ncp + 1)
    val np = new Array[Long](ncp + 1)
    val nu = new Array[Long](ncp + 1)
    val ps = new Array[List[String]](ncp + 1)
    ps(0) = Nil
    var p = 1
    while (p <= ncp) {
      // l = 1 arm: vocab single code point, else the unk fallback —
      // always present, so every position is reachable
      val c1 = word.substring(offs(p - 1), offs(p))
      var bSc = 0.0d
      var bNp = 0L
      var bNu = 0L
      var bPs: List[String] = null
      vocab.get(c1) match {
        case Some(s) =>
          bSc = sc(p - 1) + s; bNp = np(p - 1) + 1; bNu = nu(p - 1)
          bPs = c1 :: ps(p - 1)
        case None =>
          bSc = sc(p - 1) + unkScore; bNp = np(p - 1) + 1
          bNu = nu(p - 1) + 1; bPs = Unk :: ps(p - 1)
      }
      var l = 2
      while (l <= maxPieceLen && l <= p) {
        val cand = word.substring(offs(p - l), offs(p))
        vocab.get(cand) match {
          case Some(s) =>
            val cSc = sc(p - l) + s
            val cNp = np(p - l) + 1
            val cNu = nu(p - l)
            lazy val cPs = cand :: ps(p - l)
            if (structGt(cSc, cNp, cNu, cPs, bSc, bNp, bNu, bPs)) {
              bSc = cSc; bNp = cNp; bNu = cNu; bPs = cPs
            }
          case None => ()
        }
        l += 1
      }
      sc(p) = bSc; np(p) = bNp; nu(p) = bNu; ps(p) = bPs
      p += 1
    }
    (ps(ncp).reverse, sc(ncp), nu(ncp))
  }

  /** DuckDB STRUCT(sc, np, nu, ps) total-order "a > b" — ps compared
    * element-wise by unsigned UTF-8 bytes, FORWARD piece order (the
    * stored lists are reversed, so compare reversed copies). Only the
    * sc arm is reachable under a tie-free vocabulary; see
    * [[viterbiWord]]. */
  private def structGt(aSc: Double, aNp: Long, aNu: Long,
                       aPs: => List[String], bSc: Double, bNp: Long,
                       bNu: Long, bPs: List[String]): Boolean = {
    if (aSc != bSc) return aSc > bSc
    if (aNp != bNp) return aNp > bNp
    if (aNu != bNu) return aNu > bNu
    psCompare(aPs.reverse, bPs.reverse) > 0
  }

  /** Element-wise list comparison, strings by unsigned UTF-8 bytes —
    * DuckDB's VARCHAR[] order. */
  private def psCompare(a: List[String], b: List[String]): Int =
    (a, b) match {
      case (Nil, Nil)         => 0
      case (Nil, _)           => -1
      case (_, Nil)           => 1
      case (x :: xs, y :: ys) =>
        val c = utf8Compare(x, y)
        if (c != 0) c else psCompare(xs, ys)
    }
  /** Soft (forward-backward) expected piece counts for ONE word, in
    * integer MICRO-occurrences — the E-step of the soft-EM trainer
    * (Kudo '18 §3.2 trains with full EM; [[viterbiWord]] is the hard
    * surrogate). Every path through the word contributes its posterior
    * mass to every piece it uses:
    *
    * {{{ E[count(piece at s..s+l)] = α(s) · p(piece) · β(s+l) / Z }}}
    *
    * computed in LOG space so long words cannot underflow, with the
    * engine's cross-engine determinism contract applied at every DP
    * cell: each α/β value is the [[round6]]-quantized log-sum-exp of
    * its (at most maxPieceLen) arm terms, combined in ascending piece
    * length with absent arms at the −10^9 sentinel (whose exp
    * underflows to exactly 0.0, an exact-identity addition) — so both
    * engines' ulp-different exp/ln collapse onto the same grid before
    * the next cell consumes them, and the DuckDB oracle replays the
    * recursion term by term. Posteriors quantize to the 10^-6
    * occurrence grid (HALF_UP, DuckDB's round) before any cross-word
    * aggregation, so sums are exact integer arithmetic in any order.
    * The l = 1 arm falls back to `unkScore` when the single code point
    * is out-of-vocab (totality, as in [[viterbiWord]]; unreachable in
    * training, where every corpus code point is seeded) — unk mass
    * normalizes the posterior but is never counted, matching the
    * M-step's vocab-only lookups. Positions count CODE POINTS. */
  private[graft] def softWordCounts(word: String,
                                    vocab: Map[String, Double],
                                    maxPieceLen: Int, unkScore: Double)
      : Seq[(String, Long)] = {
    val offs = cpOffsets(word)
    val ncp = offs.length - 1
    if (ncp == 0) return Nil
    val Absent = -1e9
    // fixed-order LSE over the maxPieceLen arm slots (l ascending)
    def lse(terms: Array[Double]): Double = {
      var m = terms(0)
      var i = 1
      while (i < terms.length) { if (terms(i) > m) m = terms(i); i += 1 }
      var s = 0.0
      i = 0
      while (i < terms.length) { s += math.exp(terms(i) - m); i += 1 }
      round6(m + math.log(s))
    }
    val aLog = new Array[Double](ncp + 1)
    aLog(0) = 0.0
    var p = 1
    while (p <= ncp) {
      val terms = Array.fill(maxPieceLen)(Absent)
      val c1 = word.substring(offs(p - 1), offs(p))
      terms(0) = aLog(p - 1) + vocab.getOrElse(c1, unkScore)
      var l = 2
      while (l <= maxPieceLen && l <= p) {
        vocab.get(word.substring(offs(p - l), offs(p))).foreach(s =>
          terms(l - 1) = aLog(p - l) + s)
        l += 1
      }
      aLog(p) = lse(terms)
      p += 1
    }
    val bLog = new Array[Double](ncp + 1)
    bLog(ncp) = 0.0
    var s0 = ncp - 1
    while (s0 >= 0) {
      val terms = Array.fill(maxPieceLen)(Absent)
      val c1 = word.substring(offs(s0), offs(s0 + 1))
      terms(0) = vocab.getOrElse(c1, unkScore) + bLog(s0 + 1)
      var l = 2
      while (l <= maxPieceLen && s0 + l <= ncp) {
        vocab.get(word.substring(offs(s0), offs(s0 + l))).foreach(s =>
          terms(l - 1) = s + bLog(s0 + l))
        l += 1
      }
      bLog(s0) = lse(terms)
      s0 -= 1
    }
    val z = aLog(ncp)
    val out = collection.mutable.HashMap.empty[String, Long]
    s0 = 0
    while (s0 < ncp) {
      var l = 1
      while (l <= maxPieceLen && s0 + l <= ncp) {
        val cand = word.substring(offs(s0), offs(s0 + l))
        vocab.get(cand).foreach { sc =>
          val micro = BigDecimal(
            math.exp(aLog(s0) + sc + bLog(s0 + l) - z) * 1000000.0)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          if (micro > 0L)
            out.updateWith(cand)(o => Some(o.getOrElse(0L) + micro))
        }
        l += 1
      }
      s0 += 1
    }
    out.toSeq
  }

  /** The unigram segmenter: the Viterbi path ([[viterbiWord]]), or with
    * `soft` each piece's expected count over all paths
    * ([[softWordCounts]]). */
  private def unigram(vocab: Map[String, Double], unkScore: Double,
                      soft: Boolean): Segmenter = {
    require(vocab.nonEmpty, "unigram vocab must not be empty")
    require(vocab.keys.forall(_.nonEmpty), "vocab pieces must be non-empty")
    val maxLen = vocab.keys.map(p => p.codePointCount(0, p.length)).max
    val scores = vocab.toSeq // a plain Seq: stable closure capture
    () => {
      val vm = scores.toMap
      if (soft) w => {
        val (ps, micro) = softWordCounts(w, vm, maxLen, unkScore).unzip
        Seg(w, ps.toArray, micro.toArray, 0L, 0.0)
      } else w => {
        val (ps, sc, nu) = viterbiWord(w, vm, maxLen, unkScore)
        hardSeg(w, ps.toArray, nu, sc)
      }
    }
  }

  /** Per-document unigram-segmentation totals:
    * `(doc, n_pieces, n_unk, score)` with the score rounded to 4
    * decimals (sums of per-word doubles; the per-word values are
    * bit-identical across engines, the cross-word sum order is not —
    * the suite's avg_lp rounding convention). */
  def unigramCounts(docs: DataFrame, idCol: String, textCol: String,
                    vocab: Map[String, Double],
                    unkScore: Double): DataFrame =
    perDoc(docs, idCol, textCol, unigram(vocab, unkScore, soft = false))
      .agg(nPieces, nUnk, round(sum(col("c") * col("sc")), 4).as("score"))

  /** Corpus-wide unigram piece frequencies: `(piece, n)`, unks
    * collapsed into the `<unk>` row — pins PIECE IDENTITY of the
    * Viterbi path across engines (agreeing totals could coincide; an
    * agreeing distribution cannot). */
  def unigramPieceFrequencies(docs: DataFrame, textCol: String,
                              vocab: Map[String, Double],
                              unkScore: Double): DataFrame =
    frequencies(corpusWords(docs, textCol),
      unigram(vocab, unkScore, soft = false))

  // ----------------------------------------------------------------
  // Unigram-LM TRAINING (SentencePiece-style hard EM)
  // ----------------------------------------------------------------

  /** Round-half-away-from-zero to 6 decimals — the score QUANTIZATION
    * contract of [[trainUnigram]], shared bit-for-bit with the DuckDB
    * oracle's `round(x, 6)`: both engines compute ln() within 1 ulp of
    * each other, and quantizing to 1e-6 collapses that difference
    * except on a measure-zero boundary set. Exact-decimal BigDecimal
    * rounding, then IEEE division k/1e6, lands on the same double as
    * DuckDB's integer-scaled round. */
  private[graft] def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** M-step: add-one-smoothed log relative frequencies over the CURRENT
    * vocabulary, quantized by [[round6]]. Add-one keeps pieces the
    * E-step never used finite (they are pruned by loss, not by -inf);
    * the smoothing total runs over the current vocab only. `unit` is
    * the count scale — 1 for hard (Viterbi) occurrence counts, 10^6
    * for the soft E-step's micro-occurrence expected counts — so the
    * smoothing stays "add one occurrence" at either scale and the two
    * E-steps produce IDENTICAL scores when their counts agree
    * (`(c·u + u) / (T·u)` and `(c + 1) / T` are the same real number,
    * both exactly representable, so their IEEE quotients are the same
    * double). */
  private def unigramMStep(counts: Map[String, Long],
                           vocab: Seq[String],
                           unit: Long = 1L): Map[String, Double] = {
    val total = vocab.iterator.map(p => counts.getOrElse(p, 0L) + unit).sum
    vocab.iterator.map { p =>
      val c = counts.getOrElse(p, 0L) + unit
      p -> round6(math.log(c.toDouble / total.toDouble))
    }.toMap
  }

  /** The EM loop of [[trainUnigram]] — everything after seed mining,
    * parameterized by the E-step and its count unit (the specs run it
    * with a driver-local E-step as the trainer's reference twin). Per round: E (Viterbi counts under the current
    * scores), M ([[unigramMStep]]); between rounds, multi-char pieces
    * are PRUNED by likelihood loss — the corpus log-likelihood drop if
    * the piece were replaced by its single-character decomposition,
    * `loss(p) = count(p) * (score(p) - sum(score(char_i)))`, a closed
    * form (no nested re-segmentation) because every corpus character
    * is a never-pruned single piece, so the char path always exists.
    * Loss is [[round6]]-quantized and -0.0-canonicalized before the
    * (loss DESC, piece ASC) rank so both engines cut the same top
    * `targetMulti`. After a prune the surviving pieces keep their
    * M-step scores unrenormalized (the next E renormalizes implicitly;
    * the oracle replays the same convention). */
  private[graft] def unigramEmCore(seeds: Seq[(String, Long)],
      singles: Seq[(String, Long)], targetMulti: Int, emRounds: Int,
      eStep: Map[String, Double] => Map[String, Long], unit: Long = 1L)
      : Seq[(String, Double)] = {
    val singleSet = singles.map(_._1).toSet
    var vocab: Seq[String] = (singles ++ seeds).map(_._1)
    // seed counts are occurrences; lift them to the E-step's count
    // scale so the initial scores are identical across E-step kinds
    var scores = unigramMStep(
      (singles ++ seeds).map { case (p, c) => p -> c * unit }.toMap,
      vocab, unit)
    var r = 1
    while (r <= emRounds) {
      val c = eStep(scores)
      scores = unigramMStep(c, vocab, unit)
      if (r < emRounds) {
        val kept = vocab.filterNot(singleSet).map { p =>
          var charSum = 0.0
          charSeg(p).foreach(ch => charSum += scores(ch))
          // loss in OCCURRENCES at either scale (c/unit; exact
          // identity for unit = 1, one IEEE division otherwise)
          val raw = round6(c.getOrElse(p, 0L).toDouble / unit.toDouble *
            (scores(p) - charSum))
          (p, if (raw == 0.0) 0.0 else raw) // -0.0 -> +0.0: Scala's
          // total order sorts -0.0 < 0.0 where SQL compares them equal
        }.sortWith((a, b) => a._2 > b._2 ||
            (a._2 == b._2 && utf8Compare(a._1, b._1) < 0))
          .take(targetMulti).map(_._1)
        vocab = singles.map(_._1) ++ kept
        scores = scores.view.filterKeys(vocab.toSet).toMap
      }
      r += 1
    }
    vocab.map(p => (p, scores(p)))
      .sortWith((a, b) => utf8Compare(a._1, b._1) < 0)
  }

  /** Unigram-LM vocabulary TRAINING (Kudo, ACL '18 — the SentencePiece
    * unigram model; [[viterbiWord]]/[[unigramCounts]] are its apply
    * half): learn a `(piece, log-prob)` vocabulary from the corpus by
    * hard (Viterbi) EM over a seed candidate set, pruning toward
    * `targetMulti` multi-character pieces by likelihood loss.
    *
    *  1. SEED: the top `seedSize` character n-grams (lengths
    *     `minN..maxN`) by occurrence-weighted frequency over the
    *     distinct-word frame (the [[topNgramPieces]] mining pass),
    *     plus EVERY corpus code point as a never-pruned single piece —
    *     full coverage, so `<unk>` cannot fire during training.
    *  2. EM x `emRounds`: E = Viterbi-segment every distinct word
    *     under the current scores and count pieces weighted by word
    *     occurrence (hard EM by default — cheapest, and at corpus
    *     scale the argmax path carries almost all the mass), or with
    *     `soft = true` the forward-backward EXPECTED counts Kudo '18
    *     actually trains with ([[softWordCounts]] — micro-occurrence
    *     grid, so exported scores are comparable to spm_train's; both
    *     E-steps are exactly replayable by the DuckDB oracles); M =
    *     add-one-smoothed log relative frequencies ([[unigramMStep]])
    *     at the E-step's count unit.
    *  3. PRUNE between rounds by closed-form likelihood loss vs the
    *     piece's single-character decomposition (see
    *     [[unigramEmCore]]).
    *
    * Scale shape: the corpus shuffles ONCE into the distinct-word
    * frame, which is cached and re-walked by each E-step (the same
    * segmentation walk as [[unigramPieceFrequencies]] — a
    * vocabulary-sized closure, piece counts the only shuffle, bounded
    * by |vocab| per partition after partial aggregation). Driver state
    * is VOCABULARY-sized by construction (seedSize + corpus alphabet +
    * per-round count maps) — no corpus cap needed, unlike the BPE
    * trainer's word-frame collect: the per-word DP never leaves the
    * executors.
    *
    * Scores are [[round6]]-quantized at every M-step — the
    * cross-engine determinism contract (two engines' ln() differ by
    * ulps; the quantized scores are bit-equal, so Viterbi path sums
    * and the next round's argmaxes are too).
    *
    * Returns `(piece, score)` sorted by piece (UTF-8 byte order):
    * `targetMulti` multi-char pieces plus every corpus code point. */
  def trainUnigram(docs: DataFrame, textCol: String, seedSize: Int,
                   targetMulti: Int, minN: Int = 2, maxN: Int = 4,
                   emRounds: Int = 2, unkScore: Double = -10.0,
                   soft: Boolean = false)
      : Seq[(String, Double)] = {
    require(minN >= 2 && maxN >= minN,
      s"need 2 <= minN <= maxN, got $minN..$maxN")
    require(seedSize >= targetMulti && targetMulti >= 1,
      s"need seedSize >= targetMulti >= 1, got $seedSize/$targetMulti")
    require(emRounds >= 1, s"emRounds must be positive, got $emRounds")
    val wc = corpusWords(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds = topNgrams(wc, minN, maxN, seedSize)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val singles = wc
        .withColumn("s", explode(sequence(lit(0), length(col("w")) - 1)))
        .select(expr("substring(w, s + 1, 1)").as("piece"), col("c"))
        .groupBy("piece").agg(sum(col("c")).as("n_occ"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        .sortWith((a, b) => utf8Compare(a._1, b._1) < 0)
      // soft counts are micro-occurrences, weighted by word occurrence
      // — exact integer aggregation in any order
      def eStep(scores: Map[String, Double]): Map[String, Long] =
        frequencies(wc, unigram(scores, unkScore, soft))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      unigramEmCore(seeds, singles, targetMulti, emRounds, eStep,
        unit = if (soft) 1000000L else 1L)
    } finally { wc.unpersist(); () }
  }
}
