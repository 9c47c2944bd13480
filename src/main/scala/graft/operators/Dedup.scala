package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Handle to a persisted MinHash dedup index (see [[Dedup.buildIndex]]):
  * two external bucketed parquet tables under `path` — band keys
  * bucketed+sorted by `bkey`, shingle sets bucketed+sorted by `doc` —
  * plus the signature parameters they were built with, so
  * [[Dedup.pairsAgainstIndex]] can never probe with mismatched
  * signatures. */
case class DedupIndex(name: String, path: String, n: Int, numPerms: Int,
                      rowsPerBand: Int, numBuckets: Int)
    extends PersistedIndex {
  def bandsTable: String = s"${name}_bands"
  def shinglesTable: String = s"${name}_sh"
  def tables: Seq[String] = Seq(bandsTable, shinglesTable)
}

/** Handle to a persisted exact-dedup fingerprint index (see
  * [[Dedup.buildExactIndex]]): one row per distinct corpus fingerprint
  * (fp, keep_id), bucketed+sorted by fp — the one-row-per-fp invariant
  * is load-bearing for the probe's outer join and is preserved by
  * [[Dedup.extendExactIndex]]'s anti-join append. */
case class ExactIndex(name: String, path: String, numBuckets: Int)
    extends PersistedIndex {
  def fpTable: String = s"${name}_fp"
  def tables: Seq[String] = Seq(fpTable)
}

/** Handle to a persisted corpus line-frequency index (see
  * [[Dedup.buildLineIndex]]): two bucketed tables under `path` — the
  * per-ingest line-frequency slices `(lfp, ndocs)` bucketed+sorted by
  * lfp (an extend APPENDS its own slice; distinct-doc counts are
  * additive under the id-disjointness guard, so probes fold slices
  * with sum and [[Dedup.compactLineIndex]] re-collapses to one row per
  * lfp — no keep-first metadata persists, because the probe
  * deliberately does not re-litigate history), plus the ingested-doc
  * ledger `(doc_id)` backing that guard. */
case class LineIndex(name: String, path: String, numBuckets: Int)
    extends PersistedIndex {
  def freqTable: String = s"${name}_lf"
  def docsTable: String = s"${name}_docs"
  def tables: Seq[String] = Seq(freqTable, docsTable)
}

/** Handle to a persisted substring-dedup GRAM index (see
  * [[Dedup.buildSpanIndex]]): per-ingest gram-frequency slices
  * `(g, n)` — the 16-byte binary md5 of every minLen-char window,
  * OCCURRENCE-counted — bucketed+sorted by g (extends append their
  * slice; occurrence counts are additive over disjoint ingests, and
  * the id-disjointness guard keeps incremental == batch honest), plus
  * the ingested-doc ledger. `minLen` is baked into the handle so a
  * probe can never gram at a different grain than the index. Text
  * never persists — 16-byte hashes and counts only. */
case class SpanIndex(name: String, path: String, numBuckets: Int,
                     minLen: Int) extends PersistedIndex {
  def freqTable: String = s"${name}_gf"
  def docsTable: String = s"${name}_docs"
  def tables: Seq[String] = Seq(freqTable, docsTable)
}

/** Handle to a persisted embedding near-dup index (see
  * [[Dedup.buildEmbeddingIndex]]): hyperplane-LSH band keys
  * bucketed+sorted by `bkey` and the vectors (with precomputed norms)
  * bucketed by `vid`, plus the banding parameters — derived from
  * `threshold` at build time and baked into the persisted signatures,
  * so probes can never band differently than the index. */
case class EmbeddingIndex(name: String, path: String, dim: Int,
                          bitsPerBand: Int, numBands: Int,
                          threshold: Double, numBuckets: Int)
    extends PersistedIndex {
  def bandsTable: String = s"${name}_bands"
  def vectorsTable: String = s"${name}_vec"
  def tables: Seq[String] = Seq(bandsTable, vectorsTable)
}

/** Document deduplication for large-scale training-data pipelines.
  *
  * Four families, each with a scale story:
  *  - exact:    hash-groupBy on a 128-bit content fingerprint — one shuffle
  *              of (16-byte key, id) pairs, never the document bodies.
  *  - jaccard:  n-gram shingle inverted-index join (explode shingles, equi-
  *              join on shingle, distinct pairs) — the classic candidate
  *              generator; candidate count is bounded by shingle document
  *              frequency, so a `maxShingleDf` cap keeps the join skew-free
  *              at corpus scale.
  *  - minhash:  MinHash signatures + banded LSH (band-key equi-join) with
  *              exact-jaccard verification of candidates — sub-quadratic and
  *              shuffle-light: only (band-key, id) pairs shuffle.
  *  - simhash:  64-bit SimHash + pigeonhole banding (4 x 16-bit chunks: any
  *              pair at hamming distance <= 3 shares at least one chunk)
  *              with exact hamming verification.
  *
  * All computation is built-in expressions (codegen'd) — no UDF in any hot
  * path; signatures are O(1)-size per doc, so every join is an equi-join on
  * small keys.
  */
object Dedup {

  /** Cache a DataFrame unless its plan is already in the session cache —
    * repeated dedup calls over the same input (the bench, a long-lived
    * session) would otherwise re-register the same plan every time and
    * spam "Asked to cache already cached data" while holding the blocks
    * anyway. `storageLevel` consults the session CacheManager by plan.
    * Every frame cached here is tracked so [[clearCaches]] can release
    * it — the retention is deliberate (shared across the bench's dedup
    * queries) but must not be a one-way door for a long-lived session. */
  private val retained = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private def cachedIdempotent(df: DataFrame): DataFrame =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
      val c = df.cache()
      retained.add(c)
      c
    } else df

  /** Release every shingle/prefix-index/simhash block the dedup family
    * has retained in this session. Call between corpora in a long-lived
    * multi-tenant session — the caches exist to be shared across the
    * dedup queries of ONE corpus pass, not to accrete for the session's
    * lifetime. Safe to call while nothing is running; subsequent dedup
    * calls simply re-fill. */
  def clearCaches(): Unit = {
    var df = retained.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = retained.poll()
    }
  }

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** Per-document fingerprint + keep flag (keep = smallest id per
    * fingerprint group). Output: (id, fp, keep).
    *
    * Computed with a window min rather than a groupBy+self-join: one
    * shuffle instead of two sides of a join, and — load-bearing — a
    * window PARTITION groups null fingerprints together while an
    * equi-join on fp would silently drop every null-text doc from the
    * verdict set (null != null in join predicates). Null-text docs
    * therefore get verdicts like any other group, matching
    * [[exactGroups]], which has always emitted the null-fp group. */
  def exact(df: DataFrame, id: String, text: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    df.withColumn("fp", TextFunctions.fingerprint(col(text)))
      .withColumn("keep", col(id) === min(col(id)).over(w))
      .select(col(id), col("fp"), col("keep"))
  }

  /** Streaming exact dedup at ingest: fingerprint each document and keep
    * the FIRST arrival per fingerprint within the watermark horizon
    * (`dropDuplicatesWithinWatermark` — Spark's bounded-state streaming
    * dedup). State is one row per distinct fingerprint seen inside the
    * horizon and is EVICTED once the watermark passes, so an unbounded
    * stream holds O(distinct docs per horizon) state, not O(stream
    * history) — the same watermark-bounds-state contract as the windowed
    * aggregations (SCALE.md W3/W4). Rows behind the watermark are
    * dropped as late BEFORE dedup sees them; a non-late duplicate
    * arriving after its original's fingerprint was evicted passes
    * again. Horizon-scoped dedup is the deliberate trade that keeps
    * state finite; full-history exact dedup is the batch operator
    * ([[exact]]/[[exactGroups]]) run over the accumulated corpus. */
  def streamingExact(stream: DataFrame, textCol: String, tsCol: String,
                     delay: String): DataFrame =
    stream.withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming exact dedup against FULL history: [[streamingExact]]'s
    * watermark-bounded in-stream dedup composed with a stream-static
    * NULL-SAFE anti-join against the persisted fingerprint index, so a
    * document that duplicates ANYTHING ever folded into the index is
    * dropped — no matter how long ago its original arrived. This fixes
    * the horizon limitation the streamingExact scaladoc documents:
    * in-stream state stays watermark-bounded (finite), while history
    * lives in the bucketed index table on storage, not in the state
    * store. The static side is re-read per micro-batch, so a
    * concurrent [[extendExactIndex]] (e.g. a nightly fold-in of the
    * accepted stream output) is picked up without restarting the
    * query. */
  def streamingExactWithHistory(stream: DataFrame, textCol: String,
                                tsCol: String, delay: String,
                                idx: ExactIndex): DataFrame = {
    val spark = stream.sparkSession
    val seen = spark.table(idx.fpTable).select(col("fp").as("__ifp"))
    streamingExact(stream, textCol, tsCol, delay)
      .join(seen, col("fp") <=> col("__ifp"), "left_anti")
  }

  /** One row per duplicate group: fingerprint, surviving id, group size. */
  def exactGroups(df: DataFrame, id: String, text: String): DataFrame =
    df.withColumn("fp", TextFunctions.fingerprint(col(text)))
      .groupBy(col("fp"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Persist the exact-dedup fingerprint index: the corpus reduced to
    * one (fp, keep_id) row per distinct content fingerprint, bucketed
    * by fp. At 100 TB this is the smallest possible dedup artifact —
    * 16-byte keys, no bodies — and the incremental exact-dedup
    * counterpart of [[buildIndex]]. */
  def buildExactIndex(df: DataFrame, id: String, text: String,
                      name: String, path: String,
                      numBuckets: Int = 32): ExactIndex = {
    val idx = ExactIndex(name, path, numBuckets)
    exactGroups(df, id, text).select(col("fp"), col("keep_id"))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, "fp").sortBy("fp")
      .option("path", s"$path/${idx.fpTable}")
      .format("parquet").saveAsTable(idx.fpTable)
    idx
  }

  /** Fold a processed delta's fingerprints in: only fps NOT already
    * indexed are appended (NULL-SAFE anti-join — the null-fp group of
    * null-text docs must match its indexed row like any other, or every
    * extend would re-append it), preserving the one-row-per-fp
    * invariant. Single-writer contract, as for the other indexes. */
  def extendExactIndex(delta: DataFrame, id: String, text: String,
                       idx: ExactIndex): Unit = {
    val spark = delta.sparkSession
    // a re-folded id can become another fp's keep_id, corrupting keep
    // verdicts downstream — fail loudly instead (default-on check)
    IndexAdmin.requireDisjointIds(delta, id, idx.fpTable, "keep_id",
      "extendExactIndex")
    val existing = spark.table(idx.fpTable)
      .select(col("fp").as("__ifp")).hint("shuffle_hash")
    exactGroups(delta, id, text).select(col("fp"), col("keep_id"))
      .join(existing, col("fp") <=> col("__ifp"), "left_anti")
      .write.mode(SaveMode.Append)
      .bucketBy(idx.numBuckets, "fp").sortBy("fp")
      .format("parquet").saveAsTable(idx.fpTable)
  }

  /** Exact-dedup verdicts for a delta against the indexed corpus:
    * (id, fp, keep) for every delta row, keep = the fingerprint is
    * unseen in the corpus AND this is the smallest delta id carrying
    * it. The join is NULL-SAFE (`<=>`): a null-text delta doc matches
    * the corpus's null-fp row — the same null-group semantics
    * [[exact]]'s window formulation guarantees, which a plain equi-join
    * would silently break. Verdict convention is CORPUS-WINS: a seen
    * fingerprint is keep=false regardless of id ordering (the index's
    * keep_id stays the survivor), so `corpusVerdicts ∪ these` equals
    * [[exact]] over corpus ∪ delta restricted to delta rows exactly
    * when delta ids are larger than indexed ids — the append-only
    * ingest case (spec-pinned); with out-of-order ids the incremental
    * verdict deliberately keeps the already-indexed survivor rather
    * than re-litigating history. The delta shuffles ONCE on fp (the
    * window partitioning is reused by the join); the index side
    * streams out of its buckets and is never broadcast (corpus-sized
    * by definition). Caller contract: delta ids disjoint from indexed
    * ids. */
  def exactAgainstIndex(delta: DataFrame, id: String, text: String,
                        idx: ExactIndex): DataFrame = {
    val spark = delta.sparkSession
    val seen = spark.table(idx.fpTable)
      .select(col("fp").as("__ifp"), lit(true).as("__seen"))
      .hint("shuffle_hash")
    val w = Window.partitionBy(col("fp"))
    delta.select(col(id), TextFunctions.fingerprint(col(text)).as("fp"))
      .withColumn("__mn", min(col(id)).over(w))
      .join(seen, col("fp") <=> col("__ifp"), "left_outer")
      .select(col(id), col("fp"),
        (col("__seen").isNull && col(id) === col("__mn")).as("keep"))
  }

  // ------------------------------------------------------------------
  // Exact duplicate-SPAN detection (substring dedup)
  // ------------------------------------------------------------------

  /** Maximal duplicated character spans — the exact-substring dedup of
    * Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better", which removes repeated spans of >= 50 tokens via
    * a suffix array; reference family also in Dolma's dedupe): every
    * position whose `minLen`-character gram occurs more than once in
    * the corpus (ANY doc, including its own) is duplicated, and runs
    * of duplicated positions merge into maximal spans. Equivalent to
    * the suffix-array formulation for spans >= minLen — a repeated
    * substring of length m >= minLen contributes exactly its m-minLen+1
    * gram positions, which merge back into the one maximal interval.
    *
    * Output: `(doc, span_start, span_end, span_len)` — 1-based
    * inclusive CODE-POINT positions, ordered islands per doc. A
    * curation pipeline cuts these spans (or drops docs whose
    * dup_chars ratio is high); span accounting, not text rewriting, is
    * the operator so the corpus never shuffles rewritten bodies.
    *
    * Scale shape: the shuffle carries (16-byte BINARY gram md5, doc,
    * pos) — never text, and never the 32-char hex rendering (which
    * would double the dominant shuffle column; GramHashGen emits the
    * raw digest bytes). Stage 1 is a map-side-combined count by gram hash;
    * stage 2 re-shuffles the position stream once to join the >1
    * grams (shuffle-hash: both sides are position-sized, neither
    * broadcastable) and once by doc for the interval merge window.
    * Every-position grams are the EXACT formulation (20x read
    * amplification over the text, all pre-shuffle); the approximate
    * relatives for when that is too hot are [[Chunking]]'s CDC chunks
    * and [[passagePairs]]' fixed windows. */
  def duplicateSpans(df: DataFrame, id: String, text: String,
                     minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val grams = spanGrams(df, id, text, minLen)
    val dupG = grams.groupBy("g").agg(count(lit(1)).as("c"))
      .where(col("c") > 1).select("g")
    // both sides are position-cardinality: pin shuffle-hash, never let
    // a stale broadcast estimate pull 10^8 gram hashes to every task
    val hits = grams.hint("shuffle_hash")
      .join(dupG.hint("shuffle_hash"), "g")
      .select(col("doc"), col("pos"))
    mergeSpanIslands(hits, minLen)
  }

  /** (doc, pos, binary-md5-of-window) via the LAZY one-pass GramHashGen
    * generator — semantically unhex(md5(substr(text, pos, minLen))) but
    * without the O(n²)-per-document head re-scan substr pays per
    * position, and without ever materializing a document's gram
    * array in one row (10 MB doc = 10M windows). Shared by
    * [[duplicateSpans]] and the [[SpanIndex]] family so batch and
    * incremental gram at the identical grain. */
  private def spanGrams(df: DataFrame, id: String, text: String,
                        minLen: Int): DataFrame =
    // spread before the per-position gram generator (one digest per
    // CHARACTER): the fan-out factor is the largest in the engine, so
    // a 2-task scan serializes the whole family (guard: no-op at scale)
    graft.util.Parallelism.spread(
        df.select(col(id).as("doc"), col(text).as("__t"))
          .where(length(col("__t")) >= minLen))
      .select(col("doc"), graft.expressions.TextExprs
        .gramHashes(col("__t"), minLen).as(Seq("pos", "g")))

  /** Gaps-and-islands LABELING of duplicated gram positions — the ONE
    * definition of the adjacency convention (`pos > prev_end + 1`
    * starts a new island; windows of length `window` starting at
    * `pos`): a `__island` column over (doc, pos), one doc-keyed window
    * pass. Shared by the char-grain ([[duplicateSpans]] /
    * [[duplicateSpansAgainstIndex]]) and token-grain
    * ([[duplicateTokenSpans]]) merges so the convention — which the
    * cutSpans contract and both DuckDB oracle families replay — can
    * never drift between grains. */
  private def islandize(hits: DataFrame, window: Int): DataFrame = {
    val w = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val prev = w.rowsBetween(Window.unboundedPreceding, -1)
    hits
      .withColumn("__prev_end", max(col("pos") + (window - 1)).over(prev))
      .withColumn("__new", when(col("__prev_end").isNull ||
        col("pos") > col("__prev_end") + 1, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(w))
  }

  /** [[islandize]] + the char-grain span aggregation — the shared tail
    * of [[duplicateSpans]] / [[duplicateSpansAgainstIndex]]. */
  private def mergeSpanIslands(hits: DataFrame, minLen: Int): DataFrame =
    islandize(hits, minLen)
      .groupBy(col("doc"), col("__island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (minLen - 1)).cast("long").as("span_end"))
      .withColumn("span_len", col("span_end") - col("span_start") + 1L)
      .select("doc", "span_start", "span_end", "span_len")

  /** Persist the corpus's gram-frequency inventory — the incremental-
    * crawl primitive for SUBSTRING dedup: a new crawl's duplicated
    * spans against a frozen corpus compute without rescanning history
    * ([[duplicateSpansAgainstIndex]]), the span twin of
    * [[buildLineIndex]]/[[buildExactIndex]]. One row per distinct
    * gram hash per ingest slice: (16-byte g, occurrence count),
    * bucketed+sorted by g so probes fold Exchange-free out of the
    * buckets. The doc ledger backs the disjoint-ids guard. */
  def buildSpanIndex(df: DataFrame, id: String, text: String,
                     minLen: Int, name: String, path: String,
                     numBuckets: Int = 32): SpanIndex = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val idx = SpanIndex(name, path, numBuckets, minLen)
    spanGrams(df, id, text, minLen)
      .groupBy("g").agg(count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, "g").sortBy("g")
      .option("path", s"$path/${idx.freqTable}")
      .format("parquet").saveAsTable(idx.freqTable)
    df.select(col(id).cast("long").as("doc_id")).distinct()
      .write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, "doc_id").sortBy("doc_id")
      .option("path", s"$path/${idx.docsTable}")
      .format("parquet").saveAsTable(idx.docsTable)
    idx
  }

  /** Fold a delta into the span index: O(delta) — appends the delta's
    * own gram-frequency slice plus its ledger ids. Occurrence counts
    * are additive over disjoint ingests; probes fold slices with sum
    * and [[compactSpanIndex]] re-collapses. */
  def extendSpanIndex(delta: DataFrame, id: String, text: String,
                      idx: SpanIndex): Unit = {
    IndexAdmin.requireDisjointIds(delta, id, idx.docsTable, "doc_id",
      "extendSpanIndex")
    spanGrams(delta, id, text, idx.minLen)
      .groupBy("g").agg(count(lit(1)).as("n"))
      .write.mode(SaveMode.Append)
      .bucketBy(idx.numBuckets, "g").sortBy("g")
      .format("parquet").saveAsTable(idx.freqTable)
    delta.select(col(id).cast("long").as("doc_id")).distinct()
      .write.mode(SaveMode.Append)
      .bucketBy(idx.numBuckets, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(idx.docsTable)
  }

  /** [[duplicateSpans]] for a delta against the indexed corpus: a
    * delta position is duplicated iff its gram occurs ANYWHERE in
    * corpus ∪ delta more than once — indexed slices fold Exchange-free
    * out of their g buckets, the delta's own counts add, and under the
    * id-disjointness contract the result EQUALS
    * `duplicateSpans(corpus ∪ delta)` restricted to the delta's
    * documents (spec-pinned). Only delta text is ever scanned; corpus
    * history contributes 16-byte hashes + counts from the bucketed
    * table. Output spans are [[cutSpans]]-ready, so the incremental
    * curation loop is index-probe -> cut -> extend. */
  def duplicateSpansAgainstIndex(delta: DataFrame, id: String,
                                 text: String, idx: SpanIndex): DataFrame = {
    val spark = delta.sparkSession
    val grams = spanGrams(delta, id, text, idx.minLen)
    val idxFreq = spark.table(idx.freqTable)
      .groupBy("g").agg(sum("n").as("__in"))
      .select(col("g").as("__ig"), col("__in"))
    val deltaFreq = grams.groupBy("g").agg(count(lit(1)).as("__dn"))
    // index side is corpus-gram-cardinality: never broadcast
    val dupG = deltaFreq
      .join(idxFreq.hint("shuffle_hash"), col("g") === col("__ig"),
        "left")
      .where(col("__dn") + coalesce(col("__in"), lit(0L)) > 1L)
      .select("g")
    val hits = grams.hint("shuffle_hash")
      .join(dupG.hint("shuffle_hash"), "g")
      .select(col("doc"), col("pos"))
    mergeSpanIslands(hits, idx.minLen)
  }

  /** Blue/green compaction: collapse the accumulated per-ingest gram
    * slices to one row per g in a NEW index, then drop the old one. */
  def compactSpanIndex(spark: org.apache.spark.sql.SparkSession,
                       idx: SpanIndex, name: String,
                       path: String): SpanIndex = {
    require(name != idx.name && path != idx.path,
      "compaction is blue/green: compact into a NEW name and path, " +
        "then drop the old index")
    val out = SpanIndex(name, path, idx.numBuckets, idx.minLen)
    spark.table(idx.freqTable)
      .groupBy("g").agg(sum("n").as("n"))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(out.numBuckets, "g").sortBy("g")
      .option("path", s"$path/${out.freqTable}")
      .format("parquet").saveAsTable(out.freqTable)
    copyBucketed(spark, s"${idx.path}/${idx.docsTable}", out.docsTable,
      s"$path/${out.docsTable}", idx.numBuckets, "doc_id")
    out
  }

  /** Maximal duplicated TOKEN spans — [[duplicateSpans]] at the grain
    * Lee et al. 2021 actually use (repeated spans of >= `minTokens`
    * TOKENS; the paper's suffix array runs over token ids). Every
    * token position whose `minTokens`-token window occurs more than
    * once in the corpus is duplicated; runs of duplicated positions
    * merge into maximal token intervals, reported as CHARACTER spans
    * (`span_start`/`span_end`, 1-based inclusive code points — first
    * char of the first token to last char of the last, directly
    * consumable by [[cutSpans]]) plus the token interval
    * (`tok_start`/`tok_end`) and `n_tok`. Tokens are maximal
    * non-whitespace runs of the RAW text (case-sensitive — cut
    * offsets must be faithful; normalize upstream if fuzzy matching
    * is wanted); gram identity is the space-joined token sequence.
    *
    * Scale shape: same two-shuffle plan as the char form — (16-byte
    * binary md5, doc, tpos, cs, ce) is all that shuffles, shuffle-hash
    * pinned both sides, one doc-keyed window merge. The win is the
    * PRE-SHUFFLE read amplification: ~minTokens x the TOKEN stream
    * instead of window x every CHAR position — roughly the mean token
    * length (~5-6 x) cheaper than [[duplicateSpans]] at equal window
    * coverage, measured in ScaleProbe's span decade table. */
  def duplicateTokenSpans(df: DataFrame, id: String, text: String,
                          minTokens: Int): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val grams = df
      .select(col(id).as("doc"), col(text).as("__t"))
      .where(col("__t").isNotNull)
      .select(col("doc"), graft.expressions.TextExprs
        .tokenGramHashes(col("__t"), minTokens)
        .as(Seq("tpos", "cs", "ce", "g")))
    val dupG = grams.groupBy("g").agg(count(lit(1)).as("c"))
      .where(col("c") > 1).select("g")
    val hits = grams.hint("shuffle_hash")
      .join(dupG.hint("shuffle_hash"), "g")
      .select(col("doc"), col("tpos").as("pos"), col("cs"), col("ce"))
    // islands over TOKEN positions — same labeling as the char grain
    // (one shared convention, see islandize); char bounds ride along
    islandize(hits, minTokens)
      .groupBy(col("doc"), col("__island"))
      .agg(min(col("cs")).as("span_start"),
        max(col("ce")).as("span_end"),
        min(col("pos")).as("tok_start"),
        (max(col("pos")) + (minTokens - 1)).as("tok_end"))
      .withColumn("span_len", col("span_end") - col("span_start") + 1L)
      .withColumn("n_tok", col("tok_end") - col("tok_start") + 1L)
      .select("doc", "span_start", "span_end", "span_len",
        "tok_start", "tok_end", "n_tok")
  }

  /** Apply a [[duplicateSpans]] result: cut every span out of the text
    * and return `(doc, kept_text)` — the rewrite half of substring
    * dedup (Lee et al. remove the repeated spans, not the documents).
    * Docs with no spans pass through byte-identical; a doc that is one
    * whole span becomes the empty string (a length floor downstream is
    * the usual follow-up, as in the paper).
    *
    * The spans side aggregates to one sorted (start, end) array per
    * doc and joins back by doc id — text crosses ONE doc-keyed
    * shuffle for reassembly (the passage-dedup discipline: doc-keyed
    * is fine, content-keyed never). The cut itself is a row-local
    * zip_with over the span boundaries' complement. Spans must be
    * disjoint and sorted ascending, which [[duplicateSpans]]
    * guarantees by construction. */
  def cutSpans(df: DataFrame, spans: DataFrame, id: String,
               text: String): DataFrame = {
    val sp = spans.groupBy(col("doc"))
      .agg(array_sort(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("__sp"))
    df.select(col(id).as("doc"), col(text).as("__t"))
      .join(sp, Seq("doc"), "left")
      .select(col("doc"), when(col("__sp").isNull, col("__t"))
        // ONE-pass compiled cut (TextKernels.cutSpans): the composed
        // zip_with(bounds, substr) form re-scanned the string head per
        // SEGMENT — quadratic on a 10 MB doc with 17k spans
        .otherwise(graft.expressions.TextExprs.cutSpans(
          col("__t"), col("__sp")))
        .as("kept_text"))
  }

  // ------------------------------------------------------------------
  // N-gram Jaccard via shingle inverted-index join
  // ------------------------------------------------------------------

  /** (id, shingles) with distinct word n-gram shingles. */
  def withShingles(df: DataFrame, id: String, text: String, n: Int): DataFrame =
    // NOT spread (Parallelism.spread) deliberately: an A/B at sf0.1
    // measured a pre-explode repartition of the shingle input making
    // every cached-table consumer WORSE (jaccard +34%, minhash +75%,
    // containment +40% wall) — the cache's downstream stages are
    // per-task-fixed-cost bound, not compute bound, so widening the
    // cached partitioning just multiplies that fixed cost
    df.select(col(id).as("doc"), TextFunctions.wordShingles(col(text), n).as("sh"))

  /** Candidate pairs sharing at least one shingle, with exact Jaccard
    * computed and filtered at `threshold`. Output: (d1, d2, jaccard).
    *
    * Candidate generation is PREFIX-FILTERED (the AllPairs/PPJoin family,
    * Chaudhuri et al. / Xiao et al. — public literature): order each
    * doc's shingles by global rarity (df asc, shingle asc) and index only
    * the first `|d| - ceil(t*|d|) + 1` of them. The prefix lemma makes
    * this EXACT: jaccard(x,y) >= t implies |x∩y| >= ceil(t*|x|), and any
    * pair with overlap o must collide within each side's first
    * `|d| - o + 1` shingles under a shared total order. At t=0.8 only
    * ~20% of each doc's shingles are indexed, so the self-join produces
    * ~25x fewer pair instances than a full inverted index — the term
    * that dominates at corpus scale.
    *
    * `maxShingleDf` drops ubiquitous shingles from candidate generation
    * (a shingle present in k docs contributes k^2 candidate pairs — the
    * classic skew bomb at 100 TB). Verification still uses ALL shingles,
    * so capped shingles cost recall only for pairs whose similarity
    * hides in ubiquitous n-grams — boilerplate by definition. */
  def jaccardPairs(df: DataFrame, id: String, text: String, n: Int,
                   threshold: Double, maxShingleDf: Long = 1000L,
                   persistShingles: Boolean = true): DataFrame = {
    // The shingle table feeds candidate generation AND verification, so it
    // is cached by default. The cache outlives the returned (lazy)
    // DataFrame — a long-lived session issuing many dedup calls should
    // pass persistShingles=false (recompute) or Dedup.clearCaches()
    // between corpora. At true 100 TB neither cache-and-share nor
    // recompute is right: materialize signatures to storage once and
    // read them bucketed — buildIndex + minhashPairsFromIndex /
    // pairsAgainstIndex is that path.
    val sh0 = withShingles(df, id, text, n)
    val sh = if (persistShingles) cachedIdempotent(sh0) else sh0
    // Candidate generation works on HASHED shingles (8-byte keys instead
    // of n-gram strings): a shared shingle always hashes equal on both
    // sides, so no candidate is ever lost, and a collision can only ADD
    // a candidate that exact verification then discards — exactness is
    // unconditional, while the inverted index, df table, and self-join
    // all shuffle narrow longs.
    val inv = sh.select(col("doc"), size(col("sh")).as("sz"),
      explode(transform(col("sh"), s => xxhash64(s))).as("s"))
    // global document frequency; a shared shingle has df >= 2 by
    // construction, so the df filter only enforces the skew cap
    val dfs = inv.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxShingleDf && col("df") >= 2)
    // every join below is corpus x corpus — both sides grow with the
    // data, so none may ever broadcast. Catalyst's size estimate under
    // an explode comes from the scan BENEATH it (bytes / multiplier
    // blind), so at mid scale the exploded side looks broadcastable and
    // the driver builds a multi-GB HashedRelation. Pin the shuffle hash
    // join: partition by the join key, build per-partition maps.
    val invR = inv.hint("shuffle_hash").join(dfs.hint("shuffle_hash"), "s")
    // prefix index: each doc's rarest shingles, enough that any pair
    // with capped-set jaccard >= t must collide inside both prefixes
    val byRarity = Window.partitionBy(col("doc"))
      .orderBy(col("df").asc, col("s").asc)
    val prefix0 = invR
      .withColumn("__rn", row_number().over(byRarity))
      // round before ceil: 0.8*35 = 28.000000000000004 in doubles, and
      // ceil'ing the epsilon would illegally shorten the prefix by one
      .where(col("__rn") <=
        col("sz") - ceil(round(lit(threshold) * col("sz"), 6)) + 1)
      // rn/sz ride along for the positional filter below (ints — the
      // prefix index stays narrow)
      .select(col("doc"), col("s"), col("__rn").as("rn"), col("sz"))
    // both sides of the self-join consume the prefix index — cache it
    // (it is ~20% of the inverted index; at 100 TB you'd materialize it
    // to storage the same way)
    val prefix = if (persistShingles) cachedIdempotent(prefix0) else prefix0
    // PPJoin-style instance filters (Xiao et al. — public literature),
    // applied BEFORE the distinct so the dominant cost term (candidate
    // pair instances carried into the dedup) shrinks. Both are lossless:
    //  - length filter: jaccard >= t forces t*|x| <= |y| <= |x|/t;
    //  - positional filter: a colliding shingle at rank i of x / j of y
    //    bounds the overlap by 1 + min(|x|-i, |y|-j) (every LATER common
    //    shingle lies in both tails; for the FIRST common shingle no
    //    earlier common one exists, so the bound is valid there — and a
    //    similar pair's first common shingle is inside both prefixes by
    //    the prefix lemma, so at least that instance passes). Required
    //    overlap: jaccard >= t  <=>  o >= t/(1+t) * (|x|+|y|). Ranks are
    //    positions in the df-filtered rarity order while sz is the FULL
    //    set size, which only widens the bound (dropped shingles inflate
    //    the tail term but also count toward o only when common, and
    //    then inflate BOTH tails) — still lossless, marginally weaker.
    val minOverlap =
      ceil(round(lit(threshold) / (lit(1.0) + lit(threshold))
        * (col("a.sz") + col("b.sz")), 6))
    val cand = prefix.hint("shuffle_hash").as("a")
      .join(prefix.hint("shuffle_hash").as("b"),
        col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
      .where(least(col("a.sz"), col("b.sz")) >=
        ceil(round(lit(threshold) * greatest(col("a.sz"), col("b.sz")), 6)))
      .where(lit(1) + least(col("a.sz") - col("a.rn"),
        col("b.sz") - col("b.rn")) >= minOverlap)
      .select(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .distinct()
    // Exact full-set verification of the surviving pairs — the reported
    // score is the TRUE Jaccard, identical to minhashPairs' verification
    // and the DuckDB oracle.
    verifyJaccard(cand, sh, threshold)
  }

  /** Join candidate (d1, d2) pairs back to shingle sets and keep pairs with
    * Jaccard >= threshold. */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame,
                            threshold: Double): DataFrame = {
    // shingle-set lookups are corpus-sized (full arrays) — never
    // broadcast them; shuffle on the candidate ids instead
    val x = sh.select(col("doc").as("d1"), col("sh").as("sh1")).hint("shuffle_hash")
    val y = sh.select(col("doc").as("d2"), col("sh").as("sh2")).hint("shuffle_hash")
    val inter = size(array_intersect(col("sh1"), col("sh2"))).cast("double")
    val uni = (size(col("sh1")) + size(col("sh2"))).cast("double") -
      size(array_intersect(col("sh1"), col("sh2"))).cast("double")
    cand.join(x, "d1").join(y, "d2")
      .withColumn("jaccard", inter / uni)
      .where(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** ASYMMETRIC near-dup pairs by set CONTAINMENT:
    * `|A ∩ B| / min(|A|, |B|) >= threshold` over `n`-gram shingle sets.
    * The gap Jaccard leaves open: a short document fully quoted inside
    * a long one scores Jaccard ~ |short|/|long| (arbitrarily low) but
    * containment 1.0 — the quote/wrapper/aggregation-page duplication
    * mode a crawl is full of. Output `(d1, d2, containment)` with
    * d1 < d2 (id order; the score is symmetric).
    *
    * Candidate generation adapts the PPJoin prefix lemma to the
    * asymmetric score: only the SMALLER set of a qualifying pair needs
    * a prefix — containment >= t forces overlap o >= ceil(t·|small|),
    * so if none of the smaller side's `|x| - ceil(t|x|) + 1` rarest
    * shingles collide with the larger side, at most `ceil(t|x|) - 1`
    * common shingles remain: contradiction. The join is therefore
    * prefix(as-smaller) × full-inverted-index(as-larger) — there is NO
    * length filter (any size gap can contain), which is exactly why
    * containment needs the larger side's full index and why
    * `maxShingleDf` (the skew cap, same recall contract as
    * [[jaccardPairs]]: pairs similar only through ubiquitous
    * boilerplate shingles are not found) matters even more here. The
    * positional filter carries over with `min = |small|`:
    * `1 + min(szA - rnA, szB - rnB) >= ceil(t·szA)`.
    *
    * Scale shape: identical skeleton to [[jaccardPairs]] — hashed
    * 8-byte shingle keys, every corpus×corpus join pinned
    * shuffle-hash, exact full-set verification on the surviving
    * candidates only. */
  def containmentPairs(df: DataFrame, id: String, text: String, n: Int,
                       threshold: Double, maxShingleDf: Long = 1000L,
                       persistShingles: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val sh0 = withShingles(df, id, text, n)
    val sh = if (persistShingles) cachedIdempotent(sh0) else sh0
    val inv = sh.select(col("doc"), size(col("sh")).as("sz"),
      explode(transform(col("sh"), s => xxhash64(s))).as("s"))
    val dfs = inv.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxShingleDf && col("df") >= 2)
    val invR = inv.hint("shuffle_hash").join(dfs.hint("shuffle_hash"), "s")
    val byRarity = Window.partitionBy(col("doc"))
      .orderBy(col("df").asc, col("s").asc)
    val ranked0 = invR
      .withColumn("__rn", row_number().over(byRarity))
      .select(col("doc"), col("s"), col("__rn").as("rn"), col("sz"))
    val ranked = if (persistShingles) cachedIdempotent(ranked0) else ranked0
    // round-before-ceil: same 0.8*35 epsilon discipline as jaccardPairs
    val prefix = ranked.where(col("rn") <=
      col("sz") - ceil(round(lit(threshold) * col("sz"), 6)) + 1)
    val cand = prefix.hint("shuffle_hash").as("a")
      .join(ranked.hint("shuffle_hash").as("b"),
        col("a.s") === col("b.s") &&
          (col("a.sz") < col("b.sz") ||
            (col("a.sz") === col("b.sz") && col("a.doc") < col("b.doc"))))
      .where(lit(1) + least(col("a.sz") - col("a.rn"),
        col("b.sz") - col("b.rn")) >=
        ceil(round(lit(threshold) * col("a.sz"), 6)))
      .select(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .distinct()
    val x = sh.select(col("doc").as("d1"), col("sh").as("sh1"))
      .hint("shuffle_hash")
    val y = sh.select(col("doc").as("d2"), col("sh").as("sh2"))
      .hint("shuffle_hash")
    val inter = size(array_intersect(col("sh1"), col("sh2"))).cast("double")
    cand.join(x, "d1").join(y, "d2")
      .withColumn("containment",
        inter / least(size(col("sh1")), size(col("sh2"))).cast("double"))
      .where(col("containment") >= threshold)
      .select(least(col("d1"), col("d2")).as("d1"),
        greatest(col("d1"), col("d2")).as("d2"),
        round(col("containment"), 4).as("containment"))
  }

  // ------------------------------------------------------------------
  // MinHash + banded LSH
  // ------------------------------------------------------------------

  /** Deterministic permutation constants (a_i odd, b_i) for
    * h_i(x) = (a_i * x + b_i) mod p with p = 2^31 - 1. Base hash is
    * xxhash64 truncated to 32 bits so a_i * x + b_i stays well inside a
    * 64-bit long under ANSI arithmetic (no overflow). */
  // the canonical modulus lives next to the kernel so the (perms,
  // modulus) pair can never desynchronize across modules
  private val MinhashP = graft.expressions.MinHashKernel.P
  private[graft] def perms(n: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)(((rnd.nextInt(Int.MaxValue - 1).toLong | 1L),
      rnd.nextInt(Int.MaxValue - 1).toLong))
  }

  /** MinHash signature column: array<bigint> of length `numPerms` over a
    * distinct-shingle array column. Empty shingle sets get the sentinel
    * signature of all p (never collides with a real hash). */
  def minhashSignature(shingles: Column, numPerms: Int): Column = {
    val h32 = transform(shingles, s => xxhash64(s).bitwiseAND(lit(0xffffffffL)))
    val sigs = perms(numPerms).map { case (a, b) =>
      aggregate(h32, lit(MinhashP),
        (m, h) => least(m, pmod(h * lit(a) + lit(b), lit(MinhashP))))
    }
    array(sigs: _*)
  }

  /** MinHash signatures via the single-pass kernel
    * (graft.expressions.MinHashKernel — Spark's own XXH64, so hashes are
    * bit-identical to [[minhashSignature]] and the previous explode +
    * numPerms-column min() aggregate): a pure projection over the
    * shingle array, no row expansion, no shuffle. Empty-shingle docs are
    * excluded (parity with the aggregate formulation). */
  def minhashSignatureTable(sh: DataFrame, numPerms: Int): DataFrame = {
    val ps = perms(numPerms)
    sh.where(size(col("sh")) > 0)
      .select(col("doc"), graft.expressions.TextExprs
        .minhashSig(col("sh"), ps.map(_._1).toIndexedSeq,
          ps.map(_._2).toIndexedSeq)
        .as("sig"))
  }

  /** Near-duplicate pairs via banded MinHash LSH, verified with exact
    * Jaccard. rowsPerBand=2 and numPerms=64 (32 bands) give >99.99% recall
    * at jaccard 0.8. Output: (d1, d2, jaccard) — identical contract to
    * [[jaccardPairs]], so the two are cross-checkable. */
  def minhashPairs(df: DataFrame, id: String, text: String, n: Int,
                   threshold: Double, numPerms: Int = 64,
                   rowsPerBand: Int = 2,
                   persistShingles: Boolean = true): DataFrame = {
    // same cache-retention contract as jaccardPairs; at corpus scales
    // where neither caching nor recompute fits, use the materialized
    // path (buildIndex + minhashPairsFromIndex) instead
    val sh0 = withShingles(df, id, text, n)
    val sh = if (persistShingles) cachedIdempotent(sh0) else sh0
    val bands = bandKeyTable(minhashSignatureTable(sh, numPerms),
      numPerms, rowsPerBand)
    // corpus x corpus band join: see the jaccard note — pin shuffle hash
    val cand = bands.hint("shuffle_hash").as("a")
      .join(bands.hint("shuffle_hash").as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .distinct()
    verifyJaccard(cand, sh, threshold)
  }

  /** Banded LSH keys from a MinHash signature table: (doc, bkey), one
    * row per band. The band INDEX is folded into the key hash, so a
    * single-column equi-join on `bkey` is equivalent to the
    * (band, bkey) join it replaces: a cross-band xxhash64 collision can
    * only ADD a candidate, which exact verification then discards —
    * and one join key instead of two is what lets the persisted index
    * bucket on `bkey` alone. */
  private[graft] def bandKeyTable(sig: DataFrame, numPerms: Int,
                                  rowsPerBand: Int): DataFrame = {
    val numBands = numPerms / rowsPerBand
    sig.select(col("doc"), explode(
      array((0 until numBands).map { bI =>
        xxhash64(lit(bI) +: (0 until rowsPerBand).map(r =>
          col("sig").getItem(bI * rowsPerBand + r)): _*)
      }: _*)).as("bkey"))
  }

  // ------------------------------------------------------------------
  // Incremental persisted index
  // ------------------------------------------------------------------

  /** Build a persisted MinHash dedup index over `df`: the banded LSH
    * key table bucketed+sorted by `bkey` and the shingle table
    * bucketed+sorted by `doc`, both written as external parquet tables
    * under `path`. This is the 100 TB dedup contract: signatures over
    * the accumulated corpus are computed ONCE at write time, and every
    * subsequent delta dedups against the index with
    * [[pairsAgainstIndex]] — the index side of the candidate join reads
    * its buckets Exchange-free (bucket partitioning satisfies the join
    * distribution), so per-delta cost is O(delta), not O(corpus).
    *
    * The input is scanned twice (band keys + shingles) — at index scale
    * that beats caching the shingle table, which would have to fit in
    * cluster memory. */
  def buildIndex(df: DataFrame, id: String, text: String, name: String,
                 path: String, n: Int = 3, numPerms: Int = 64,
                 rowsPerBand: Int = 2, numBuckets: Int = 32): DedupIndex = {
    val idx = DedupIndex(name, path, n, numPerms, rowsPerBand, numBuckets)
    writeIndexSlice(withShingles(df, id, text, n), idx, append = false)
    idx
  }

  /** Fold a processed delta into the index (bucketed append with the
    * index's own spec): after [[pairsAgainstIndex]] has emitted the
    * delta's pairs, extending makes the next delta dedup against
    * corpus + this one. Caller contract (as for pairsAgainstIndex):
    * delta ids are disjoint from ids already indexed — VERIFIED by
    * default ([[IndexAdmin.requireDisjointIds]]; a re-appended id
    * would double-count in every later probe). */
  def extendIndex(delta: DataFrame, id: String, text: String,
                  idx: DedupIndex): Unit = {
    IndexAdmin.requireDisjointIds(delta, id, idx.shinglesTable, "doc",
      "extendIndex")
    writeIndexSlice(withShingles(delta, id, text, idx.n), idx, append = true)
  }

  private def writeIndexSlice(sh: DataFrame, idx: DedupIndex,
                              append: Boolean): Unit = {
    val bands = bandKeyTable(minhashSignatureTable(sh, idx.numPerms),
      idx.numPerms, idx.rowsPerBand)
    def write(df: DataFrame, table: String, key: String): Unit = {
      val w = df.write
        .mode(if (append) SaveMode.Append else SaveMode.Overwrite)
        .bucketBy(idx.numBuckets, key)
        .sortBy(key)
        .format("parquet")
      // the location is fixed at creation; append inherits it
      (if (append) w else w.option("path", s"${idx.path}/$table"))
        .saveAsTable(table)
    }
    write(bands, idx.bandsTable, "bkey")
    write(sh, idx.shinglesTable, "doc")
  }

  /** Copy a bucketed table into a one-file-per-bucket layout under a
    * new name/path. The pre-write `repartition(numBuckets, key)` is the
    * load-bearing step: repartition's hash partitioning and the bucket
    * id function are the same murmur3-mod-n, so each task holds exactly
    * one bucket's rows and writes exactly one file.
    *
    * The source is read as RAW parquet from `fromPath`, NOT via
    * `spark.table`: a catalog read advertises the bucket distribution,
    * which lets the planner elide the repartition as redundant — and
    * since nothing downstream exploits bucketing, the bucketed scan
    * itself is then disabled (DisableUnnecessaryBucketedScan), leaving
    * split-based tasks that each write a file per bucket they hold:
    * exactly the accretion being compacted away (measured: 102 files
    * instead of 32). The raw read has no claimed distribution, so the
    * exchange survives. */
  private[operators] def copyBucketed(spark: org.apache.spark.sql.SparkSession,
                           fromPath: String, to: String, path: String,
                           numBuckets: Int, key: String): Unit =
    spark.read.parquet(fromPath)
      .repartition(numBuckets, col(key))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, key).sortBy(key)
      .option("path", path)
      .format("parquet").saveAsTable(to)

  /** Compact a many-times-extended MinHash index: every `extend*` fold
    * appends one file per (bucket, task) slice, so a long-lived index
    * accretes small files per bucket until open/seek cost dominates the
    * probe. Compaction rewrites both tables to ONE file per bucket
    * under a NEW name/path and returns the new handle — blue/green by
    * design: the old index stays readable (single-writer contract as
    * for extends) until the caller drops it, so probes never race a
    * rewrite. Pairs output is identical (spec-pinned: same rows, ~1
    * file per bucket asserted). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   idx: DedupIndex, name: String, path: String): DedupIndex = {
    require(name != idx.name && path != idx.path,
      "compaction is blue/green: compact into a NEW name and path, " +
        "then drop the old index")
    val out = DedupIndex(name, path, idx.n, idx.numPerms, idx.rowsPerBand,
      idx.numBuckets)
    copyBucketed(spark, s"${idx.path}/${idx.bandsTable}", out.bandsTable,
      s"$path/${out.bandsTable}", idx.numBuckets, "bkey")
    copyBucketed(spark, s"${idx.path}/${idx.shinglesTable}",
      out.shinglesTable, s"$path/${out.shinglesTable}", idx.numBuckets,
      "doc")
    out
  }

  /** Compact an extended exact-fingerprint index — same blue/green
    * contract as [[compactIndex]]. */
  def compactExactIndex(spark: org.apache.spark.sql.SparkSession,
                        idx: ExactIndex, name: String,
                        path: String): ExactIndex = {
    require(name != idx.name && path != idx.path,
      "compaction is blue/green: compact into a NEW name and path, " +
        "then drop the old index")
    val out = ExactIndex(name, path, idx.numBuckets)
    copyBucketed(spark, s"${idx.path}/${idx.fpTable}", out.fpTable,
      s"$path/${out.fpTable}", idx.numBuckets, "fp")
    out
  }

  /** Compact an extended embedding index — same blue/green contract as
    * [[compactIndex]]. */
  def compactEmbeddingIndex(spark: org.apache.spark.sql.SparkSession,
                            idx: EmbeddingIndex, name: String,
                            path: String): EmbeddingIndex = {
    require(name != idx.name && path != idx.path,
      "compaction is blue/green: compact into a NEW name and path, " +
        "then drop the old index")
    val out = EmbeddingIndex(name, path, idx.dim, idx.bitsPerBand,
      idx.numBands, idx.threshold, idx.numBuckets)
    copyBucketed(spark, s"${idx.path}/${idx.bandsTable}", out.bandsTable,
      s"$path/${out.bandsTable}", idx.numBuckets, "bkey")
    copyBucketed(spark, s"${idx.path}/${idx.vectorsTable}",
      out.vectorsTable, s"$path/${out.vectorsTable}", idx.numBuckets,
      "vid")
    out
  }

  /** Batch MinHash dedup over MATERIALIZED signatures: the whole-corpus
    * analogue of [[pairsAgainstIndex]], and the 100 TB answer to
    * `persistShingles` — instead of caching shingle/signature tables in
    * cluster memory (the in-session default, sized for corpora that
    * fit), signatures are computed ONCE into the bucketed index tables
    * and the banded self-join reads them with NO Exchange on EITHER
    * side (both sides stream out of the same buckets). Verification
    * prunes the bucketed shingle table to candidate ids via broadcast
    * semi-join, so document bodies never shuffle. Output contract
    * identical to [[minhashPairs]].
    *
    * Build the index once with [[buildIndex]]; pass `threshold` per
    * query. Equivalence with the in-memory operator and the plan shape
    * are spec-pinned (IncrementalDedupSpec). */
  def minhashPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
                            idx: DedupIndex, threshold: Double): DataFrame = {
    val bands = spark.table(idx.bandsTable)
    val cand = cachedIdempotent(
      bands.hint("shuffle_hash").as("a")
        .join(bands.hint("shuffle_hash").as("b"),
          col("a.bkey") === col("b.bkey") && col("a.doc") < col("b.doc"))
        .select(col("a.doc").as("d1"), col("b.doc").as("d2"))
        .distinct())
    val candIds = cand.select(col("d1").as("doc"))
      .union(cand.select(col("d2").as("doc"))).distinct()
    val sh = spark.table(idx.shinglesTable)
      .join(broadcast(candIds), Seq("doc"), "left_semi")
    verifyJaccard(cand, cachedIdempotent(sh), threshold)
  }

  /** Near-duplicate pairs between `delta` and the indexed corpus, plus
    * pairs within `delta` itself — exactly the NEW pairs that appear
    * when the delta joins the corpus, so
    * `minhashPairs(corpus) ∪ pairsAgainstIndex(delta, idx)` equals
    * `minhashPairs(corpus ∪ delta)` (union-equivalence; spec-pinned).
    * Output: (d1, d2, jaccard), d1 < d2, same contract as
    * [[minhashPairs]].
    *
    * Plan shape, and why it scales: the index bands table is bucketed
    * on `bkey`, so the hinted shuffle-hash candidate join shuffles ONLY
    * the delta's band keys — the corpus side streams straight out of
    * its buckets with no Exchange and no Sort. Verification never
    * touches corpus shingles wholesale either: a broadcast semi-join
    * prunes the bucketed shingle table to candidate doc ids (O(pairs),
    * small by the banding argument) before the exact-Jaccard join.
    * Caller contract: delta ids are disjoint from indexed ids. */
  def pairsAgainstIndex(delta: DataFrame, id: String, text: String,
                        idx: DedupIndex, threshold: Double,
                        persistShingles: Boolean = true): DataFrame = {
    val spark = delta.sparkSession
    val dSh0 = withShingles(delta, id, text, idx.n)
    val dSh = if (persistShingles) cachedIdempotent(dSh0) else dSh0
    val dBands0 = bandKeyTable(minhashSignatureTable(dSh, idx.numPerms),
      idx.numPerms, idx.rowsPerBand)
      .select(col("bkey"), col("doc").as("dd"))
    // the delta band table feeds both the cross join and the delta
    // self-join — same retention contract as the shingle table
    val dBands = if (persistShingles) cachedIdempotent(dBands0) else dBands0
    val iBands = spark.table(idx.bandsTable)
      .select(col("bkey"), col("doc").as("di"))
    // delta x corpus: hint the DELTA side — SHJ builds its hash map from
    // the delta partition while the bucketed index side streams
    val cross = iBands.join(dBands.hint("shuffle_hash"), "bkey")
      .where(col("di") =!= col("dd"))
      .select(least(col("di"), col("dd")).as("d1"),
        greatest(col("di"), col("dd")).as("d2"))
    // delta x delta: the delta is corpus-shaped (grows with ingest), so
    // the same no-broadcast discipline applies
    val dd = dBands.hint("shuffle_hash").as("a")
      .join(dBands.hint("shuffle_hash").as("b"),
        col("a.bkey") === col("b.bkey") && col("a.dd") < col("b.dd"))
      .select(col("a.dd").as("d1"), col("b.dd").as("d2"))
    // The candidate set is referenced FOUR times downstream (the id
    // broadcast, both verify-side shingle prunes, and the verify join
    // itself) — uncached, the whole band-join subtree would re-execute
    // per reference. It is O(emitted pairs) small by the banding
    // argument, so it is always cached regardless of persistShingles
    // (which exists because corpus-sized SHINGLE tables may not fit).
    val cand = cachedIdempotent(cross.union(dd).distinct())
    // prune the bucketed shingle table to candidate ids WITHOUT
    // shuffling it: candidate ids are O(emitted pairs) by the banding
    // argument, so they broadcast
    val candIds = cand.select(col("d1").as("doc"))
      .union(cand.select(col("d2").as("doc"))).distinct()
    val iSh = spark.table(idx.shinglesTable)
      .join(broadcast(candIds), Seq("doc"), "left_semi")
    // verification reads the lookup once per candidate SIDE — cache the
    // pruned union (O(candidates) + O(delta), never corpus-sized) so the
    // bucketed shingle scan and semi-join run once, not per side
    verifyJaccard(cand, cachedIdempotent(iSh.union(dSh)), threshold)
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** 64-bit SimHash over a token/shingle array column, as bigint.
    * bit b of the result is 1 iff sum over tokens of (+1 if bit b of
    * xxhash64(token) else -1) is positive. */
  def simhash64(tokens: Column): Column = {
    val hs = transform(tokens, t => xxhash64(t))
    val bits = (0 until 64).map { b =>
      val vote = aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** SimHash per document via the single-pass kernel
    * (graft.expressions.SimHashKernel): a pure projection, no row
    * expansion, no shuffle. Documents with zero tokens are absent from
    * the output (parity with the previous explode+groupBy formulation).
    *
    * Token hash: by default Spark's own XXH64 (bit-identical to
    * [[simhash64]] and the xxhash64 SQL function); with
    * `portable = true` the first 64 bits of md5 — computable identically
    * in DuckDB (`('0x' || substr(md5(t), 1, 16))::UBIGINT`), which makes
    * the whole SimHash dedup pipeline SQL-oracle-expressible. */
  def simhashTable(df: DataFrame, id: String, text: String,
                   portable: Boolean = false): DataFrame =
    // fused tokenize+hash kernel: one pass over the raw text, no token
    // array materialized; null = zero tokens (the composed form's
    // `size(tokens) > 0` pre-filter, folded into the kernel)
    df.select(col(id).as("doc"),
        graft.expressions.TextExprs.simhashText(col(text), portable)
          .as("simhash"))
      .where(col("simhash").isNotNull)

  /** Near-duplicate pairs by SimHash hamming distance <= maxHamming (<= 3
    * with the default 4-chunk pigeonhole banding: any pair within hamming 3
    * of each other agrees exactly on at least one 16-bit chunk).
    * Output: (d1, d2, hamming). */
  def simhashPairs(df: DataFrame, id: String, text: String,
                   maxHamming: Int = 3, portable: Boolean = false): DataFrame = {
    // Both sides of the banded self-join would otherwise recompute the
    // full tokenize+hash pass; the signature table is O(16 bytes)/doc, so
    // cache it (same retention contract as the shingle tables above — at
    // 100 TB you'd materialize signatures to storage instead).
    val sim = cachedIdempotent(simhashTable(df, id, text, portable))
    val chunks = sim.select(col("doc"), col("simhash"), posexplode(
      array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xffffL))): _*))
      .as(Seq("chunk", "ckey")))
    // corpus x corpus chunk join: see the jaccard note — pin shuffle hash
    val cand = chunks.hint("shuffle_hash").as("a")
      .join(chunks.hint("shuffle_hash").as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("d1"), col("a.simhash").as("h1"),
        col("b.doc").as("d2"), col("b.simhash").as("h2"))
      .distinct()
    cand.withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .where(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  // ------------------------------------------------------------------
  // Embedding near-duplicates
  // ------------------------------------------------------------------

  /** Pairs of vectors with cosine similarity >= threshold, by brute-force
    * pairwise comparison. Quadratic — the exactness oracle the LSH path
    * is verified against in DedupSpec. */
  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): cluster
    * embeddings, find near-duplicate pairs WITHIN each cluster only,
    * and keep one representative per duplicate group — the paper keeps
    * the member LEAST similar to its cluster centroid (pruning toward
    * diversity), ties by id. This composes the engine's own gated
    * parts — [[Similarity.assignCells]] (or [[Similarity.trainCentroids]]
    * upstream), the within-cell cosine join, and
    * [[Clustering.connectedComponents]] — into the paper's ONE plan.
    *
    * Why this scales where all-pairs cannot: the pair join's equi-key
    * IS the cell, so no cross-cell pair is ever formed and the
    * quadratic term is Σ_cells |cell|² — bounded by choosing k so
    * cells stay small (the paper's own cost model; at 100 TB, k grows
    * with the corpus and [[Similarity.trainCentroids]]'s byte-capped
    * sampling trains it). Cross-cell duplicates are MISSED by design —
    * the paper's documented recall trade — and both engines replay the
    * same assignment, so the miss set is deterministic, not noise.
    * Components run on within-cell edges (large-star/small-star, the
    * cluster-resolution machinery); centroid similarity rounds to 6
    * decimals so the keep pick is grid-deterministic across engines.
    *
    * Zero-norm vectors have no cosine (the engine-wide convention:
    * the sim is NULL and the row falls out) — they are dropped here
    * up front, never silently assigned to a cell.
    *
    * Output: one verdict row per surviving input vector —
    * (vid, cell, cent_sim, component, keep); singletons (no duplicate
    * above `tau` in their cell) are their own component and survive. */
  def semDedup(df: DataFrame, id: String, vec: String,
               centroids: DataFrame, cid: String, cvec: String,
               tau: Double): DataFrame =
    semDedupAssigned(semAssign(df, id, vec, centroids, cid, cvec), tau)

  /** The shared assignment half of the semantic-dedup convenience
    * forms: zero-norm rows dropped up front (no cosine), cells
    * assigned by argmax centroid similarity, cent_sim on the round-6
    * grid with the engine-wide negative-zero normalization. */
  private def semAssign(df: DataFrame, id: String, vec: String,
                        centroids: DataFrame, cid: String,
                        cvec: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val v0 = df.select(col(id).cast("long").as("vid"),
        asDoubles(col(vec)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
      .where(col("nrm") > 0.0)
    Similarity.assignCells(v0, "vid", "v", centroids, cid, cvec)
      .select(col("vid"), col("v"), col("nrm"), col("cell"),
        (round(col("cell_sim"), 6) + lit(0.0)).as("cent_sim"))
  }

  /** The within-cell half of [[semDedup]] over an ALREADY-assigned
    * frame `(vid, v, nrm, cell, cent_sim)` — the entry point a 100 TB
    * run actually uses: cell assignment is a once-per-corpus artifact
    * (persist it bucketed by cell, or read it straight out of the
    * persisted IVF index, whose cell-partitioned layout is exactly
    * this frame), amortized across every consumer, while the argmax
    * scan in [[semDedup]]'s convenience form re-pays corpus × k every
    * call. Separating the halves also separates the scale arguments:
    * assignment is the IVF family's probed concern; THIS stage's work
    * is Σ|cell|² dot products + the component closure — it must scale
    * with cell sizes, never corpus². */
  def semDedupAssigned(asg0: DataFrame, tau: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    // cell -1 is assignCells' wrong-dimension sentinel (excluded from
    // every ANN path by convention) — without this filter such rows
    // would dedup against EACH OTHER inside the pseudo-cell and emit
    // verdicts on vectors that were never validly assigned (review
    // finding); centroid id -1 is reserved by the sentinel itself
    val asg = asg0.where(col("cell") =!= -1L)
    val a = asg.select(col("cell"), col("vid").as("d1"),
      col("v").as("v1"), col("nrm").as("n1"))
    val b = asg.select(col("cell"), col("vid").as("d2"),
      col("v").as("v2"), col("nrm").as("n2"))
    // within-cell pairs only; shuffle-hash pinned (both sides are
    // corpus-sized — a stats misestimate must never try to broadcast)
    val pairs = a.join(b.hint("shuffle_hash"), Seq("cell"))
      .where(col("d1") < col("d2"))
      .withColumn("sim",
        cosineFrom(dot(col("v1"), col("v2")), col("n1"), col("n2")))
      .where(col("sim") >= tau)
      .select(col("cell"), col("d1"), col("d2"))
    val comp = Clustering.connectedComponents(pairs, "d1", "d2")
      .select(col("id").as("vid"), col("component"))
    val w = Window.partitionBy("component")
      .orderBy(col("cent_sim").asc, col("vid").asc)
    asg.join(comp, Seq("vid"), "left_outer")
      .withColumn("component", coalesce(col("component"), col("vid")))
      .select(col("vid"), col("cell"), col("cent_sim"), col("component"),
        (row_number().over(w) === 1).as("keep"))
  }

  /** SemDeDup at a target KEEP FRACTION per cell — the paper's ε-sweep
    * mode (Abbas et al. 2023 tune their threshold so each cluster
    * keeps a target share, rather than fixing one cosine cut): rank
    * each cell's members by centroid similarity ascending
    * (least-central first — the same keep-toward-diversity rule as
    * [[semDedupAssigned]]'s per-component pick, same round-6 grid,
    * ties by id) and keep the first ceil(keepFrac · |cell|). The
    * boundary is evaluated on the integer micro-grid — keep iff
    * `(rank − 1) · 10^6 < keepMicro · |cell|` with `keepMicro =
    * round(keepFrac · 10^6)` — so it can never flip between engines on
    * floating-point dust, and every cell keeps at least its single
    * least-central member.
    *
    * Scale shape: NO pair join at all — this mode is ONE window over
    * the assigned frame (the ranking IS the verdict), strictly cheaper
    * than the τ form's Σ|cell|² dot products, which is exactly why the
    * paper sweeps it at web scale. Input is an assigned frame
    * (vid, cell, cent_sim, …) — from [[Similarity.assignCells]], the
    * persisted IVF index's cell-partitioned layout, or [[semDedup]]'s
    * assignment half; the cell −1 wrong-dimension sentinel is excluded
    * as everywhere. Output: (vid, cell, cent_sim, rk, n_cell, keep). */
  def semDedupFraction(asg0: DataFrame, keepFrac: Double): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1], got $keepFrac")
    val keepMicro = BigDecimal(keepFrac * 1000000.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    // a fraction below the grid (< 5e-7) would round to 0 micro and
    // silently drop EVERY cell's members — refuse instead; the
    // ">= 1 kept per cell" guarantee needs at least one micro-unit
    require(keepMicro >= 1L,
      s"keepFrac $keepFrac rounds to 0 on the 1e-6 grid — the " +
        "smallest expressible keep fraction is 1e-6")
    val asg = asg0.where(col("cell") =!= -1L)
    val w = Window.partitionBy("cell")
      .orderBy(col("cent_sim").asc, col("vid").asc)
    asg.select(col("vid"), col("cell"), col("cent_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n_cell",
        count(lit(1)).over(Window.partitionBy("cell")))
      .withColumn("keep",
        (col("rk") - 1L) * 1000000L < lit(keepMicro) * col("n_cell"))
  }

  /** [[semDedupFraction]] from raw vectors + centroids — the
    * convenience form, paying the same corpus × k argmax as
    * [[semDedup]]; at scale feed the assigned frame (or the IVF
    * index) to the overload above instead. */
  def semDedupFraction(df: DataFrame, id: String, vec: String,
                       centroids: DataFrame, cid: String, cvec: String,
                       keepFrac: Double): DataFrame =
    semDedupFraction(semAssign(df, id, vec, centroids, cid, cvec),
      keepFrac)

  /** [[semDedupAssigned]] fed straight from a persisted IVF index —
    * the composition the scaladoc above promises, as code: the index's
    * cell-partitioned corpus table ALREADY IS the assigned frame
    * (cid, cv, cell, cn), so the only added work is one broadcast join
    * against the #cells-row centroid table and ONE dot product per row
    * to recover the own-centroid similarity the keep rule ranks on —
    * O(1) per row, never the O(k) argmax the convenience form re-pays.
    * Zero-norm rows (which the index stores but every probe path
    * excludes — the engine convention) are filtered here too. */
  def semDedupFromIndex(spark: org.apache.spark.sql.SparkSession,
                        idx: IvfIndex, tau: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    val cents = broadcast(spark.table(idx.centroidsTable)
      .select(col("cell"), col("centroid"),
        l2Norm(col("centroid")).as("__cnm")))
    val asg = spark.table(idx.corpusTable)
      .where(col("cn") > 0.0)
      .join(cents, Seq("cell"))
      .select(col("cid").cast("long").as("vid"), col("cv").as("v"),
        col("cn").as("nrm"), col("cell"),
        (round(cosineFrom(dot(col("cv"), col("centroid")), col("cn"),
          col("__cnm")), 6) + lit(0.0)).as("cent_sim"))
    semDedupAssigned(asg, tau)
  }

  def embeddingPairsExact(df: DataFrame, id: String, vec: String,
                          threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    // norms are computed once per vector BEFORE the self-join, so each of
    // the O(n^2) pairs costs exactly one codegen'd dot product
    val v = df.select(col(id).as("vid"), asDoubles(col(vec)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
    v.as("a").join(v.as("b"), col("a.vid") < col("b.vid"))
      .withColumn("cosine",
        cosineFrom(dot(col("a.v"), col("b.v")), col("a.nrm"), col("b.nrm")))
      .where(col("cosine") >= threshold)
      .select(col("a.vid").as("id1"), col("b.vid").as("id2"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** Pairs of vectors with cosine similarity >= threshold. Picks the
    * candidate-generation strategy analytically from the banding math:
    *
    *  - High thresholds (banding prunes): banded hyperplane LSH
    *    ([[embeddingPairsLsh]]) — candidates from a (band, key)
    *    equi-join, then exact verification; miss probability bounded
    *    at 1e-9 per qualifying pair.
    *  - Low thresholds (banding cannot prune): [[Similarity.bandingFor]]'s own
    *    collision model says how often two UNCORRELATED vectors would
    *    collide in some band — `1 - (1 - 0.5^bits)^bands`. Once that
    *    exceeds 1/2, LSH generates most of the n^2/2 pairs as
    *    candidates anyway (at the gate threshold 0.4 it is 99.96%),
    *    and every stage of it — band explosion, pair-instance
    *    `distinct`, candidate re-lookup joins — is pure overhead over
    *    just evaluating the pairs. There the blocked exact path
    *    ([[embeddingPairsBlocked]]) is strictly cheaper: the same
    *    equi-join shuffle shape, zero misses, one dot product per
    *    pair, no distinct.
    *
    * The dispatch is data-independent (pure function of the threshold),
    * so the plan is deterministic and both branches remain individually
    * testable. Both produce the identical contract: (id1, id2, cosine),
    * id1 < id2, cosine = TRUE similarity rounded to 4. */
  def embeddingPairs(df: DataFrame, id: String, vec: String,
                     threshold: Double, dim: Int = 0,
                     numBlocks: Int = 16,
                     maxBands: Int = 512): DataFrame = {
    val (bits, bands) = Similarity.bandingFor(threshold, maxBands)
    val pRandomCollide = 1.0 - math.pow(1.0 - math.pow(0.5, bits), bands)
    if (pRandomCollide > 0.5) embeddingPairsBlocked(df, id, vec, threshold, numBlocks)
    else embeddingPairsLsh(df, id, vec, threshold, dim, maxBands)
  }

  /** Exact all-pairs cosine via a triangle block equi-join: vectors are
    * hashed into `numBlocks` blocks, each unordered block pair (i, j),
    * i <= j, becomes one join key, and each vector is replicated to the
    * block-pair keys it participates in (left: (blk, j >= blk); right:
    * (i <= blk, blk)) — so every vector pair meets at EXACTLY one key
    * (cross-block pairs once by construction; same-block pairs deduped
    * by id order) and the dot product is evaluated straight off the
    * join output: no candidate `distinct`, no re-lookup joins.
    *
    * Scale shape: one shuffle of ~numBlocks/2 replicas per vector (the
    * only data movement), then the inherent O(n^2) dot products stream
    * through whole-stage codegen, partitioned across the cluster by
    * the numBlocks*(numBlocks+1)/2 keys. Size numBlocks so that block
    * pairs >= total cores (replication grows linearly with numBlocks,
    * compute is constant), e.g. 64 for a 1000-core cluster. This is
    * the honest formulation when the threshold is too low for LSH to
    * prune — the quadratic work exists either way; this pays it with
    * no amplification. */
  def embeddingPairsBlocked(df: DataFrame, id: String, vec: String,
                            threshold: Double, numBlocks: Int = 16): DataFrame = {
    import graft.functions.VectorFunctions._
    require(numBlocks >= 1, s"numBlocks must be >= 1, got $numBlocks")
    val v = df.select(col(id).as("vid"), asDoubles(col(vec)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
      .withColumn("blk", pmod(xxhash64(col("vid")), lit(numBlocks)).cast("int"))
    val blockIds = sequence(lit(0), lit(numBlocks - 1))
    val left = v.withColumn("k2", explode(filter(blockIds, j => j >= col("blk"))))
      .withColumnRenamed("blk", "k1")
    val right = v.withColumn("k1", explode(filter(blockIds, i => i <= col("blk"))))
      .withColumnRenamed("blk", "k2")
    left.hint("shuffle_hash").as("a")
      .join(right.hint("shuffle_hash").as("b"),
        col("a.k1") === col("b.k1") && col("a.k2") === col("b.k2") &&
          // same-block pairs appear in both orientations; keep one.
          // cross-block pairs appear exactly once (in whichever id order
          // the blocks dictate), hence least/greatest below.
          (col("a.k1") =!= col("a.k2") || col("a.vid") < col("b.vid")))
      .withColumn("cosine",
        cosineFrom(dot(col("a.v"), col("b.v")), col("a.nrm"), col("b.nrm")))
      .where(col("cosine") >= threshold)
      .select(least(col("a.vid"), col("b.vid")).as("id1"),
        greatest(col("a.vid"), col("b.vid")).as("id2"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** Pairs of vectors with cosine similarity >= threshold via banded
    * hyperplane LSH: candidates = pairs agreeing on ANY band's sign
    * bits, then exact cosine verification of candidates only — so every
    * reported pair carries its TRUE similarity and the only possible
    * error is a missed pair, bounded by [[Similarity.bandingFor]]'s
    * target (1e-9 per qualifying pair; deterministic planes make any
    * given corpus either fully recalled or not, which DedupSpec proves
    * against the exact baseline).
    *
    * Scale shape: the corpus self-join is an EQUI-join on (band, key) —
    * shuffle-partitionable, no broadcast of the big side, no O(n^2)
    * nested loop. Pruning power depends on the threshold: at >= 0.8
    * (near-dup territory) bands are long and candidates are rare; at
    * near-random thresholds the banding admits ~all pairs and
    * [[embeddingPairs]] dispatches to [[embeddingPairsBlocked]]
    * instead.
    *
    * `maxBands` is the collision-vs-linear-work dial (SCALE.md "cost
    * anatomy"): the default 512 fits corpora to ~100k vectors per
    * shard; beyond that, raising it buys proportionally more bits per
    * band — each extra bit HALVES the quadratic false-candidate term
    * for ~1/p more linear band rows — which is the correct trade
    * exactly when the quadratic term dominates. */
  /** (vid, bkey) banded LSH keys with the band index folded into the
    * key hash — single-column join/bucketing, same argument as
    * [[bandKeyTable]] (a cross-band collision only adds a candidate
    * that exact cosine verification discards). */
  private def embBandTable(df: DataFrame, id: String, vec: String,
                           dim: Int, bits: Int, bands: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    df.select(col(id).as("vid"), posexplode(
        Similarity.cosineLshBandKeys(asDoubles(col(vec)), dim, bits, bands))
        .as(Seq("band", "bkey")))
      .select(col("vid"), xxhash64(col("band"), col("bkey")).as("bkey"))
  }

  /** Persist an embedding near-dup index: banded hyperplane-LSH keys
    * (bucketed+sorted by key) and the vectors with precomputed norms
    * (bucketed by id), banding derived from `threshold` exactly as in
    * [[embeddingPairsLsh]]. The corpus is signed ONCE at write time;
    * deltas then dedup against it with [[embeddingPairsAgainstIndex]]
    * — same contract as the text-side [[buildIndex]]. */
  def buildEmbeddingIndex(df: DataFrame, id: String, vec: String,
                          name: String, path: String, threshold: Double,
                          dim: Int, maxBands: Int = 512,
                          numBuckets: Int = 32): EmbeddingIndex = {
    import graft.functions.VectorFunctions._
    require(dim > 0, "buildEmbeddingIndex requires an explicit dim")
    val (bits, bands) = Similarity.bandingFor(threshold, maxBands)
    val idx = EmbeddingIndex(name, path, dim, bits, bands, threshold,
      numBuckets)
    def write(d: DataFrame, table: String, key: String): Unit =
      d.write.mode(SaveMode.Overwrite)
        .bucketBy(numBuckets, key).sortBy(key)
        .option("path", s"$path/$table")
        .format("parquet").saveAsTable(table)
    write(embBandTable(df, id, vec, dim, bits, bands), idx.bandsTable,
      "bkey")
    write(df.select(col(id).as("vid"), asDoubles(col(vec)).as("v"))
        .withColumn("nrm", l2Norm(col("v"))),
      idx.vectorsTable, "vid")
    idx
  }

  /** Fold a processed delta into the embedding index (bucketed append
    * with the index's own banding) — same contract as [[extendIndex]]:
    * after [[embeddingPairsAgainstIndex]] has emitted the delta's
    * pairs, the next delta dedups against corpus + this one. Caller
    * contract: delta ids disjoint from ids already indexed — VERIFIED
    * by default ([[IndexAdmin.requireDisjointIds]]). */
  def extendEmbeddingIndex(delta: DataFrame, id: String, vec: String,
                           idx: EmbeddingIndex): Unit = {
    import graft.functions.VectorFunctions._
    IndexAdmin.requireDisjointIds(delta, id, idx.vectorsTable, "vid",
      "extendEmbeddingIndex")
    def append(d: DataFrame, table: String, key: String): Unit =
      d.write.mode(SaveMode.Append)
        .bucketBy(idx.numBuckets, key).sortBy(key)
        .format("parquet").saveAsTable(table)
    append(embBandTable(delta, id, vec, idx.dim, idx.bitsPerBand,
      idx.numBands), idx.bandsTable, "bkey")
    append(delta.select(col(id).as("vid"), asDoubles(col(vec)).as("v"))
        .withColumn("nrm", l2Norm(col("v"))),
      idx.vectorsTable, "vid")
  }

  /** Near-dup pairs between `delta` and the indexed corpus plus pairs
    * within `delta`, at cosine >= `threshold` (>= the index's build
    * threshold — the banding's recall guarantee only covers pairs at
    * or above it). Same plan shape as [[pairsAgainstIndex]]: only the
    * delta's band keys shuffle, the index streams out of its buckets,
    * and verification prunes the bucketed vector table to candidate
    * ids via broadcast semi-join. Output: (id1, id2, cosine), same
    * contract as [[embeddingPairsLsh]]. Caller contract: delta ids
    * disjoint from indexed ids. */
  def embeddingPairsAgainstIndex(delta: DataFrame, id: String,
                                 vec: String, idx: EmbeddingIndex,
                                 threshold: Double = -1.0): DataFrame = {
    import graft.functions.VectorFunctions._
    val t = if (threshold < 0) idx.threshold else threshold
    require(t >= idx.threshold,
      s"probe threshold $t is below the index's build threshold " +
        s"${idx.threshold}: banded recall is only guaranteed at or " +
        "above the threshold the signatures were built for")
    val spark = delta.sparkSession
    val dBands = cachedIdempotent(
      embBandTable(delta, id, vec, idx.dim, idx.bitsPerBand, idx.numBands)
        .select(col("bkey"), col("vid").as("dd")))
    val iBands = spark.table(idx.bandsTable)
      .select(col("bkey"), col("vid").as("di"))
    val cross = iBands.join(dBands.hint("shuffle_hash"), "bkey")
      .where(col("di") =!= col("dd"))
      .select(least(col("di"), col("dd")).as("id1"),
        greatest(col("di"), col("dd")).as("id2"))
    val dd = dBands.hint("shuffle_hash").as("a")
      .join(dBands.hint("shuffle_hash").as("b"),
        col("a.bkey") === col("b.bkey") && col("a.dd") < col("b.dd"))
      .select(col("a.dd").as("id1"), col("b.dd").as("id2"))
    val cand = cachedIdempotent(cross.union(dd).distinct())
    val candIds = cand.select(col("id1").as("vid"))
      .union(cand.select(col("id2").as("vid"))).distinct()
    val dVec = delta.select(col(id).as("vid"), asDoubles(col(vec)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
    val lookup = cachedIdempotent(
      spark.table(idx.vectorsTable)
        .join(broadcast(candIds), Seq("vid"), "left_semi")
        .union(dVec))
    val x = lookup.select(col("vid").as("id1"), col("v").as("v1"),
      col("nrm").as("n1")).hint("shuffle_hash")
    val y = lookup.select(col("vid").as("id2"), col("v").as("v2"),
      col("nrm").as("n2")).hint("shuffle_hash")
    cand.join(x, "id1").join(y, "id2")
      .withColumn("cosine",
        cosineFrom(dot(col("v1"), col("v2")), col("n1"), col("n2")))
      .where(col("cosine") >= t)
      .select(col("id1"), col("id2"), round(col("cosine"), 4).as("cosine"))
  }

  /** Per-document keep/drop verdicts for a delta from its incremental
    * pair set — the row an ingest pipeline actually filters on.
    * `pairs` is [[pairsAgainstIndex]] (or the embedding analogue)
    * output over `delta`; a delta doc DROPS when any pair partners it
    * with an indexed doc (corpus-wins, same convention as
    * [[exactAgainstIndex]] — id order between corpus and delta is
    * irrelevant) or with a smaller delta id. Output: (id, keep), one
    * row per delta doc.
    *
    * Verdicts are pair-partner greedy, not transitive: within-delta
    * chains (a~b, b~c, a!~c) keep only the smallest id, matching the
    * batch [[graft.operators.Clustering.dedupVerdicts]] for chains
    * whose pairs all exist; for full closure semantics over a large
    * delta, run Clustering.dedupVerdicts on the pair set instead. */
  def verdictsFromIncrementalPairs(delta: DataFrame, id: String,
                                   pairs: DataFrame,
                                   d1: String = "d1",
                                   d2: String = "d2"): DataFrame = {
    val ids = delta.select(col(id).cast("long").as("__did"))
    // mark which side of each pair is a delta doc (the other is indexed)
    val marked = pairs
      .select(col(d1).cast("long").as("a"), col(d2).cast("long").as("b"))
      .join(ids.select(col("__did").as("a"), lit(true).as("__la")),
        Seq("a"), "left_outer")
      .join(ids.select(col("__did").as("b"), lit(true).as("__lb")),
        Seq("b"), "left_outer")
    val drops = marked.select(explode(array(
        // delta side of a cross pair always drops (corpus wins)
        when(col("__la").isNotNull && col("__lb").isNull, col("a")),
        when(col("__lb").isNotNull && col("__la").isNull, col("b")),
        // within-delta pair: the larger id drops (d1 < d2 by contract)
        when(col("__la").isNotNull && col("__lb").isNotNull, col("b"))))
        .as("__drop"))
      .where(col("__drop").isNotNull).distinct()
    ids.join(drops.select(col("__drop").as("__did"), lit(true).as("__d")),
        Seq("__did"), "left_outer")
      .select(col("__did").as(id), col("__d").isNull.as("keep"))
  }

  def embeddingPairsLsh(df: DataFrame, id: String, vec: String,
                        threshold: Double, dim: Int = 0,
                        maxBands: Int = 512): DataFrame = {
    import graft.functions.VectorFunctions._
    // dim inference needs one row (pass `dim` to stay fully lazy); an
    // empty / all-null-vector input has no pairs at all
    val d = if (dim > 0) dim
      else df.select(size(col(vec)).as("n")).where(col(vec).isNotNull)
        .limit(1).collect() match {
          case Array(r) => r.getInt(0)
          case _ =>
            // empty result with the SAME schema as the normal path (id
            // columns inherit the input id type) so unions across shards
            // never hit a schema mismatch on the empty case
            return df.select(col(id).as("id1"), col(id).as("id2"),
              lit(0.0).as("cosine")).limit(0)
        }
    val (bits, bands) = Similarity.bandingFor(threshold, maxBands)
    val vBase = df.select(col(id).as("vid"), asDoubles(col(vec)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
    // spread before the band-key kernel ONLY (bits x bands hyperplane
    // dots per row — measured at sf0.1: 3.4 s of pure CPU on the
    // 2 tasks a bytes-sized scan yields, with 30 cores idle; guard
    // makes it a no-op at cluster scale). The verify lookups x/y stay
    // on the unspread base: they are re-shuffled by id regardless, so
    // a spread there would only add an exchange.
    val binned = graft.util.Parallelism.spread(vBase)
      .select(col("vid"), posexplode(
        Similarity.cosineLshBandKeys(col("v"), d, bits, bands))
        .as(Seq("band", "bkey")))
    // the exploded band table is `bands`x the source rows, but Catalyst
    // sizes it from the parquet scan and happily BROADCASTS it (a 1M-row
    // single-threaded HashedRelation build at sf0.1; at corpus scale the
    // driver would OOM). Force the shuffle hash join the scaladoc
    // promises: partition by (band, bkey), build per-partition maps.
    val cand = binned.hint("shuffle_hash").as("a")
      .join(binned.hint("shuffle_hash").as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id1"), col("b.vid").as("id2"))
      .distinct()
    // vector lookups are corpus-sized (full embeddings) — never
    // broadcast; shuffle on the candidate ids
    val x = vBase.select(col("vid").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
      .hint("shuffle_hash")
    val y = vBase.select(col("vid").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
      .hint("shuffle_hash")
    cand.join(x, "id1").join(y, "id2")
      .withColumn("cosine", cosineFrom(dot(col("v1"), col("v2")), col("n1"), col("n2")))
      .where(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), round(col("cosine"), 4).as("cosine"))
  }

  /** Passage-level (sub-document) dedup: chunk each document's token
    * stream into consecutive passages of `width` tokens, drop every
    * passage whose text occurs in >= `minDocs` DISTINCT documents —
    * keeping the single copy in the lowest doc id that contains it — and
    * reassemble each document from its surviving passages in order.
    *
    * This is span-level dedup at fixed granularity (boilerplate headers,
    * license blocks, templated paragraphs repeat across documents that
    * are NOT near-duplicates as wholes, so document-level dedup never
    * sees them); keep-first preserves exactly one copy of every repeated
    * span in the corpus.
    *
    * Scale shape: passage TEXT never crosses a shuffle. Chunks are
    * reduced to `(doc_id, cidx, xxhash64(passage))` before the global
    * frequency groupBy, the keep/drop decision travels back as a list of
    * surviving chunk indexes per document, and the reassembly join on
    * doc_id re-slices the passages locally from the document's own token
    * array — so the only full-text shuffle is the one doc_id-keyed
    * exchange of the reassembly join (zero if the corpus is already
    * bucketed by doc id). 64-bit passage hashing: a false collision
    * needs ~2^32 DISTINCT passages in one hash bucket's corpus
    * (birthday bound) — switch to the 128-bit md5 pair at that scale.
    *
    * Returns one row per input document:
    * `(doc_id, kept_text, n_chunks, n_kept)`.
    */
  def passageDedup(docs: DataFrame, id: String, text: String,
                   width: Int = 8, minDocs: Int = 2): DataFrame = {
    require(width >= 1, s"width must be >= 1, got $width")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // consecutive fixed-width passages; ceil(n/width) chunks, last
    // ragged — ONE compiled tokenize+group pass per document
    // (TextKernels.tokenSpans). The composed transform/slice form this
    // replaces got its tokenization collapsed INTO the per-passage
    // lambda, re-splitting the whole document per passage:
    // O(n²/width), a measured stall on the 10 MB long-document sweep.
    // (coalesce: a NULL document keeps the empty-passages contract the
    // composed `otherwise(array())` branch provided — n_chunks 0, not
    // NULL)
    val withP = docs.select(col(id).cast("long").as("doc_id"),
      coalesce(
        graft.expressions.TextExprs.tokenSpans(col(text), width, width),
        array().cast("array<string>")).as("passages"))
    // hash-only chunk stream: text dropped BEFORE any exchange
    val chunks = withP
      .select(col("doc_id"), posexplode(col("passages")).as(Seq("cidx", "passage")))
      .select(col("doc_id"), col("cidx"), xxhash64(col("passage")).as("pfp"))
    val freq = chunks.groupBy("pfp")
      .agg(countDistinct(col("doc_id")).as("ndocs"),
        min(col("doc_id")).as("first_doc"))
    // surviving chunk indexes per doc (ints, tiny). Both joins here are
    // corpus-by-corpus — pin shuffle-hash so a stats misestimate can
    // never try to broadcast a corpus-sized side (freq reuses its agg's
    // pfp partitioning, so only the chunk stream exchanges)
    val keptIdx = chunks.join(freq.hint("shuffle_hash"), "pfp")
      .where(col("ndocs") < minDocs || col("doc_id") === col("first_doc"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("cidx"))).as("keep"))
    // reassemble locally from the doc's own passages; docs that lost
    // every chunk survive as empty text
    withP.join(keptIdx.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(
          array_join(transform(col("keep"),
            i => element_at(col("passages"), i + 1)), " "),
          lit("")).as("kept_text"),
        size(col("passages")).cast("long").as("n_chunks"),
        coalesce(size(col("keep")), lit(0)).cast("long").as("n_kept"))
  }

  /** Corpus-level LINE dedup (the RefinedWeb boilerplate rule, distinct
    * from [[graft.functions.TextFunctions.dupLineStats]]'s within-doc
    * statistics): split each document on `\n`, drop every line whose
    * TRIMMED content occurs in >= `minDocs` DISTINCT documents, and
    * reassemble the survivors in order. Navigation chrome, cookie
    * banners and share buttons repeat verbatim across pages that are
    * not near-duplicates as wholes, which is exactly why the rule is
    * line-grained and corpus-global. `keepFirst=false` (default)
    * removes ALL copies — "Sign in" is boilerplate everywhere, there is
    * no canonical owner; `keepFirst=true` keeps the lowest-doc-id
    * document's occurrences ([[passageDedup]]'s convention).
    *
    * Line identity is the full-ASCII-whitespace trim of dupLineStats
    * (CRLF corpora match across \r\n vs \n); the RE-ASSEMBLED text
    * keeps each surviving line's ORIGINAL bytes. Blank (trim-empty)
    * lines carry no content: never counted, never dropped.
    *
    * Scale shape, same discipline as [[passageDedup]]: the frequency
    * stream is `(doc_id, lidx, xxhash64(trimmed))` — line TEXT never
    * crosses a shuffle — the drop decision travels back as a per-doc
    * list of line indexes (boilerplate-sized, not document-sized), and
    * reassembly re-slices each document's own split locally via an
    * O(n) hash-set `array_except`, so the only full-text shuffle is
    * the doc_id-keyed reassembly join.
    *
    * Returns one row per input document:
    * `(doc_id, kept_text, n_lines, n_kept)` — counts are NON-BLANK
    * lines (dupLineStats' n_lines), kept_text preserves blank lines. */
  def lineDedup(docs: DataFrame, id: String, text: String,
                minDocs: Int = 2, keepFirst: Boolean = false): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val withL = lineSplit(docs, id, text)
    val keyed = lineKeys(withL)
    val freq = keyed.groupBy("lfp")
      .agg(countDistinct(col("doc_id")).as("ndocs"),
        min(col("doc_id")).as("first_doc"))
    // indexes to DROP per doc (the boilerplate-sized side of the
    // decision; keep lists are document-sized). Corpus-by-corpus joins
    // pinned shuffle-hash, passageDedup's rationale.
    val dropIdx = keyed.join(freq.hint("shuffle_hash"), "lfp")
      .where(col("ndocs") >= minDocs &&
        (if (keepFirst) col("doc_id") =!= col("first_doc") else lit(true)))
      .groupBy("doc_id")
      .agg(collect_list(col("lidx")).as("drop"))
    reassembleMinusDrops(withL, dropIdx)
  }

  private val lineTrimRe = "^[ \\t\\x0B\\f\\r]+|[ \\t\\x0B\\f\\r]+$"

  /** (doc_id, lines) with the null-text contract: no document row is
    * ever lost, a null text is an empty line array. */
  private def lineSplit(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).cast("long").as("doc_id"),
      coalesce(split(col(text), "\n"), array().cast("array<string>"))
        .as("lines"))

  /** The hash-only line stream `(doc_id, lidx, lfp)` — blanks excluded
    * at the source, line TEXT never leaves the projection. */
  private def lineKeys(withL: DataFrame): DataFrame =
    withL
      .select(col("doc_id"), posexplode(col("lines")).as(Seq("lidx", "l")))
      .select(col("doc_id"), col("lidx"),
        regexp_replace(col("l"), lineTrimRe, "").as("ct"))
      .where(length(col("ct")) > 0)
      .select(col("doc_id"), col("lidx"), xxhash64(col("ct")).as("lfp"))

  /** Local reassembly from the document's own split: surviving indexes
    * = 0..n-1 minus the per-doc `drop` list (array_except is hash-set
    * based, O(n); sequence() guarded — an empty lines array would
    * otherwise generate a DESCENDING range). */
  private def reassembleMinusDrops(withL: DataFrame,
                                   dropIdx: DataFrame): DataFrame = {
    val allIdx = when(size(col("lines")) > 0,
      sequence(lit(0), size(col("lines")) - 1)).otherwise(
      array().cast("array<int>"))
    val kept = array_except(allIdx,
      coalesce(col("drop"), array().cast("array<int>")))
    val nLines = size(filter(col("lines"),
      l => length(regexp_replace(l, lineTrimRe, "")) > 0)).cast("long")
    withL.join(dropIdx.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(transform(kept,
          i => element_at(col("lines"), i + 1)), "\n").as("kept_text"),
        nLines.as("n_lines"),
        (nLines - coalesce(size(col("drop")), lit(0)).cast("long"))
          .as("n_kept"))
  }

  /** One ingest batch's line-frequency slice: `(lfp, ndocs)` at
    * DISTINCT-doc grain — the additive unit the index accumulates. */
  private def lineFreqSlice(df: DataFrame, id: String,
                            text: String): DataFrame =
    lineKeys(lineSplit(df, id, text)).groupBy("lfp")
      .agg(countDistinct(col("doc_id")).as("ndocs"))

  /** Persist the corpus's line-frequency inventory — the incremental-
    * crawl primitive behind [[lineDedup]]'s remove-all rule: a
    * re-crawl's boilerplate lines match the ACCUMULATED corpus counts,
    * not just the delta's own. 8-byte hashes + two longs per distinct
    * line; line text never persists. The doc ledger backs the
    * disjoint-ids guard every `extend*` in this file enforces. */
  def buildLineIndex(df: DataFrame, id: String, text: String,
                     name: String, path: String,
                     numBuckets: Int = 32): LineIndex = {
    val idx = LineIndex(name, path, numBuckets)
    lineFreqSlice(df, id, text)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, "lfp").sortBy("lfp")
      .option("path", s"$path/${idx.freqTable}")
      .format("parquet").saveAsTable(idx.freqTable)
    df.select(col(id).cast("long").as("doc_id")).distinct()
      .write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, "doc_id").sortBy("doc_id")
      .option("path", s"$path/${idx.docsTable}")
      .format("parquet").saveAsTable(idx.docsTable)
    idx
  }

  /** Fold a delta into the line index: O(delta) — APPENDS the delta's
    * own frequency slice (distinct-doc counts are additive exactly
    * when ingests never share a document, hence the guard) plus its
    * ledger ids. The freq table accumulates one row per (slice, lfp);
    * probes fold with sum, [[compactLineIndex]] re-collapses. */
  def extendLineIndex(delta: DataFrame, id: String, text: String,
                      idx: LineIndex): Unit = {
    IndexAdmin.requireDisjointIds(delta, id, idx.docsTable, "doc_id",
      "extendLineIndex")
    lineFreqSlice(delta, id, text)
      .write.mode(SaveMode.Append)
      .bucketBy(idx.numBuckets, "lfp").sortBy("lfp")
      .format("parquet").saveAsTable(idx.freqTable)
    delta.select(col(id).cast("long").as("doc_id")).distinct()
      .write.mode(SaveMode.Append)
      .bucketBy(idx.numBuckets, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(idx.docsTable)
  }

  /** [[lineDedup]]'s remove-all rule for a delta against the indexed
    * corpus: a delta line is dropped iff its distinct-doc count across
    * corpus ∪ delta reaches `minDocs` (indexed slices fold Exchange-
    * free out of their lfp buckets; under the id-disjointness contract
    * this EQUALS `lineDedup(corpus ∪ delta)` restricted to the delta's
    * documents — spec-pinned). Only the delta is rewritten; keep-first
    * is deliberately not offered here (history is not re-litigated —
    * exactAgainstIndex's corpus-wins convention). */
  def lineDedupAgainstIndex(delta: DataFrame, id: String, text: String,
                            idx: LineIndex, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val spark = delta.sparkSession
    val withL = lineSplit(delta, id, text)
    val keyed = lineKeys(withL)
    val idxFreq = spark.table(idx.freqTable)
      .groupBy("lfp").agg(sum("ndocs").as("__in"))
      .select(col("lfp").as("__ilfp"), col("__in"))
    val deltaFreq = keyed.groupBy("lfp")
      .agg(countDistinct(col("doc_id")).as("__dn"))
    // index side is corpus-vocabulary-sized: never broadcast
    val boiler = deltaFreq
      .join(idxFreq.hint("shuffle_hash"), col("lfp") === col("__ilfp"),
        "left")
      .where(col("__dn") + coalesce(col("__in"), lit(0L)) >= minDocs)
      .select(col("lfp"))
    val dropIdx = keyed.join(boiler.hint("shuffle_hash"), Seq("lfp"))
      .groupBy("doc_id")
      .agg(collect_list(col("lidx")).as("drop"))
    reassembleMinusDrops(withL, dropIdx)
  }

  /** Blue/green compaction: collapse the accumulated per-ingest slices
    * to one row per lfp in a NEW index, then drop the old one. */
  def compactLineIndex(spark: org.apache.spark.sql.SparkSession,
                       idx: LineIndex, name: String,
                       path: String): LineIndex = {
    require(name != idx.name && path != idx.path,
      "compaction is blue/green: compact into a NEW name and path, " +
        "then drop the old index")
    val out = LineIndex(name, path, idx.numBuckets)
    spark.table(idx.freqTable)
      .groupBy("lfp").agg(sum("ndocs").as("ndocs"))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(out.numBuckets, "lfp").sortBy("lfp")
      .option("path", s"$path/${out.freqTable}")
      .format("parquet").saveAsTable(out.freqTable)
    copyBucketed(spark, s"${idx.path}/${idx.docsTable}", out.docsTable,
      s"$path/${out.docsTable}", idx.numBuckets, "doc_id")
    out
  }
}
