package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Handle to a persisted CDC chunk index (see
  * [[Chunking.buildChunkIndex]]): one (chunk_hash, keep_id) row per
  * distinct chunk content, bucketed by hash, plus the CDC parameters —
  * baked in at build time so probes can never chunk differently than
  * the index. */
case class ChunkIndex(name: String, path: String, numBuckets: Int,
                      window: Int, prime: Int, modBits: Int,
                      divisor: Int, residue: Int) extends PersistedIndex {
  def chunksTable: String = s"${name}_chunks"
  def tables: Seq[String] = Seq(chunksTable)
}

/** Content-defined chunking (CDC) — rolling-hash boundaries over
  * document text, the rsync/LBFS/FastCDC family (Muthitacharoen et al.,
  * SOSP '01; Xia et al., ATC '16): a boundary falls wherever a rolling
  * hash of the last `window` characters hits a fixed residue, so chunk
  * edges move WITH the content. Insert a paragraph into a 100 TB corpus
  * snapshot and only the chunks touching the edit change identity;
  * offset-based slicing would shift every downstream hash. That makes
  * CDC chunk hashes the right unit for incremental dedup, delta storage
  * and "what actually changed" diffing between crawl snapshots.
  *
  * The reference engine has no chunking surface
  * (`/root/reference/pipeline/pipeline.go` routes whole tuples); this
  * extends the LLM-pipeline layer like [[Dedup]]/[[Sampling]].
  *
  * Spark-first shape: boundary detection is a custom codegen'd Catalyst
  * expression ([[graft.expressions.CdcBoundaries]] — a compiled O(n)
  * rolling-hash pass per document); chunk assembly around it is builtin
  * functions over the small boundary array. Zero UDFs and ZERO
  * SHUFFLES: every chunk is derived row-locally and exploded in place,
  * so a 1000-executor scan chunks 100 TB at full parallelism with
  * nothing crossing the wire.
  *
  * The hash is polynomial over UNICODE CODEPOINTS (`split('')` +
  * `ascii`, both codepoint-based), H(i) = Σ_{j<w} code(c_{i-j})·p^j
  * mod 2^modBits, boundary after position i when H(i) mod divisor =
  * residue — exact integer arithmetic end-to-end so any engine
  * reproduces boundaries bit-for-bit (the DuckDB oracle does). Expected
  * chunk length ≈ `divisor` chars; a document with no boundary (shorter
  * than the window, or unlucky content) is one whole-doc chunk, bounded
  * by document length — a production variant would add a FastCDC-style
  * max-length hard split, which is a row-local post-pass.
  */
object Chunking {

  /** Content-defined chunks of `textCol`: one row per chunk with its
    * 1-based `start`, `len` (codepoints) and `chunk_hash` (md5 of the
    * chunk text — the dedup identity). `carry` names extra input
    * columns to keep on every chunk row (row-local passthrough — e.g.
    * the event-time column a streaming caller's watermark rides on).
    * A NULL text yields NO chunk rows (the boundary kernel
    * null-propagates and the explode of a null array emits nothing) —
    * the contract every q_cdc / q_chunk oracle mirrors with an
    * explicit text IS NOT NULL filter. */
  def cdcChunks(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", window: Int = 16,
                prime: Int = 31, modBits: Int = 20, divisor: Int = 64,
                residue: Int = 13, carry: Seq[String] = Nil): DataFrame = {
    require(window >= 2 && modBits <= 40 && divisor >= 2 &&
      residue >= 0 && residue < divisor && prime > 0,
      "degenerate CDC parameters (window=" + window + ", prime=" + prime +
        s", modBits=$modBits, divisor=$divisor, residue=$residue): need " +
        "window >= 2, prime > 0, modBits <= 40, divisor >= 2, " +
        "0 <= residue < divisor")
    // fail fast on carry-name collisions: a carry that shadows the id,
    // the text, or a generated output column would otherwise surface
    // only as an ambiguous-column error far downstream
    val reserved = Set(idCol, textCol, "chunk", "start", "len",
      "chunk_hash")
    val clash = carry.filter(reserved)
    require(clash.isEmpty && carry.distinct.size == carry.size,
      s"carry columns must be distinct and disjoint from idCol/textCol " +
        s"and the generated outputs ${reserved.mkString("(", ", ", ")")}" +
        s"; offending: ${(clash ++ carry.diff(carry.distinct)).distinct
          .mkString(", ")}")
    // Boundary detection is a compiled O(n) rolling-hash kernel
    // (graft.expressions.CdcBoundaries, one call per row, codegen'd) —
    // the composed higher-order-function form ran INTERPRETED, and
    // CollapseProject inlined the codes projection into the lambdas, so
    // split+transform re-evaluated at every (position, window) step:
    // O(n²·w) per document, measured as a multi-minute stall at sf0.1.
    // The remaining HOFs below only walk the ~(n/divisor)-sized
    // boundary array.
    // Chunk TEXT comes from one linear slice pass over the whole
    // document (TextKernels.cdcSlices) — the per-chunk
    // substr(__text, start, len) form re-scanned from the string head
    // to locate each chunk's byte offset (UTF8String counts codepoints
    // per call), O(n²/divisor) per document: fine on fixture docs, a
    // stall on the 10 MB long-document sweep. start/len still derive
    // from the boundary array (HOFs over the ~n/divisor-sized array).
    // The exploded rows carry ONLY their own chunk's struct — exploding
    // alongside the full __text (or the boundary/starts arrays) would
    // copy O(document) bytes into every chunk row in the generate's
    // output (Tungsten rows are self-contained), turning the explode
    // into another O(n²/divisor) pass.
    val carryCols = carry.map(col)
    docs
      .select(col(idCol) +: col(textCol).as("__text") +: carryCols: _*)
      .withColumn("__bnd", graft.expressions.TextExprs.cdcBoundaries(
        col("__text"), window, prime, modBits, divisor, residue))
      .withColumn("__spans", zip_with(
        graft.expressions.TextExprs.cdcSlices(col("__text"), col("__bnd")),
        expr("concat(array(1), transform(__bnd, x -> x + 1))"),
        (s, st) => struct(st.as("start"), s.as("ctext"))))
      .select(col(idCol) +: carryCols :+
        posexplode(col("__spans")).as(Seq("chunk", "__sp")): _*)
      .select(col(idCol) +: col("chunk").cast("long").as("chunk") +:
        col("__sp.start").cast("long").as("start") +:
        length(col("__sp.ctext")).cast("long").as("len") +:
        md5(col("__sp.ctext").cast("binary")).as("chunk_hash") +:
        carryCols: _*)
  }

  /** Fixed-size OVERLAPPING token windows — the model-context-defined
    * complement to [[cdcChunks]]' content-defined boundaries: the
    * passage extraction an embedding/RAG pipeline runs before encoding
    * (window `size` tokens, step `stride`, overlap = size - stride
    * keeps context across cuts). Every token is covered: window k
    * starts at k·stride for k = 0..ceil(max(n-size,0)/stride), windows
    * are full-length except the last (clipped to the document tail),
    * and a document shorter than `size` is one whole-doc window.
    *
    * Output: one row per window — `(idCol, win, start_tok, n_tok,
    * span_hash)` with 0-based `win`/`start_tok` and `span_hash` = md5
    * of the space-joined window tokens (the join key an embedding
    * table or dedup pass carries instead of the text).
    *
    * Scale shape: like [[cdcChunks]], ZERO SHUFFLES — tokenization,
    * window enumeration (`explode(sequence)`), slicing and hashing are
    * row-local codegen; output multiplies bytes by ~size/stride and
    * downstream consumers choose their own partitioning. */
  def tokenWindows(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", size: Int = 128,
                   stride: Int = 96): DataFrame = {
    require(size >= 1 && stride >= 1 && stride <= size,
      s"need 1 <= stride <= size, got size=$size stride=$stride")
    // ONE compiled tokenize+window pass per document
    // (TextKernels.tokenSpans) and an explode that carries only the
    // token COUNT (an int) beside each span. The prior form both (a)
    // let CollapseProject fold the tokenization into a per-window
    // lambda (full re-split per window) and (b) exploded window ids
    // alongside the full token array (each self-contained Tungsten
    // output row copied all n tokens) — two independent
    // O(n²/stride)-per-document passes, each a stall at the 10 MB
    // long-document sweep.
    docs
      .select(col(idCol),
        graft.expressions.TextExprs.tokenSpans(col(textCol), size, stride)
          .as("__spans"),
        graft.functions.TextFunctions.tokenCount(col(textCol)).as("__n"))
      .where(col("__n") > 0)
      .select(col(idCol), col("__n"),
        posexplode(col("__spans")).as(Seq("win", "__span")))
      .select(col(idCol), col("win").cast("long").as("win"),
        (col("win").cast("long") * stride).as("start_tok"),
        least(lit(size.toLong), col("__n") - col("win") * stride)
          .cast("long").as("n_tok"),
        md5(col("__span").cast("binary")).as("span_hash"))
  }

  /** Chunk-level exact duplication: chunks whose content recurs across
    * documents — boilerplate headers, licence blocks, templated spans —
    * with how many documents and chunk slots share them. The one shuffle
    * is on the 16-byte hash at CHUNK cardinality with map-side partial
    * aggregation; chunk text never leaves its row. */
  def chunkDuplicates(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", window: Int = 16,
                      minDocs: Int = 2): DataFrame =
    cdcChunks(docs, idCol, textCol, window)
      .groupBy("chunk_hash")
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        min(col("len")).as("len"))
      .filter(col("n_docs") >= minDocs)

  /** Per-document BOILERPLATE ratio: the fraction of a document's CDC
    * chunks whose content recurs in at least `minDocs` documents
    * corpus-wide — headers, navigation, license blocks, templates. The
    * quality signal the chunk grain uniquely provides: a document can
    * be 90% boilerplate yet exactly duplicate nothing at whole-doc
    * grain, and line-based heuristics miss boilerplate that is not
    * line-aligned; CDC boundaries move WITH the content, so shared
    * spans land in shared chunks wherever they sit. Output:
    * `(id, n_chunks, n_boiler, boilerplate)`.
    *
    * Scale shape: chunking is the zero-shuffle compiled kernel; the
    * duplicated-hash frame is one 16-byte-hash aggregate; the re-join
    * is hash-keyed with the dup side pinned shuffle-hash (it is
    * corpus-duplication-sized — boilerplate-heavy corpora would make
    * it a broadcast OOM), and the per-doc rollup ships (id, flag)
    * pairs. Chunk text never crosses the wire. */
  def boilerplateRatio(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", minDocs: Int = 2,
                       window: Int = 16): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val ch = cdcChunks(docs, idCol, textCol, window)
    val dup = ch.groupBy("chunk_hash")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select(col("chunk_hash").as("__bh"), lit(true).as("__dup"))
    ch.join(dup.hint("shuffle_hash"), col("chunk_hash") === col("__bh"),
        "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boilerplate",
        round(col("n_boiler").cast("double") /
          col("n_chunks").cast("double"), 6))
  }

  // ------------------------------------------------------------------
  // Persisted chunk index — the incremental-crawl lifecycle
  // ------------------------------------------------------------------

  private def chunksWith(df: DataFrame, idCol: String, textCol: String,
                         idx: ChunkIndex): DataFrame =
    cdcChunks(df, idCol, textCol, idx.window, idx.prime, idx.modBits,
      idx.divisor, idx.residue)

  /** Persist the corpus's chunk inventory: one (chunk_hash, keep_id)
    * row per distinct chunk content, bucketed by hash — the same
    * smallest-possible-artifact discipline as [[Dedup.buildExactIndex]]
    * but at CHUNK granularity, which is what makes it the
    * incremental-crawl primitive: a re-crawled page whose byline
    * changed still matches on every untouched chunk, because CDC
    * boundaries moved with the content. 16-byte keys only; chunk text
    * never persists. */
  def buildChunkIndex(df: DataFrame, idCol: String, textCol: String,
                      name: String, path: String, numBuckets: Int = 32,
                      window: Int = 16, prime: Int = 31, modBits: Int = 20,
                      divisor: Int = 64, residue: Int = 13): ChunkIndex = {
    val idx = ChunkIndex(name, path, numBuckets, window, prime, modBits,
      divisor, residue)
    chunksWith(df, idCol, textCol, idx)
      .groupBy("chunk_hash").agg(min(col(idCol)).as("keep_id"))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, "chunk_hash").sortBy("chunk_hash")
      .option("path", s"$path/${idx.chunksTable}")
      .format("parquet").saveAsTable(idx.chunksTable)
    idx
  }

  /** Fold a processed delta's chunks in: only hashes NOT already
    * indexed append (anti-join), preserving one-row-per-hash. Same
    * single-writer and disjoint-ids contracts as the other indexes —
    * the id check is the default-on [[IndexAdmin.requireDisjointIds]]
    * guard, so a re-folded crawl fails loudly instead of silently
    * re-litigating keep verdicts. */
  def extendChunkIndex(delta: DataFrame, idCol: String, textCol: String,
                       idx: ChunkIndex): Unit = {
    val spark = delta.sparkSession
    IndexAdmin.requireDisjointIds(delta, idCol, idx.chunksTable, "keep_id",
      "extendChunkIndex")
    val existing = spark.table(idx.chunksTable)
      .select(col("chunk_hash").as("__ih")).hint("shuffle_hash")
    chunksWith(delta, idCol, textCol, idx)
      .groupBy("chunk_hash").agg(min(col(idCol)).as("keep_id"))
      .join(existing, col("chunk_hash") <=> col("__ih"), "left_anti")
      .write.mode(SaveMode.Append)
      .bucketBy(idx.numBuckets, "chunk_hash").sortBy("chunk_hash")
      .format("parquet").saveAsTable(idx.chunksTable)
  }

  /** Per-document chunk novelty of a delta against the indexed corpus:
    * (id, n_chunks, n_novel, novelty) where a chunk is novel iff its
    * hash is unseen in the index AND this document is the delta's
    * first carrier (min id wins — corpus-wins then keep-first, the
    * [[Dedup.exactAgainstIndex]] verdict convention at chunk grain).
    * `novelty` = n_novel / n_chunks is the incremental-crawl signal:
    * re-crawls of known pages score ~0, genuinely new content ~1, and
    * templated pages land in between — the filter threshold a 100 TB
    * ingest actually applies.
    *
    * Scale shape: the delta shuffles once on chunk_hash (the window
    * partitioning is reused by the join); the index side streams out
    * of its buckets, never broadcast; the doc-level rollup shuffles
    * (id, flag) pairs only. Chunk text never crosses the wire — md5
    * decides everything. */
  def deltaNovelty(delta: DataFrame, idCol: String, textCol: String,
                   idx: ChunkIndex): DataFrame = {
    val spark = delta.sparkSession
    val seen = spark.table(idx.chunksTable)
      .select(col("chunk_hash").as("__ih"), lit(true).as("__seen"))
      .hint("shuffle_hash")
    val w = Window.partitionBy(col("chunk_hash"))
    chunksWith(delta, idCol, textCol, idx)
      .withColumn("__first", min(col(idCol)).over(w))
      .join(seen, col("chunk_hash") <=> col("__ih"), "left_outer")
      .withColumn("__novel",
        col("__seen").isNull && col(idCol) === col("__first"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("__novel").cast("long")).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel") / col("n_chunks"), 6))
  }

  /** Per-CHUNK novelty verdicts of a document STREAM against the
    * persisted index — the at-ingest shape of [[deltaNovelty]]: every
    * operator in the pipeline is stateless (the CDC kernel is row-local
    * and the index join is stream-static), so this runs in append mode
    * with no watermark, no state store, and per-record latency — score
    * documents as they arrive, fold accepted batches into the index
    * with [[extendChunkIndex]] on whatever cadence the ingest commits.
    * Within-stream first-carrier dedup (deltaNovelty's window) is
    * deliberately absent: it would need keyed state on chunk_hash;
    * cross-batch duplicates are what the periodic index fold-in
    * resolves. Emits (id, chunk, chunk_hash, seen); works identically
    * on a batch frame.
    *
    * The index is resolved through the FRAME's session, so a replay
    * harness running the query in a scoped `newSession` still sees it
    * (persistent catalog tables are shared; only temp views are
    * session-local). */
  def chunkVerdictStream(stream: DataFrame, idCol: String,
                         textCol: String, idx: ChunkIndex): DataFrame = {
    val seen = stream.sparkSession.table(idx.chunksTable)
      .select(col("chunk_hash").as("__ih"), lit(true).as("__seen"))
      .hint("shuffle_hash")
    chunksWith(stream, idCol, textCol, idx)
      .join(seen, col("chunk_hash") <=> col("__ih"), "left_outer")
      .select(col(idCol), col("chunk"), col("chunk_hash"),
        coalesce(col("__seen"), lit(false)).as("seen"))
  }

  /** Opt-in STATEFUL variant of [[chunkVerdictStream]] with AT-INGEST
    * first-carrier semantics: each chunk_hash emits at most once per
    * watermark horizon — the FIRST observed carrier (arrival order;
    * within one micro-batch the tie is arbitrary, which is the honest
    * contract for an ingest stream) — so two novel duplicates arriving
    * in the same stream dedup in-stream instead of waiting for the
    * next [[extendChunkIndex]] fold-in. The cost the stateless default
    * deliberately avoids: keyed state on chunk_hash, bounded by the
    * watermark horizon (`dropDuplicatesWithinWatermark` — state for a
    * hash is dropped once the watermark passes its event time, so
    * state size is ingest-rate x horizon, not corpus-sized). Emits
    * (id, chunk, chunk_hash, seen) in append mode; `seen` still means
    * "in the persisted index" — an in-stream duplicate simply never
    * emits. Duplicates arriving further apart than `watermarkDelay`
    * can re-emit (state already evicted); the periodic fold-in remains
    * the cross-horizon backstop. */
  def chunkVerdictStreamFirstCarrier(stream: DataFrame, idCol: String,
                                     textCol: String, tsCol: String,
                                     watermarkDelay: String,
                                     idx: ChunkIndex): DataFrame = {
    val seen = stream.sparkSession.table(idx.chunksTable)
      .select(col("chunk_hash").as("__ih"), lit(true).as("__seen"))
      .hint("shuffle_hash")
    val chunks = cdcChunks(
      stream.withWatermark(tsCol, watermarkDelay), idCol, textCol,
      idx.window, idx.prime, idx.modBits, idx.divisor, idx.residue,
      carry = Seq(tsCol))
    // Spark rejects dropDuplicatesWithinWatermark on bounded frames; a
    // batch frame has a natural horizon (the whole frame), so plain
    // dropDuplicates IS the same first-carrier contract there
    val firsts =
      if (stream.isStreaming) chunks.dropDuplicatesWithinWatermark("chunk_hash")
      else chunks.dropDuplicates("chunk_hash")
    firsts
      .join(seen, col("chunk_hash") <=> col("__ih"), "left_outer")
      .select(col(idCol), col("chunk"), col("chunk_hash"),
        coalesce(col("__seen"), lit(false)).as("seen"))
  }

  /** Snapshot diff at chunk grain: given two crawls of the same id
    * space, per document the retained / added / removed chunk counts
    * and a change ratio — the "what actually moved between snapshots"
    * report that CDC boundaries make meaningful (an inserted paragraph
    * changes the chunks that cover it, not every chunk after the byte
    * offset). Docs present in only one snapshot diff against an empty
    * chunk set; identical docs report `change = 0`.
    *
    * Chunk multiplicity counts: a chunk appearing twice in the old text
    * and once in the new contributes one retained and one removed —
    * multiset semantics, so per-doc counts always satisfy
    * n_old = retained + removed and n_new = retained + added.
    *
    * Scale shape: chunking is the zero-shuffle kernel path on both
    * sides; the diff is ONE shuffle of (id, hash, count) triples — a
    * full-outer join on (id, chunk_hash) at chunk cardinality, hashes
    * only, chunk text never moves. */
  def chunkDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
                textCol: String, window: Int = 16): DataFrame = {
    def counts(df: DataFrame) =
      cdcChunks(df, idCol, textCol, window)
        .groupBy(col(idCol), col("chunk_hash"))
        .agg(count(lit(1)).as("n"))
    val o = counts(oldDocs).withColumnRenamed("n", "n_old")
    val nw = counts(newDocs).withColumnRenamed("n", "n_new")
    o.join(nw, Seq(idCol, "chunk_hash"), "full_outer")
      .select(col(idCol),
        coalesce(col("n_old"), lit(0L)).as("o"),
        coalesce(col("n_new"), lit(0L)).as("nn"))
      .groupBy(col(idCol))
      .agg(sum(least(col("o"), col("nn"))).as("retained"),
        sum(greatest(col("nn") - col("o"), lit(0L))).as("added"),
        sum(greatest(col("o") - col("nn"), lit(0L))).as("removed"))
      .withColumn("change", round(
        (col("added") + col("removed")) /
          (col("retained") * 2 + col("added") + col("removed")), 6))
  }

  /** Compact a many-times-extended chunk index to one file per bucket
    * under a NEW name/path — blue/green, same contract as
    * [[Dedup.compactIndex]]: old index stays readable until the caller
    * [[PersistedIndex.drop]]s it. */
  def compactChunkIndex(spark: SparkSession, idx: ChunkIndex,
                        name: String, path: String): ChunkIndex = {
    require(name != idx.name && path != idx.path,
      "compaction is blue/green: compact into a NEW name and path, " +
        "then drop the old index")
    val out = idx.copy(name = name, path = path)
    Dedup.copyBucketed(spark, s"${idx.path}/${idx.chunksTable}",
      out.chunksTable, s"$path/${out.chunksTable}", idx.numBuckets,
      "chunk_hash")
    out
  }
}
