package graft.gates

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Chunking, Clustering, Contamination, Dedup}
import GateSupport._

/** Dedup gates: exact, passage, line, CDC-chunk, Jaccard, MinHash,
  * SimHash and embedding dedup, their incremental indexes, and the
  * curation capstones built on them. */
object DedupGates {

  // 31^j mod 2^20 for j < 16 — the CDC gear-polynomial constants shared
  // by the q_cdc_* oracles (Chunking.cdcChunks inlines the same values)
  private val cdcPows: Seq[Long] =
    Iterator.iterate(1L)(x => x * 31 % (1L << 20)).take(16).toSeq

  /** DuckDB replay of Chunking.cdcChunks over `src` (any relation with
    * doc_id + text): yields (doc_id, chunk, start, len, chunk_hash).
    * One definition for every q_cdc_* / q_chunk_* oracle.
    *
    * LINEAR row form (the zip-unnest discipline every heavy replay
    * follows): one row per character, the gear polynomial as sixteen
    * `lag` terms in ONE window pass, boundary flags folded to chunk ids
    * by a running sum, chunk text rebuilt by ordered `string_agg`. The
    * per-position list-comprehension + per-chunk `substr(text, start)`
    * form it replaces was O(n·w) interpreted lambda steps plus an
    * O(n²/divisor) head re-scan per document — 28 s at the 300 k-char
    * sweep and unusable at the 10 MB one; this form is ~0.6 s and
    * ~12 s respectively, and the per-gate budget stays under a minute.
    * Empty (non-null) text has no char rows, so its single empty chunk
    * comes from the UNION'd n = 0 branch. */
  private def cdcChunksSql(src: String): String = {
    val lagSum = cdcPows.zipWithIndex.map { case (p, j) =>
      if (j == 0) s"code * $p"
      else s"coalesce(lag(code, $j) OVER w, 0) * $p"
    }.mkString(" + ")
    s"""(WITH __c AS (
       |  SELECT doc_id, length(text) AS n, string_split(text, '') AS chs
       |  FROM $src WHERE text IS NOT NULL),
       |__p AS (
       |  SELECT doc_id, n, unnest(range(1, n + 1)) AS p, unnest(chs) AS ch
       |  FROM __c),
       |__h AS (
       |  SELECT doc_id, p, ch,
       |         CASE WHEN p >= 16 AND p < n
       |              THEN ($lagSum) % 1048576 % 64 = 13
       |              ELSE false END AS is_bnd
       |  FROM (SELECT doc_id, n, p, ch, unicode(ch)::BIGINT AS code
       |        FROM __p)
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
       |__a AS (
       |  SELECT doc_id, p, ch,
       |         coalesce(sum(CASE WHEN is_bnd THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY p
       |                 ROWS BETWEEN UNBOUNDED PRECEDING
       |                          AND 1 PRECEDING), 0) AS chunk
       |  FROM __h)
       |SELECT doc_id, chunk::BIGINT AS chunk, min(p)::BIGINT AS start,
       |       count(*)::BIGINT AS len,
       |       md5(string_agg(ch, '' ORDER BY p)) AS chunk_hash
       |FROM __a GROUP BY doc_id, chunk
       |UNION ALL
       |SELECT doc_id, 0::BIGINT, 1::BIGINT, 0::BIGINT, md5('')
       |FROM __c WHERE n = 0)""".stripMargin
  }
  /** The corpus/delta/snapshot replays chunk row-SUBSETS of
    * `documents` (chunking is per-document, so a subset's chunks are a
    * subset of the whole table's chunks): chunk the whole table ONCE
    * as a MATERIALIZED CTE and derive each side by id filter/shift.
    * Explicit MATERIALIZED because DuckDB 1.0 inlines CTEs — two
    * references would run the full char-level pass twice. */
  private val allChunksCte =
    s"allch AS MATERIALIZED (SELECT * FROM ${cdcChunksSql("documents")})"

  /** Shared SQL fragment: distinct 3-gram shingles per doc (list-valued,
    * first-occurrence order, like the engine's wordShingles). Documents
    * with fewer than 3 tokens or null text produce NO row (the old
    * slice form produced an empty/NULL list) — every consumer joins `d`
    * through candidate pairs, which such documents cannot enter. */
  private val shingleCte =
    s"""d AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(list(sh ORDER BY p)) AS sh
      |  FROM ${ngramRowsSql(s"""(SELECT doc_id,
      |               ${tokensSql("text")} tk
      |        FROM documents)""", 3, gram = "sh")}
      |  GROUP BY doc_id),
      |inv AS (SELECT doc_id, unnest(sh) s FROM d),
      |rare AS (SELECT s FROM inv GROUP BY s HAVING count(*) BETWEEN 2 AND 1000),
      |cand AS (SELECT DISTINCT a.doc_id d1, b.doc_id d2
      |         FROM inv a JOIN rare USING (s) JOIN inv b USING (s)
      |         WHERE a.doc_id < b.doc_id),
      |jac AS MATERIALIZED (SELECT d1, d2,
      |               len(list_intersect(x.sh, y.sh))::DOUBLE /
      |               (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) j
      |        FROM cand JOIN d x ON x.doc_id = d1 JOIN d y ON y.doc_id = d2)
      |""".stripMargin

  private val jaccardSql =
    s"""WITH $shingleCte
       |SELECT d1, d2, round(j, 4) AS jaccard FROM jac
       |WHERE j >= 0.8 ORDER BY d1, d2""".stripMargin

  /** The q_quality_classifier oracle: ALL `iters` logistic-GD rounds
    * replayed bit-exactly. The integer-quantization contract makes
    * this possible (see Selection.trainQualityClassifier): margins,
    * probabilities, residuals and gradients are ALL integers — BIGINT
    * sums are order-free, so no float aggregation exists anywhere —
    * and the weight update rounds a double both engines derive from
    * the same integers with the same two operations (bit-identical
    * even on exact .5 boundaries, which grid-valued gradients make
    * common). Per-round CTEs mirror the Scala loop 1:1;
    * multi-referenced frames are MATERIALIZED (the unigram-train
    * lesson: an inlined CTE re-evaluates its upstream chain per
    * reference). Scoring runs over the UNLABELED feature frame —
    * null-source docs train nothing but still score. */
  private def qualityClassifierOracleSql(iters: Int, buckets: Int,
                                         lr: String): String = {
    val rounds = (1 to iters).map { t =>
      s"""m$t AS (SELECT f.doc, f.y,
         |          (SELECT bi FROM bias${t - 1}) + sum(w.w) AS mg
         |        FROM feats f JOIN w${t - 1} w USING (b)
         |        GROUP BY f.doc, f.y),
         |r$t AS MATERIALIZED (
         |        SELECT doc,
         |          (y::BIGINT * 1000000 -
         |           round(1000000e0 / (1.0e0 +
         |                 exp(-(mg::DOUBLE / 1000000e0))), 0)::BIGINT)
         |            AS r
         |        FROM m$t),
         |g$t AS (SELECT f.b, sum(r.r)::BIGINT AS g
         |        FROM feats f JOIN r$t r USING (doc) GROUP BY f.b),
         |w$t AS MATERIALIZED (
         |        SELECT p.b,
         |          (p.w + round($lr * coalesce(g.g, 0) / n.n)::BIGINT)
         |            AS w
         |        FROM w${t - 1} p LEFT JOIN g$t g USING (b)
         |        CROSS JOIN nn n),
         |bias$t AS MATERIALIZED (
         |        SELECT (p.bi + round($lr * (SELECT sum(r)::BIGINT
         |                                    FROM r$t)
         |                              / n.n)::BIGINT) AS bi
         |        FROM bias${t - 1} p CROSS JOIN nn n)""".stripMargin
    }.mkString(",\n")
    s"""WITH $tokCte,
       |feats AS MATERIALIZED (
       |  SELECT DISTINCT q.doc_id AS doc,
       |         (d.source = 'src1')::INT::DOUBLE AS y,
       |         ('0x' || substr(md5(w), 1, 6))::BIGINT % $buckets AS b
       |  FROM (SELECT doc_id, unnest(tk) AS w FROM t) q
       |  JOIN documents d USING (doc_id)
       |  WHERE d.source IS NOT NULL),
       |sfeats AS MATERIALIZED (
       |  SELECT DISTINCT doc_id AS doc,
       |         ('0x' || substr(md5(w), 1, 6))::BIGINT % $buckets AS b
       |  FROM (SELECT doc_id, unnest(tk) AS w FROM t)),
       |nn AS MATERIALIZED (
       |  SELECT count(DISTINCT doc)::BIGINT AS n FROM feats),
       |w0 AS MATERIALIZED (
       |  SELECT unnest(range(0, $buckets))::BIGINT AS b, 0::BIGINT AS w),
       |bias0 AS MATERIALIZED (SELECT 0::BIGINT AS bi),
       |$rounds
       |SELECT f.doc AS doc_id,
       |       ((SELECT bi FROM bias$iters) + sum(w.w))::BIGINT
       |         AS score_micro,
       |       ((SELECT bi FROM bias$iters) + sum(w.w)) > 0 AS pred
       |FROM sfeats f JOIN w$iters w USING (b)
       |GROUP BY f.doc ORDER BY doc_id""".stripMargin
  }

  val gates: Seq[Gate] = Seq(

    Gate("q_dedup_exact", (s, d) =>
      Dedup.exactGroups(docs(s, d), "doc_id", "text")
        .select(col("fp"), col("keep_id"), col("n_docs"))
        .orderBy("fp"),
      """SELECT md5(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fp,
        |       min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM documents GROUP BY fp ORDER BY fp""".stripMargin),

    // sub-document dedup: fixed-width (8-token) passages repeated across
    // >= 2 distinct docs are dropped keep-first and each doc reassembled
    // from its surviving spans. Passage TEXT never crosses a shuffle —
    // hashes decide, chunk indexes travel back, the doc's own token
    // array re-slices locally (see Dedup.passageDedup).
    Gate("q_dedup_passage", (s, d) =>
      Dedup.passageDedup(docs(s, d), "doc_id", "text", width = 8, minDocs = 2)
        .orderBy("doc_id"),
      // passage-level keep-first span dedup, reassembled text compared
      // verbatim
      s"""WITH ${tokenGroupsCte(8, "passage")},
        |freq AS (
        |  SELECT passage, count(DISTINCT doc_id) AS ndocs,
        |         min(doc_id) AS first_doc
        |  FROM chunks GROUP BY passage
        |), kept AS (
        |  SELECT c.doc_id, c.cidx, c.passage
        |  FROM chunks c JOIN freq f USING (passage)
        |  WHERE f.ndocs < 2 OR c.doc_id = f.first_doc
        |)
        |SELECT b.doc_id,
        |       coalesce(k.kept_text, '') AS kept_text,
        |       coalesce(CAST(ceil(len(b.toks)/8.0) AS BIGINT), 0)
        |         AS n_chunks,
        |       coalesce(k.n_kept, 0) AS n_kept
        |FROM base b LEFT JOIN (
        |  SELECT doc_id, string_agg(passage, ' ' ORDER BY cidx) AS kept_text,
        |         count(*) AS n_kept
        |  FROM kept GROUP BY doc_id) k USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin),

    // corpus-level LINE dedup (the RefinedWeb boilerplate rule: a line
    // repeated across >= 2 DISTINCT documents is removed from ALL of
    // them). The fixture's documents are single-line, so the gate
    // first regroups each document's tokens into 8-token lines (the
    // linear tokenSpans kernel — the fixture's 153 cross-doc duplicate
    // passages become duplicate LINES) and then drives the real
    // operator over the multi-line corpus; the oracle rebuilds the
    // identical lines and replays the drop rule.
    Gate("q_dedup_lines", (s, d) => {
      val multi = docs(s, d).select(col("doc_id"),
        TF.tokenLines(col("text"), 8).as("text"))
      Dedup.lineDedup(multi, "doc_id", "text").orderBy("doc_id")
    },
      // line dedup over the 8-token regrouped corpus: lines ARE the
      // tokenSpans passages (tokens cannot contain \n and spans carry no
      // edge whitespace, so the engine's trim+split round-trips them
      // exactly); remove-all-copies rule, per-doc reassembly in order
      s"""WITH ${tokenGroupsCte(8, "line")},
        |f AS (
        |  SELECT line FROM chunks GROUP BY line
        |  HAVING count(DISTINCT doc_id) >= 2
        |), k AS (
        |  SELECT c.doc_id, c.cidx, c.line, f.line IS NULL AS keep
        |  FROM chunks c LEFT JOIN f ON c.line = f.line
        |)
        |SELECT b.doc_id,
        |       coalesce(a.kept_text, '') AS kept_text,
        |       coalesce(a.n_lines, 0)::BIGINT AS n_lines,
        |       coalesce(a.n_kept, 0)::BIGINT AS n_kept
        |FROM base b LEFT JOIN (
        |  SELECT doc_id,
        |         coalesce(string_agg(line, chr(10) ORDER BY cidx)
        |                    FILTER (WHERE keep), '') AS kept_text,
        |         count(*) AS n_lines,
        |         count(*) FILTER (WHERE keep) AS n_kept
        |  FROM k GROUP BY doc_id) a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin),

    // content-defined chunking: rolling-hash (gear/Rabin-family)
    // boundaries over codepoints — chunk edges move with the content, so
    // an edited corpus re-chunks only around the edit. Entirely builtin
    // higher-order functions: zero UDFs, zero shuffles, chunks exploded
    // row-locally. The oracle replays the identical polynomial
    // arithmetic in DuckDB (exact integers — boundaries must agree
    // bit-for-bit).
    Gate("q_cdc_chunks", (s, d) =>
      Chunking.cdcChunks(docs(s, d))
        .orderBy("doc_id", "chunk"),
      // the identical gear-polynomial boundary arithmetic, replayed over
      // DuckDB's codepoint primitives (string_split('') + unicode) —
      // exact integers, so the engines must agree on every boundary
      s"""SELECT * FROM ${cdcChunksSql("documents")}
        |ORDER BY doc_id, chunk""".stripMargin),

    // chunk-level exact dedup over the CDC chunks: recurring spans
    // (boilerplate, templates) by content hash. One shuffle, on the
    // 16-byte hash at chunk cardinality, with map-side partial agg.
    Gate("q_cdc_dedup", (s, d) =>
      Chunking.chunkDuplicates(docs(s, d), minDocs = 2)
        .orderBy("chunk_hash"),
      s"""SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs,
        |       count(*) AS n_chunks, min(len) AS len
        |FROM ${cdcChunksSql("documents")}
        |GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY chunk_hash""".stripMargin),

    // per-document boilerplate ratio: the fraction of a doc's chunks
    // duplicated corpus-wide — the quality signal only the chunk grain
    // sees (not whole-doc-dup, not line-aligned)
    Gate("q_boilerplate", (s, d) =>
      Chunking.boilerplateRatio(docs(s, d))
        .orderBy("doc_id"),
      // same CDC replay; duplicated-hash set, per-doc boiler fraction
      s"""WITH ch AS MATERIALIZED (SELECT * FROM ${cdcChunksSql("documents")}),
         |dup AS (SELECT chunk_hash FROM ch
         |        GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2)
         |SELECT ch.doc_id, count(*) AS n_chunks,
         |       sum(CASE WHEN dup.chunk_hash IS NOT NULL
         |                THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
         |       round(sum(CASE WHEN dup.chunk_hash IS NOT NULL
         |                      THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         |         AS boilerplate
         |FROM ch LEFT JOIN dup USING (chunk_hash)
         |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin),

    // fixed-size OVERLAPPING token windows (12 tokens, stride 8): the
    // model-context-defined passage grain an embedding/RAG pipeline
    // encodes, vs cdcChunks' content-defined grain. Zero shuffles —
    // enumeration, slicing and hashing are row-local codegen; the
    // oracle replays window starts, clipping and the md5 span id
    Gate("q_token_windows", (s, d) =>
      Chunking.tokenWindows(docs(s, d), size = 12, stride = 8)
        .orderBy("doc_id", "win"),
      // token-window replay: same tokenization, window k of doc = tokens
      // [k*stride+1 .. k*stride+size] (1-based inclusive list slice,
      // clipped at the tail), k = 0..ceil(max(n-size,0)/stride); span id
      // is md5 of the space-joined window
      // linear window assignment: each token joins its <= ceil(12/8) = 2
      // covering windows directly (the per-window slice form re-copied
      // the whole token list per window — quadratic in DuckDB; see
      // ngramRowsSql). string_agg ORDER BY position == the slice join.
      s"""WITH $tokCte,
         |w AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0),
         |u AS (SELECT doc_id, n,
         |        cast(ceil(greatest(n - 12, 0) / 8.0) AS BIGINT) AS wmax,
         |        unnest(tk) AS tok,
         |        unnest(range(0, n)) AS p
         |      FROM w),
         |a AS (SELECT doc_id, n, tok, p,
         |        unnest(range(
         |          greatest(cast(ceil((p - 11) / 8.0) AS BIGINT), 0),
         |          least(wmax, p // 8) + 1)) AS win
         |      FROM u)
         |SELECT doc_id, win, (win * 8)::BIGINT AS start_tok,
         |       least(12, min(n) - win * 8)::BIGINT AS n_tok,
         |       md5(string_agg(tok, ' ' ORDER BY p)) AS span_hash
         |FROM a GROUP BY doc_id, win
         |ORDER BY doc_id, win""".stripMargin),

    // at-ingest novelty: the same delta streamed through a real
    // file-source replay (4 chunks, each its own micro-batch) against
    // the persisted index — per-CHUNK verdicts, fully stateless
    // (row-local CDC kernel + stream-static join), so the replay must
    // equal the batch verdicts exactly; the oracle is the batch SQL
    Gate("q_chunk_novelty_stream", (s, d) => {
      implicit val ss: SparkSession = s
      val all = docs(s, d)
      val corpus = all.where(col("doc_id") % 4 =!= 3)
      val delta = all.where(col("doc_id") % 4 === 3)
        .select(col("doc_id"), col("text"))
        .unionAll(corpus.where(col("doc_id") % 8 === 0)
          .select((col("doc_id") + 500000).as("doc_id"), col("text")))
      val idx = memoIndex("chunk", s, d)((name, path) =>
        Chunking.buildChunkIndex(corpus, "doc_id", "text", name, path))
      graft.streaming.StreamingNovelty.verdictReplay(delta, "doc_id",
          "text", idx, pmod(col("doc_id"), lit(4)), 4)
        .orderBy("id", "chunk")
    },
      // batch replay of the streaming verdicts: per-chunk seen flags are
      // order-independent (stateless query), so the batch SQL is exact
      s"""WITH $allChunksCte,
        |seen AS (
        |  SELECT DISTINCT chunk_hash FROM allch WHERE doc_id % 4 <> 3),
        |dch AS (SELECT doc_id, chunk, chunk_hash
        |        FROM (SELECT doc_id, chunk, chunk_hash FROM allch
        |              WHERE doc_id % 4 = 3
        |              UNION ALL
        |              SELECT doc_id + 500000, chunk, chunk_hash FROM allch
        |              WHERE doc_id % 4 <> 3 AND doc_id % 8 = 0))
        |SELECT dch.doc_id AS id, dch.chunk, dch.chunk_hash,
        |       seen.chunk_hash IS NOT NULL AS seen
        |FROM dch LEFT JOIN seen ON dch.chunk_hash = seen.chunk_hash
        |ORDER BY id, chunk""".stripMargin),

    // THE CAPSTONE COMPOSITION — a daily incremental-ingest pipeline in
    // ONE plan: the delta is (1) novelty-scored against the persisted
    // chunk index (re-crawls drop at novelty < 0.3), (2) quality-scored
    // by the corpus-trained held-out LM (avg_lp >= -4.5), and (3)
    // fuzzy-decontaminated against the benchmark split (Jaccard >=
    // 0.35 drops). Every stage is separately oracle-verified; this gate
    // proves they COMPOSE — one delta scan feeding three filters whose
    // joins are all id- or hash-keyed, nothing corpus-sized broadcast.
    Gate("q_incremental_pipeline", (s, d) => {
      val all = docs(s, d)
      val corpus = all.where(col("doc_id") % 4 =!= 3)
      val delta = all.where(col("doc_id") % 4 === 3)
        .select(col("doc_id"), col("text"))
        .unionAll(corpus.where(col("doc_id") % 8 === 0)
          .select((col("doc_id") + 500000).as("doc_id"), col("text")))
      val bench = corpus.where(col("doc_id") % 10 === 7)
      val idx = memoIndex("chunk", s, d)((name, path) =>
        Chunking.buildChunkIndex(corpus, "doc_id", "text", name, path))
      val nov = Chunking.deltaNovelty(delta, "doc_id", "text", idx)
        .where(col("novelty") >= 0.3)
        .select(col("doc_id"), col("novelty"))
      val lm = graft.operators.CorpusStats.bigramLogProbAgainst(
          corpus, delta, "doc_id", "text")
        .where(col("avg_lp") >= -4.5)
        .select(col("doc").as("doc_id"), col("avg_lp"))
      val dirty = Contamination.flagContaminatedFuzzy(delta, "doc_id",
          "text", bench, "doc_id", "text", 3, 0.35)
        .select(col("doc").as("doc_id"))
      nov.join(lm, "doc_id")
        .join(dirty, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },
      // the capstone's oracle is literally the composition of the three
      // verified stage oracles over the same splits
      s"""WITH $tokCte,
        |corpus AS (SELECT doc_id, text, tk FROM t WHERE doc_id % 4 <> 3),
        |delta AS (
        |  SELECT doc_id, text, tk FROM t WHERE doc_id % 4 = 3
        |  UNION ALL
        |  SELECT doc_id + 500000, text, tk FROM t
        |  WHERE doc_id % 4 <> 3 AND doc_id % 8 = 0),
        |bench AS (SELECT * FROM corpus WHERE doc_id % 10 = 7),
        |$allChunksCte,
        |seen AS (
        |  SELECT DISTINCT chunk_hash FROM allch WHERE doc_id % 4 <> 3),
        |dch AS (
        |  SELECT doc_id, chunk_hash,
        |         min(doc_id) OVER (PARTITION BY chunk_hash) AS first_id
        |  FROM (SELECT doc_id, chunk_hash FROM allch WHERE doc_id % 4 = 3
        |        UNION ALL
        |        SELECT doc_id + 500000, chunk_hash FROM allch
        |        WHERE doc_id % 4 <> 3 AND doc_id % 8 = 0)),
        |nov AS (
        |  SELECT dch.doc_id,
        |         round(sum(CASE WHEN seen.chunk_hash IS NULL
        |                         AND dch.doc_id = dch.first_id
        |                        THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
        |           AS novelty
        |  FROM dch LEFT JOIN seen ON dch.chunk_hash = seen.chunk_hash
        |  GROUP BY dch.doc_id),
        |c2 AS (SELECT bg, count(*)::BIGINT AS c2
        |       FROM ${ngramRowsSql("corpus", 2)} GROUP BY 1),
        |ug AS (SELECT w, count(*)::BIGINT AS c1
        |       FROM (SELECT unnest(tk) w FROM corpus) GROUP BY 1),
        |v AS (SELECT count(*)::BIGINT AS vv FROM ug),
        |bgsc AS (SELECT doc_id, bg FROM ${ngramRowsSql("delta", 2)}),
        |lm AS (
        |  SELECT doc_id,
        |         round(avg(ln((coalesce(c2.c2, 0) + 0.5) /
        |                      (coalesce(ug.c1, 0) + 0.5 * v.vv))), 4)
        |           AS avg_lp
        |  FROM bgsc
        |  LEFT JOIN c2 USING (bg)
        |  LEFT JOIN ug ON split_part(bgsc.bg, ' ', 1) = ug.w
        |  CROSS JOIN v GROUP BY doc_id),
        |dsh AS (SELECT doc_id, list_distinct(list(sh ORDER BY p)) AS sh
        |        FROM ${ngramRowsSql("delta", 3, gram = "sh")}
        |        GROUP BY doc_id),
        |bsh AS (SELECT doc_id, list_distinct(list(sh ORDER BY p)) AS sh
        |        FROM ${ngramRowsSql("bench", 3, gram = "sh")}
        |        GROUP BY doc_id),
        |dirty AS (
        |  SELECT DISTINCT d.doc_id FROM dsh d CROSS JOIN bsh b
        |  WHERE round(len(list_intersect(d.sh, b.sh))::DOUBLE /
        |        (len(d.sh) + len(b.sh) - len(list_intersect(d.sh, b.sh))),
        |        6) >= 0.35)
        |SELECT nov.doc_id, novelty, avg_lp
        |FROM nov JOIN lm USING (doc_id)
        |WHERE novelty >= 0.3 AND avg_lp >= -4.5
        |  AND nov.doc_id NOT IN (SELECT doc_id FROM dirty)
        |ORDER BY nov.doc_id""".stripMargin),

    // snapshot-to-snapshot chunk diff: old = the corpus; new = edits
    // appended to every 5th doc, every 11th-mod-3 doc dropped, every
    // 13th-mod-1 doc duplicated under a new id. Multiset chunk
    // semantics (retained + removed = n_old per doc); the change ratio
    // is the symmetric difference over total chunk slots. One shuffle
    // of (id, hash, count) triples — text never moves.
    Gate("q_chunk_diff", (s, d) => {
      val all = docs(s, d).select(col("doc_id"), col("text"))
      val newer = all.where(col("doc_id") % 11 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" APPENDED SNAPSHOT EDIT")))
            .otherwise(col("text")).as("text"))
        .unionAll(all.where(col("doc_id") % 13 === 1)
          .select((col("doc_id") + 600000).as("doc_id"), col("text")))
      Chunking.chunkDiff(all, newer, "doc_id", "text")
        .orderBy("doc_id")
    },
      // snapshot-diff replay: the same CDC chunks on both sides, multiset
      // min/max arithmetic per (doc, hash)
      s"""WITH $allChunksCte,
        |edited AS (
        |  SELECT doc_id, text || ' APPENDED SNAPSHOT EDIT' AS text
        |  FROM documents WHERE doc_id % 11 <> 3 AND doc_id % 5 = 0),
        |oc AS (SELECT doc_id, chunk_hash, count(*)::BIGINT AS n_old
        |       FROM allch GROUP BY 1, 2),
        |nc AS (SELECT doc_id, chunk_hash, count(*)::BIGINT AS n_new
        |       FROM (
        |         SELECT doc_id, chunk_hash FROM allch
        |         WHERE doc_id % 11 <> 3 AND doc_id % 5 <> 0
        |         UNION ALL
        |         SELECT doc_id, chunk_hash FROM ${cdcChunksSql("edited")}
        |         UNION ALL
        |         SELECT doc_id + 600000, chunk_hash FROM allch
        |         WHERE doc_id % 13 = 1) GROUP BY 1, 2),
        |j AS (SELECT coalesce(oc.doc_id, nc.doc_id) AS doc_id,
        |             coalesce(n_old, 0) AS o, coalesce(n_new, 0) AS nn
        |      FROM oc FULL OUTER JOIN nc
        |        ON oc.doc_id = nc.doc_id
        |       AND oc.chunk_hash = nc.chunk_hash)
        |SELECT doc_id, sum(least(o, nn))::BIGINT AS retained,
        |       sum(greatest(nn - o, 0))::BIGINT AS added,
        |       sum(greatest(o - nn, 0))::BIGINT AS removed,
        |       round((sum(greatest(nn - o, 0)) + sum(greatest(o - nn, 0)))
        |             / (sum(least(o, nn)) * 2 + sum(greatest(nn - o, 0))
        |                + sum(greatest(o - nn, 0)))::DOUBLE, 6) AS change
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // incremental-crawl novelty against the persisted chunk index:
    // corpus (doc_id % 4 != 3) is indexed once (bucketed 16-byte chunk
    // hashes, no bodies); the delta — fresh docs plus re-keyed verbatim
    // COPIES of corpus docs (+500000) — scores per-doc chunk novelty
    // against it. The copies must come back novelty = 0 (every chunk
    // seen), making the seen-hash branch non-vacuous; CDC boundaries
    // make the verdict robust to partial edits, which offset slicing
    // would not be.
    Gate("q_chunk_novelty", (s, d) => {
      val all = docs(s, d)
      val corpus = all.where(col("doc_id") % 4 =!= 3)
      val delta = all.where(col("doc_id") % 4 === 3)
        .select(col("doc_id"), col("text"))
        .unionAll(corpus.where(col("doc_id") % 8 === 0)
          .select((col("doc_id") + 500000).as("doc_id"), col("text")))
      val idx = memoIndex("chunk", s, d)((name, path) =>
        Chunking.buildChunkIndex(corpus, "doc_id", "text", name, path))
      Chunking.deltaNovelty(delta, "doc_id", "text", idx)
        .orderBy("doc_id")
    },
      // chunk-novelty replay: corpus chunk hashes = the index; per delta
      // doc, novel = unseen hash AND first delta carrier (min doc_id)
      s"""WITH $allChunksCte,
        |seen AS (
        |  SELECT DISTINCT chunk_hash FROM allch WHERE doc_id % 4 <> 3),
        |dch AS (
        |  SELECT doc_id, chunk_hash,
        |         min(doc_id) OVER (PARTITION BY chunk_hash) AS first_id
        |  FROM (SELECT doc_id, chunk_hash FROM allch WHERE doc_id % 4 = 3
        |        UNION ALL
        |        SELECT doc_id + 500000, chunk_hash FROM allch
        |        WHERE doc_id % 4 <> 3 AND doc_id % 8 = 0))
        |SELECT dch.doc_id, count(*) AS n_chunks,
        |       sum(CASE WHEN seen.chunk_hash IS NULL
        |                 AND dch.doc_id = dch.first_id
        |                THEN 1 ELSE 0 END)::BIGINT AS n_novel,
        |       round(sum(CASE WHEN seen.chunk_hash IS NULL
        |                       AND dch.doc_id = dch.first_id
        |                      THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
        |         AS novelty
        |FROM dch LEFT JOIN seen ON dch.chunk_hash = seen.chunk_hash
        |GROUP BY dch.doc_id ORDER BY dch.doc_id""".stripMargin),

    // exact dedup of a delta against the persisted fingerprint index
    // (16-byte keys, no bodies) — same corpus/delta split and memo
    // pattern as q_dedup_incremental. The documents table has no exact
    // dups, so the delta also carries re-keyed verbatim COPIES of
    // corpus docs (+500000): those must come back keep=false, making
    // the seen-fingerprint branch non-vacuous in the gate.
    Gate("q_dedup_exact_incr", (s, d) => {
      val all = docs(s, d)
      val corpus = all.where(col("doc_id") % 4 =!= 3)
      val delta = all.where(col("doc_id") % 4 === 3)
        .select(col("doc_id"), col("text"))
        .unionAll(corpus.where(col("doc_id") % 8 === 0)
          .select((col("doc_id") + 500000).as("doc_id"), col("text")))
      val idx = memoIndex("fp", s, d)((name, path) =>
        Dedup.buildExactIndex(corpus, "doc_id", "text", name, path))
      Dedup.exactAgainstIndex(delta, "doc_id", "text", idx)
        .orderBy("doc_id")
    },
      // delta verdict = fp unseen in the corpus partition AND smallest
      // delta id carrying it
      // the fp probe join is NULL-SAFE (IS NOT DISTINCT FROM), matching
      // the operator's documented contract: a null fp (null text) is its
      // own dedup group, so a delta null-fp doc IS seen when the corpus
      // holds one — a plain equi-join would call every null-fp doc novel
      """WITH f AS (SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fp
        |  FROM documents),
        |corpus AS (SELECT DISTINCT fp, true AS hit
        |           FROM f WHERE doc_id % 4 <> 3),
        |delta AS (SELECT doc_id, fp FROM f WHERE doc_id % 4 = 3
        |          UNION ALL
        |          SELECT doc_id + 500000, fp FROM f
        |          WHERE doc_id % 4 <> 3 AND doc_id % 8 = 0)
        |SELECT doc_id, fp, (NOT seen AND doc_id = mn) AS keep FROM (
        |  SELECT d.doc_id, d.fp, coalesce(c.hit, false) AS seen,
        |         min(d.doc_id) OVER (PARTITION BY d.fp) AS mn
        |  FROM delta d
        |  LEFT JOIN corpus c ON d.fp IS NOT DISTINCT FROM c.fp)
        |ORDER BY doc_id""".stripMargin),

    // incremental line dedup: the delta is rewritten against the
    // PERSISTED corpus line-frequency index (additive distinct-doc
    // slices, folded Exchange-free out of their lfp buckets) — equal
    // by contract to lineDedup over corpus ∪ delta restricted to the
    // delta's docs, which is exactly what the oracle replays. Same
    // corpus/delta split and memo pattern as q_dedup_exact_incr; same
    // 8-token line construction as q_dedup_lines.
    Gate("q_dedup_lines_incr", (s, d) => {
      val all = docs(s, d).select(col("doc_id"),
        TF.tokenLines(col("text"), 8).as("text"))
      val corpus = all.where(col("doc_id") % 4 =!= 3)
      val delta = all.where(col("doc_id") % 4 === 3)
      val idx = memoIndex("lf", s, d)((name, path) =>
        Dedup.buildLineIndex(corpus, "doc_id", "text", name, path))
      Dedup.lineDedupAgainstIndex(delta, "doc_id", "text", idx)
        .orderBy("doc_id")
    },
      // incremental form: combined corpus ∪ delta distinct-doc counts
      // (disjoint halves make the engine's index + delta sum exact),
      // output restricted to the delta's documents
      s"""WITH ${tokenGroupsCte(8, "line")},
        |f AS (
        |  SELECT line FROM chunks GROUP BY line
        |  HAVING count(DISTINCT doc_id) >= 2
        |), k AS (
        |  SELECT c.doc_id, c.cidx, c.line, f.line IS NULL AS keep
        |  FROM chunks c LEFT JOIN f ON c.line = f.line
        |  WHERE c.doc_id % 4 = 3
        |)
        |SELECT b.doc_id,
        |       coalesce(a.kept_text, '') AS kept_text,
        |       coalesce(a.n_lines, 0)::BIGINT AS n_lines,
        |       coalesce(a.n_kept, 0)::BIGINT AS n_kept
        |FROM (SELECT doc_id FROM base WHERE doc_id % 4 = 3) b
        |LEFT JOIN (
        |  SELECT doc_id,
        |         coalesce(string_agg(line, chr(10) ORDER BY cidx)
        |                    FILTER (WHERE keep), '') AS kept_text,
        |         count(*) AS n_lines,
        |         count(*) FILTER (WHERE keep) AS n_kept
        |  FROM k GROUP BY doc_id) a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin),

    // INCREMENTAL substring dedup: the delta quarter probes a persisted
    // gram-frequency index of the frozen three quarters — only delta
    // text is scanned, corpus history contributes 16-byte hashes +
    // counts folded Exchange-free out of the bucketed table
    // (IncrementalDedupSpec pins the plan). Under the disjoint-ids
    // guard the result EQUALS duplicateSpans(corpus ∪ delta) restricted
    // to delta docs — which is exactly what the oracle computes, so the
    // incremental==batch contract is ORACLE-gated, not just spec-pinned
    Gate("q_dedup_spans_incr", (s, d) => {
      val all = islandDocs(docs(s, d))
      val corpus = all.where(col("doc_id") % 4 =!= 3)
      val delta = all.where(col("doc_id") % 4 === 3)
      val idx = memoIndex("span", s, d)((name, path) =>
        Dedup.buildSpanIndex(corpus, "doc_id", "text", 20, name, path))
      Dedup.duplicateSpansAgainstIndex(delta, "doc_id", "text", idx)
        .select(col("doc").as("doc_id"), col("span_start"),
          col("span_end"), col("span_len"))
        .orderBy("doc_id", "span_start")
    },
      // incremental == batch-restricted-to-delta, by the span-index
      // contract — the oracle replays the BATCH form over the full
      // fixture and keeps the delta quarter
      s"""WITH $dupSpansCte
         |SELECT doc_id, span_start, span_end,
         |       (span_end - span_start + 1)::BIGINT AS span_len
         |FROM spans WHERE doc_id % 4 = 3
         |ORDER BY doc_id, span_start""".stripMargin),

    Gate("q_dedup_jaccard", (s, d) =>
      Dedup.jaccardPairs(docs(s, d), "doc_id", "text", 3, 0.8)
        .orderBy("d1", "d2"),
      jaccardSql),

    // ASYMMETRIC containment dedup (|∩| / min): catches the short-doc-
    // quoted-inside-long-doc mode Jaccard scores arbitrarily low; the
    // prefix lemma applies to the SMALLER side only (scaladoc)
    Gate("q_dedup_containment", (s, d) =>
      Dedup.containmentPairs(docs(s, d), "doc_id", "text", 3, 0.6)
        .orderBy("d1", "d2"),
      // same candidate construction as the jaccard oracle (any shared
      // rare shingle — the Spark prefix candidates are a subset, equal
      // after exact verification under the same df cap), containment
      // score with the DOUBLE-cast threshold
      s"""WITH $shingleCte
         |SELECT d1, d2,
         |       round(len(list_intersect(x.sh, y.sh))::DOUBLE /
         |             least(len(x.sh), len(y.sh)), 4) AS containment
         |FROM cand JOIN d x ON cand.d1 = x.doc_id
         |          JOIN d y ON cand.d2 = y.doc_id
         |WHERE len(list_intersect(x.sh, y.sh))::DOUBLE /
         |      least(len(x.sh), len(y.sh)) >= CAST(0.6 AS DOUBLE)
         |ORDER BY d1, d2""".stripMargin),

    // per-source data-card report: docs, tokens, exact-dup rate, mean
    // quality, DISCRETE median length — the audit table a curation run
    // publishes
    Gate("q_corpus_report", (s, d) =>
      graft.operators.CorpusStats.corpusReport(docs(s, d), "doc_id",
          "source", "text")
        .orderBy("src"),
      // per-doc signals replayed from their own gates' constructions
      // (quality formula from q_quality, fingerprint from q_fingerprint,
      // discrete median from the cum-sum), rolled to stratum grain
      s"""WITH $tokCte,
         |m AS (SELECT t.doc_id, d2.source, t.tk,
         |        len(t.tk)::BIGINT AS ntok,
         |        ${punctRatioSql("t.text")} AS pr,
         |        ${stopwordRatioSql("t.tk")} AS swr,
         |        md5(trim(regexp_replace(lower(t.text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')))
         |          AS fp,
         |        length(t.text)::BIGINT AS nch
         |      FROM t JOIN documents d2 ON t.doc_id = d2.doc_id),
         |q AS (SELECT source, fp, nch, ntok, $qualityScoreSql AS q
         |      FROM m),
         |agg AS (SELECT source AS src, count(*) AS n_docs,
         |          sum(ntok)::BIGINT AS n_tokens,
         |          count(DISTINCT fp) AS nd,
         |          round(avg(q), 4) AS mean_quality
         |        FROM q GROUP BY 1),
         |vc AS (SELECT source AS src, nch AS v, count(*) AS c
         |       FROM q WHERE nch IS NOT NULL GROUP BY 1, 2),
         |cum AS (SELECT src, v,
         |          sum(c) OVER (PARTITION BY src ORDER BY v
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |            AS cum,
         |          sum(c) OVER (PARTITION BY src) AS n
         |        FROM vc),
         |med AS (SELECT src,
         |          min(CASE WHEN cum >= ceil(CAST(0.5 AS DOUBLE) * n)
         |                   THEN v END) AS p50_chars
         |        FROM cum GROUP BY src)
         |SELECT agg.src, n_docs, n_tokens,
         |       round(1.0 - nd::DOUBLE / n_docs, 6) AS dup_rate,
         |       mean_quality, p50_chars
         |FROM agg LEFT JOIN med ON agg.src IS NOT DISTINCT FROM med.src
         |ORDER BY agg.src""".stripMargin),

    // cross-source overlap matrix: corpus-level shingle-set Jaccard +
    // containment per source pair — the mixture-planning signal priced
    // BEFORE any per-document dedup runs
    Gate("q_source_overlap", (s, d) =>
      graft.operators.CorpusStats.sourceOverlap(docs(s, d), "source",
          "text", 3)
        .orderBy("src1", "src2"),
      // distinct (source, 3-gram) sets, pairwise intersect counts, exact
      // integer divisions rounded to 6
      s"""WITH $tokCte,
        |ss AS (SELECT DISTINCT d2.source AS src, r.sh
        |       FROM ${ngramRowsSql("t", 3, gram = "sh")} r
        |       JOIN documents d2 USING (doc_id)),
        |sizes AS (SELECT src, count(*) AS n FROM ss GROUP BY src),
        |shared AS (SELECT a.src AS src1, b.src AS src2, count(*) AS n_shared
        |           FROM ss a JOIN ss b ON a.sh = b.sh AND a.src < b.src
        |           GROUP BY 1, 2)
        |SELECT src1, src2, x.n AS n1, y.n AS n2, n_shared,
        |       round(n_shared::DOUBLE / (x.n + y.n - n_shared), 6)
        |         AS jaccard,
        |       round(n_shared::DOUBLE / least(x.n, y.n), 6)
        |         AS containment
        |FROM shared JOIN sizes x ON shared.src1 = x.src
        |            JOIN sizes y ON shared.src2 = y.src
        |ORDER BY src1, src2""".stripMargin),

    // per-source unigram KL divergence against the corpus blend — the
    // language-DRIFT complement of the overlap matrix (overlap prices
    // repeated content, KL prices unlike-the-blend language; the
    // DoReMi/DSIR line measures domain shift exactly this way). MLE
    // needs no smoothing: every stratum word occurs in the corpus.
    Gate("q_source_kl", (s, d) =>
      graft.operators.CorpusStats.sourceDivergence(docs(s, d), "source",
          "text")
        .select(col("grp").as("source"), col("n_tokens"), col("kl"))
        .orderBy("source"),
      // per-source unigram KL vs the corpus: only the stratum's own words
      // are summed (P_s(w)=0 terms contribute 0), and every such word has
      // corpus count > 0, so the MLE sum is smoothing-free on both engines
      s"""WITH t AS (SELECT source,
        |  ${tokensSql("text")} tk FROM documents),
        |sw AS (SELECT source, w, count(*)::BIGINT AS c
        |       FROM (SELECT source, unnest(tk) AS w FROM t) GROUP BY 1, 2),
        |cw AS (SELECT w, sum(c)::BIGINT AS cw FROM sw GROUP BY 1),
        |ns AS (SELECT source AS nsrc, sum(c)::BIGINT AS ns
        |       FROM sw GROUP BY 1),
        |n AS (SELECT sum(c)::DOUBLE AS n FROM sw)
        |SELECT sw.source, sum(sw.c)::BIGINT AS n_tokens,
        |       round(sum((sw.c / ns.ns::DOUBLE) *
        |                 ln((sw.c / ns.ns::DOUBLE) / (cw.cw / n.n))), 4)
        |         AS kl
        |FROM sw JOIN cw USING (w)
        |JOIN ns ON sw.source IS NOT DISTINCT FROM ns.nsrc, n
        |GROUP BY sw.source ORDER BY sw.source""".stripMargin),

    // DSIR importance weights (Xie et al., NeurIPS 2023): per-document
    // log weight of the target-slice (English docs) hashed-unigram
    // distribution over the raw blend — 512 md5-prefix buckets (the
    // engine's seed-free hash convention, SQL-replayable), add-0.5
    // smoothing. The scoring step a distribution-matched resample
    // (weightedSample / quantileFilter downstream) runs on.
    Gate("q_dsir_weights", (s, d) =>
      graft.operators.Selection.dsirWeights(docs(s, d),
          col("lang") === "en", "doc_id", "text")
        .select(col("doc").as("doc_id"), col("n_tokens"),
          col("dsir_weight"))
        .orderBy("doc_id"),
      // DSIR: same 24-bit md5 bucket as the engine ('0x'||substr(md5,1,6)
      // — Sampling.scala's documented replay convention), add-0.5
      // smoothed bucket multinomials, per-doc sum of c * ln(pt/pr)
      s"""WITH t AS (SELECT doc_id, lang,
        |  ${tokensSql("text")} tk FROM documents),
        |f AS (SELECT doc_id, lang,
        |             ('0x' || substr(md5(w), 1, 6))::BIGINT % 512 AS b
        |      FROM (SELECT doc_id, lang, unnest(tk) AS w FROM t)),
        |dc AS (SELECT doc_id, b, count(*)::BIGINT AS c FROM f GROUP BY 1, 2),
        |tt AS (SELECT b, count(*)::BIGINT AS ct FROM f WHERE lang = 'en'
        |       GROUP BY 1),
        |rt AS (SELECT b, count(*)::BIGINT AS cr FROM f GROUP BY 1),
        |nt AS (SELECT count(*)::DOUBLE AS n FROM f WHERE lang = 'en'),
        |nr AS (SELECT count(*)::DOUBLE AS n FROM f)
        |SELECT dc.doc_id, sum(dc.c)::BIGINT AS n_tokens,
        |       round(sum(dc.c *
        |         ln(((coalesce(tt.ct, 0) + 0.5) / (nt.n + 0.5 * 512)) /
        |            ((rt.cr + 0.5) / (nr.n + 0.5 * 512)))), 4)
        |         AS dsir_weight
        |FROM dc JOIN rt USING (b) LEFT JOIN tt USING (b), nt, nr
        |GROUP BY dc.doc_id ORDER BY dc.doc_id""".stripMargin),

    // quality-classifier TRAINING (the CCNet/fastText surrogate):
    // 6 rounds of batch-GD logistic regression on hashed-unigram
    // presence features, gated through the scores of EVERY doc under
    // the learned weights. Integer micro-unit weights make training
    // bit-replayable (margins are exact BIGINT sums; the only
    // order-dependent float sums collapse at the integer update
    // rounding) — the oracle replays all 6 rounds. BIGINT+BOOL output.
    Gate("q_quality_classifier", (s, d) => {
      val dd = docs(s, d)
      val (w, b) = graft.operators.Selection.trainQualityClassifier(
        dd, col("source") === "src1", "doc_id", "text",
        iters = 6, lr = 0.5, buckets = 512)
      graft.operators.Selection.scoreQualityClassifier(dd, "doc_id",
          "text", w, b)
        .select(col("doc").as("doc_id"), col("score_micro"), col("pred"))
        .orderBy("doc_id")
    },
      // the full 6-round logistic-GD training replay (generated CTE
      // chain — see qualityClassifierOracleSql)
      qualityClassifierOracleSql(6, 512, "0.5e0")),

    // THE DELIVERY CAPSTONE — this round's additions composed as ONE
    // declarative plan: (1) within-doc repeated-line removal (codegen
    // kernel), (2) corpus-level line dedup over the CLEANED docs
    // (remove-all rule — after step 1 a line occurs at most once per
    // doc, so distinct-doc counts are plain doc counts), (3) drop
    // empty survivors, (4) deterministic shard manifest of the kept
    // payloads. Line text crosses exactly one shuffle (the doc-keyed
    // reassembly join); the frequency stream and the manifest are
    // hash-only.
    Gate("q_delivery_pipeline", (s, d) => {
      val multi = docs(s, d).select(col("doc_id"),
        TF.dropRepeatedLines(
          TF.tokenLines(coalesce(col("text"), lit("")), 8)).as("text"))
      val kept = Dedup.lineDedup(multi, "doc_id", "text")
        .where(col("n_kept") >= 1)
        .select(col("doc_id"),
          length(col("kept_text")).cast("long").as("n_chars"))
      graft.operators.Sampling.shardManifest(kept, "doc_id", "n_chars",
          4, salt = "deliver")
        .orderBy("shard")
    },
      // the delivery capstone replayed stage by stage: within-doc
      // keep-first (min-position keeper), corpus drop rule over the
      // CLEANED lines, empty survivors dropped, md5-convention manifest
      // over the kept payload lengths (code points, both engines)
      s"""WITH ${tokenGroupsCte(8, "line")},
        |cleaned AS (
        |  SELECT doc_id, cidx, line FROM (
        |    SELECT doc_id, cidx, line,
        |           min(cidx) OVER (PARTITION BY doc_id, line) AS keeper
        |    FROM chunks)
        |  WHERE cidx = keeper
        |), f AS (
        |  SELECT line FROM cleaned GROUP BY line
        |  HAVING count(DISTINCT doc_id) >= 2
        |), r AS (
        |  SELECT c.doc_id,
        |         string_agg(c.line, chr(10) ORDER BY c.cidx)
        |           FILTER (WHERE f.line IS NULL) AS kept_text,
        |         count(*) FILTER (WHERE f.line IS NULL) AS n_kept
        |  FROM cleaned c LEFT JOIN f ON c.line = f.line
        |  GROUP BY c.doc_id
        |), kd AS (
        |  SELECT doc_id, length(kept_text)::BIGINT AS n_chars
        |  FROM r WHERE n_kept >= 1
        |)
        |SELECT shard, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS n_chars,
        |       sum(ck)::BIGINT AS checksum
        |FROM (SELECT
        |        (('0x' || substr(md5('deliver' || doc_id::VARCHAR), 1, 8))::BIGINT
        |           % 4)::INT AS shard,
        |        ('0x' || substr(md5('deliver:ck' || doc_id::VARCHAR), 1, 8))::BIGINT
        |          AS ck,
        |        n_chars
        |      FROM kd)
        |GROUP BY shard ORDER BY shard""".stripMargin),

    // THE CURATION CAPSTONE — a mixture-build pipeline in ONE
    // declarative plan: (1) per-source quality floor (discrete p25
    // length threshold, the flip-immune quantileFilter), (2) exact
    // dedup keep-first by fingerprint, (3) temperature flattening at
    // alpha=0.5, (4) packing into 2048-token sequences. Every stage is
    // separately oracle-verified; this gate proves they COMPOSE — the
    // only shuffles are the stage-inherent ones (tiny group-threshold
    // frames, the 16-byte fingerprint window, per-stratum windows),
    // document text never crosses a shuffle after the fingerprint, and
    // nothing corpus-sized ever broadcasts.
    Gate("q_curation_pipeline", (s, d) => {
      val all = docs(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
      val q = graft.operators.Features.quantileFilter(
        all, "source", "n_chars", 0.25)
      val kept = q
        .withColumn("__fp", TF.fingerprint(col("text")))
        .withColumn("__keep", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))))
        .where(col("doc_id") === col("__keep"))
        .select(col("doc_id"), col("source"),
          TF.tokenCount(col("text")).cast("bigint").as("n_tok"))
      val mixed = graft.operators.Sampling.temperatureSample(
        kept, "doc_id", "source", rate = 4.0, alpha = 0.5, salt = "cur")
      graft.operators.Sampling.packSequences(
          mixed, "doc_id", "source", "n_tok", 2048L, salt = "cur")
        .select(col("doc_id"), col("source"), col("n_tok"),
          col("__offset"), col("__seq"))
        .orderBy("doc_id")
    },
      // the four verified stage oracles composed: discrete per-source
      // p25 floor → fingerprint keep-first → sqrt targets + md5 draw →
      // prefix-sum packing; every construction appears verbatim in its
      // own gate's oracle
      s"""WITH $tokCte,
         |vc AS (SELECT source, n_chars AS v, count(*) AS c
         |       FROM documents WHERE n_chars IS NOT NULL
         |       GROUP BY 1, 2),
         |cum AS (SELECT source, v,
         |          sum(c) OVER (PARTITION BY source ORDER BY v
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |            AS cum,
         |          sum(c) OVER (PARTITION BY source) AS n
         |        FROM vc),
         |thr AS (SELECT source AS g,
         |          min(CASE WHEN cum >= ceil(CAST(0.25 AS DOUBLE) * n)
         |                   THEN v END) AS thr
         |        FROM cum GROUP BY source),
         |q AS (SELECT dd.doc_id, dd.source, dd.text
         |      FROM documents dd
         |      JOIN thr ON dd.source IS NOT DISTINCT FROM thr.g
         |      WHERE dd.n_chars >= thr),
         |f AS (SELECT doc_id, source,
         |        md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')))
         |          AS fp
         |      FROM q),
         |k AS (SELECT doc_id, source FROM (
         |        SELECT f.*, min(doc_id) OVER (PARTITION BY fp) AS keep
         |        FROM f)
         |      WHERE doc_id = keep),
         |tok AS (SELECT k.doc_id, k.source, len(t.tk)::BIGINT AS n_tok,
         |          ('0x' || substr(md5('cur' || k.doc_id::VARCHAR),
         |                          1, 8))::BIGINT AS h
         |        FROM k JOIN t ON k.doc_id = t.doc_id),
         |c2 AS (SELECT source, count(*) AS n FROM tok GROUP BY source),
         |tt AS (SELECT source AS g,
         |         least(n, floor(CAST(4.0 AS DOUBLE)
         |                        * sqrt(n::DOUBLE))::BIGINT) AS target
         |       FROM c2),
         |rr AS (SELECT tok.*,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY h, doc_id) AS rk
         |       FROM tok),
         |kept AS (SELECT doc_id, rr.source AS source, n_tok, h
         |         FROM rr JOIN tt ON rr.source IS NOT DISTINCT FROM tt.g
         |         WHERE rk <= target),
         |pk AS (SELECT doc_id, source, n_tok,
         |         ((sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
         |                            ROWS UNBOUNDED PRECEDING))
         |          - n_tok)::BIGINT AS __offset
         |       FROM kept)
         |SELECT doc_id, source, n_tok, __offset,
         |       (__offset // 2048)::BIGINT AS __seq
         |FROM pk ORDER BY doc_id""".stripMargin),

    // pairs → transitive closure → survivor per duplicate cluster: the
    // verdict table a training-data filter actually joins against.
    // Large-star/small-star connected components; oracle = the same
    // jaccard pairs closed with a DuckDB recursive CTE.
    Gate("q_dedup_clusters", (s, d) =>
      Clustering.dedupVerdicts(
          Dedup.jaccardPairs(docs(s, d), "doc_id", "text", 3, 0.8),
          "d1", "d2")
        .orderBy("id"),
      // transitive closure of the jaccard pair graph via recursive CTE;
      // component = min reachable id, keep = "I am my component's min"
      s"""WITH RECURSIVE $shingleCte,
         |p AS (SELECT d1, d2 FROM jac WHERE j >= 0.8),
         |edges AS MATERIALIZED (SELECT d1 AS u, d2 AS v FROM p
         |          UNION SELECT d2, d1 FROM p),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         |SELECT u AS id, least(min(v), u) AS component,
         |       least(min(v), u) = u AS keep
         |FROM reach GROUP BY u ORDER BY id""".stripMargin),

    // RefinedWeb-style survivor refinement: each duplicate cluster
    // keeps its best-QUALITY member (6-rounded, ties by id) instead of
    // its minimum id — dedup should improve the corpus, not freeze
    // crawl order. Singletons (docs in no pair) always survive.
    Gate("q_dedup_best", (s, d) => {
      val dd = docs(s, d)
      Clustering.bestOfCluster(
          dd.select(col("doc_id"),
            round(TF.qualityScore(col("text")), 6).as("quality")),
          Dedup.jaccardPairs(dd, "doc_id", "text", 3, 0.8),
          "doc_id", "quality")
        .select(col("doc_id"), col("component"), col("quality"),
          col("keep"))
        .orderBy("doc_id")
    },
      // closure (as q_dedup_clusters) + the quality formula (as
      // q_domain_cap) + best-per-component pick; singleton docs are their
      // own component
      s"""WITH RECURSIVE $shingleCte,
         |p AS (SELECT d1, d2 FROM jac WHERE j >= 0.8),
         |edges AS MATERIALIZED (SELECT d1 AS u, d2 AS v FROM p
         |          UNION SELECT d2, d1 FROM p),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(min(v), u) AS component
         |         FROM reach GROUP BY u),
         |$tokCte,
         |${qualityMetricsCte("m")},
         |q AS (SELECT doc_id, round($qualityScoreSql, 6) AS quality FROM m)
         |SELECT doc_id, component, quality,
         |       row_number() OVER (PARTITION BY component
         |                          ORDER BY quality DESC, doc_id) = 1
         |         AS keep
         |FROM (SELECT d.doc_id,
         |             coalesce(c.component, d.doc_id) AS component,
         |             q.quality
         |      FROM documents d
         |      LEFT JOIN comp c USING (doc_id)
         |      JOIN q USING (doc_id))
         |ORDER BY doc_id""".stripMargin),

    // same contract as q_dedup_jaccard; LSH recall at threshold 0.8 with
    // 32 bands x 2 rows is ~1-1e-14, so the exact-jaccard oracle applies
    Gate("q_dedup_minhash", (s, d) =>
      Dedup.minhashPairs(docs(s, d), "doc_id", "text", 3, 0.8)
        .orderBy("d1", "d2"),
      jaccardSql),

    // incremental dedup against a persisted bucketed signature index:
    // corpus = doc_id % 4 != 3 is indexed once (bucketed band-key +
    // shingle tables), delta = doc_id % 4 == 3 dedups against it —
    // the emitted pairs are exactly the batch pairs touching the delta
    // (union-equivalence, IncrementalDedupSpec), which is what the
    // oracle's `d1 % 4 = 3 OR d2 % 4 = 3` filter expresses. The index
    // side of the candidate join reads its buckets Exchange-free.
    // The index is built ONCE per (session, sf-dir) and reused across
    // invocations — that IS the operator's contract (signatures are
    // computed at write time, deltas probe a persisted artifact);
    // rebuilding an immutable index on every call would measure the
    // harness, not the operator. The first invocation pays the build.
    Gate("q_dedup_incremental", (s, d) => {
      val all = docs(s, d)
      val idx = memoIndex("inc", s, d)((name, path) =>
        Dedup.buildIndex(all.where(col("doc_id") % 4 =!= 3),
          "doc_id", "text", name, path))
      Dedup.pairsAgainstIndex(all.where(col("doc_id") % 4 === 3),
          "doc_id", "text", idx, 0.8)
        .orderBy("d1", "d2")
    },
      // the incremental result is the batch pair set restricted to pairs
      // touching the delta partition (union-equivalence)
      s"""WITH $shingleCte
         |SELECT d1, d2, round(j, 4) AS jaccard FROM jac
         |WHERE j >= 0.8 AND (d1 % 4 = 3 OR d2 % 4 = 3)
         |ORDER BY d1, d2""".stripMargin),

    // portable token hash (md5-derived 64-bit, identical in DuckDB) so
    // the full simhash pipeline is oracle-checked; the xxhash64 kernel
    // stays the fast default for library callers
    Gate("q_dedup_simhash", (s, d) =>
      Dedup.simhashPairs(docs(s, d), "doc_id", "text", 3, portable = true)
        .select(col("d1"), col("d2"), col("hamming").cast("bigint").as("hamming"))
        .orderBy("d1", "d2"),
      // Brute-force all-pairs hamming (the banding in simhashPairs is
      // provably COMPLETE for hamming <= 3 — 4x16-bit pigeonhole — and its
      // verification exact, so the semantics equal all-pairs). Token hash =
      // first 64 bits of md5, the portable hash Dedup computes with
      // portable=true; bit/shift arithmetic stays in UBIGINT to keep the
      // bit pattern identical to the JVM's unsigned-long treatment.
      s"""WITH t AS (SELECT doc_id,
        |    ${tokensSql("text")} tk
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(tk) AS tok FROM t WHERE len(tk) > 0),
        |th AS (SELECT doc_id,
        |         ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM tok),
        |votes AS (
        |  SELECT doc_id, b,
        |         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) bits
        |  GROUP BY doc_id, b),
        |sh AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN v > 0 THEN (1::UBIGINT << b)::HUGEINT
        |             ELSE 0 END)::UBIGINT AS simhash
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY d1, d2""".stripMargin),

    Gate("q_dedup_embedding", (s, d) =>
      Dedup.embeddingPairs(emb(s, d), "vec_id", "embedding", 0.4)
        .orderBy("id1", "id2"),
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
        |       round(list_cosine_similarity(a.embedding::DOUBLE[],
        |                                    b.embedding::DOUBLE[]), 4) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[],
        |                             b.embedding::DOUBLE[]) >= 0.4
        |ORDER BY id1, id2""".stripMargin),

    // SemDeDup composed at the paper's shape (Abbas et al. 2023):
    // assign cells against 10 fixed centroids (the ivf-gate
    // convention), find >= 0.85 pairs WITHIN cells only, keep each
    // duplicate group's member least similar to its centroid. Shifted
    // copies (the q_dedup_embedding_lsh construction) provide real
    // duplicate groups; copies landing in a different cell than their
    // original are MISSED by design — the paper's recall trade, and
    // the oracle replays the same assignment so the miss set is
    // deterministic
    Gate("q_semdedup", (s, d) => {
      val base = emb(s, d)
        .select(col("vec_id"), VF.asDoubles(col("embedding")).as("embedding"))
      val shifted = base.where(col("vec_id") < 250)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.08)).as("embedding"))
      val centroids = base.where(col("vec_id") < 10)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Dedup.semDedup(base.unionAll(shifted), "vec_id", "embedding",
          centroids, "cid", "cvec", 0.85)
        .select(col("vid").as("vec_id"), col("cell"), col("cent_sim"),
          col("component"), col("keep"))
        .orderBy("vec_id")
    },
      // full SemDeDup replay: same shifted-copy corpus, same 10-centroid
      // argmax assignment as the ivf oracles (zero-norm rows excluded —
      // the engine convention), within-cell pairs only, recursive-CTE
      // closure (the q_dedup_clusters pattern), keep = least
      // centroid-similar per component on the 6-decimal grid
      """WITH RECURSIVE
        |base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(v, x -> x + 0.08)
        |  FROM base WHERE vec_id < 250),
        |e AS (SELECT vec_id, v FROM corpus
        |      WHERE list_dot_product(v, v) > 0),
        |cent AS (SELECT vec_id AS cell, v AS cv FROM base WHERE vec_id < 10),
        |asg AS MATERIALIZED (SELECT vec_id, v, cell,
        |         round(sim, 6) + 0.0 AS cent_sim FROM (
        |  SELECT e.vec_id, e.v, c.cell,
        |         list_cosine_similarity(e.v, c.cv) AS sim,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell)
        |           AS rn
        |  FROM e CROSS JOIN cent c) WHERE rn = 1),
        |p AS (SELECT a.vec_id AS d1, b.vec_id AS d2
        |      FROM asg a JOIN asg b
        |        ON a.cell = b.cell AND a.vec_id < b.vec_id
        |      WHERE list_cosine_similarity(a.v, b.v) >= 0.85),
        |edges AS MATERIALIZED (SELECT d1 AS u, d2 AS v FROM p
        |          UNION SELECT d2, d1 FROM p),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u),
        |comp AS (SELECT u AS vec_id, least(min(v), u) AS component
        |         FROM reach GROUP BY u)
        |SELECT a.vec_id, a.cell, a.cent_sim,
        |       coalesce(c.component, a.vec_id) AS component,
        |       row_number() OVER (
        |         PARTITION BY coalesce(c.component, a.vec_id)
        |         ORDER BY a.cent_sim ASC, a.vec_id ASC) = 1 AS keep
        |FROM asg a LEFT JOIN comp c USING (vec_id)
        |ORDER BY vec_id""".stripMargin),

    // SemDeDup's ε-sweep mode: prune each CELL to a 35% keep fraction
    // ranked by centroid similarity (least-central kept — diversity),
    // the boundary on the integer micro-grid so it can never flip on
    // FP dust. Same corpus/centroid fixture as q_semdedup, so the two
    // modes' keep sets are directly comparable; no pair join — one
    // window over the assigned frame
    Gate("q_semdedup_frac", (s, d) => {
      val base = emb(s, d)
        .select(col("vec_id"), VF.asDoubles(col("embedding")).as("embedding"))
      val shifted = base.where(col("vec_id") < 250)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.08)).as("embedding"))
      val centroids = base.where(col("vec_id") < 10)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Dedup.semDedupFraction(base.unionAll(shifted), "vec_id",
          "embedding", centroids, "cid", "cvec", 0.35)
        .select(col("vid").as("vec_id"), col("cell"), col("cent_sim"),
          col("rk"), col("n_cell"), col("keep"))
        .orderBy("vec_id")
    },
      // the ε-sweep replay: same assignment CTE as q_semdedup, then one
      // per-cell rank window and the all-BIGINT keep boundary
      // (rk-1)*1e6 < keep_micro * n_cell with keep_micro = round(.35e6)
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(v, x -> x + 0.08)
        |  FROM base WHERE vec_id < 250),
        |e AS (SELECT vec_id, v FROM corpus
        |      WHERE list_dot_product(v, v) > 0),
        |cent AS (SELECT vec_id AS cell, v AS cv FROM base WHERE vec_id < 10),
        |asg AS (SELECT vec_id, cell,
        |         round(sim, 6) + 0.0 AS cent_sim FROM (
        |  SELECT e.vec_id, c.cell,
        |         list_cosine_similarity(e.v, c.cv) AS sim,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell)
        |           AS rn
        |  FROM e CROSS JOIN cent c) WHERE rn = 1),
        |rk AS (SELECT vec_id, cell, cent_sim,
        |         row_number() OVER (PARTITION BY cell
        |           ORDER BY cent_sim ASC, vec_id ASC)::BIGINT AS rk,
        |         count(*) OVER (PARTITION BY cell)::BIGINT AS n_cell
        |       FROM asg)
        |SELECT vec_id, cell, cent_sim, rk, n_cell,
        |       (rk - 1) * 1000000 < 350000 * n_cell AS keep
        |FROM rk ORDER BY vec_id""".stripMargin),

    // same operator at a near-dup threshold: 0.85 dispatches to the
    // banded-LSH branch (embeddingPairsLsh), so BOTH candidate-generation
    // strategies are oracle-gated. The testdata embeddings are near-random
    // (max pairwise cosine ~0.51), so the corpus is augmented with
    // deterministically shifted copies (x + 0.08 per element, reproduced
    // verbatim in the DuckDB oracle): their self-pair cosines spread over
    // ~[0.76, 0.90], so the 0.85 cut is a real per-pair decision (~80
    // pairs pass at every SF), not a vacuous 0-row match. dim is passed
    // explicitly so the gate path is fully lazy — no driver-side collect
    // anywhere. Deterministic planes + the 1e-9 per-pair miss bound make
    // the exact quadratic SQL a valid oracle; DedupSpec additionally pins
    // LSH == exact.
    Gate("q_dedup_embedding_lsh", (s, d) => {
      val base = emb(s, d)
        .select(col("vec_id"), VF.asDoubles(col("embedding")).as("embedding"))
      val shifted = base.where(col("vec_id") < 250)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.08)).as("embedding"))
      Dedup.embeddingPairs(base.unionAll(shifted), "vec_id", "embedding",
          0.85, dim = 64)
        .orderBy("id1", "id2")
    },
      // exact quadratic oracle for the LSH branch: valid because the banded
      // candidate generation is deterministic with a 1e-9 per-pair miss
      // bound and verification reports the TRUE cosine. The shifted-copy
      // construction must stay element-wise identical to the Spark side
      // (float->double cast, then + 0.08 — both exact IEEE ops).
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(v, x -> x + 0.08)
        |  FROM base WHERE vec_id < 250)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.85
        |ORDER BY id1, id2""".stripMargin),

    // embedding delta vs a persisted banded-LSH index: base corpus
    // signed once into bucketed tables (memoized per session/sf-dir
    // like the text index), the shifted near-copies probe it as the
    // delta. Oracle = the batch pair set restricted to pairs touching
    // the delta ids — union-equivalence, same as q_dedup_incremental.
    Gate("q_dedup_embedding_incr", (s, d) => {
      val base = emb(s, d)
        .select(col("vec_id"), VF.asDoubles(col("embedding")).as("embedding"))
      val shifted = base.where(col("vec_id") < 250)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.08)).as("embedding"))
      val idx = memoIndex("emb", s, d)((name, path) =>
        Dedup.buildEmbeddingIndex(base, "vec_id", "embedding",
          name, path,
          0.85, dim = 64))
      Dedup.embeddingPairsAgainstIndex(shifted, "vec_id", "embedding", idx)
        .orderBy("id1", "id2")
    },
      // incremental = the same batch pair set restricted to pairs with at
      // least one delta (shifted-copy) side
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |corpus AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(v, x -> x + 0.08)
        |  FROM base WHERE vec_id < 250)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.85
        |  AND (a.vec_id >= 100000 OR b.vec_id >= 100000)
        |ORDER BY id1, id2""".stripMargin)
  )
}
