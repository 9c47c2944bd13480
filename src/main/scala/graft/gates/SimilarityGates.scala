package graft.gates

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Clustering, Contamination, Dedup, Similarity}
import GateSupport._

/** Similarity-search gates (brute-force, IVF, PQ, SQ8, LSH and random-
  * projection kNN, kNN graphs, embedding clusters) and the corpus-selection gates
  * filed after them: sampling, mixing, packing, span dedup and
  * decontamination. */
object SimilarityGates {

  // Every similarity oracle excludes zero-norm vectors up front — the
  // engine's documented convention (VectorFunctions.cosineFrom): cosine
  // is UNDEFINED there, the sim is NULL, and the row falls out of
  // top-k/probe results. DuckDB's list_cosine_similarity instead
  // returns -1.0 for a zero vector, which silently keeps such rows in
  // the ranking (and tie-assigns them to cell 0 in argmax replays) —
  // caught by the round-14 embedding-degeneracy sweep.
  private val ivfSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[],
      |                                  embedding::DOUBLE[]) > 0),
      |cent AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 10),
      |asg AS (SELECT vec_id, v, cell FROM (
      |  SELECT e.vec_id, e.v, c.cell,
      |         row_number() OVER (PARTITION BY e.vec_id
      |           ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell) rn
      |  FROM e CROSS JOIN cent c) WHERE rn = 1),
      |q AS (SELECT vec_id qid, v qv, cell FROM asg
      |      WHERE vec_id BETWEEN 100 AND 104),
      |s AS (SELECT q.qid, a.vec_id cid, list_cosine_similarity(q.qv, a.v) sim
      |      FROM q JOIN asg a ON a.cell = q.cell AND a.vec_id <> q.qid)
      |SELECT qid, rank, cid, round(sim, 4) + 0.0 AS sim FROM (
      |  SELECT qid, cid, sim,
      |         row_number() OVER (PARTITION BY qid
      |                            ORDER BY sim DESC, cid) AS rank
      |  FROM s)
      |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** The q_dedup_spans_tokens oracle: duplicateTokenSpans at
    * minTokens=5 replayed linearly. Same char-row split as
    * [[dupSpansCte]]; tokens derive from the char rows (run starts via
    * lag, token ids via a cumulative sum, bytes + 1-based code-point
    * bounds via an ordered string_agg + min/max), 5-token grams are
    * space-joined window leads, and the island merge runs on TOKEN ids
    * with the char bounds carried through — exactly the generator's
    * (tpos, cs, ce, g) contract. */
  private val dupTokenSpansCte = {
    val n = 5
    val gram = (1 until n)
      .map(j => s"|| ' ' || lead(tok, $j) OVER w ").mkString
    s"""t2 AS (
      |  SELECT doc_id,
      |    substr(text, 1, 60) || '[' || md5('u' || doc_id::VARCHAR) ||
      |    ']' || substr(text, 61) AS text
      |  FROM documents),
      |cl AS (
      |  SELECT doc_id, len(text) AS n, string_split(text, '') AS chs
      |  FROM t2 WHERE len(text) >= 1),
      |ch AS (
      |  SELECT doc_id, unnest(range(1, n + 1)) AS pos, unnest(chs) AS c
      |  FROM cl),
      |tk1 AS (
      |  SELECT doc_id, pos, c, it,
      |    CASE WHEN it = 1 AND coalesce(lag(it) OVER (
      |           PARTITION BY doc_id ORDER BY pos), 0) = 0
      |         THEN 1 ELSE 0 END AS st
      |  FROM (SELECT doc_id, pos, c,
      |          CASE WHEN c IN (' ', chr(9), chr(10), chr(11), chr(12),
      |                          chr(13)) THEN 0 ELSE 1 END AS it
      |        FROM ch)),
      |tk2 AS (
      |  SELECT doc_id, pos, c, it,
      |    sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS tid
      |  FROM tk1),
      |tok AS (
      |  SELECT doc_id, tid, string_agg(c, '' ORDER BY pos) AS tok,
      |         min(pos)::BIGINT AS ts, max(pos)::BIGINT AS te
      |  FROM tk2 WHERE it = 1 GROUP BY doc_id, tid),
      |tg AS (
      |  SELECT doc_id, tid::BIGINT AS tpos, ts AS cs,
      |         lead(te, ${n - 1}) OVER w AS ce,
      |         md5(tok $gram) AS g
      |  FROM tok
      |  WINDOW w AS (PARTITION BY doc_id ORDER BY tid)
      |  QUALIFY lead(tok, ${n - 1}) OVER w IS NOT NULL),
      |tdup AS (SELECT g FROM tg GROUP BY g HAVING count(*) > 1),
      |th AS (SELECT doc_id, tpos, cs, ce FROM tg JOIN tdup USING (g)),
      |tm AS (SELECT doc_id, tpos, cs, ce,
      |         max(tpos + ${n - 1}) OVER (PARTITION BY doc_id
      |           ORDER BY tpos
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS prev_end
      |       FROM th),
      |tisl AS (SELECT doc_id, tpos, cs, ce,
      |           sum(CASE WHEN prev_end IS NULL OR tpos > prev_end + 1
      |                    THEN 1 ELSE 0 END) OVER (
      |             PARTITION BY doc_id ORDER BY tpos) AS island
      |         FROM tm),
      |tspans AS (SELECT doc_id, min(cs)::BIGINT AS span_start,
      |                  max(ce)::BIGINT AS span_end,
      |                  min(tpos)::BIGINT AS tok_start,
      |                  (max(tpos) + ${n - 1})::BIGINT AS tok_end
      |           FROM tisl GROUP BY doc_id, island)""".stripMargin
  }

  /** [[dupTokenSpansCte]] extended through the same cut replay shape
    * as [[spanCutCte]] — covered positions explode from the TOKEN
    * spans' char bounds, the token CTE's own `ch` rows anti-join them,
    * ordered string_agg stitches `tcut(doc_id, kept)`. No length
    * guard needed: the token char-split keeps every len>=1 doc, so a
    * span-free doc reassembles byte-identical and only the empty-text
    * doc falls through to coalesce(''). */
  private def tokenSpanCutCte: String =
    s"""$dupTokenSpansCte,
       |tcov AS (SELECT doc_id,
       |           unnest(range(span_start, span_end + 1)) AS pos
       |         FROM tspans),
       |tkeptc AS (SELECT doc_id, pos, c
       |           FROM ch ANTI JOIN tcov USING (doc_id, pos)),
       |tkk AS (SELECT doc_id, string_agg(c, '' ORDER BY pos) AS kept
       |        FROM tkeptc GROUP BY doc_id),
       |tcut AS (SELECT t2.doc_id,
       |           CASE WHEN t2.text IS NULL THEN NULL
       |                ELSE coalesce(tkk.kept, '') END AS kept
       |         FROM t2 LEFT JOIN tkk USING (doc_id))""".stripMargin

  /** [[dupSpansCte]] extended through the span CUT: covered positions
    * explode from the spans (total <= doc length), the `ch` char rows
    * anti-join them, and an ordered string_agg stitches the kept
    * bytes into `cut(doc_id, kept)` — shared by q_dedup_spans_cut and
    * the q_span_pipeline capstone so the cut replay cannot drift. */
  private def spanCutCte: String =
    s"""$dupSpansCte,
       |cov AS (SELECT doc_id, unnest(range(span_start, span_end + 1)) AS pos
       |        FROM spans),
       |keptc AS (SELECT doc_id, pos, c
       |          FROM ch ANTI JOIN cov USING (doc_id, pos)),
       |k AS (SELECT doc_id, string_agg(c, '' ORDER BY pos) AS kept
       |      FROM keptc GROUP BY doc_id),
       |cut AS (SELECT t2.doc_id,
       |          CASE WHEN t2.text IS NULL THEN NULL
       |               WHEN len(t2.text) < 20 THEN t2.text
       |               ELSE coalesce(k.kept, '') END AS kept
       |        FROM t2 LEFT JOIN k USING (doc_id))""".stripMargin

  /** Distinct (doc_id, 8-gram) rows — linear form (see ngramRowsSql). */
  private val s8RowsCte =
    s"""sh AS (
      |  SELECT DISTINCT doc_id, s8
      |  FROM ${ngramRowsSql("t", 8, gram = "s8")})""".stripMargin

  private val decontaminateSql =
    s"""WITH $tokCte,
      |$s8RowsCte,
      |bench AS (SELECT DISTINCT s8 AS s FROM sh WHERE doc_id < 10),
      |corpus AS (SELECT doc_id AS doc, s8 AS s FROM sh WHERE doc_id >= 10)
      |SELECT doc, count(DISTINCT s) AS n_shared
      |FROM corpus JOIN bench USING (s)
      |GROUP BY doc ORDER BY doc""".stripMargin

  val gates: Seq[Gate] = Seq(

    Gate("q_knn_bruteforce", (s, d) => {
      val e = emb(s, d)
      Similarity.bruteForceKnn(e.where(col("vec_id") < 5), e,
          "vec_id", "embedding", 3)
        .orderBy("qid", "rank")
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[],
      |                                  embedding::DOUBLE[]) > 0),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |s AS (SELECT q.vec_id qid, c.vec_id cid,
        |             list_cosine_similarity(q.v, c.v) sim
        |      FROM q CROSS JOIN e c WHERE c.vec_id <> q.vec_id)
        |SELECT qid, rank, cid, round(sim, 4) + 0.0 AS sim FROM (
        |  SELECT qid, cid, sim,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY sim DESC, cid) AS rank
        |  FROM s)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    // contrastive hard negatives: top-k most-similar vectors whose
    // label DIFFERS — near the anchor, semantically wrong; the filter
    // composes with any ANN candidate path at scale
    Gate("q_hard_negatives", (s, d) => {
      val e = emb(s, d)
      Similarity.hardNegatives(e.where(col("vec_id") < 5), e,
          "vec_id", "embedding", "label", 5)
        .orderBy("qid", "rank")
    },
      // same cosine convention as q_knn_bruteforce, plus the null-safe
      // label-mismatch predicate (IS DISTINCT FROM)
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v, label
        |           FROM embeddings
        |           WHERE list_dot_product(embedding::DOUBLE[],
        |                                  embedding::DOUBLE[]) > 0),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |s AS (SELECT q.vec_id qid, c.vec_id cid, c.label clabel,
        |             list_cosine_similarity(q.v, c.v) sim
        |      FROM q CROSS JOIN e c
        |      WHERE c.vec_id <> q.vec_id
        |        AND c.label IS DISTINCT FROM q.label)
        |SELECT qid, rank, cid, clabel, round(sim, 4) + 0.0 AS sim FROM (
        |  SELECT qid, cid, clabel, sim,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY sim DESC, cid) AS rank
        |  FROM s)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // JL dimension reduction 64 -> 16 under the md5-seeded ±1 matrix:
    // gated as exploded (vec_id, j, y) scalar rows; the sign matrix is
    // replayed by the oracle from the salt alone, so this pins the
    // whole projection (matrix derivation, summation, 1/sqrt scaling)
    Gate("q_random_projection", (s, d) =>
      Similarity.randomProject(emb(s, d), "embedding", 64, 16, "rp1")
        .select(col("vec_id"), posexplode(col("rp")).as(Seq("j", "y")))
        .select(col("vec_id"), col("j").cast("long").as("j"),
          round(col("y"), 6).as("y"))
        .orderBy("vec_id", "j"),
      // the sign matrix replayed from the salt: +1 when the first hex
      // digit of md5('rp:rp1:i:j') is even; y_j = sum_i v_i*s_ij/sqrt(16)
      // (round 6 absorbs cross-engine summation-order ulp). Mirrors the
      // engine's ragged-vector convention explicitly: a non-null vector
      // whose length != 64 projects to all zeros (SignedProject's
      // degrade-to-zero rule), not to a partial sum over whatever
      // indices exist — so a dimension-injecting sweep fails loudly as
      // a semantic diff, never as a confusing value mismatch (ADVICE r14)
      """WITH s AS (SELECT i.i AS i, j.j AS j,
        |    CASE WHEN (('0x' || substr(
        |        md5('rp:rp1:' || i.i::VARCHAR || ':' || j.j::VARCHAR),
        |        1, 1))::INT % 2) = 0
        |      THEN 1.0 ELSE -1.0 END::DOUBLE AS sgn
        |  FROM range(0, 64) i(i), range(0, 16) j(j)),
        |d AS (SELECT vec_id, embedding, len(embedding) AS n
        |      FROM embeddings WHERE embedding IS NOT NULL),
        |v AS (SELECT vec_id, u.i - 1 AS i,
        |        list_extract(embedding, u.i)::DOUBLE AS x
        |      FROM d, unnest(range(1, len(embedding) + 1)) AS u(i)
        |      WHERE n = 64),
        |p AS (SELECT vec_id, j, sum(x * sgn) AS sy
        |      FROM v JOIN s USING (i) GROUP BY vec_id, j)
        |SELECT d.vec_id, jj.j::BIGINT AS j,
        |       CASE WHEN d.n = 64 THEN round(p.sy / sqrt(16.0), 6)
        |            ELSE 0.0 END AS y
        |FROM d CROSS JOIN range(0, 16) jj(j)
        |LEFT JOIN p ON p.vec_id = d.vec_id AND p.j = jj.j
        |ORDER BY d.vec_id, jj.j""".stripMargin),

    Gate("q_knn_ivf", (s, d) => {
      val e = emb(s, d)
      Similarity.ivfKnn(e.where(col("vec_id").between(100, 104)), e,
          "vec_id", "embedding",
          e.where(col("vec_id") < 10), "vec_id", "embedding", 3)
        .orderBy("qid", "rank")
    },
      ivfSql),

    // whole-corpus kNN GRAPH: every vector's top-3 neighbors via IVF
    // cells at nProbe=2 — corpus-sized probes, so the cell join is
    // shuffle-hash on BOTH sides (nothing corpus-sized broadcasts)
    Gate("q_knn_graph", (s, d) => {
      val e = emb(s, d)
      Similarity.knnGraph(e, "vec_id", "embedding",
          e.where(col("vec_id") < 10), "vec_id", "embedding",
          k = 3, nProbe = 2)
        .orderBy("qid", "rank")
    },
      // same assignment replay; probes rank the top-2 cells per vector
      // and every vector is a query
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[],
      |                                  embedding::DOUBLE[]) > 0),
        |cent AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 10),
        |asg AS (SELECT vec_id, v, cell FROM (
        |  SELECT e.vec_id, e.v, c.cell,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell)
        |           rn
        |  FROM e CROSS JOIN cent c) WHERE rn = 1),
        |probes AS (SELECT vec_id AS qid, v AS qv, cell FROM (
        |  SELECT e.vec_id, e.v, c.cell,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell)
        |           rn
        |  FROM e CROSS JOIN cent c) WHERE rn <= 2),
        |s AS (SELECT p.qid, a.vec_id AS cid,
        |             list_cosine_similarity(p.qv, a.v) AS sim
        |      FROM probes p JOIN asg a
        |        ON a.cell = p.cell AND a.vec_id <> p.qid)
        |SELECT qid, rank, cid, round(sim, 4) + 0.0 AS sim FROM (
        |  SELECT qid, cid, sim,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY sim DESC, cid) AS rank
        |  FROM s)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    // the graph CONSUMED: kNN edges above cosine 0.4 close into
    // communities (large-star/small-star) — embedding-level duplicate
    // groups at corpus scale, the composition knnGraph exists for
    Gate("q_embedding_communities", (s, d) => {
      val e = emb(s, d)
      val edges = Similarity.knnGraph(e, "vec_id", "embedding",
          e.where(col("vec_id") < 10), "vec_id", "embedding",
          k = 3, nProbe = 2)
        .where(col("sim") >= 0.4)
        .select(col("qid").as("d1"), col("cid").as("d2"))
      Clustering.dedupVerdicts(edges, "d1", "d2").orderBy("id")
    },
      // the knn-graph replay's edges (filter on the ROUNDED sim — the
      // bit-exact cross-engine value) symmetrized and closed with the
      // recursive-CTE machinery of the dedup-cluster oracles
      """WITH RECURSIVE ev AS (SELECT vec_id, embedding::DOUBLE[] v
        |                     FROM embeddings),
        |cent AS (SELECT vec_id AS cell, v AS cv FROM ev WHERE vec_id < 10),
        |asg AS (SELECT vec_id, v, cell FROM (
        |  SELECT ev.vec_id, ev.v, c.cell,
        |         row_number() OVER (PARTITION BY ev.vec_id
        |           ORDER BY list_cosine_similarity(ev.v, c.cv) DESC, c.cell)
        |           rn
        |  FROM ev CROSS JOIN cent c) WHERE rn = 1),
        |probes AS (SELECT vec_id AS qid, v AS qv, cell FROM (
        |  SELECT ev.vec_id, ev.v, c.cell,
        |         row_number() OVER (PARTITION BY ev.vec_id
        |           ORDER BY list_cosine_similarity(ev.v, c.cv) DESC, c.cell)
        |           rn
        |  FROM ev CROSS JOIN cent c) WHERE rn <= 2),
        |sims AS (SELECT p.qid, a.vec_id AS cid,
        |                list_cosine_similarity(p.qv, a.v) AS sim
        |         FROM probes p JOIN asg a
        |           ON a.cell = p.cell AND a.vec_id <> p.qid),
        |g AS (SELECT qid AS d1, cid AS d2 FROM (
        |        SELECT qid, cid, sim,
        |               row_number() OVER (PARTITION BY qid
        |                                  ORDER BY sim DESC, cid) AS rank
        |        FROM sims)
        |      WHERE rank <= 3
        |        AND round(sim, 4) + 0.0 >= CAST(0.4 AS DOUBLE)),
        |edges AS MATERIALIZED (SELECT d1 AS u, d2 AS v FROM g
        |          UNION SELECT d2, d1 FROM g),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u)
        |SELECT u AS id, least(min(v), u) AS component,
        |       least(min(v), u) = u AS keep
        |FROM reach GROUP BY u ORDER BY id""".stripMargin),

    // same query through the PERSISTED cell-partitioned index: cell
    // assignment (the full-corpus argmax scan) happened once at build,
    // and the probe reads only the probed cells' partitions (partition
    // pruning pinned by IvfIndexSpec). Same oracle as q_knn_ivf —
    // results are identical by construction. Index memoized per
    // (session, sf-dir) like the dedup index.
    Gate("q_knn_ivf_indexed", (s, d) => {
      val e = emb(s, d)
      val idx = memoIndex("ivf", s, d)((name, path) =>
        Similarity.buildIvfIndex(e, "vec_id", "embedding",
          e.where(col("vec_id") < 10), "vec_id", "embedding", name, path))
      Similarity.ivfKnnFromIndex(s,
          e.where(col("vec_id").between(100, 104)),
          "vec_id", "embedding", idx, 3)
        .orderBy("qid", "rank")
    },
      // identical semantics through the persisted cell-partitioned index
      ivfSql),

    // SemDeDup READ FROM THE PERSISTED IVF INDEX — the 100 TB path
    // semDedupAssigned's scaladoc promises, gated: the index's
    // cell-partitioned corpus table is consumed as the assigned frame
    // (same memoized index as q_knn_ivf_indexed — assignment is a
    // once-per-corpus artifact), the own-centroid similarity recovered
    // with ONE dot per row against the broadcast centroid table. Raw
    // corpus (near-random vectors), so tau = 0.4 — q_dedup_embedding's
    // threshold — yields 13 real within-cell pairs
    Gate("q_semdedup_index", (s, d) => {
      val e = emb(s, d)
      val idx = memoIndex("ivf", s, d)((name, path) =>
        Similarity.buildIvfIndex(e, "vec_id", "embedding",
          e.where(col("vec_id") < 10), "vec_id", "embedding", name, path))
      Dedup.semDedupFromIndex(s, idx, 0.4)
        .select(col("vid").as("vec_id"), col("cell"), col("cent_sim"),
          col("component"), col("keep"))
        .orderBy("vec_id")
    },
      // same assignment as ivfSql (the index build), then the q_semdedup
      // machinery at tau 0.4 over the RAW corpus — cent_sim carried from
      // the argmax row (identical to the gate's one-dot recomputation
      // against the assigned cell's centroid)
      """WITH RECURSIVE
        |e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
        |      WHERE list_dot_product(embedding::DOUBLE[],
        |                             embedding::DOUBLE[]) > 0),
        |cent AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 10),
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
        |      WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
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

    // incremental IVF: the index is built over 3/4 of the corpus, the
    // remaining quarter folds in via extendIvfIndex (assignment against
    // the PERSISTED centroids, O(delta) appended files). Queries over
    // the folded index must equal full-corpus IVF at the same centroids
    // — the oracle is the very same ivfSql as q_knn_ivf/_indexed, so the
    // gate fails if the fold drops, duplicates, or mis-assigns a single
    // delta vector that the probed cells should see.
    Gate("q_knn_ivf_extended", (s, d) => {
      val e = emb(s, d)
      val idx = memoIndex("ivfx", s, d)((name, path) => {
        val i = Similarity.buildIvfIndex(
          e.where(col("vec_id") % 4 =!= 3), "vec_id", "embedding",
          e.where(col("vec_id") < 10), "vec_id", "embedding", name, path)
        Similarity.extendIvfIndex(e.where(col("vec_id") % 4 === 3),
          "vec_id", "embedding", i)
        i
      })
      Similarity.ivfKnnFromIndex(s,
          e.where(col("vec_id").between(100, 104)),
          "vec_id", "embedding", idx, 3)
        .orderBy("qid", "rank")
    },
      // fold-in equivalence: subset-build + extend must equal full-corpus
      // IVF at the same centroids, so the oracle is ivfSql unchanged
      ivfSql),

    // Embedding clustering as a data-organization operator: every
    // vector assigned to its nearest of 10 fixed centroids (argmax
    // cosine, ties to the smaller cell — a single codegen'd projection,
    // no join/window, spec-asserted in SimilaritySpec) and summarized
    // per cluster. The oracle replays the same argmax in DuckDB, so
    // the gate pins assignment semantics end-to-end — the primitive
    // under IVF indexing AND any cluster-then-curate pipeline step.
    Gate("q_embedding_clusters", (s, d) => {
      val e = emb(s, d)
      Similarity.assignCells(e, "vec_id", "embedding",
          e.where(col("vec_id") < 10), "vec_id", "embedding")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"),
          max(col("vec_id")).as("max_vec"))
        .orderBy("cell")
    },
      // same argmax (highest cosine, then smallest cell) replayed in SQL.
      // A zero-norm vector lands in the cell -1 AUDIT bucket (the
      // assignCells contract: its cosines are undefined, it matches no
      // probe) — DuckDB's list_cosine_similarity returns -1.0 there,
      // which would otherwise tie-assign it to cell 0
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v,
        |                  list_dot_product(embedding::DOUBLE[],
        |                                   embedding::DOUBLE[]) > 0 AS ok
        |           FROM embeddings),
        |c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 10),
        |r AS (SELECT e.vec_id, c.cell,
        |             row_number() OVER (PARTITION BY e.vec_id
        |               ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
        |                        c.cell) AS rn
        |      FROM e CROSS JOIN c WHERE e.ok),
        |a AS (SELECT vec_id, cell FROM r WHERE rn = 1
        |      UNION ALL SELECT vec_id, -1 AS cell FROM e WHERE NOT ok)
        |SELECT cell, count(*) AS n_vecs, min(vec_id) AS min_vec,
        |       max(vec_id) AS max_vec
        |FROM a GROUP BY cell ORDER BY cell""".stripMargin),

    // Persisted IVF-PQ (the FAISS IVFADC layout, Spark-native): one
    // cell-partitioned table carrying m=16 one-byte PQ codes AND the
    // original vectors as separate columns — the ADC scan column-prunes
    // to codes (never reads vectors, spec-asserted via ReadSchema), the
    // exact-refine tail reads vectors only for top-R candidate ids.
    // Output rows are the exhaustive probe (nProbe = #cells) + generous
    // refine = exact brute-force top-k (hashable against the same SQL
    // as q_knn_pq), cross-joined with a certificate that the PRUNED
    // nProbe=4 probe still clears recall >= 0.3 over the same index.
    Gate("q_knn_ivfpq", (s, d) => {
      val e = emb(s, d)
      val idx = memoIndex("ivfpq", s, d)((name, path) =>
        Similarity.buildIvfPqIndex(e, "vec_id", "embedding",
          e.where(col("vec_id") < 10), "vec_id", "embedding",
          Similarity.trainPq(e, "embedding", m = 16, codesPerSub = 32,
            seed = 7L), name, path))
      val q = e.where(col("vec_id") < 5)
      val exact0 = Similarity.ivfPqKnnFromIndex(s, q, "vec_id",
        "embedding", idx, 3, nProbe = 10, refine = 48)
      val exact = if (exact0.storageLevel ==
          org.apache.spark.storage.StorageLevel.NONE) exact0.cache()
        else exact0
      val pruned = Similarity.ivfPqKnnFromIndex(s, q, "vec_id",
        "embedding", idx, 3, nProbe = 4, refine = 48)
      exact.crossJoin(
          broadcast(Similarity.recallCertificate(exact, pruned, 0.3)))
        .orderBy("qid", "rank")
    },
      // exhaustive probe (all 10 cells) + refine=48 recovers exact
      // brute-force top-3 (spec-pinned), so the same SQL oracles the
      // persisted IVFADC path; the pruned-probe quality rides in the
      // certificate column
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[],
      |                                  embedding::DOUBLE[]) > 0),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |s AS (SELECT q.vec_id qid, c.vec_id cid,
        |             list_cosine_similarity(q.v, c.v) sim
        |      FROM q CROSS JOIN e c WHERE c.vec_id <> q.vec_id)
        |SELECT qid, rank, cid, round(sim, 4) + 0.0 AS sim,
        |       TRUE AS recall_ok FROM (
        |  SELECT qid, cid, sim,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY sim DESC, cid) AS rank
        |  FROM s)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    // k-means-trained IVF (MLlib) with an in-query recall certificate.
    // Trains on a seeded half-sample with random init (the faiss-style
    // coarse-quantizer recipe): the 100 TB contract is that centroids
    // need a sample, not the corpus. The output rows are the
    // exhaustive-probe (nProbe = #cells = exact) top-k — hashable
    // against plain brute-force SQL — cross-joined with a one-row
    // certificate that the pruned nProbe=4 probe over the SAME trained
    // centroids recalls >= 0.3 of those exact pairs. Recall is
    // deterministic (seeded sample + seeded init + Lloyd), measured
    // 5/15 at sf0.001, 7/15 at sf0.01, 10/15 at sf0.1; per-qid recall
    // ranges 0..1 (qid 0 recalls 0/3 at sf0.01), which is why the
    // certificate is aggregate, not per-query. If a regression drops
    // recall below the floor, recall_ok flips false on every row and
    // the hash compare fails loudly. IvfTrainedSpec additionally pins
    // the 20-query recall floor (0.4) for this configuration.
    Gate("q_knn_ivf_trained", (s, d) => {
      val e = emb(s, d)
      val cent = Similarity.trainCentroids(e, "embedding", 16,
        maxIter = 10, sampleFraction = 0.5, initMode = "random")
      val q = e.where(col("vec_id") < 5)
      // the exact subtree feeds the output rows AND the certificate —
      // cache it (idempotently: deterministic training + Seq-equality
      // expressions make repeat invocations' plans identical) so the
      // corpus cell-assignment runs once, not twice per action
      val exact0 = Similarity.ivfKnn(q, e, "vec_id", "embedding",
        cent, "cell", "centroid", 3, nProbe = 16)
      val exact = if (exact0.storageLevel ==
          org.apache.spark.storage.StorageLevel.NONE) exact0.cache()
        else exact0
      val approx = Similarity.ivfKnn(q, e, "vec_id", "embedding",
        cent, "cell", "centroid", 3, nProbe = 4)
      exact.crossJoin(
          broadcast(Similarity.recallCertificate(exact, approx, 0.3)))
        .orderBy("qid", "rank")
    },
      // The trained-IVF gate emits exhaustive-probe (= exact) rows plus a
      // deterministic recall certificate for the pruned nProbe=4 probe, so
      // the oracle is brute force + TRUE: if recall ever drops below the
      // 0.3 floor, Spark emits false and the hash compare fails.
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[],
      |                                  embedding::DOUBLE[]) > 0),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |s AS (SELECT q.vec_id qid, c.vec_id cid,
        |             list_cosine_similarity(q.v, c.v) sim
        |      FROM q CROSS JOIN e c WHERE c.vec_id <> q.vec_id)
        |SELECT qid, rank, cid, round(sim, 4) + 0.0 AS sim,
        |       TRUE AS recall_ok FROM (
        |  SELECT qid, cid, sim,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY sim DESC, cid) AS rank
        |  FROM s)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    // Exhaustive-probe trained IVF: same k-means centroids, but
    // nProbe = #cells (16) probes EVERY cell, so the search is exact
    // regardless of what training produced — each corpus vector sits in
    // exactly one cell and every cell is scanned. That makes the whole
    // trained path (train -> assign -> probe -> rank) oracle-checkable
    // against plain brute-force SQL; the pruned nProbe=4 variant above
    // keeps covering the approximate probe behavior (recall floor in
    // IvfTrainedSpec).
    Gate("q_knn_ivf_trained_exact", (s, d) => {
      val e = emb(s, d)
      val cent = Similarity.trainCentroids(e, "embedding", 16,
        maxIter = 10, sampleFraction = 0.5, initMode = "random")
      Similarity.ivfKnn(e.where(col("vec_id") < 5), e, "vec_id", "embedding",
          cent, "cell", "centroid", 3, nProbe = 16)
        .orderBy("qid", "rank")
    },
      // Exhaustive probe (nProbe = #cells) makes trained IVF exact, so the
      // oracle is plain brute force — identical to q_knn_bruteforce.
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[],
      |                                  embedding::DOUBLE[]) > 0),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |s AS (SELECT q.vec_id qid, c.vec_id cid,
        |             list_cosine_similarity(q.v, c.v) sim
        |      FROM q CROSS JOIN e c WHERE c.vec_id <> q.vec_id)
        |SELECT qid, rank, cid, round(sim, 4) + 0.0 AS sim FROM (
        |  SELECT qid, cid, sim,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY sim DESC, cid) AS rank
        |  FROM s)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    // SQ8 retrieve-then-refine: the corpus is scanned as 1-byte-per-dim
    // codes (asymmetric distance against the full-precision query), the
    // top k*4 candidates re-ranked exactly. Emits the exact top-k rows
    // plus an in-query certificate that the quantized path's recall
    // stays >= 0.9 (measured 1.0 at sf0.001/0.01/0.1 — codebook and
    // scoring are deterministic functions of the corpus).
    Gate("q_knn_sq8", (s, d) => {
      val e = emb(s, d)
      val cb = Similarity.trainSq(e, "embedding")
      val q = e.where(col("vec_id") < 5)
      val exact0 = Similarity.bruteForceKnn(q, e, "vec_id", "embedding", 3)
      val exact = if (exact0.storageLevel ==
          org.apache.spark.storage.StorageLevel.NONE) exact0.cache()
        else exact0
      val approx = Similarity.sqKnn(q, e, "vec_id", "embedding", 3, cb,
        refine = 4)
      exact.crossJoin(
          broadcast(Similarity.recallCertificate(exact, approx, 0.9)))
        .orderBy("qid", "rank")
    },
      // SQ8 gate: exact rows + deterministic recall certificate (same
      // contract as q_knn_ivf_trained) — oracle is brute force + TRUE
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[],
      |                                  embedding::DOUBLE[]) > 0),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |s AS (SELECT q.vec_id qid, c.vec_id cid,
        |             list_cosine_similarity(q.v, c.v) sim
        |      FROM q CROSS JOIN e c WHERE c.vec_id <> q.vec_id)
        |SELECT qid, rank, cid, round(sim, 4) + 0.0 AS sim,
        |       TRUE AS recall_ok FROM (
        |  SELECT qid, cid, sim,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY sim DESC, cid) AS rank
        |  FROM s)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    // PQ/ADC retrieve-then-refine: corpus scanned via m=16 one-byte
    // subspace codes (16x compression at 64 dims vs float32 — the
    // memory decade BEYOND SQ8's 4x), scored per query by m table
    // lookups, per-partition bounded heaps keeping the shuffle at
    // partitions x queries x top-R rows, then exact re-rank. Same
    // certificate discipline as q_knn_sq8: emits exact top-k plus an
    // in-query recall >= 0.9 certificate (measured 1.0 at the gate's
    // refine=48 on every sf — near-random vectors are PQ's worst case,
    // which is exactly why the refine budget is generous here).
    Gate("q_knn_pq", (s, d) => {
      val e = emb(s, d)
      val cb = Similarity.trainPq(e, "embedding", m = 16,
        codesPerSub = 32, seed = 7L)
      val q = e.where(col("vec_id") < 5)
      val exact0 = Similarity.bruteForceKnn(q, e, "vec_id", "embedding", 3)
      val exact = if (exact0.storageLevel ==
          org.apache.spark.storage.StorageLevel.NONE) exact0.cache()
        else exact0
      val approx = Similarity.pqKnn(q, e, "vec_id", "embedding", 3, cb,
        refine = 48)
      exact.crossJoin(
          broadcast(Similarity.recallCertificate(exact, approx, 0.9)))
        .orderBy("qid", "rank")
    },
      // like q_knn_sq8: the gate emits exact re-ranked rows + a TRUE
      // certificate, so the brute-force SQL is the oracle
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[],
      |                                  embedding::DOUBLE[]) > 0),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |s AS (SELECT q.vec_id qid, c.vec_id cid,
        |             list_cosine_similarity(q.v, c.v) sim
        |      FROM q CROSS JOIN e c WHERE c.vec_id <> q.vec_id)
        |SELECT qid, rank, cid, round(sim, 4) + 0.0 AS sim,
        |       TRUE AS recall_ok FROM (
        |  SELECT qid, cid, sim,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY sim DESC, cid) AS rank
        |  FROM s)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    // Banded random-hyperplane LSH at a measured-recall-1.0 band budget:
    // 4 bits x 48 bands misses a true neighbor at cosine s with per-pair
    // probability (1 - p^4)^48 (p = 1 - acos(s)/pi); measured as EXACT
    // top-3 equality vs brute force at sf0.001/sf0.01/sf0.1. Planes are
    // seeded-deterministic, so the recall is a property of the config,
    // not of a lucky run — which is what lets this gate use the
    // brute-force SQL oracle. The config trades pruning for exactness
    // (near-random 64-d vectors are LSH's worst case); the 6x24 default
    // stays the practical ANN setting, recall-floored in SimilaritySpec.
    Gate("q_knn_lsh", (s, d) => {
      val e = emb(s, d)
      Similarity.lshKnn(e.where(col("vec_id") < 5), e, "vec_id", "embedding",
          64, 3, bitsPerBand = 4, numBands = 48)
        .orderBy("qid", "rank")
    },
      // The 4x48 band budget has measured recall 1.0 (exact top-3 equality)
      // at every test scale with deterministic planes, so brute force is a
      // valid oracle for the gate config.
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
      |           WHERE list_dot_product(embedding::DOUBLE[],
      |                                  embedding::DOUBLE[]) > 0),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |s AS (SELECT q.vec_id qid, c.vec_id cid,
        |             list_cosine_similarity(q.v, c.v) sim
        |      FROM q CROSS JOIN e c WHERE c.vec_id <> q.vec_id)
        |SELECT qid, rank, cid, round(sim, 4) + 0.0 AS sim FROM (
        |  SELECT qid, cid, sim,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY sim DESC, cid) AS rank
        |  FROM s)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    // RP→rerank ANN on a PLANTED corpus: the fixture's near-random
    // vectors put true-neighbor margins inside JL distortion (the
    // honest r14 boundary), so each query gets three shifted copies
    // (+0.06/+0.08/+0.10, reproduced verbatim in the oracle) whose
    // cosines (~0.76..0.92) clear the ~0.5 random field by far more
    // than the 32-dim projection noise — candidate generation in RP
    // space then provably recovers them, and the exact rerank restores
    // full-precision order. Emits exact top-3 + an in-query recall
    // >= 0.9 certificate (measured 1.0 at sf0.001/0.01/0.1).
    Gate("q_knn_rp", (s, d) => {
      val base = emb(s, d)
        .select(col("vec_id"), VF.asDoubles(col("embedding")).as("embedding"))
      val qBase = base.where(col("vec_id") < 5)
      val shifted = Seq(0.06, 0.08, 0.10).zipWithIndex
        .map { case (delta, i) =>
          qBase.select((col("vec_id") + (i + 1) * 100000L).as("vec_id"),
            transform(col("embedding"), x => x + lit(delta)).as("embedding"))
        }
        .reduce(_ unionAll _)
      val corpus = base.unionAll(shifted)
      val exact0 = Similarity.bruteForceKnn(qBase, corpus,
        "vec_id", "embedding", 3)
      val exact = if (exact0.storageLevel ==
          org.apache.spark.storage.StorageLevel.NONE) exact0.cache()
        else exact0
      val approx = Similarity.rpKnn(qBase, corpus, "vec_id", "embedding",
        64, 32, "rpknn", 3, refine = 16)
      exact.crossJoin(
          broadcast(Similarity.recallCertificate(exact, approx, 0.9)))
        .orderBy("qid", "rank")
    },
      // RP→rerank gate: the gate emits exact re-ranked rows over the
      // PLANTED corpus (each query's three shifted copies reproduced
      // verbatim, the q_dedup_embedding_lsh recipe) + a TRUE recall
      // certificate, so brute force over the same augmentation is the
      // oracle; zero-norm rows drop on both engines
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |              FROM embeddings),
        |aug AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(v, x -> x + 0.06)
        |  FROM base WHERE vec_id < 5
        |  UNION ALL
        |  SELECT vec_id + 200000, list_transform(v, x -> x + 0.08)
        |  FROM base WHERE vec_id < 5
        |  UNION ALL
        |  SELECT vec_id + 300000, list_transform(v, x -> x + 0.10)
        |  FROM base WHERE vec_id < 5),
        |e AS (SELECT vec_id, v FROM aug
        |      WHERE list_dot_product(v, v) > 0),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |s AS (SELECT q.vec_id qid, c.vec_id cid,
        |             list_cosine_similarity(q.v, c.v) sim
        |      FROM q CROSS JOIN e c WHERE c.vec_id <> q.vec_id)
        |SELECT qid, rank, cid, round(sim, 4) + 0.0 AS sim,
        |       TRUE AS recall_ok FROM (
        |  SELECT qid, cid, sim,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY sim DESC, cid) AS rank
        |  FROM s)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    // deterministic train/val/test split + sample bucket (repeatable
    // across engines: md5-based bucketing)
    Gate("q_sample_split", (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          TF.hashBucket(col("doc_id").cast("string"), 100).as("bucket"),
          TF.splitAssign(col("doc_id").cast("string"), 80, 10).as("split"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket,
        |  CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 80
        |       THEN 'train'
        |       WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 90
        |       THEN 'val' ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),

    // corpus mixing: per-source token budgets drawn by salted-hash order
    // — deterministic, append-stable, engine-portable (same md5 recipe
    // as splitAssign, so DuckDB replicates the draw byte-for-byte)
    // deterministic balanced subset: the 40 docs per language with the
    // smallest salted portable hash — planner turns the row_number<=n
    // filter into a pre-shuffle bounded top-n (WindowGroupLimit), so
    // skewed strata cost n rows per task, not a stratum sort
    Gate("q_stratified_sample", (s, d) =>
      graft.operators.Sampling.stratifiedSample(
          docs(s, d).select(col("doc_id"), col("lang")),
          "doc_id", "lang", 40, salt = "strat1")
        .orderBy("lang", "doc_id"),
      // same tokenization CTE as q_token_count; the draw order is the
      // salted portable hash, ties broken by doc_id; strict budget cut
      // the same salted md5 order key, ranked per stratum in SQL
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang ORDER BY
        |           ('0x' || substr(md5('strat1' || doc_id::VARCHAR), 1, 8))::BIGINT,
        |           doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 40 ORDER BY lang, doc_id""".stripMargin),

    // training-shard manifest: deterministic salted-hash shard
    // assignment + the per-shard audit row a trainer checks before
    // reading payloads (doc count, payload chars, order-invariant
    // checksum = sum of per-doc hashes). Pure function of (ids, salt,
    // nShards) — the oracle replays the md5 convention exactly.
    Gate("q_shard_manifest", (s, d) =>
      graft.operators.Sampling.shardManifest(docs(s, d), "doc_id",
          "n_chars", 8)
        .orderBy("shard"),
      // shard assignment + order-invariant checksum replayed with the
      // same md5 convention (hash values are non-negative, so % == pmod)
      """SELECT shard, count(*)::BIGINT AS n_docs,
        |       sum(n_chars)::BIGINT AS n_chars,
        |       sum(ck)::BIGINT AS checksum
        |FROM (SELECT
        |        (('0x' || substr(md5('shard' || doc_id::VARCHAR), 1, 8))::BIGINT
        |           % 8)::INT AS shard,
        |        ('0x' || substr(md5('shard:ck' || doc_id::VARCHAR), 1, 8))::BIGINT
        |          AS ck,
        |        n_chars
        |      FROM documents)
        |GROUP BY shard ORDER BY shard""".stripMargin),

    // Efraimidis–Spirakis weighted sampling without replacement, weight
    // = n_chars: the oracle replays key = ln(u48)/w and takes the same
    // top 100. Membership (not key values) is compared — the measured
    // min adjacent-key gap (~5e-9) is ten orders above cross-engine
    // libm ulp noise, so the selected set is engine-stable. No window,
    // no shuffle: TakeOrderedAndProject keeps a k-bounded heap per task.
    Gate("q_weighted_sample", (s, d) =>
      graft.operators.Sampling.weightedSample(
          docs(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
          "doc_id", "n_chars", 100, salt = "wsamp")
        .orderBy("doc_id"),
      // A-Res replay: same 48-bit md5 uniform, same ln(u)/w key, same
      // top-100 — membership compared, keys never emitted (libm ulp)
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars
        |  FROM documents WHERE n_chars > 0
        |  ORDER BY ln((('0x' || substr(md5('wsamp' || doc_id::VARCHAR),
        |                 1, 12))::BIGINT + 0.5) / 281474976710656.0)
        |           / n_chars DESC, doc_id
        |  LIMIT 100)
        |ORDER BY doc_id""".stripMargin),

    // length-bucketed batching report: quartile boundaries (DISCRETE
    // data-value quantiles — integer boundaries drawn from the data, so
    // bucket edges are hash-stable cross-engine), row-local bucket
    // assign, per-bucket pad-to-max waste
    Gate("q_length_buckets", (s, d) =>
      graft.operators.Sampling.lengthBuckets(
          docs(s, d).select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars")
        .orderBy("bucket"),
      // DISCRETE boundaries, replayed structurally: boundary q = the
      // smallest data value whose cumulative count reaches ceil(q * n)
      // (percentile_disc convention, built from sum-over-window so no
      // engine's quantile implementation is trusted); bucketing is then
      // integer > integer — hash-stable by construction (the interpolated
      // predecessor flipped ties at a boundary on 1-ulp cross-engine
      // interpolation differences). The literal casts to DOUBLE so the
      // ceil argument is the same single IEEE multiply Spark computes.
      """WITH vc AS (SELECT n_chars AS v, count(*) AS c
        |            FROM documents WHERE n_chars IS NOT NULL
        |            GROUP BY n_chars),
        |cum AS (SELECT v,
        |          sum(c) OVER (ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS cum,
        |          sum(c) OVER () AS n
        |        FROM vc),
        |b AS (SELECT
        |        min(CASE WHEN cum >= ceil(CAST(0.25 AS DOUBLE) * n)
        |                 THEN v END) AS b0,
        |        min(CASE WHEN cum >= ceil(CAST(0.5 AS DOUBLE) * n)
        |                 THEN v END) AS b1,
        |        min(CASE WHEN cum >= ceil(CAST(0.75 AS DOUBLE) * n)
        |                 THEN v END) AS b2
        |      FROM cum),
        |a AS (SELECT doc_id, n_chars,
        |        ((CASE WHEN n_chars > b0 THEN 1 ELSE 0 END) +
        |         (CASE WHEN n_chars > b1 THEN 1 ELSE 0 END) +
        |         (CASE WHEN n_chars > b2 THEN 1 ELSE 0 END))::BIGINT
        |          AS bucket
        |      FROM documents, b WHERE n_chars IS NOT NULL)
        |SELECT bucket, count(*) AS n_docs,
        |       min(n_chars) AS min_len, max(n_chars) AS max_len,
        |       sum(n_chars)::BIGINT AS sum_len,
        |       (max(n_chars) * count(*) - sum(n_chars))::BIGINT
        |         AS padding_waste
        |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin),

    // the per-stratum variant: 25 docs per language, drawn ∝ n_chars
    // within the stratum; WindowGroupLimit bounds the shuffle at k rows
    // per (task, stratum)
    Gate("q_weighted_stratum", (s, d) =>
      graft.operators.Sampling.weightedSamplePerStratum(
          docs(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
          "doc_id", "lang", "n_chars", 25, salt = "wsamp")
        .orderBy("doc_id"),
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY
        |           ln((('0x' || substr(md5('wsamp' || doc_id::VARCHAR),
        |                1, 12))::BIGINT + 0.5) / 281474976710656.0)
        |           / n_chars DESC, doc_id) AS rk
        |  FROM documents WHERE n_chars > 0)
        |WHERE rk <= 25 ORDER BY doc_id""".stripMargin),

    // per-domain quality cap (C4-style host cap): keep the 15
    // best-scoring docs per source, ranked on the 6-rounded quality
    // score so the cut is engine-reproducible; WindowGroupLimit bounds
    // the shuffle at n rows per (task, stratum)
    Gate("q_domain_cap", (s, d) =>
      graft.operators.Sampling.capPerStratum(
          docs(s, d).select(col("doc_id"), col("source"),
            round(TF.qualityScore(col("text")), 6).as("quality")),
          "doc_id", "source", "quality", 15)
        .select(col("doc_id"), col("source"), col("quality"),
          col("__rk").cast("bigint").as("rk"))
        .orderBy("source", "rk"),
      // same quality formula as q_quality (rounded to 6), ranked per
      // source with doc_id tie-break, capped at 15
      s"""WITH $tokCte,
         |${qualityMetricsCte("m")},
         |q AS (SELECT doc_id, round($qualityScoreSql, 6) AS quality FROM m)
         |SELECT doc_id, source, quality, rk FROM (
         |  SELECT d.doc_id, d.source, q.quality,
         |         row_number() OVER (PARTITION BY d.source
         |                            ORDER BY q.quality DESC, d.doc_id) AS rk
         |  FROM documents d JOIN q USING (doc_id))
         |WHERE rk <= 15 ORDER BY source, rk""".stripMargin),

    // BM25 top-10 per query: one corpus shuffle (tf counts with the doc
    // length riding along), query set + df + corpus stats broadcast,
    // ranking on the ROUNDED score so the cut is engine-reproducible
    Gate("q_bm25", (s, d) =>
      graft.operators.CorpusStats.bm25TopK(docs(s, d), "doc_id", "text",
          Map("q1" -> "fast vector scan", "q2" -> "customer query data",
              "q3" -> "window merge batch stream"), 10)
        .select(col("query_id"), col("doc").as("doc_id"), col("score"),
          col("rank").cast("bigint").as("rank"))
        .orderBy("query_id", "rank"),
      // BM25 with the Lucene non-negative idf; same tokenization CTE both
      // sides, avgdl exact (integer token sum, one division), ranking on
      // the rounded score with doc_id tie-break
      s"""WITH $tokCte,
         |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf, max(dl) AS dl
         |       FROM (SELECT doc_id, unnest(tk) AS term,
         |                    len(tk)::BIGINT AS dl FROM t)
         |       GROUP BY doc_id, term),
         |qraw(query_id, qtext) AS (VALUES ('q1', 'fast vector scan'),
         |  ('q2', 'customer query data'), ('q3', 'window merge batch stream')),
         |qt AS (SELECT DISTINCT query_id,
         |         unnest(list_filter(regexp_split_to_array(trim(lower(qtext)),
         |           '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')) AS term
         |       FROM qraw),
         |dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf
         |          WHERE term IN (SELECT term FROM qt) GROUP BY term),
         |stats AS (SELECT count(*)::DOUBLE AS n,
         |                 sum(len(tk))::DOUBLE / count(*)::DOUBLE AS avgdl
         |          FROM t),
         |sc AS (SELECT qt.query_id, tf.doc_id,
         |         round(sum(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
         |           * tf.tf * 2.2
         |           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl::DOUBLE / stats.avgdl))),
         |           4) AS score
         |       FROM tf JOIN qt USING (term) JOIN dfreq USING (term)
         |            CROSS JOIN stats
         |       GROUP BY qt.query_id, tf.doc_id)
         |SELECT query_id, doc_id, score, rank FROM (
         |  SELECT query_id, doc_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, doc_id) AS rank
         |  FROM sc)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    Gate("q_corpus_mix", (s, d) =>
      graft.operators.Sampling.byTokenBudget(
          docs(s, d).select(col("doc_id"), col("source"),
            TF.tokenCount(col("text")).cast("bigint").as("n_tok")),
          "doc_id", "source",
          "n_tok", Map("src0" -> 2000L, "src1" -> 500L, "src2" -> 100000L),
          salt = "mix1")
        .select(col("doc_id"), col("source"), col("n_tok"), col("__cum"))
        .orderBy("doc_id"),
      s"""WITH $tokCte,
         |tt AS (SELECT doc_id, source, len(tk)::BIGINT AS n_tok,
         |              ('0x' || substr(md5('mix1' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
         |       FROM t JOIN documents USING (doc_id)),
         |b(source, budget) AS (VALUES ('src0', 2000), ('src1', 500),
         |                            ('src2', 100000)),
         |c AS (SELECT tt.*, budget,
         |             (sum(n_tok) OVER (PARTITION BY tt.source
         |                               ORDER BY h, doc_id
         |                               ROWS UNBOUNDED PRECEDING))::BIGINT AS __cum
         |      FROM tt JOIN b USING (source))
         |SELECT doc_id, source, n_tok, __cum FROM c
         |WHERE __cum <= budget ORDER BY doc_id""".stripMargin),

    // per-source z-score of a quality signal: groupBy moments + hash
    // join back, no window sort; zero-variance groups normalize to 0
    Gate("q_zscore", (s, d) =>
      graft.operators.Features.zscore(
          docs(s, d).select(col("doc_id"), col("source"), col("n_chars")),
          "source", Seq("n_chars"))
        .orderBy("doc_id"),
      // null-safe group join (IS NOT DISTINCT FROM): a null stratum is
      // its own group and its rows must survive, mirroring the Spark
      // side's <=> join — a plain USING(source) silently drops them
      """WITH m AS (SELECT source AS g, avg(n_chars) mu,
        |                  stddev_pop(n_chars) sd
        |           FROM documents GROUP BY 1)
        |SELECT doc_id, source, n_chars,
        |       CASE WHEN sd = 0 THEN 0.0
        |            ELSE round((n_chars - mu) / sd, 4) END AS n_chars_z
        |FROM documents JOIN m ON source IS NOT DISTINCT FROM m.g
        |ORDER BY doc_id""".stripMargin),

    // keep docs at/above their source's DISCRETE p75 length (smallest
    // value whose cumulative count reaches ceil(0.75 n) — an actual
    // data value, so the threshold compare is integer-vs-integer and
    // flip-immune) — the per-stratum threshold filter quality
    // pipelines run
    Gate("q_quantile_filter", (s, d) =>
      graft.operators.Features.quantileFilter(
          docs(s, d).select(col("doc_id"), col("source"), col("n_chars")),
          "source", "n_chars", 0.75)
        .orderBy("doc_id"),
      // DISCRETE per-group threshold, replayed structurally (the same
      // cum-sum construction as q_length_buckets — no engine's quantile
      // implementation is trusted, and the >= compares data values)
      // null n_chars rows are excluded from the quantile POPULATION
      // (discreteQuantileByGroup's contract) and fail the threshold
      // comparison (NULL >= thr is not true), matching the operator on
      // both counts — the composed-sweep fixture is the first with null
      // n_chars (null text implies null recomputed length)
      """WITH vc AS (SELECT source, n_chars AS v, count(*) AS c
        |            FROM documents WHERE n_chars IS NOT NULL
        |            GROUP BY 1, 2),
        |cum AS (SELECT source, v,
        |          sum(c) OVER (PARTITION BY source ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS cum,
        |          sum(c) OVER (PARTITION BY source) AS n
        |        FROM vc),
        |t AS (SELECT source AS g,
        |        min(CASE WHEN cum >= ceil(CAST(0.75 AS DOUBLE) * n)
        |                 THEN v END) AS thr
        |      FROM cum GROUP BY source)
        |SELECT doc_id, source, n_chars
        |FROM documents JOIN t ON source IS NOT DISTINCT FROM t.g
        |WHERE n_chars >= thr
        |ORDER BY doc_id""".stripMargin),

    // robust z-score: (x - median)/MAD per source, both DISCRETE data
    // values — outlier-immune normalization, integer-exact up to the
    // one final division
    Gate("q_robust_zscore", (s, d) =>
      graft.operators.Features.robustZscore(
          docs(s, d).select(col("doc_id"), col("source"), col("n_chars")),
          "source", "n_chars")
        .orderBy("doc_id"),
      // two rounds of the per-group discrete-median construction (value,
      // then |value - median|), one division, round 4
      // null n_chars: excluded from BOTH median populations (value and
      // deviation), row kept with a null z-score — robustZscore's
      // append-shaped LEFT-join contract
      """WITH vc AS (SELECT source, n_chars AS v, count(*) AS c
        |            FROM documents WHERE n_chars IS NOT NULL
        |            GROUP BY 1, 2),
        |cum AS (SELECT source, v,
        |          sum(c) OVER (PARTITION BY source ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS cum,
        |          sum(c) OVER (PARTITION BY source) AS n
        |        FROM vc),
        |med AS (SELECT source AS g,
        |          min(CASE WHEN cum >= ceil(CAST(0.5 AS DOUBLE) * n)
        |                   THEN v END) AS m
        |        FROM cum GROUP BY source),
        |dv AS (SELECT d.doc_id, d.source, d.n_chars,
        |              m.m AS med, abs(d.n_chars - m.m) AS dev
        |       FROM documents d
        |       LEFT JOIN med m ON d.source IS NOT DISTINCT FROM m.g),
        |dc AS (SELECT source, dev AS v, count(*) AS c
        |       FROM dv WHERE dev IS NOT NULL GROUP BY 1, 2),
        |dcum AS (SELECT source, v,
        |           sum(c) OVER (PARTITION BY source ORDER BY v
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS cum,
        |           sum(c) OVER (PARTITION BY source) AS n
        |         FROM dc),
        |mad AS (SELECT source AS g,
        |          min(CASE WHEN cum >= ceil(CAST(0.5 AS DOUBLE) * n)
        |                   THEN v END) AS mad
        |        FROM dcum GROUP BY source)
        |SELECT dv.doc_id, dv.source, dv.n_chars,
        |       CASE WHEN mad.mad = 0 THEN 0.0
        |            ELSE round((dv.n_chars - dv.med)::DOUBLE / mad.mad, 4)
        |       END AS n_chars_rz
        |FROM dv LEFT JOIN mad ON dv.source IS NOT DISTINCT FROM mad.g
        |ORDER BY dv.doc_id""".stripMargin),

    // winsorize document lengths into [p05, p95] discrete bounds — the
    // outlier clip before moment-based normalization
    Gate("q_winsorize", (s, d) =>
      graft.operators.Features.winsorize(
          docs(s, d).select(col("doc_id"), col("n_chars")),
          "n_chars", 0.05, 0.95)
        .orderBy("doc_id"),
      // global discrete [p05, p95] bounds via the same cum-sum replay;
      // the clip is integer arithmetic on both sides. Null n_chars is
      // excluded from the bounds population and STAYS null in the clip —
      // DuckDB's greatest/least SKIP nulls (greatest(lo, least(hi,
      // NULL)) = hi), so without the CASE a null would silently clamp
      // to the high bound
      """WITH vc AS (SELECT n_chars AS v, count(*) AS c
        |            FROM documents WHERE n_chars IS NOT NULL
        |            GROUP BY 1),
        |cum AS (SELECT v,
        |          sum(c) OVER (ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS cum,
        |          sum(c) OVER () AS n
        |        FROM vc),
        |b AS (SELECT
        |        min(CASE WHEN cum >= ceil(CAST(0.05 AS DOUBLE) * n)
        |                 THEN v END) AS lo,
        |        min(CASE WHEN cum >= ceil(CAST(0.95 AS DOUBLE) * n)
        |                 THEN v END) AS hi
        |      FROM cum)
        |SELECT doc_id, n_chars,
        |       CASE WHEN n_chars IS NULL THEN NULL
        |            ELSE greatest(lo, least(hi, n_chars)) END AS n_chars_w
        |FROM documents, b
        |ORDER BY doc_id""".stripMargin),

    // temperature (alpha=0.5) mixture flattening: per source keep
    // min(n, floor(2 * sqrt(n))) docs in the salted-hash order — sqrt
    // is IEEE correctly-rounded, so the targets are engine-exact
    Gate("q_temperature_mix", (s, d) =>
      graft.operators.Sampling.temperatureSample(
          docs(s, d).select(col("doc_id"), col("source")),
          "doc_id", "source", rate = 2.0, alpha = 0.5, salt = "tmix")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id"),
      // per-source targets min(n, floor(2 * sqrt(n))) — sqrt/multiply/
      // floor are all IEEE-exact — then the portable md5 draw order
      """WITH c AS (SELECT source, count(*) AS n
        |           FROM documents GROUP BY source),
        |t AS (SELECT source,
        |        least(n, floor(CAST(2.0 AS DOUBLE) * sqrt(n::DOUBLE))::BIGINT)
        |          AS target
        |      FROM c),
        |r AS (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source ORDER BY
        |          ('0x' || substr(md5('tmix' || doc_id::VARCHAR),
        |                          1, 8))::BIGINT, doc_id) AS rk
        |      FROM documents)
        |SELECT doc_id, r.source AS source
        |FROM r JOIN t ON r.source IS NOT DISTINCT FROM t.source
        |WHERE rk <= target
        |ORDER BY doc_id""".stripMargin),

    // weighted corpus upsampling: mixing weight 2.25 = two copies of
    // every src0 doc + a deterministic 25% third copy; 0.5 thins src1;
    // zero-shuffle broadcast + map-side explode
    Gate("q_corpus_upsample", (s, d) =>
      graft.operators.Sampling.byWeight(
          docs(s, d).select(col("doc_id"), col("source")),
          "doc_id", "source",
          Map("src0" -> 2.25, "src1" -> 0.5, "src2" -> 1.0, "src3" -> 0.0),
          salt = "up1")
        .select(col("doc_id"), col("source"), col("__rep"))
        .orderBy("doc_id", "__rep"),
      // per-stratum (n_base, thresh=round(frac(w)*1e6)) literals mirror
      // byWeight's driver-side decomposition of 2.25/0.5/1.0/0.0
      """WITH w(source, n_base, thresh) AS (VALUES ('src0', 2, 250000),
        |                                          ('src1', 0, 500000),
        |                                          ('src2', 1, 0),
        |                                          ('src3', 0, 0)),
        |d AS (SELECT doc_id, source,
        |        n_base + CASE WHEN (('0x' || substr(md5('up1' || doc_id::VARCHAR), 1, 8))::BIGINT
        |                            % 1000000) < thresh
        |                 THEN 1 ELSE 0 END AS n_copies
        |      FROM documents JOIN w USING (source))
        |SELECT doc_id, source, unnest(range(n_copies))::BIGINT AS __rep
        |FROM d WHERE n_copies > 0
        |ORDER BY doc_id, __rep""".stripMargin),

    // sequence packing: concat-then-chunk into 2048-token training
    // sequences per source, deterministic salted-hash order — emits each
    // doc's token offset and starting sequence ordinal
    Gate("q_pack_sequences", (s, d) =>
      graft.operators.Sampling.packSequences(
          docs(s, d).select(col("doc_id"), col("source"),
            TF.tokenCount(col("text")).cast("bigint").as("n_tok")),
          "doc_id", "source", "n_tok", 2048L, salt = "pack1")
        .select(col("doc_id"), col("source"), col("n_tok"),
          col("__offset"), col("__seq"))
        .orderBy("doc_id"),
      // same tokenization + hash-order CTE shape as q_corpus_mix; offset =
      // prefix sum minus own tokens, seq = integer-div by the 2048 budget
      s"""WITH $tokCte,
         |tt AS (SELECT doc_id, source, len(tk)::BIGINT AS n_tok,
         |              ('0x' || substr(md5('pack1' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
         |       FROM t JOIN documents USING (doc_id)),
         |c AS (SELECT tt.*,
         |             ((sum(n_tok) OVER (PARTITION BY source
         |                                ORDER BY h, doc_id
         |                                ROWS UNBOUNDED PRECEDING))
         |              - n_tok)::BIGINT AS __offset
         |      FROM tt)
         |SELECT doc_id, source, n_tok, __offset,
         |       (__offset // 2048)::BIGINT AS __seq
         |FROM c ORDER BY doc_id""".stripMargin),

    // covering slices over the same packing: one row per (doc, seq)
    // intersection with doc-relative start/len — boundary docs emit one
    // slice per spanned sequence, so per-doc lens sum to n_tok and
    // per-seq lens sum to the 2048 budget except each stratum's tail
    // (slice-algebra invariants pinned in SamplingSpec; the oracle
    // re-derives every slice in SQL)
    Gate("q_pack_slices", (s, d) =>
      graft.operators.Sampling.explodePackedSlices(
          docs(s, d).select(col("doc_id"), col("source"),
            TF.tokenCount(col("text")).cast("bigint").as("n_tok")),
          "doc_id", "source", "n_tok", 2048L, salt = "pack1")
        .orderBy("doc_id", "seq"),
      s"""WITH $tokCte,
         |tt AS (SELECT doc_id, source, len(tk)::BIGINT AS n_tok,
         |              ('0x' || substr(md5('pack1' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
         |       FROM t JOIN documents USING (doc_id)),
         |c AS (SELECT tt.*,
         |             ((sum(n_tok) OVER (PARTITION BY source
         |                                ORDER BY h, doc_id
         |                                ROWS UNBOUNDED PRECEDING))
         |              - n_tok)::BIGINT AS off
         |      FROM tt),
         |sl AS (SELECT source, doc_id, n_tok, off, s.seq::BIGINT AS seq
         |       FROM c, unnest(range(off // 2048,
         |                            (off + n_tok - 1) // 2048 + 1)) AS s(seq)
         |       WHERE n_tok > 0)
         |SELECT source, seq, doc_id,
         |       greatest(seq * 2048 - off, 0)::BIGINT AS tok_start,
         |       (least((seq + 1) * 2048 - off, n_tok)
         |        - greatest(seq * 2048 - off, 0))::BIGINT AS tok_len
         |FROM sl ORDER BY doc_id, seq""".stripMargin),

    // fill-in-the-middle construction: a deterministic 60% of docs
    // split at two salted-hash cuts and reassemble PSM
    // (<PRE>p<SUF>s<MID>m); the rest pass through. Row-local, zero
    // shuffle; lengths + md5 pin the exact reassembled bytes
    Gate("q_fim_split", (s, d) =>
      graft.operators.Sampling.fimSplit(docs(s, d), "doc_id", "text",
          pct = 60, salt = "fim")
        .select(col("doc_id"), col("fim_applied"), col("n_prefix"),
          col("n_middle"), col("n_suffix"),
          md5(col("fim_text").cast("binary")).as("fim_md5"))
        .orderBy("doc_id"),
      // the fimSplit recipe replayed: salted orderHash selection, two
      // hash cuts into [1, n-1] (guarded behind `app` so the modulus is
      // never zero), PSM reassembly. len/substr count code points in
      // both engines; NULL text passes through to a NULL md5
      """WITH b AS (
        |  SELECT doc_id, text, len(text)::BIGINT AS n,
        |    (text IS NOT NULL AND len(text) >= 2 AND
        |     ('0x' || substr(md5('fim' || doc_id::VARCHAR), 1, 8))::BIGINT
        |       % 100 < 60) AS app
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text, n, app,
        |    CASE WHEN app THEN least(
        |      ('0x' || substr(md5('fim-a' || doc_id::VARCHAR), 1, 8))::BIGINT
        |        % (n - 1) + 1,
        |      ('0x' || substr(md5('fim-b' || doc_id::VARCHAR), 1, 8))::BIGINT
        |        % (n - 1) + 1) END AS c1,
        |    CASE WHEN app THEN greatest(
        |      ('0x' || substr(md5('fim-a' || doc_id::VARCHAR), 1, 8))::BIGINT
        |        % (n - 1) + 1,
        |      ('0x' || substr(md5('fim-b' || doc_id::VARCHAR), 1, 8))::BIGINT
        |        % (n - 1) + 1) END AS c2
        |  FROM b)
        |SELECT doc_id, app AS fim_applied,
        |  c1 AS n_prefix,
        |  (c2 - c1) AS n_middle,
        |  (n - c2) AS n_suffix,
        |  md5(CASE WHEN app THEN
        |        '<PRE>' || substr(text, 1, c1) ||
        |        '<SUF>' || substr(text, c2 + 1, n - c2) ||
        |        '<MID>' || substr(text, c1 + 1, c2 - c1)
        |      ELSE text END) AS fim_md5
        |FROM c ORDER BY doc_id""".stripMargin),

    // exact duplicate-SPAN detection (the Lee-et-al substring-dedup
    // family): maximal character intervals whose every 20-gram repeats
    // somewhere in the corpus. The fixture text is pool-words (nearly
    // everything repeats), so a unique md5 island is spliced into each
    // doc at char 61 — span boundaries then fall mid-document and the
    // interval MERGE genuinely executes (two+ islands per doc)
    Gate("q_dedup_spans", (s, d) =>
      graft.operators.Dedup.duplicateSpans(
          islandDocs(docs(s, d)), "doc_id", "text", 20)
        .select(col("doc").as("doc_id"), col("span_start"),
          col("span_end"), col("span_len"))
        .orderBy("doc_id", "span_start"),
      // every-position 20-gram md5s -> grams occurring >1x -> per-doc
      // gaps-and-islands interval merge; the same unique-island splice
      // as the Spark side, so both engines walk identical bytes
      s"""WITH $dupSpansCte
         |SELECT doc_id, span_start, span_end,
         |       (span_end - span_start + 1)::BIGINT AS span_len
         |FROM spans ORDER BY doc_id, span_start""".stripMargin),

    // TOKEN-grain duplicate spans (the grain Lee et al. actually use):
    // maximal token intervals whose every 5-token window repeats,
    // reported as char spans (cutSpans-ready) + token bounds. Same
    // two-shuffle plan as the char form; pre-shuffle volume is
    // ~minTokens x the TOKEN stream, ~mean-token-length cheaper than
    // the every-char-position form
    Gate("q_dedup_spans_tokens", (s, d) =>
      graft.operators.Dedup.duplicateTokenSpans(
          islandDocs(docs(s, d)), "doc_id", "text", 5)
        .select(col("doc").as("doc_id"), col("span_start"),
          col("span_end"), col("span_len"), col("tok_start"),
          col("tok_end"), col("n_tok"))
        .orderBy("doc_id", "span_start"),
      s"""WITH $dupTokenSpansCte
         |SELECT doc_id, span_start, span_end,
         |       (span_end - span_start + 1)::BIGINT AS span_len,
         |       tok_start, tok_end,
         |       (tok_end - tok_start + 1)::BIGINT AS n_tok
         |FROM tspans ORDER BY doc_id, span_start""".stripMargin),

    // the token-grain rewrite half: token spans carry char bounds, so
    // cutSpans consumes them unchanged — kept-length + md5 pin the
    // exact surviving bytes of the paper-faithful grain
    Gate("q_dedup_spans_tokens_cut", (s, d) => {
      val t2 = islandDocs(docs(s, d))
      graft.operators.Dedup.cutSpans(t2,
          graft.operators.Dedup.duplicateTokenSpans(t2, "doc_id",
            "text", 5),
          "doc_id", "text")
        .select(col("doc").as("doc_id"),
          length(col("kept_text")).cast("bigint").as("n_kept"),
          md5(col("kept_text").cast("binary")).as("kept_md5"))
        .orderBy("doc_id")
    },
      s"""WITH $tokenSpanCutCte
         |SELECT doc_id, len(kept)::BIGINT AS n_kept, md5(kept) AS kept_md5
         |FROM tcut ORDER BY doc_id""".stripMargin),

    // the rewrite half: the spans CUT out of the text (Lee et al.
    // remove spans, not documents). Kept-length + md5 pin the exact
    // surviving bytes; docs reassemble through ONE doc-keyed shuffle
    Gate("q_dedup_spans_cut", (s, d) => {
      val t2 = islandDocs(docs(s, d))
      graft.operators.Dedup.cutSpans(t2,
          graft.operators.Dedup.duplicateSpans(t2, "doc_id", "text", 20),
          "doc_id", "text")
        .select(col("doc").as("doc_id"),
          length(col("kept_text")).cast("bigint").as("n_kept"),
          md5(col("kept_text").cast("binary")).as("kept_md5"))
        .orderBy("doc_id")
    },
      // the cut replay, LINEAR: spans explode to their covered positions
      // (total <= doc length), the char rows from `ch` anti-join them,
      // and an ordered string_agg stitches the survivors — the per-
      // segment substr form re-scans the string head per segment in
      // DuckDB exactly as in Spark (quadratic at 17k spans on 10 MB)
      s"""WITH $spanCutCte
         |SELECT doc_id, len(kept)::BIGINT AS n_kept, md5(kept) AS kept_md5
         |FROM cut ORDER BY doc_id""".stripMargin),

    // span-curation CAPSTONE: substring dedup -> cut -> post-cut
    // length floor (a doc reduced below 40 chars drops — the Lee-et-al
    // follow-up) -> re-tokenize the surviving bytes -> salted-hash
    // sequence packing per source. One composition, every stage
    // separately gated; the curated token stream is what a trainer
    // actually reads after substring dedup
    Gate("q_span_pipeline", (s, d) => {
      val t2 = islandDocs(docs(s, d))
      val kept = graft.operators.Dedup.cutSpans(t2,
          graft.operators.Dedup.duplicateSpans(t2, "doc_id", "text", 20),
          "doc_id", "text")
        .where(length(col("kept_text")) >= 40)
        .select(col("doc").as("doc_id"), col("kept_text"))
      val toks = kept
        .join(docs(s, d).select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), col("source"),
          TF.tokenCount(col("kept_text")).cast("bigint").as("n_tok"))
      graft.operators.Sampling.packSequences(toks, "doc_id", "source",
          "n_tok", 256L, salt = "span1")
        .select(col("doc_id"), col("source"), col("n_tok"),
          col("__offset").cast("bigint").as("off"),
          col("__seq").cast("bigint").as("seq"))
        .orderBy("doc_id")
    },
      // the span-curation capstone: cut text -> post-cut length floor
      // (docs reduced below 40 chars drop, the Lee-et-al follow-up) ->
      // re-tokenize the SURVIVING bytes -> salted-hash packing per
      // source. Every stage reuses a separately-gated replay (the cut
      // chain is the SHARED spanCutCte fragment; the pack is the
      // q_pack_sequences orderHash window) so the composition cannot
      // drift from its parts
      s"""WITH $spanCutCte,
         |fl AS (SELECT doc_id, kept FROM cut WHERE len(kept) >= 40),
         |tokp AS (SELECT fl.doc_id, d.source,
         |           len(list_filter(regexp_split_to_array(trim(lower(kept)),
         |             '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> ''))::BIGINT AS n_tok
         |         FROM fl JOIN documents d USING (doc_id)),
         |hh AS (SELECT *,
         |         ('0x' || substr(md5('span1' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
         |       FROM tokp),
         |pk AS (SELECT doc_id, source, n_tok,
         |         ((sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
         |            ROWS UNBOUNDED PRECEDING)) - n_tok)::BIGINT AS off
         |       FROM hh)
         |SELECT doc_id, source, n_tok, off, (off // 256)::BIGINT AS seq
         |FROM pk ORDER BY doc_id""".stripMargin),

    // benchmark decontamination: docs sharing an 8-gram with the
    // "benchmark" (doc_id < 10 as a stand-in eval set)
    Gate("q_decontaminate", (s, d) => {
      val corpus = docs(s, d)
      Contamination.flagContaminated(corpus, "doc_id", "text",
          corpus.where(col("doc_id") < 10), "doc_id", "text", 8)
        .orderBy("doc")
    },
      decontaminateSql),

    // the same contamination check AT INGEST: the corpus streamed
    // through a real file-source replay against the broadcast bench
    // shingle set — fully stateless (row-local shingle explode +
    // stream-static broadcast join), so the per-(doc, shingle) hit
    // stream must equal the batch run exactly; the oracle is batch SQL
    Gate("q_decontaminate_stream", (s, d) => {
      implicit val ss: SparkSession = s
      val corpus = docs(s, d)
      graft.streaming.StreamingContamination.hitsReplay(
          corpus, "doc_id", "text",
          corpus.where(col("doc_id") < 10), "doc_id", "text", 8,
          pmod(col("doc_id"), lit(3)), 3)
        .orderBy("doc", "s")
    },
      // the per-(doc, shingle) hit rows BEFORE the per-doc rollup —
      // statelessness makes the streamed replay equal this batch set
      s"""WITH $tokCte,
        |$s8RowsCte,
        |bench AS (SELECT DISTINCT s8 AS s FROM sh WHERE doc_id < 10),
        |corpus AS (SELECT doc_id AS doc, s8 AS s FROM sh
        |           WHERE doc_id >= 10)
        |SELECT doc, s
        |FROM corpus JOIN bench USING (s)
        |ORDER BY doc, s""".stripMargin),

    // same result as q_decontaminate via the large-benchmark plan: a
    // Bloom sketch of bench shingles prunes the corpus map-side, the
    // exact join verifies only survivors (ContaminationSpec pins
    // exactness even with a deliberately undersized sketch)
    Gate("q_decontaminate_bloom", (s, d) => {
      val corpus = docs(s, d)
      Contamination.flagContaminatedBloom(corpus, "doc_id", "text",
          corpus.where(col("doc_id") < 10), "doc_id", "text", 8)
        .orderBy("doc")
    },
      // the bloom-pruned plan is result-identical to the exact one, so it
      // shares the oracle verbatim
      decontaminateSql),

    // FUZZY decontamination: shingle-set Jaccard >= 0.35 against the
    // benchmark split — catches paraphrase-level leaks exact n-gram
    // overlap misses (a sub every 7 words breaks EVERY 8-gram yet keeps
    // Jaccard ~0.4, the spec's premise); best bench item per doc
    Gate("q_decontaminate_fuzzy", (s, d) => {
      val all = docs(s, d)
      Contamination.flagContaminatedFuzzy(all, "doc_id", "text",
          all.where(col("doc_id") % 10 === 7), "doc_id", "text",
          n = 3, threshold = 0.35)
        .orderBy("doc")
    },
      // cross-set Jaccard at the oracle's scale is a plain cross join
      // (450 x 50 pairs at sf0.01); same shingle construction as the
      // dedup oracles, argmax per doc with bench-id tie-break
      s"""WITH $tokCte,
        |d AS (SELECT doc_id, list_distinct(list(sh ORDER BY p)) AS sh
        |      FROM ${ngramRowsSql("t", 3, gram = "sh")}
        |      GROUP BY doc_id),
        |bench AS (SELECT doc_id AS bench, sh AS bsh FROM d
        |          WHERE doc_id % 10 = 7),
        |corp AS (SELECT doc_id AS doc, sh AS csh FROM d
        |         WHERE doc_id % 10 <> 7),
        |j AS (SELECT doc, bench,
        |        round(len(list_intersect(csh, bsh))::DOUBLE /
        |              (len(csh) + len(bsh) - len(list_intersect(csh, bsh))),
        |              6) AS jaccard
        |      FROM corp CROSS JOIN bench)
        |SELECT doc, bench, jaccard FROM (
        |  SELECT doc, bench, jaccard,
        |         row_number() OVER (PARTITION BY doc
        |                            ORDER BY jaccard DESC, bench) AS rk
        |  FROM j WHERE jaccard >= 0.35)
        |WHERE rk = 1 ORDER BY doc""".stripMargin)
  )
}
