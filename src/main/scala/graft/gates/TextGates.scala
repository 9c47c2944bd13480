package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}
import graft.operators
import GateSupport._

/** Text-analysis gates: language ID, quality and Gopher rules, n-gram
  * LMs, DoReMi weights, subword tokenizers and frequency sketches. */
object TextGates {

  /** DuckDB replay of Subword.trainBpeMerges FOLLOWED BY the apply of
    * the learned rules — the gate compares per-document piece totals
    * (the q_bpe_encode pattern), not the rule strings. `n` unrolled
    * rounds, each a pair-count CTE + 1-row argmax + a merge
    * application; the word frame travels as token LISTS carrying the
    * word identity so the final segmentation joins back to per-doc
    * word counts. Applying the data-dependent merge uses a
    * delimited-string `replace` (chr(31) boundaries — absent from the
    * printable-ASCII corpus), whose left-to-right non-overlapping
    * semantics equal the Spark side's fold.
    *
    * The comparison shape is the hardening: r11 and r12 both came back
    * driver-hash-red on a rule-STRING output while local DuckDB
    * replays passed bit-exact (r11's cause was version-shifted list
    * surfaces; r12's remaining candidate is value RENDERING — e.g.
    * DuckDB's `sum()` returns HUGEINT, which some duckdb/pandas
    * combinations surface as float). Per-doc BIGINT totals of the
    * applied segmentation have no strings and no uncast aggregates in
    * the output, yet still pin the learned rules: a divergence in any
    * round's argmax changes the segmentation of every word containing
    * that pair and with it the totals. Measured at sf0.01, every
    * round's argmax wins by a strictly positive count margin
    * (7..1808), so the (l, r) collation tie-break never engages and
    * the learned rules are a pure function of integer counts — no
    * engine-collation surface remains. Pair extraction is a lateral
    * `unnest(range(...))` + 1-based `list_extract` (the shape every
    * passing q_cdc_* oracle uses), characters come from
    * `list_transform(range, substr)`, and the outer delimiters are
    * stripped with arithmetic `substr`, never `trim`. */
  private def bpeOracleSql(n: Int): String = {
    val us = "chr(31)"
    val rounds = (1 to n).map { r =>
      s"""p$r AS (
         |  SELECT list_extract(tk, u.i) AS l, list_extract(tk, u.i + 1) AS r,
         |         sum(c)::BIGINT AS n
         |  FROM w$r, unnest(range(1, len(tk))) AS u(i)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT l, r FROM p$r ORDER BY n DESC, l, r LIMIT 1),
         |w${r + 1} AS (
         |  SELECT w, string_split(substr(s1, 2, length(s1) - 2), $us||$us)
         |           AS tk, c
         |  FROM (SELECT w, replace($us || array_to_string(tk, $us||$us) || $us,
         |                       $us || b.l || $us || $us || b.r || $us,
         |                       $us || b.l || b.r || $us) AS s1, c
         |        FROM w$r, b$r AS b))""".stripMargin
    }.mkString(",\n")
    s"""WITH $tokCte,
       |wdc AS (SELECT doc_id, w, count(*)::BIGINT AS c2
       |        FROM (SELECT doc_id, unnest(tk) AS w FROM t)
       |        GROUP BY doc_id, w),
       |w1 AS (
       |  SELECT w, list_transform(range(1, length(w) + 1),
       |                           i -> substr(w, i, 1)) AS tk, c
       |  FROM (SELECT w, sum(c2)::BIGINT AS c FROM wdc GROUP BY w)),
       |$rounds
       |SELECT doc_id AS doc, sum(c2 * len(tk))::BIGINT AS n_pieces
       |FROM wdc JOIN w${n + 1} USING (w)
       |GROUP BY doc_id ORDER BY doc""".stripMargin
  }

  /** The fixed merge list the q_bpe_encode / q_bpe_freq gates apply —
    * includes composing rules (th+e, er+s, an+d) so the gates witness
    * rank-order application, not just independent merges. */
  private val bpeGateMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("t", "h"),
    ("th", "e"), ("er", "s"), ("a", "n"), ("an", "d"))

  /** DuckDB expression: the final BPE piece list of word column `w`
    * under [[bpeGateMerges]] — characters joined with chr(31) bounds,
    * each merge a nested left-to-right `replace`, split back at the
    * end (the same delimited-replace equivalence bpeOracleSql uses). */
  private def bpeApplySql: String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val us = "chr(31)"
    val init =
      s"$us || array_to_string([ch for ch in string_split(w, '')], " +
        s"$us||$us) || $us"
    val folded = bpeGateMerges.foldLeft(init) { case (acc, (l, r)) =>
      s"replace($acc,\n           $us || ${q(l)} || $us || $us || " +
        s"${q(r)} || $us,\n           $us || ${q(l + r)} || $us)"
    }
    s"list_filter(string_split(trim($folded, chr(31)), $us||$us), " +
      "x -> x <> '')"
  }

  /** The q_bpe_encode / q_bpe_encode_large oracle: per-doc piece totals
    * under [[bpeGateMerges]], each distinct word's pieces weighted by
    * its per-doc occurrence count. */
  private val bpeEncodeOracleSql: String =
    s"""WITH $tokCte,
       |wc AS (SELECT doc_id, w, count(*)::BIGINT AS c
       |       FROM (SELECT doc_id, unnest(tk) AS w FROM t)
       |       GROUP BY doc_id, w),
       |wp AS (SELECT w, len($bpeApplySql)::BIGINT AS np
       |       FROM (SELECT DISTINCT w FROM wc))
       |SELECT doc_id AS doc, sum(c * np)::BIGINT AS n_pieces
       |FROM wc JOIN wp USING (w)
       |GROUP BY doc_id ORDER BY doc""".stripMargin

  /** The DoReMi gates' corpus: documents plus a deterministically
    * TRANSLATED 'synth' domain (vowels → digits over docs with id <
    * 150, re-keyed +500000) — the fixture corpus is homogeneous
    * (every source shares one vocabulary), so without a genuinely
    * distinct domain every excess loss is zero and the MW loop would
    * be degenerate. Replayed verbatim in the oracle's `corp` CTE. */
  private def doremiCorpus(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    all.select(col("doc_id"), col("source"), col("text"))
      .unionAll(all.where(col("doc_id") < 150)
        .select((col("doc_id") + 500000).as("doc_id"),
          lit("synth").as("source"),
          translate(col("text"), "aeiou", "01234").as("text")))
  }

  /** Memoized DoReMi learning per (session, sf-dir) — q_doremi_weights
    * and q_doremi_mixture consume the SAME learned frame (review
    * finding: the mixture gate used to re-run the two held-out scoring
    * passes the weights gate had just paid for). Rows: (source, n_docs,
    * lg, lo, ex, w, alpha). */
  private def doremiLearned(s: SparkSession, d: String)
      : Seq[(String, Long, Long, Long, Long, Long, Long)] =
    memoized("doremi", s, d) {
      val aug = doremiCorpus(s, d)
      graft.operators.Selection.doremiWeights(
          aug.where(col("doc_id") % 3 =!= 0),
          aug.where(col("doc_id") % 3 === 0), "doc_id", "text", "source",
          rounds = 4, eta = 0.5, smoothMicro = 200000L)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        .toSeq
    }

  /** CTE chain replaying [[graft.operators.CorpusStats.ngramLogProbAgainst]]
    * at `order` over the doc_id%3 train/score split, ending in a
    * `scored(doc_id, n_tokens, n_oov, n_backed, avg_lp)` relation —
    * shared by q_ngram_lm and q_ccnet_buckets_5gram. Every backoff
    * branch is replayed: per-order count CTEs, lag-built grams, the
    * a_j count joins, contexts as lag(a_j) (the count of the j-gram
    * ending at p-1 IS the denominator of the (j+1)-gram branch), and
    * the alpha-power penalties as CAST(...AS DOUBLE) literals of the
    * SAME multiply-chain doubles the Spark plan embeds
    * (CorpusStats.alphaPowers — bare fractional literals are DECIMAL
    * in DuckDB, so every one is cast to keep each arithmetic step the
    * identical IEEE op). */
  private def ngramLmScoredSql(order: Int, alpha: Double,
                               k: Double): String = {
    val apows = graft.operators.CorpusStats.alphaPowers(alpha, order - 1)
    val kd = s"CAST($k AS DOUBLE)"
    def apow(e: String) =
      (1 until order).map(i =>
        s"WHEN ($e) = $i THEN CAST(${apows(i)} AS DOUBLE)")
        .mkString("CASE ", " ", " ELSE CAST(1.0 AS DOUBLE) END")
    val m = s"least(p, $order)"
    val countCtes = (1 to order).map { j =>
      if (j == 1)
        "c1 AS (SELECT w AS g, count(*)::BIGINT AS c FROM " +
          "(SELECT unnest(tk) w FROM tr) GROUP BY 1)"
      else
        s"c$j AS (SELECT bg AS g, count(*)::BIGINT AS c FROM " +
          s"${ngramRowsSql("tr", j)} GROUP BY 1)"
    }.mkString(",\n")
    val lagCols = (1 until order)
      .map(j => s"lag(tok, $j) OVER w AS t$j").mkString(", ")
    val gramCols = (1 to order).map { j =>
      if (j == 1) "tok AS g1"
      else ((j - 1) to 1 by -1).map(d => s"t$d")
        .mkString("", " || ' ' || ", " || ' ' || tok") + s" AS g$j"
    }.mkString(", ")
    val aJoins = (1 to order)
      .map(j => s"LEFT JOIN c$j ON g.g$j = c$j.g").mkString(" ")
    val aCols = (1 to order).map(j => s"c$j.c AS a$j").mkString(", ")
    val aList = (1 to order).map(j => s"a$j").mkString(", ")
    val bCols = (1 until order)
      .map(j => s"lag(a$j, 1) OVER w AS b$j").mkString(", ")
    val branches = (order to 2 by -1).map { j =>
      s"WHEN a$j IS NOT NULL THEN (${apow(s"$m - $j")}) * a$j / b${j - 1}"
    }.mkString(" ")
    val base = s"(${apow(s"$m - 1")}) * (coalesce(a1, 0) + $kd) / " +
      s"(nv.n + $kd * nv.v)"
    val fullA = (s"WHEN p >= $order THEN a$order" +:
      ((order - 1) to 2 by -1).map(j => s"WHEN p = $j THEN a$j"))
      .mkString("CASE ", " ", " END")
    s"""$tokCte,
       |tr AS (SELECT * FROM t WHERE doc_id % 3 <> 0),
       |sc AS (SELECT * FROM t WHERE doc_id % 3 = 0),
       |$countCtes,
       |nv AS (SELECT (SELECT coalesce(sum(len(tk)), 0) FROM tr)::BIGINT AS n,
       |              (SELECT count(*) FROM c1)::BIGINT AS v),
       |pos AS (SELECT doc_id, p, tok, $lagCols
       |        FROM (SELECT doc_id, unnest(tk) AS tok,
       |                     unnest(range(1, len(tk) + 1)) AS p FROM sc)
       |        WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
       |g AS (SELECT doc_id, p, $gramCols FROM pos),
       |jx AS (SELECT g.doc_id, g.p, $aCols FROM g $aJoins),
       |x AS (SELECT doc_id, p, $aList, $bCols
       |      FROM jx WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
       |lpp AS (SELECT doc_id,
       |         CASE WHEN a1 IS NULL THEN 1 ELSE 0 END AS oov,
       |         CASE WHEN p >= 2 AND ($fullA) IS NULL
       |              THEN 1 ELSE 0 END AS backed,
       |         ln(CASE $branches ELSE $base END) AS lp
       |       FROM x CROSS JOIN nv),
       |scored AS (SELECT doc_id, count(*) AS n_tokens,
       |             sum(oov)::BIGINT AS n_oov,
       |             sum(backed)::BIGINT AS n_backed,
       |             round(avg(lp), 4) AS avg_lp
       |           FROM lpp GROUP BY doc_id)""".stripMargin
  }

  /** CTE chain replaying [[graft.operators.ArpaIO]]'s export + the
    * standard ARPA backoff walk over the doc_id%3 train/score split,
    * ending in `scored(doc_id, n_tokens, n_oov, n_backed, avg_lp10)`.
    * The oracle rebuilds exactly what toArpa serializes — round-6
    * log10 of the MLE conditionals c_j/c_{j-1}, the add-k unigram
    * floor with its `<unk>` entry, and the constant backoff
    * log10(alpha) (embedded as the SAME round-6 double the export
    * writes, via the shared ArpaIO.round6) — then walks: longest
    * present gram wins, each level backed off adds the context's
    * backoff weight, absent contexts add exactly 0.0, absent unigrams
    * score as `<unk>`. Context presence at p-1 comes from lag(l_j)
    * over the doc window, the count oracle's lag trick. */
  private def arpaScoredSql(order: Int, alpha: Double,
                            k: Double): String = {
    val lbD = graft.operators.ArpaIO.round6(math.log10(alpha))
    val lb = s"CAST($lbD AS DOUBLE)"
    val kd = s"CAST($k AS DOUBLE)"
    val countCtes = (1 to order).map { j =>
      if (j == 1)
        "c1 AS (SELECT w AS g, count(*)::BIGINT AS c FROM " +
          "(SELECT unnest(tk) w FROM tr) GROUP BY 1)"
      else
        s"c$j AS (SELECT bg AS g, count(*)::BIGINT AS c FROM " +
          s"${ngramRowsSql("tr", j)} GROUP BY 1)"
    }.mkString(",\n")
    val probCtes = (1 to order).map { j =>
      if (j == 1)
        // the '<unk>' row rides IN p1 exactly as it does in the
        // exported model's unigram table: a literal '<unk>' token in
        // SCORED text matches the entry (KenLM's vocabulary mapping,
        // and what ArpaIO.scoreAgainst's digest join does) — without
        // it the oracle would count such a token OOV (review finding)
        s"p1 AS (SELECT g, round(log10((c + $kd) / (nv.n + $kd * nv.v)), 6)" +
          " AS lp FROM c1, nv" +
          " UNION ALL SELECT '<unk>', lp FROM unk)"
      else
        s"p$j AS (SELECT c$j.g AS g, round(log10(CAST(c$j.c AS DOUBLE)" +
          s" / c${j - 1}.c), 6) AS lp FROM c$j JOIN c${j - 1}" +
          s" ON regexp_replace(c$j.g, ' [^ ]+$$', '') = c${j - 1}.g)"
    }.mkString(",\n")
    val lagCols = (1 until order)
      .map(j => s"lag(tok, $j) OVER w AS t$j").mkString(", ")
    val gramCols = (1 to order).map { j =>
      if (j == 1) "tok AS g1"
      else ((j - 1) to 1 by -1).map(d => s"t$d")
        .mkString("", " || ' ' || ", " || ' ' || tok") + s" AS g$j"
    }.mkString(", ")
    val lJoins = (1 to order)
      .map(j => s"LEFT JOIN p$j ON g.g$j = p$j.g").mkString(" ")
    val lCols = (1 to order).map(j => s"p$j.lp AS l$j").mkString(", ")
    val lList = (1 to order).map(j => s"l$j").mkString(", ")
    val bCols = (1 until order).map(j =>
      s"CASE WHEN lag(l$j, 1) OVER w IS NOT NULL THEN $lb" +
        s" ELSE CAST(0.0 AS DOUBLE) END AS b$j").mkString(", ")
    def cbSql(j: Int) = (j until order).map(i => s"b$i").mkString(" + ")
    val branches = (order to 2 by -1).map { j =>
      if (j == order) s"WHEN l$j IS NOT NULL THEN l$j"
      else s"WHEN l$j IS NOT NULL THEN ${cbSql(j)} + l$j"
    }.mkString(" ")
    val walk = s"CASE $branches" +
      s" WHEN l1 IS NOT NULL THEN ${cbSql(1)} + l1" +
      s" ELSE ${cbSql(1)} + unk.lp END"
    val fullA = (s"WHEN p >= $order THEN l$order" +:
      ((order - 1) to 2 by -1).map(j => s"WHEN p = $j THEN l$j"))
      .mkString("CASE ", " ", " END")
    s"""$tokCte,
       |tr AS (SELECT * FROM t WHERE doc_id % 3 <> 0),
       |sc AS (SELECT * FROM t WHERE doc_id % 3 = 0),
       |$countCtes,
       |nv AS (SELECT (SELECT coalesce(sum(len(tk)), 0) FROM tr)::BIGINT AS n,
       |              (SELECT count(*) FROM c1)::BIGINT AS v),
       |unk AS (SELECT round(log10($kd / (n + $kd * v)), 6) AS lp FROM nv),
       |$probCtes,
       |pos AS (SELECT doc_id, p, tok, $lagCols
       |        FROM (SELECT doc_id, unnest(tk) AS tok,
       |                     unnest(range(1, len(tk) + 1)) AS p FROM sc)
       |        WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
       |g AS (SELECT doc_id, p, $gramCols FROM pos),
       |jx AS (SELECT g.doc_id, g.p, $lCols FROM g $lJoins),
       |x AS (SELECT doc_id, p, $lList, $bCols
       |      FROM jx WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
       |lpp AS (SELECT doc_id,
       |         CASE WHEN l1 IS NULL THEN 1 ELSE 0 END AS oov,
       |         CASE WHEN p >= 2 AND ($fullA) IS NULL
       |              THEN 1 ELSE 0 END AS backed,
       |         $walk AS lp
       |       FROM x CROSS JOIN unk),
       |scored AS (SELECT doc_id, count(*) AS n_tokens,
       |             sum(oov)::BIGINT AS n_oov,
       |             sum(backed)::BIGINT AS n_backed,
       |             round(avg(lp), 4) AS avg_lp10
       |           FROM lpp GROUP BY doc_id)""".stripMargin
  }

  /** The q_doremi_weights oracle: full replay of
    * [[graft.operators.Selection.doremiWeights]] — global + per-domain
    * held-out bigram losses on the 1e-4 grid, then every
    * multiplicative-weights round unrolled as one CTE each (the
    * quality-classifier oracle pattern). All weight arithmetic is
    * BIGINT except the one renormalizing division per (domain, round),
    * CAST-ed exactly as the Scala loop computes it. Emits a WITH chain
    * ENDING in `dal(source, n_docs, lg, lo, ex, w, alpha_micro)` — the
    * caller appends its own final SELECT (q_doremi_weights projects it;
    * q_doremi_mixture chains the byWeight replay on top). */
  /** The synth-augmented DoReMi corpus + tokenization + train/score
    * split — shared by both mixture-learning grains' oracles (bigram
    * q_doremi_weights/q_doremi_mixture and the order-n
    * q_doremi_weights_5gram). Ends with trd/scd(doc_id, source, tk). */
  private val doremiCorpusCtes =
    s"""corp AS (
      |  SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 500000, 'synth', translate(text, 'aeiou', '01234')
      |  FROM documents WHERE doc_id < 150),
      |tds AS (SELECT doc_id, source,
      |  ${tokensSql("text")} tk
      |  FROM corp WHERE source IS NOT NULL),
      |trd AS (SELECT * FROM tds WHERE doc_id % 3 <> 0),
      |scd AS (SELECT * FROM tds WHERE doc_id % 3 = 0)""".stripMargin

  /** The multiplicative-weights + smoothing tail (r0..dal) over a
    * relation `lx(source, n_docs, lg, lo)` — every MW round unrolled
    * as one CTE, all-BIGINT except the one renormalizing division per
    * (domain, round). Shared by both grains so the loop replay can
    * never drift from [[graft.operators.Selection.doremiLoop]]. */
  private def doremiMwTailSql(rounds: Int, eta: Double,
                              smoothMicro: Long): String = {
    val etaD = s"CAST($eta AS DOUBLE)"
    val roundCtes = (1 to rounds).map { r =>
      s"""r$r AS (SELECT source, n_docs, lg, lo, ex,
         |  round(CAST(raw AS DOUBLE) / CAST(sum(raw) OVER () AS DOUBLE)
         |        * CAST(1000000 AS DOUBLE))::BIGINT AS w
         |  FROM (SELECT *, w * (1000000 +
         |          round($etaD * (ex * 100))::BIGINT) AS raw
         |        FROM r${r - 1}))""".stripMargin
    }.mkString(",\n")
    s"""r0 AS (SELECT source, n_docs, lg, lo,
       |         greatest(0, lg - lo)::BIGINT AS ex,
       |         1000000::BIGINT AS w
       |       FROM lx),
       |$roundCtes,
       |kk AS (SELECT count(*)::BIGINT AS kd FROM r0),
       |dal AS (SELECT source, n_docs, lg, lo, ex, w,
       |          round(CAST((1000000 - $smoothMicro) * w AS DOUBLE) /
       |                CAST(1000000 AS DOUBLE))::BIGINT +
       |          round(CAST($smoothMicro AS DOUBLE) / kk.kd)::BIGINT
       |            AS alpha_micro
       |        FROM r$rounds CROSS JOIN kk)""".stripMargin
  }

  private def doremiOracleSql(rounds: Int, eta: Double,
                              smoothMicro: Long): String = {
    s"""WITH $doremiCorpusCtes,
       |c2g AS (SELECT bg, count(*)::BIGINT AS c2
       |        FROM ${ngramRowsSql("trd", 2)} GROUP BY 1),
       |ugg AS (SELECT w, count(*)::BIGINT AS c1
       |        FROM (SELECT unnest(tk) w FROM trd) GROUP BY 1),
       |vg AS (SELECT count(*)::BIGINT AS vv FROM ugg),
       |bgsc AS (SELECT doc_id, bg FROM ${ngramRowsSql("scd", 2)}),
       |gsc AS (SELECT doc_id,
       |          round(avg(ln((coalesce(c2g.c2, 0) + 0.5) /
       |                       (coalesce(ugg.c1, 0) + 0.5 * vg.vv))), 4)
       |            AS avg_lp
       |        FROM bgsc LEFT JOIN c2g USING (bg)
       |        LEFT JOIN ugg ON split_part(bgsc.bg, ' ', 1) = ugg.w
       |        CROSS JOIN vg GROUP BY doc_id),
       |bgtro AS (SELECT t.source, r.bg
       |          FROM ${ngramRowsSql("trd", 2)} r JOIN trd t USING (doc_id)),
       |c2o AS (SELECT source, bg, count(*)::BIGINT AS c2
       |        FROM bgtro GROUP BY 1, 2),
       |ugo AS (SELECT source, w, count(*)::BIGINT AS c1
       |        FROM (SELECT source, unnest(tk) w FROM trd) GROUP BY 1, 2),
       |vdo AS (SELECT source, count(*)::BIGINT AS vv FROM ugo GROUP BY 1),
       |bgsco AS (SELECT r.doc_id, t.source, r.bg
       |          FROM ${ngramRowsSql("scd", 2)} r JOIN scd t USING (doc_id)),
       |osc AS (SELECT b.doc_id,
       |          round(avg(ln((coalesce(c.c2, 0) + 0.5) /
       |                       (coalesce(u.c1, 0) + 0.5 * v.vv))), 4)
       |            AS avg_lp
       |        FROM bgsco b
       |        LEFT JOIN c2o c ON b.source = c.source AND b.bg = c.bg
       |        LEFT JOIN ugo u ON b.source = u.source
       |                       AND split_part(b.bg, ' ', 1) = u.w
       |        JOIN vdo v ON b.source = v.source
       |        GROUP BY b.doc_id),
       |per AS (SELECT t.source, count(*)::BIGINT AS n_docs,
       |          sum(round(g.avg_lp * 10000)::BIGINT)::BIGINT AS sg,
       |          sum(round(o.avg_lp * 10000)::BIGINT)::BIGINT AS so
       |        FROM scd t JOIN gsc g USING (doc_id) JOIN osc o USING (doc_id)
       |        GROUP BY 1),
       |lx AS (SELECT source, n_docs,
       |         round(CAST(-sg AS DOUBLE) / n_docs)::BIGINT AS lg,
       |         round(CAST(-so AS DOUBLE) / n_docs)::BIGINT AS lo
       |       FROM per),
       |${doremiMwTailSql(rounds, eta, smoothMicro)}""".stripMargin
  }

  /** Order-n stupid-backoff scored CTEs over the pre-tokenized
    * trd/scd relations (doc_id, source, tk) — the DoReMi-grain replay
    * of the [[ngramLmScoredSql]] chain (which owns q_ngram_lm's split
    * and junk columns; this one emits only `${"$"}{pfx}sc(doc_id,
    * avg_lp)`). With `bySource`, every count table and the (N, V)
    * frame re-key by source and each held-out doc joins its OWN
    * domain's tables — the inner nv join drops train-absent domains,
    * exactly as the engine's by-source scorer does. */
  private def ngramScoredCtes(pfx: String, order: Int, alpha: Double,
                              k: Double, bySource: Boolean): String = {
    val apows = graft.operators.CorpusStats.alphaPowers(alpha, order - 1)
    val kd = s"CAST($k AS DOUBLE)"
    def apow(e: String) =
      (1 until order).map(i =>
        s"WHEN ($e) = $i THEN CAST(${apows(i)} AS DOUBLE)")
        .mkString("CASE ", " ", " ELSE CAST(1.0 AS DOUBLE) END")
    val m = s"least(p, $order)"
    val srcSel = if (bySource) "source, " else ""
    val countCtes = (1 to order).map { j =>
      if (j == 1)
        s"${pfx}c1 AS (SELECT ${srcSel}w AS g, count(*)::BIGINT AS c " +
          s"FROM (SELECT ${srcSel}unnest(tk) w FROM trd) GROUP BY " +
          (if (bySource) "1, 2)" else "1)")
      else if (bySource)
        s"${pfx}c$j AS (SELECT t.source, r.bg AS g, " +
          s"count(*)::BIGINT AS c FROM ${ngramRowsSql("trd", j)} r " +
          "JOIN trd t USING (doc_id) GROUP BY 1, 2)"
      else
        s"${pfx}c$j AS (SELECT bg AS g, count(*)::BIGINT AS c FROM " +
          s"${ngramRowsSql("trd", j)} GROUP BY 1)"
    }.mkString(",\n")
    val nvCte =
      if (bySource)
        s"${pfx}nv AS (SELECT source, sum(c)::BIGINT AS n, " +
          s"count(*)::BIGINT AS v FROM ${pfx}c1 GROUP BY 1)"
      else
        s"${pfx}nv AS (SELECT (SELECT coalesce(sum(len(tk)), 0) " +
          s"FROM trd)::BIGINT AS n, (SELECT count(*) FROM " +
          s"${pfx}c1)::BIGINT AS v)"
    val lagCols = (1 until order)
      .map(j => s"lag(tok, $j) OVER w AS t$j").mkString(", ")
    val gramCols = (1 to order).map { j =>
      if (j == 1) "tok AS g1"
      else ((j - 1) to 1 by -1).map(d => s"t$d")
        .mkString("", " || ' ' || ", " || ' ' || tok") + s" AS g$j"
    }.mkString(", ")
    val aJoins = (1 to order).map { j =>
      val cond =
        if (bySource) s"${pfx}g.source = ${pfx}c$j.source AND " +
          s"${pfx}g.g$j = ${pfx}c$j.g"
        else s"${pfx}g.g$j = ${pfx}c$j.g"
      s"LEFT JOIN ${pfx}c$j ON $cond"
    }.mkString(" ")
    val aCols = (1 to order).map(j => s"${pfx}c$j.c AS a$j")
      .mkString(", ")
    val aList = (1 to order).map(j => s"a$j").mkString(", ")
    val bCols = (1 until order)
      .map(j => s"lag(a$j, 1) OVER w AS b$j").mkString(", ")
    val branches = (order to 2 by -1).map { j =>
      s"WHEN a$j IS NOT NULL THEN (${apow(s"$m - $j")}) * a$j / b${j - 1}"
    }.mkString(" ")
    val base = s"(${apow(s"$m - 1")}) * (coalesce(a1, 0) + $kd) / " +
      s"(nv.n + $kd * nv.v)"
    val nvJoin =
      if (bySource) s"JOIN ${pfx}nv nv USING (source)"
      else s"CROSS JOIN ${pfx}nv nv"
    s"""$countCtes,
       |$nvCte,
       |${pfx}pos AS (SELECT doc_id, ${srcSel}p, tok, $lagCols
       |        FROM (SELECT doc_id, ${srcSel}unnest(tk) AS tok,
       |                     unnest(range(1, len(tk) + 1)) AS p FROM scd)
       |        WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
       |${pfx}g AS (SELECT doc_id, ${srcSel}p, $gramCols FROM ${pfx}pos),
       |${pfx}jx AS (SELECT ${pfx}g.doc_id, ${
      if (bySource) s"${pfx}g.source, " else ""}${pfx}g.p, $aCols
       |             FROM ${pfx}g $aJoins),
       |${pfx}x AS (SELECT doc_id, ${srcSel}p, $aList, $bCols
       |      FROM ${pfx}jx WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
       |${pfx}lpp AS (SELECT doc_id, ln(CASE $branches ELSE $base END) AS lp
       |       FROM ${pfx}x $nvJoin),
       |${pfx}sc AS (SELECT doc_id, round(avg(lp), 4) AS avg_lp
       |       FROM ${pfx}lpp GROUP BY doc_id)""".stripMargin
  }

  /** The q_doremi_weights_5gram oracle: the same corpus fixture and
    * MW-round chain as [[doremiOracleSql]], with BOTH loss passes at
    * the order-n stupid-backoff grain (global generalist + by-source
    * specialists) instead of the add-k bigram surrogate. */
  private def doremiNgramOracleSql(order: Int, alpha: Double, k: Double,
                                   rounds: Int, eta: Double,
                                   smoothMicro: Long): String = {
    s"""WITH $doremiCorpusCtes,
       |${ngramScoredCtes("g5", order, alpha, k, bySource = false)},
       |${ngramScoredCtes("o5", order, alpha, k, bySource = true)},
       |per AS (SELECT t.source, count(*)::BIGINT AS n_docs,
       |          sum(round(g.avg_lp * 10000)::BIGINT)::BIGINT AS sg,
       |          sum(round(o.avg_lp * 10000)::BIGINT)::BIGINT AS so
       |        FROM scd t JOIN g5sc g USING (doc_id)
       |        JOIN o5sc o USING (doc_id)
       |        GROUP BY 1),
       |lx AS (SELECT source, n_docs,
       |         round(CAST(-sg AS DOUBLE) / n_docs)::BIGINT AS lg,
       |         round(CAST(-so AS DOUBLE) / n_docs)::BIGINT AS lo
       |       FROM per),
       |${doremiMwTailSql(rounds, eta, smoothMicro)}""".stripMargin
  }

  /** Subword vocab shared by the Spark gates and the DuckDB oracles:
    * single chars (minus f/j/q/u/v — engineered unks) + multi-char
    * pieces over the corpus vocabulary. */
  private val subwordVocab: Seq[String] = Seq(
    "a", "b", "c", "d", "e", "g", "h", "i", "k", "l", "m", "n", "o", "p",
    "r", "s", "t", "w", "y",
    "wind", "ow", "table", "merge", "batch", "val", "quer", "cust", "omer",
    "fast", "filt", "er", "gro", "join", "key", "str", "eam", "agg", "data",
    "sort", "scan", "slow", "small", "spark", "row", "hash", "lin", "col",
    "umn", "ord", "vect", "or", "big", "part", "the")
  private val subwordVocabSql: String =
    subwordVocab.map(p => s"('$p')").mkString(", ")

  /** Shared oracle fragment: the greedy longest-match recursion over
    * every distinct corpus word — per-word piece count, unk count, and
    * the piece list itself (unks collapsed to `<unk>`). Prefixed by
    * `WITH RECURSIVE` at the use site. */
  private def subwordRecCte: String =
    s"""wc AS (SELECT doc_id, w, count(*)::BIGINT AS c
       |       FROM (SELECT doc_id, unnest(tk) AS w FROM t)
       |       GROUP BY doc_id, w),
       |words AS (SELECT DISTINCT w FROM wc),
       |vocab(piece) AS (VALUES $subwordVocabSql),
       |rec AS (
       |  SELECT w, w AS rest, 0::BIGINT AS np, 0::BIGINT AS nu,
       |         []::VARCHAR[] AS pieces
       |  FROM words
       |  UNION ALL
       |  SELECT w,
       |         substr(rest, CASE WHEN best IS NULL THEN 2
       |                           ELSE len(best) + 1 END),
       |         np + 1,
       |         nu + CASE WHEN best IS NULL THEN 1 ELSE 0 END,
       |         list_append(pieces, coalesce(best, '<unk>'))
       |  FROM (SELECT w, rest, np, nu, pieces,
       |          (SELECT piece FROM vocab WHERE starts_with(rest, piece)
       |           ORDER BY len(piece) DESC LIMIT 1) AS best
       |        FROM rec WHERE rest <> '')
       |),
       |wp AS (SELECT w, np, nu, pieces FROM rec WHERE rest = '')""".stripMargin

  /** Unigram-LM vocab shared by the Spark gates and the DuckDB
    * oracles: piece -> log-prob score. Multi-char pieces take the
    * SMALL primes (better scores, so Viterbi genuinely prefers them
    * over single-char chains) and the full a-z floor takes the rest.
    * Scores are -ln(prime) with distinct primes per piece: a path sum
    * is -ln of a product of primes, unique per piece MULTISET by
    * unique factorization (and the -10 unk penalty cannot cancel a
    * prime ratio — e^10 is irrational), so the Viterbi argmax is
    * TIE-FREE by construction on any input, not just the fixtures. */
  private val unigramVocab: Seq[(String, Double)] = {
    val multi = Seq(
      "ta", "ab", "ble", "tab", "le", "able", "win", "dow", "ind", "ow",
      "nd", "str", "eam", "tre", "re", "am", "ream", "val", "ue", "alu",
      "lu", "va", "qu", "ery", "uer", "que", "cu", "ust", "omer", "tom",
      "er", "cust", "me", "fil", "ter", "ilt", "lt", "fi", "col", "umn",
      "olu", "mn", "co", "ord", "rd", "de", "rge", "erg", "ge", "ba",
      "tch", "atc", "ch", "at", "gr", "oup", "rou", "ro", "ve", "ctor",
      "ec", "tor", "ct", "sp", "ark", "par", "pa", "sm", "all", "ma",
      "ll", "ha", "ash", "sh", "sc", "an", "can", "sl", "so", "rt",
      "ort", "lin", "ine", "ne", "dat", "ata", "da", "jo", "oin", "oi",
      "ke", "ey", "th", "he", "bi", "ig", "du", "up", "ag", "gg", "fa",
      "ast", "st", "ar")
    val pieces = multi ++ ('a' to 'z').map(_.toString)
    require(pieces.distinct.length == pieces.length, "duplicate piece")
    val primes = Iterator.from(2)
      .filter(c => (2 until c).takeWhile(p => p * p <= c).forall(c % _ != 0))
      .take(pieces.length).toSeq
    pieces.zip(primes).map { case (p, pr) => (p, -math.log(pr.toDouble)) }
  }
  private val unigramUnkScore = -10.0
  private val unigramMaxLen =
    unigramVocab.map { case (p, _) => p.codePointCount(0, p.length) }.max

  /** Shared oracle fragment: the unigram-LM Viterbi DP over every
    * distinct corpus word, as a recursive CTE advancing ONE code point
    * per iteration with a sliding window of the last `unigramMaxLen`
    * states (true linear DP — no path enumeration). Vocab lookups are
    * LEFT JOINs (at most one match per arm: pieces are unique), NOT
    * correlated scalar subqueries, which DuckDB's binder rejects
    * inside a recursive term. Score literals are rendered with an
    * `e0` suffix so DuckDB parses them as DOUBLE directly — a bare
    * decimal literal routes through DECIMAL(17,16) and lands one ulp
    * off the JVM's double, breaking bit-parity of path sums. Prefixed
    * by `WITH RECURSIVE` at the use site; expects `t` from tokCte. */
  private def unigramRecCte: String = {
    val vocabSql = unigramVocab.map { case (p, s) =>
      val r = s.toString
      require(!r.toLowerCase.contains("e"), s"score $r needs plain form")
      s"('$p', ${r}e0)"
    }.mkString(", ")
    s"""wc AS (SELECT doc_id, w, count(*)::BIGINT AS c
       |       FROM (SELECT doc_id, unnest(tk) AS w FROM t)
       |       GROUP BY doc_id, w),
       |uwords AS (SELECT DISTINCT w FROM wc),
       |uvocab(piece, psc) AS (VALUES $vocabSql),
       |${unigramDpSql("urec", "uwp", "uwords", "uvocab", unigramMaxLen)}"""
      .stripMargin
  }

  /** One unigram-LM Viterbi DP instance as SQL text: recursive CTE
    * `rec` + result CTE `out(w, np, nu, sc, ps)` over the words of
    * `wordsCte` (column `w`) scored by `vocabCte(piece, psc)` with
    * window `L`. Factored out of [[unigramRecCte]] verbatim so the
    * trainer oracle ([[unigramTrainOracleSql]]) can instantiate the
    * SAME DP three times (E-step 1, E-step 2, final apply) against
    * DERIVED vocab CTEs — one DP codebase, zero drift. */
  private def unigramDpSql(rec: String, out: String, wordsCte: String,
                           vocabCte: String, L: Int): String = {
    val nulls = (1 until L).map(i =>
      s"NULL::STRUCT(sc DOUBLE, np BIGINT, nu BIGINT, ps VARCHAR[]) AS s$i")
      .mkString(",\n       |         ").stripMargin
    val joins = (2 to L).map(l =>
      s"  LEFT JOIN $vocabCte v$l ON pos >= ${l - 1} " +
        s"AND v$l.piece = substr(w, pos + ${2 - l}, $l)").mkString("\n")
    val arms = (2 to L).map(l =>
      s"""      CASE WHEN v$l.piece IS NOT NULL
         |           THEN struct_pack(sc := s${l - 1}.sc + v$l.psc,
         |                            np := s${l - 1}.np + 1, nu := s${l - 1}.nu,
         |                            ps := list_append(s${l - 1}.ps, v$l.piece)) END""")
      .mkString(",\n")
    val shift = (0 until L - 1).map(i => s"s$i").mkString(", ")
    s"""$rec AS (
       |  SELECT w, len(w)::INT AS n, 0 AS pos,
       |         struct_pack(sc := 0.0::DOUBLE, np := 0::BIGINT,
       |                     nu := 0::BIGINT, ps := []::VARCHAR[]) AS s0,
       |         $nulls
       |  FROM $wordsCte
       |  UNION ALL
       |  SELECT w, n, pos + 1,
       |    list_max(list_filter([
       |      CASE WHEN v1.piece IS NOT NULL
       |           THEN struct_pack(sc := s0.sc + v1.psc, np := s0.np + 1,
       |                            nu := s0.nu,
       |                            ps := list_append(s0.ps, v1.piece))
       |           ELSE struct_pack(sc := s0.sc + (${unigramUnkScore}e0),
       |                            np := s0.np + 1, nu := s0.nu + 1,
       |                            ps := list_append(s0.ps, '<unk>')) END,
       |$arms
       |    ], x -> x IS NOT NULL)) AS s0,
       |    $shift
       |  FROM $rec
       |  LEFT JOIN $vocabCte v1 ON v1.piece = substr(w, pos + 1, 1)
       |$joins
       |  WHERE pos < n
       |),
       |$out AS (SELECT w, s0.np AS np, s0.nu AS nu, s0.sc AS sc,
       |               s0.ps AS ps
       |        FROM $rec WHERE pos = n)""".stripMargin
  }

  /** The q_unigram_train oracle: full replay of Subword.trainUnigram
    * (seedSize seeds of lengths 2..4 + every corpus code point, two
    * Viterbi-EM rounds, a likelihood-loss prune to targetMulti between
    * them) and of the final apply — THREE instances of the same
    * generated DP ([[unigramDpSql]]) against derived vocab CTEs.
    * Cross-engine determinism leans on the trainer's round6 score
    * quantization: every M-step score is `round(ln((c+1)/T), 6)` in
    * both engines (ulp-different ln collapses under the rounding), so
    * DP path sums — sums of bit-equal doubles in the same order — are
    * bit-equal, and so are the loss products. The char-decomposition
    * sum adds positions left-to-right with +0e0 for absent arms
    * (exact identity on the all-negative scores), mirroring the
    * trainer's foreach accumulation; loss is -0.0-canonicalized on
    * both sides before the (l DESC, piece) rank. */
  private def unigramTrainOracleSql(seedSize: Int, targetMulti: Int): String = {
    val L = 4
    // every vocab/word CTE a recursive DP joins is MATERIALIZED: DuckDB
    // inlines single-reference CTEs, and an INLINED vocab inside a
    // recursive term re-evaluates its whole upstream chain (including
    // the PREVIOUS DP) on every iteration — the difference between
    // seconds and unbounded
    s"""WITH RECURSIVE $tokCte,
       |wc AS (SELECT doc_id, w, count(*)::BIGINT AS c
       |       FROM (SELECT doc_id, unnest(tk) AS w FROM t)
       |       GROUP BY doc_id, w),
       |wcw AS MATERIALIZED (SELECT w, sum(c)::BIGINT AS c FROM wc GROUP BY w),
       |twords AS MATERIALIZED (SELECT w FROM wcw),
       |seeds AS (
       |  SELECT piece, n_occ FROM (
       |    SELECT piece, n_occ,
       |           row_number() OVER (ORDER BY n_occ DESC, piece) AS rk
       |    FROM (SELECT substr(w, s + 1, n) AS piece,
       |                 sum(c)::BIGINT AS n_occ
       |          FROM wcw,
       |               unnest(range(2, ${L + 1})) AS ln(n),
       |               unnest(range(0, greatest(len(w) - n + 1, 0))) AS st(s)
       |          GROUP BY piece))
       |  WHERE rk <= $seedSize),
       |sing AS (SELECT substr(w, s + 1, 1) AS piece, sum(c)::BIGINT AS n_occ
       |         FROM wcw, unnest(range(0, len(w))) AS st(s)
       |         GROUP BY piece),
       |v0c AS (SELECT piece, n_occ, TRUE AS single FROM sing
       |        UNION ALL SELECT piece, n_occ, FALSE FROM seeds),
       |t0 AS (SELECT sum(n_occ + 1)::BIGINT AS tt FROM v0c),
       |v0 AS MATERIALIZED (
       |       SELECT piece, round(ln((n_occ + 1)::DOUBLE / tt::DOUBLE), 6)
       |                AS psc
       |       FROM v0c CROSS JOIN t0),
       |${unigramDpSql("trec1", "tout1", "twords", "v0", L)},
       |ec1 AS (SELECT piece, sum(c)::BIGINT AS n
       |        FROM (SELECT w, unnest(ps) AS piece FROM tout1)
       |        JOIN wcw USING (w) GROUP BY piece),
       |c1 AS (SELECT v.piece, v.single, coalesce(e.n, 0)::BIGINT AS c
       |       FROM v0c v LEFT JOIN ec1 e USING (piece)),
       |t1 AS (SELECT sum(c + 1)::BIGINT AS tt FROM c1),
       |m1 AS (SELECT c1.piece, c1.single, c1.c,
       |              round(ln((c1.c + 1)::DOUBLE / t1.tt::DOUBLE), 6) AS psc
       |       FROM c1 CROSS JOIN t1),
       |lss AS (SELECT piece, CASE WHEN lraw = 0 THEN 0e0 ELSE lraw END AS l
       |        FROM (
       |          SELECT m.piece,
       |                 round(m.c::DOUBLE * (m.psc -
       |                   (coalesce(x1.psc, 0e0) + coalesce(x2.psc, 0e0)
       |                    + coalesce(x3.psc, 0e0) + coalesce(x4.psc, 0e0))),
       |                   6) AS lraw
       |          FROM m1 m
       |          LEFT JOIN m1 x1 ON x1.piece = substr(m.piece, 1, 1)
       |          LEFT JOIN m1 x2 ON len(m.piece) >= 2
       |                         AND x2.piece = substr(m.piece, 2, 1)
       |          LEFT JOIN m1 x3 ON len(m.piece) >= 3
       |                         AND x3.piece = substr(m.piece, 3, 1)
       |          LEFT JOIN m1 x4 ON len(m.piece) >= 4
       |                         AND x4.piece = substr(m.piece, 4, 1)
       |          WHERE NOT m.single)),
       |keep AS (SELECT piece FROM (
       |           SELECT piece,
       |                  row_number() OVER (ORDER BY l DESC, piece) AS rk
       |           FROM lss)
       |         WHERE rk <= $targetMulti),
       |v1 AS MATERIALIZED (
       |       SELECT piece, psc FROM m1
       |       WHERE single OR piece IN (SELECT piece FROM keep)),
       |${unigramDpSql("trec2", "tout2", "twords", "v1", L)},
       |ec2 AS (SELECT piece, sum(c)::BIGINT AS n
       |        FROM (SELECT w, unnest(ps) AS piece FROM tout2)
       |        JOIN wcw USING (w) GROUP BY piece),
       |c2 AS (SELECT v.piece, coalesce(e.n, 0)::BIGINT AS c
       |       FROM v1 v LEFT JOIN ec2 e USING (piece)),
       |t2 AS (SELECT sum(c + 1)::BIGINT AS tt FROM c2),
       |v2 AS MATERIALIZED (
       |       SELECT c2.piece,
       |              round(ln((c2.c + 1)::DOUBLE / t2.tt::DOUBLE), 6) AS psc
       |       FROM c2 CROSS JOIN t2),
       |${unigramDpSql("trec3", "tout3", "twords", "v2", L)}
       |SELECT doc_id, sum(c * np)::BIGINT AS n_pieces,
       |       sum(c * nu)::BIGINT AS n_unk
       |FROM wc JOIN tout3 USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** One SOFT (forward-backward) E-step instance as SQL: recursive
    * forward/backward DPs over `twords` scored by `vocabCte(piece,
    * psc)`, ending in `${"$"}{id}ec(piece, n)` — expected piece counts
    * in MICRO-occurrences weighted by word occurrence, replaying
    * [[graft.operators.Subword.softWordCounts]] term by term: each α/β
    * cell is the round-6 log-sum-exp of its ≤ L arm terms combined in
    * ascending piece length with absent arms coalesced to the −10^9
    * sentinel (exp underflows to exactly 0.0), the l = 1 arm falling
    * back to the unk score; per-occurrence posteriors
    * `exp(α(s) + psc + β(s+l) − Z)` round to the 10^-6 grid BEFORE the
    * exact-integer cross-word aggregation. Substr windows and guards
    * mirror [[unigramDpSql]]'s joins (and the right-end guards keep a
    * truncated tail substr from matching a shorter piece). */
  private def unigramSoftEStepSql(id: String, vocabCte: String,
                                  L: Int): String = {
    val unk = s"(${unigramUnkScore}e0)"
    val sent = "(-1000000000e0)"
    // forward: computing alpha(pos+1); a0..a{L-1} = alpha(pos-i)
    val fJoins = (2 to L).map(l =>
      s"  LEFT JOIN $vocabCte v$l ON pos >= ${l - 1} " +
        s"AND v$l.piece = substr(w, pos + ${2 - l}, $l)").mkString("\n")
    val fTerms = (1 to L).map { l =>
      if (l == 1) s"coalesce(a0 + coalesce(v1.psc, $unk), $sent)"
      else s"coalesce(a${l - 1} + v$l.psc, $sent)"
    }
    // backward: computing beta(pos-1); b0..b{L-1} = beta(pos-1+i+1)
    val bJoins = (1 to L).map(l =>
      s"  LEFT JOIN $vocabCte u$l ON pos + ${l - 1} <= n " +
        s"AND u$l.piece = substr(w, pos, $l)").mkString("\n")
    val bTerms = (1 to L).map { l =>
      if (l == 1) s"coalesce(coalesce(u1.psc, $unk) + b0, $sent)"
      else s"coalesce(u$l.psc + b${l - 1}, $sent)"
    }
    def lse(ts: Seq[String], mx: String): String =
      s"round($mx + ln(" +
        ts.map(t => s"exp($t - $mx)").mkString(" + ") + "), 6)"
    val aShift = (0 until L - 1).map(i => s"a$i").mkString(", ")
    val bShift = (0 until L - 1).map(i => s"b$i").mkString(", ")
    val aNulls = (1 until L).map(i => s"NULL::DOUBLE AS a$i")
      .mkString(", ")
    val bNulls = (1 until L).map(i => s"NULL::DOUBLE AS b$i")
      .mkString(", ")
    // weight arms: posterior micro-mass of the in-vocab piece at
    // (pos, l); right-end guard so a truncated substr cannot match
    val wArms = (1 to L).map { l =>
      s"""  SELECT fa.w, v.piece,
         |    round(exp(fa.a0 + v.psc + fb.b0 - fz.z) * 1000000e0)::BIGINT
         |      AS micro
         |  FROM ${id}fa fa
         |  JOIN $vocabCte v ON fa.pos + $l <= fa.n
         |                  AND v.piece = substr(fa.w, fa.pos + 1, $l)
         |  JOIN ${id}fb fb ON fb.w = fa.w AND fb.pos = fa.pos + $l
         |  JOIN ${id}fz fz ON fz.w = fa.w""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val tList = (1 to L).map(i => s"t$i").mkString(", ")
    val fTermCols = fTerms.zipWithIndex
      .map { case (t, i) => s"$t AS t${i + 1}" }.mkString(", ")
    val bTermCols = bTerms.zipWithIndex
      .map { case (t, i) => s"$t AS t${i + 1}" }.mkString(", ")
    val aList = (0 until L).map(i => s"a$i").mkString(", ")
    val bList = (0 until L).map(i => s"b$i").mkString(", ")
    s"""${id}fr AS (
       |  SELECT w, len(w)::INT AS n, 0 AS pos, 0e0::DOUBLE AS a0, $aNulls
       |  FROM twords
       |  UNION ALL
       |  SELECT w, n, pos + 1,
       |    ${lse((1 to L).map(i => s"t$i"), "mx")} AS a0,
       |    $aShift
       |  FROM (SELECT w, n, pos, $aList, $tList,
       |               greatest($tList) AS mx
       |        FROM (SELECT fr.w, fr.n, fr.pos, $aList, $fTermCols
       |              FROM ${id}fr fr
       |  LEFT JOIN $vocabCte v1 ON v1.piece = substr(w, pos + 1, 1)
       |$fJoins
       |              WHERE pos < n))
       |),""".stripMargin + "\n" +
      s"""${id}br AS (
       |  SELECT w, len(w)::INT AS n, len(w)::INT AS pos,
       |         0e0::DOUBLE AS b0, $bNulls
       |  FROM twords
       |  UNION ALL
       |  SELECT w, n, pos - 1,
       |    ${lse((1 to L).map(i => s"t$i"), "mx")} AS b0,
       |    $bShift
       |  FROM (SELECT w, n, pos, $bList, $tList,
       |               greatest($tList) AS mx
       |        FROM (SELECT br.w, br.n, br.pos, $bList, $bTermCols
       |              FROM ${id}br br
       |$bJoins
       |              WHERE pos > 0))
       |),
       |${id}fa AS MATERIALIZED (SELECT w, n, pos, a0 FROM ${id}fr),
       |${id}fb AS MATERIALIZED (SELECT w, pos, b0 FROM ${id}br),
       |${id}fz AS MATERIALIZED (SELECT w, a0 AS z FROM ${id}fr
       |                         WHERE pos = n),
       |${id}wg AS (
       |$wArms),
       |${id}ec AS (SELECT piece, sum(c * micro)::BIGINT AS n
       |        FROM ${id}wg JOIN wcw USING (w) GROUP BY piece)"""
        .stripMargin
  }

  /** The q_unigram_train_soft oracle: [[unigramTrainOracleSql]] with
    * both E-steps SOFT ([[unigramSoftEStepSql]] — forward-backward
    * expected counts in micro-occurrences, M-steps and the prune loss
    * at the 10^6 count unit) and the final apply still the hard
    * Viterbi DP (training is soft; application is always Viterbi, as
    * in SentencePiece). */
  private def unigramTrainSoftOracleSql(seedSize: Int,
                                        targetMulti: Int): String = {
    val L = 4
    s"""WITH RECURSIVE $tokCte,
       |wc AS (SELECT doc_id, w, count(*)::BIGINT AS c
       |       FROM (SELECT doc_id, unnest(tk) AS w FROM t)
       |       GROUP BY doc_id, w),
       |wcw AS MATERIALIZED (SELECT w, sum(c)::BIGINT AS c FROM wc GROUP BY w),
       |twords AS MATERIALIZED (SELECT w FROM wcw),
       |seeds AS (
       |  SELECT piece, n_occ FROM (
       |    SELECT piece, n_occ,
       |           row_number() OVER (ORDER BY n_occ DESC, piece) AS rk
       |    FROM (SELECT substr(w, s + 1, n) AS piece,
       |                 sum(c)::BIGINT AS n_occ
       |          FROM wcw,
       |               unnest(range(2, ${L + 1})) AS ln(n),
       |               unnest(range(0, greatest(len(w) - n + 1, 0))) AS st(s)
       |          GROUP BY piece))
       |  WHERE rk <= $seedSize),
       |sing AS (SELECT substr(w, s + 1, 1) AS piece, sum(c)::BIGINT AS n_occ
       |         FROM wcw, unnest(range(0, len(w))) AS st(s)
       |         GROUP BY piece),
       |v0c AS (SELECT piece, n_occ, TRUE AS single FROM sing
       |        UNION ALL SELECT piece, n_occ, FALSE FROM seeds),
       |t0 AS (SELECT sum((n_occ + 1) * 1000000)::BIGINT AS tt FROM v0c),
       |v0 AS MATERIALIZED (
       |       SELECT piece,
       |              round(ln(((n_occ + 1) * 1000000)::DOUBLE / tt::DOUBLE),
       |                    6) AS psc
       |       FROM v0c CROSS JOIN t0),
       |${unigramSoftEStepSql("s1", "v0", L)},
       |c1 AS (SELECT v.piece, v.single, coalesce(e.n, 0)::BIGINT AS c
       |       FROM v0c v LEFT JOIN s1ec e USING (piece)),
       |t1 AS (SELECT sum(c + 1000000)::BIGINT AS tt FROM c1),
       |m1 AS (SELECT c1.piece, c1.single, c1.c,
       |              round(ln((c1.c + 1000000)::DOUBLE / t1.tt::DOUBLE), 6)
       |                AS psc
       |       FROM c1 CROSS JOIN t1),
       |lss AS (SELECT piece, CASE WHEN lraw = 0 THEN 0e0 ELSE lraw END AS l
       |        FROM (
       |          SELECT m.piece,
       |                 round((m.c::DOUBLE / 1000000e0) * (m.psc -
       |                   (coalesce(x1.psc, 0e0) + coalesce(x2.psc, 0e0)
       |                    + coalesce(x3.psc, 0e0) + coalesce(x4.psc, 0e0))),
       |                   6) AS lraw
       |          FROM m1 m
       |          LEFT JOIN m1 x1 ON x1.piece = substr(m.piece, 1, 1)
       |          LEFT JOIN m1 x2 ON len(m.piece) >= 2
       |                         AND x2.piece = substr(m.piece, 2, 1)
       |          LEFT JOIN m1 x3 ON len(m.piece) >= 3
       |                         AND x3.piece = substr(m.piece, 3, 1)
       |          LEFT JOIN m1 x4 ON len(m.piece) >= 4
       |                         AND x4.piece = substr(m.piece, 4, 1)
       |          WHERE NOT m.single)),
       |keep AS (SELECT piece FROM (
       |           SELECT piece,
       |                  row_number() OVER (ORDER BY l DESC, piece) AS rk
       |           FROM lss)
       |         WHERE rk <= $targetMulti),
       |v1 AS MATERIALIZED (
       |       SELECT piece, psc FROM m1
       |       WHERE single OR piece IN (SELECT piece FROM keep)),
       |${unigramSoftEStepSql("s2", "v1", L)},
       |c2 AS (SELECT v.piece, coalesce(e.n, 0)::BIGINT AS c
       |       FROM v1 v LEFT JOIN s2ec e USING (piece)),
       |t2 AS (SELECT sum(c + 1000000)::BIGINT AS tt FROM c2),
       |v2 AS MATERIALIZED (
       |       SELECT c2.piece,
       |              round(ln((c2.c + 1000000)::DOUBLE / t2.tt::DOUBLE), 6)
       |                AS psc
       |       FROM c2 CROSS JOIN t2),
       |${unigramDpSql("strec3", "stout3", "twords", "v2", L)}
       |SELECT doc_id, sum(c * np)::BIGINT AS n_pieces,
       |       sum(c * nu)::BIGINT AS n_unk
       |FROM wc JOIN stout3 USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  val gates: Seq[Gate] = Seq(

    Gate("q_token_count", (s, d) =>
      docs(s, d)
        .select(col("doc_id"), TF.tokenCount(col("text")).cast("bigint").as("n_tokens"),
          TF.bpeishTokenCount(col("text")).cast("bigint").as("n_bpeish"))
        .orderBy("doc_id"),
      s"""WITH $tokCte
         |SELECT doc_id, len(tk) AS n_tokens,
         |       len(regexp_extract_all(text,
         |           '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]')) AS n_bpeish
         |FROM t ORDER BY doc_id""".stripMargin),

    Gate("q_lang_id", (s, d) =>
      docs(s, d)
        .select(col("doc_id"), TF.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      s"""WITH $tokCte,
         |c AS (SELECT doc_id,
         |  len(list_filter(tk, x -> x IN ($swEn))) en,
         |  len(list_filter(tk, x -> x IN ($swDe))) de,
         |  len(list_filter(tk, x -> x IN ($swFr))) fr,
         |  len(list_filter(tk, x -> x IN ($swEs))) es,
         |  length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) cjk,
         |  len(tk) ntok
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN cjk * 2 > ntok THEN 'zh'
         |       WHEN en = 0 AND de = 0 AND fr = 0 AND es = 0 THEN 'und'
         |       WHEN en >= de AND en >= fr AND en >= es THEN 'en'
         |       WHEN de >= fr AND de >= es THEN 'de'
         |       WHEN fr >= es THEN 'fr'
         |       ELSE 'es' END AS lang_pred
         |FROM c ORDER BY doc_id""".stripMargin),

    // lang-ID with its confidence margin: margin 0 = ambiguous/mixed
    // (route to a heavier classifier); integer-exact, shares the
    // textStats kernel pass with the prediction
    Gate("q_lang_margin", (s, d) =>
      docs(s, d)
        .select(col("doc_id"), TF.langId(col("text")).as("lang_pred"),
          TF.langIdMargin(col("text")).as("margin"))
        .orderBy("doc_id"),
      // the prediction's CASE plus best-minus-second of the four integer
      // scores — exact arithmetic end-to-end
      s"""WITH $tokCte,
         |c AS (SELECT doc_id,
         |  len(list_filter(tk, x -> x IN ($swEn))) en,
         |  len(list_filter(tk, x -> x IN ($swDe))) de,
         |  len(list_filter(tk, x -> x IN ($swFr))) fr,
         |  len(list_filter(tk, x -> x IN ($swEs))) es,
         |  length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) cjk,
         |  len(tk) ntok
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN cjk * 2 > ntok THEN 'zh'
         |       WHEN en = 0 AND de = 0 AND fr = 0 AND es = 0 THEN 'und'
         |       WHEN en >= de AND en >= fr AND en >= es THEN 'en'
         |       WHEN de >= fr AND de >= es THEN 'de'
         |       WHEN fr >= es THEN 'fr'
         |       ELSE 'es' END AS lang_pred,
         |  (list_reverse_sort([en, de, fr, es])[1]
         |   - list_reverse_sort([en, de, fr, es])[2])::BIGINT AS margin
         |FROM c ORDER BY doc_id""".stripMargin),

    Gate("q_quality", (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          round(TF.punctRatio(col("text")), 6).as("pr"),
          round(TF.stopwordRatio(col("text")), 6).as("swr"),
          round(TF.qualityScore(col("text")), 6).as("quality"))
        .orderBy("doc_id"),
      s"""WITH $tokCte,
         |${qualityMetricsCte("m")}
         |SELECT doc_id, round(pr, 6) AS pr, round(swr, 6) AS swr,
         |  round($qualityScoreSql, 6) AS quality
         |FROM m ORDER BY doc_id""".stripMargin),

    // Gopher rule-set verdicts (Rae et al. 2021 App. A) — the published
    // heuristic filter battery; every metric and the conjunction pass
    // spread: gopherFlags is a regex-heavy per-document kernel that ran
    // serialized on the 2-task scan (task 1.3 s ~= wall under noop)
    Gate("q_quality_gopher", (s, d) =>
      graft.util.Parallelism.spread(docs(s, d))
        .select(col("doc_id"), TF.gopherFlags(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_words").as("n_words"),
          col("g.mean_word_len").as("mean_word_len"),
          col("g.symbol_ratio").as("symbol_ratio"),
          col("g.bullet_frac").as("bullet_frac"),
          col("g.ellipsis_frac").as("ellipsis_frac"),
          col("g.alpha_frac").as("alpha_frac"),
          col("g.stop_hits").as("stop_hits"),
          col("g.pass").as("pass"))
        .orderBy("doc_id"),
      s"""WITH $tokCte,
         |${gopherMetricsCte("m")}
         |SELECT doc_id, n::BIGINT AS n_words,
         |  round(mean_len, 6) AS mean_word_len,
         |  round(sym_ratio, 6) AS symbol_ratio,
         |  round(bullet_frac, 6) AS bullet_frac,
         |  round(ellipsis_frac, 6) AS ellipsis_frac,
         |  round(alpha_frac, 6) AS alpha_frac,
         |  stop_hits::BIGINT AS stop_hits,
         |  $gopherPassSql AS pass
         |FROM m ORDER BY doc_id""".stripMargin),

    Gate("q_fingerprint", (s, d) =>
      docs(s, d)
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |       md5(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    // calibration audit of the heuristic quality score against the
    // Gopher verdict as the reference label: 10 reliability bins with
    // per-bin confidence/accuracy/gap (n-weighted gap mean = ECE).
    // One scan, one k-row groupBy — the check a learned quality
    // filter must pass before its threshold is trusted at 100 TB
    Gate("q_calibration", (s, d) =>
      graft.operators.Features.calibrationBins(
          docs(s, d).select(
            round(TF.qualityScore(col("text")), 6).as("score"),
            TF.gopherFlags(col("text")).getField("pass").as("label")),
          "score", "label", 10)
        .orderBy("bin"),
      // reliability-bin replay: the q_quality score and the
      // q_quality_gopher pass conjunction joined per doc, binned at
      // min(floor(score*10), 9); conf/acc averaged over the 6-rounded
      // scores and rounded at 4, gap derived from the rounded pair
      s"""WITH $tokCte,
         |${qualityMetricsCte("m")},
         |qs AS (SELECT doc_id, round($qualityScoreSql, 6) AS score FROM m),
         |${gopherMetricsCte("gm")},
         |gp AS (SELECT doc_id, $gopherPassSql AS pass FROM gm),
         |j AS (SELECT least(floor(score * 10), CAST(9 AS DOUBLE))::BIGINT
         |        AS bin,
         |        score,
         |        CASE WHEN pass THEN 1.0 ELSE 0.0 END AS lab
         |      FROM qs JOIN gp USING (doc_id))
         |SELECT bin, count(*)::BIGINT AS n,
         |       round(avg(score), 4) AS conf, round(avg(lab), 4) AS acc,
         |       round(abs(round(avg(score), 4) - round(avg(lab), 4)), 4)
         |         AS gap
         |FROM j GROUP BY bin ORDER BY bin""".stripMargin),

    // repetition signal: duplicate 3-gram fraction per document
    Gate("q_repetition", (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          round(TF.repetitionScore(col("text"), 3), 6).as("rep3"))
        .orderBy("doc_id"),
      s"""WITH $tokCte,
         |r AS (SELECT doc_id, count(*)::BIGINT AS n3,
         |             count(DISTINCT sh)::BIGINT AS nd
         |      FROM ${ngramRowsSql("t", 3, gram = "sh")}
         |      GROUP BY doc_id)
         |SELECT t.doc_id,
         |  round(CASE WHEN r.n3 > 0 THEN 1.0 - r.nd::DOUBLE / r.n3::DOUBLE
         |        ELSE 0.0 END, 6) AS rep3
         |FROM t LEFT JOIN r USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // within-doc repeated-line REMOVAL (the transform behind the
    // q_dup_lines measurement): keep-first over trimmed line content,
    // single-pass codegen kernel, zero shuffle. Fixture docs are
    // single-line, so the gate regroups tokens into 2-token lines —
    // 181 docs carry real internal repeats at that width. The text
    // coalesce pins the gate to the suite's null-doc convention
    // (kept_text '' like q_dedup_lines — tokenSpans is null-in-null-out,
    // so without it a null doc rides through as NULL while the oracle's
    // no-chunk-rows replay says ''; caught by the composed sweep).
    Gate("q_drop_repeated_lines", (s, d) =>
      docs(s, d).select(col("doc_id"),
        TF.dropRepeatedLines(
          TF.tokenLines(coalesce(col("text"), lit("")), 2))
          .as("kept_text"))
        .orderBy("doc_id"),
      // within-doc keep-first line removal over the 2-token regrouped
      // corpus: keeper = min position per (doc, line content); regrouped
      // lines are never blank, so the blank-survival branch is spec-only
      s"""WITH ${tokenGroupsCte(2, "line")},
        |k AS (
        |  SELECT doc_id, cidx, line,
        |         min(cidx) OVER (PARTITION BY doc_id, line) AS keeper
        |  FROM chunks
        |)
        |SELECT b.doc_id, coalesce(a.kept_text, '') AS kept_text
        |FROM base b LEFT JOIN (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY cidx)
        |           AS kept_text
        |  FROM k WHERE cidx = keeper GROUP BY doc_id) a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin),

    // lexical diversity: within-doc token Shannon entropy (bits), type/
    // token ratio — one row-local codegen kernel pass, zero shuffle
    Gate("q_token_entropy", (s, d) => {
      val st = TF.tokenEntropy(col("text"))
      docs(s, d)
        .select(col("doc_id"),
          st.getField("ntok").as("n_tokens"),
          st.getField("ntypes").as("n_types"),
          round(st.getField("entropy_bits"), 6).as("entropy_bits"),
          round(TF.typeTokenRatio(col("text")), 6).as("ttr"))
        .orderBy("doc_id")
    },
      // within-doc token Shannon entropy replayed from the shared
      // tokenization CTE: group per (doc, token), H = (ln n - sum c*ln c
      // over c>1 / n) / ln 2 — c=1 terms are exactly 0 so both engines
      // sum the same term set; round(6) absorbs summation-order ulp
      s"""WITH $tokCte,
         |g AS (SELECT doc_id, tok, count(*)::BIGINT AS c
         |      FROM (SELECT doc_id, unnest(tk) AS tok FROM t)
         |      GROUP BY doc_id, tok),
         |e AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*)::BIGINT AS nt,
         |             sum(CASE WHEN c > 1 THEN c * ln(c) ELSE 0.0 END) AS sl
         |      FROM g GROUP BY doc_id)
         |SELECT t.doc_id,
         |  (CASE WHEN t.tk IS NULL THEN NULL
         |        ELSE coalesce(e.n, 0) END)::BIGINT AS n_tokens,
         |  (CASE WHEN t.tk IS NULL THEN NULL
         |        ELSE coalesce(e.nt, 0) END)::BIGINT AS n_types,
         |  round(CASE WHEN t.tk IS NULL THEN NULL
         |             WHEN e.n IS NULL THEN 0.0
         |             ELSE (ln(e.n) - e.sl / e.n) / ln(2) END, 6)
         |    AS entropy_bits,
         |  round(CASE WHEN t.tk IS NULL THEN NULL
         |             WHEN e.n IS NULL THEN 0.0
         |             ELSE e.nt::DOUBLE / e.n END, 6) AS ttr
         |FROM t LEFT JOIN e USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // within-doc duplicate-line fractions (MassiveText/RefinedWeb rule):
    // repeat occurrences of trimmed non-blank lines, by line and by char
    Gate("q_dup_lines", (s, d) => {
      val st = TF.dupLineStats(col("text"))
      docs(s, d)
        .select(col("doc_id"),
          st.getField("n_lines").as("n_lines"),
          round(st.getField("dup_line_frac"), 6).as("dup_line_frac"),
          round(st.getField("dup_char_frac"), 6).as("dup_char_frac"))
        .orderBy("doc_id")
    },
      // duplicate-line fractions: trimmed non-blank newline splits, where
      // trim strips the full ASCII whitespace class (space \t \x0B \f \r —
      // the engine's regex \s minus the already-split \n), not DuckDB's
      // space-only default; "duplicate" = every occurrence beyond a line's
      // first (list_distinct keeps firsts on both engines); single IEEE
      // divisions of exact longs
      """WITH l AS (SELECT doc_id,
        |  list_filter(list_transform(string_split(text, chr(10)),
        |    x -> trim(x, ' ' || chr(9) || chr(11) || chr(12) || chr(13))),
        |              x -> x <> '') AS lines
        |  FROM documents),
        |a AS (SELECT doc_id,
        |        len(lines)::BIGINT AS n_lines,
        |        len(list_distinct(lines))::BIGINT AS ndl,
        |        CASE WHEN lines IS NULL THEN NULL
        |             ELSE coalesce(list_sum(list_transform(lines,
        |                    x -> length(x))), 0) END AS tot,
        |        CASE WHEN lines IS NULL THEN NULL
        |             ELSE coalesce(list_sum(list_transform(
        |                    list_distinct(lines), x -> length(x))), 0)
        |             END AS dtot
        |      FROM l)
        |SELECT doc_id, n_lines,
        |  round(CASE WHEN n_lines > 0
        |               THEN (n_lines - ndl)::DOUBLE / n_lines
        |             WHEN n_lines IS NOT NULL THEN 0.0 END, 6)
        |    AS dup_line_frac,
        |  round(CASE WHEN tot > 0 THEN (tot - dtot)::DOUBLE / tot
        |             WHEN tot IS NOT NULL THEN 0.0 END, 6)
        |    AS dup_char_frac
        |FROM a ORDER BY doc_id""".stripMargin),

    // composite training-data pipeline: quality filter -> language
    // filter -> exact-dedup keep -> deterministic split. The flagship
    // composition every piece above feeds into.
    Gate("q_training_pipeline", (s, d) => {
      // Single scan of documents: score, language-ID and fingerprint in one
      // projection (codegen CSE evaluates the shared tokenization once),
      // then dedup-keep via a window min over the fingerprint — the heavy
      // text columns never survive past the projection, so the one shuffle
      // carries only (doc_id, q, fp).
      import org.apache.spark.sql.expressions.Window
      docs(s, d)
        .select(col("doc_id"),
          TF.qualityScore(col("text")).as("q"),
          TF.langId(col("text")).as("lang_pred"),
          TF.fingerprint(col("text")).as("fp"))
        .where(col("q") >= 0.5 && col("lang_pred") === "en")
        .withColumn("keep_id", min("doc_id").over(Window.partitionBy("fp")))
        .where(col("doc_id") === col("keep_id"))
        .select(col("doc_id"), round(col("q"), 6).as("q"),
          TF.splitAssign(col("doc_id").cast("string"), 80, 10).as("split"))
        .orderBy("doc_id")
    },
      s"""WITH $tokCte,
         |m AS (SELECT doc_id, text, tk,
         |  ${punctRatioSql("text")} AS pr,
         |  ${stopwordRatioSql("tk")} AS swr,
         |  len(list_filter(tk, x -> x IN ($swEn))) en,
         |  len(list_filter(tk, x -> x IN ($swDe))) de,
         |  len(list_filter(tk, x -> x IN ($swFr))) fr,
         |  len(list_filter(tk, x -> x IN ($swEs))) es,
         |  length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) cjk,
         |  len(tk) ntok
         |  FROM t),
         |scored AS (SELECT doc_id, text,
         |  $qualityScoreSql AS q,
         |  CASE WHEN cjk * 2 > ntok THEN 'zh'
         |       WHEN en = 0 AND de = 0 AND fr = 0 AND es = 0 THEN 'und'
         |       WHEN en >= de AND en >= fr AND en >= es THEN 'en'
         |       WHEN de >= fr AND de >= es THEN 'de'
         |       WHEN fr >= es THEN 'fr'
         |       ELSE 'es' END AS lang_pred
         |  FROM m),
         |filtered AS (SELECT * FROM scored WHERE q >= 0.5 AND lang_pred = 'en'),
         |keep AS (SELECT min(doc_id) AS doc_id FROM filtered
         |         GROUP BY md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))))
         |SELECT f.doc_id, round(f.q, 6) AS q,
         |  CASE WHEN ('0x' || substr(md5(f.doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 80
         |       THEN 'train'
         |       WHEN ('0x' || substr(md5(f.doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 90
         |       THEN 'val' ELSE 'test' END AS split
         |FROM filtered f JOIN keep USING (doc_id)
         |ORDER BY f.doc_id""".stripMargin),

    // PII scrubbing: emails/IPs/phone runs -> typed placeholders
    Gate("q_pii_scrub", (s, d) =>
      docs(s, d)
        .select(col("doc_id"), TF.scrubPii(col("text")).as("clean"),
          TF.piiCount(col("text")).cast("bigint").as("n_pii"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g'),
        |    '\+?[0-9][0-9()\- \t\n\x0b\f\r]{6,}[0-9]', '[PHONE]', 'g') AS clean,
        |  len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |  + len(regexp_extract_all(text,
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))
        |  + len(regexp_extract_all(text,
        |      '\+?[0-9][0-9()\- \t\n\x0b\f\r]{6,}[0-9]')) AS n_pii
        |FROM documents ORDER BY doc_id""".stripMargin),

    // TF-IDF scores: per-doc term frequencies against the FULL corpus's
    // document frequencies (the doc_id < 15 cut filters the tf side only
    // — Catalyst pushes it below the join but not into the df aggregate)
    Gate("q_tfidf", (s, d) =>
      graft.operators.CorpusStats.tfidf(docs(s, d), "doc_id", "text")
        .where(col("doc") < 15)
        .select(col("doc").as("doc_id"), col("term"), col("tf"), col("score"))
        .orderBy("doc_id", "term"),
      // df over the full corpus, tf cut to doc_id < 15 after the join;
      // smoothed idf = ln((N+1)/(df+1)) + 1, same tokenization CTE
      s"""WITH $tokCte,
         |tfc AS (SELECT doc_id, term, count(*)::BIGINT AS tf
         |        FROM (SELECT doc_id, unnest(tk) AS term FROM t)
         |        GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tfc GROUP BY term),
         |n AS (SELECT count(*)::DOUBLE AS n FROM documents)
         |SELECT doc_id, term, tf,
         |       round(tf * (ln((n.n + 1) / (dfreq.df + 1)) + 1), 4) AS score
         |FROM tfc JOIN dfreq USING (term) CROSS JOIN n
         |WHERE doc_id < 15
         |ORDER BY doc_id, term""".stripMargin),

    // corpus-as-its-own-LM bigram scoring: mean ln P(w2|w1) per doc —
    // the perplexity-filter signal, computed from exact corpus counts
    Gate("q_bigram_lm", (s, d) =>
      graft.operators.CorpusStats.bigramLogProb(docs(s, d), "doc_id", "text")
        .select(col("doc").as("doc_id"), col("n_bigrams"), col("avg_lp"))
        .orderBy("doc_id"),
      // non-distinct bigram occurrences (unlike q_ngram_freq's per-doc
      // distinct sets); P(w2|w1) = c2/c1 MLE, natural log, mean per doc
      s"""WITH $tokCte,
         |bg AS (SELECT doc_id, bg FROM ${ngramRowsSql("t", 2)}),
         |c2 AS (SELECT bg, count(*)::BIGINT AS c2 FROM bg GROUP BY 1),
         |ug AS (SELECT w, count(*)::BIGINT AS c1
         |       FROM (SELECT unnest(tk) w FROM t) GROUP BY 1)
         |SELECT doc_id, count(*) AS n_bigrams,
         |       round(avg(ln(c2.c2 / ug.c1)), 4) AS avg_lp
         |FROM bg JOIN c2 USING (bg)
         |        JOIN ug ON split_part(bg.bg, ' ', 1) = ug.w
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // unicode canonicalization (NFC + ROOT casefold + whitespace
    // collapse) — the pre-hash step; the oracle runs DuckDB's
    // nfc_normalize + lower + regex collapse. The corpus is printable
    // ASCII so NFC is identity HERE (the spec pins the accent/ligature
    // branches on unicode vectors); what this gate proves cross-engine
    // is the casefold + collapse contract and md5 identity of the
    // normalized bytes
    Gate("q_normalize", (s, d) =>
      docs(s, d).select(col("doc_id"),
          TF.normalizeText(col("text")).as("__n"))
        .select(col("doc_id"), length(col("__n")).as("n_norm"),
          md5(col("__n").cast("binary")).as("norm_md5"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |       length(trim(regexp_replace(lower(nfc_normalize(text)),
        |              '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS n_norm,
        |       md5(trim(regexp_replace(lower(nfc_normalize(text)),
        |           '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS norm_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // URL canonicalization — the crawl-dedup KEY: messy per-doc URLs
    // (derived deterministically from the table so both engines start
    // from identical bytes) normalize through scheme/host lowering,
    // default-port drop, slash collapse, tracking-param strip, param
    // sort, fragment drop. Row-local codegen; the md5 key is what a
    // 100 TB crawl groups by BEFORE any content dedup
    Gate("q_url_canon", (s, d) => {
      val dn = docs(s, d)
      val raw = when(col("doc_id") % 3 === 0, concat(
          lit("HTTPS://WWW.ExAmple-"), (col("doc_id") % 7).cast("string"),
          lit(".COM:443/Docs//"), col("source"),
          lit("/?utm_source=feed&z=9&ref=x&a="), col("lang"),
          lit("&utm_campaign=c&b=2#frag")))
        .when(col("doc_id") % 3 === 1, concat(
          lit("HTTP://user:pw@Host-"), (col("doc_id") % 5).cast("string"),
          lit(".Org:80/A//B/c/"), col("source"),
          lit("?b=2&a=1&a=0&gclid=g#x")))
        .otherwise(concat(
          lit("https://plain.example.net/"), col("source"),
          lit("/page/"), col("doc_id").cast("string")))
      dn.select(col("doc_id"), TF.canonicalUrl(raw).as("url_canon"))
        .withColumn("url_key", md5(col("url_canon").cast("binary")))
        .orderBy("doc_id")
    },
      // the canonicalization rules of TextFunctions.canonicalUrl replayed
      // rule-by-rule: NOTE || not concat (DuckDB concat IGNORES nulls; ||
      // propagates them like Spark's concat), and the explicit 'g' flag
      // on the slash collapse (DuckDB replaces first-match by default
      // where Spark replaces all)
      """WITH raw AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |           'HTTPS://WWW.ExAmple-' || (doc_id % 7)::VARCHAR ||
        |           '.COM:443/Docs//' || source ||
        |           '/?utm_source=feed&z=9&ref=x&a=' || lang ||
        |           '&utm_campaign=c&b=2#frag'
        |         WHEN doc_id % 3 = 1 THEN
        |           'HTTP://user:pw@Host-' || (doc_id % 5)::VARCHAR ||
        |           '.Org:80/A//B/c/' || source || '?b=2&a=1&a=0&gclid=g#x'
        |         ELSE 'https://plain.example.net/' || source ||
        |              '/page/' || doc_id::VARCHAR END AS u
        |  FROM documents),
        |parsed AS (
        |  SELECT doc_id,
        |    nullif(lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)), '') AS scheme,
        |    regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
        |  FROM raw),
        |hp AS (SELECT *, regexp_extract(rest, '^([^/?#]+)', 1) AS hostport
        |       FROM parsed),
        |auth AS (SELECT *, regexp_replace(hostport, '^.*@', '') AS authority
        |         FROM hp),
        |parts AS (
        |  SELECT doc_id, scheme,
        |    lower(regexp_extract(authority, '^([^:]*)', 1)) AS host,
        |    regexp_extract(authority, ':([0-9]+)$', 1) AS port,
        |    substr(rest, len(hostport) + 1) AS tail
        |  FROM auth),
        |pq AS (
        |  SELECT doc_id, scheme, host, port,
        |    regexp_replace(regexp_extract(tail, '^([^?#]*)', 1),
        |                   '/{2,}', '/', 'g') AS p2,
        |    regexp_extract(tail, '\?([^#]*)', 1) AS query
        |  FROM parts),
        |norm AS (
        |  SELECT doc_id, scheme, host, port,
        |    CASE WHEN p2 = '' THEN '/'
        |         ELSE regexp_replace(p2, '(.)/$', '\1') END AS path,
        |    array_to_string(list_sort(list_filter(string_split(query, '&'),
        |      p -> p <> '' AND NOT regexp_matches(p,
        |             '^(utm_[^=]*|gclid|fbclid)(=|$)'))), '&') AS q
        |  FROM pq),
        |canon AS (
        |  SELECT doc_id,
        |    scheme || '://' || host ||
        |    CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
        |              AND NOT (scheme = 'https' AND port = '443')
        |         THEN ':' || port ELSE '' END ||
        |    path ||
        |    CASE WHEN q <> '' THEN '?' || q ELSE '' END AS url_canon
        |  FROM norm)
        |SELECT doc_id, url_canon, md5(url_canon) AS url_key
        |FROM canon ORDER BY doc_id""".stripMargin),

    // CCNet-style held-out LM quality score: the LM trains on 2/3 of
    // the corpus and scores the other third — likeness to the reference
    // split, not to itself; add-0.5 smoothing keeps unseen bigrams
    // finite and n_unseen is the OOV junk signal
    Gate("q_bigram_heldout", (s, d) => {
      val all = docs(s, d)
      graft.operators.CorpusStats.bigramLogProbAgainst(
          all.where(col("doc_id") % 3 =!= 0),
          all.where(col("doc_id") % 3 === 0), "doc_id", "text", k = 0.5)
        .select(col("doc").as("doc_id"), col("n_bigrams"),
          col("n_unseen"), col("avg_lp"))
        .orderBy("doc_id")
    },
      // the held-out replay: train counts from the 2/3 split only,
      // scored bigrams LEFT-join them, add-0.5 smoothing over V
      s"""WITH $tokCte,
         |tr AS (SELECT * FROM t WHERE doc_id % 3 <> 0),
         |sc AS (SELECT * FROM t WHERE doc_id % 3 = 0),
         |bgtr AS (SELECT bg FROM ${ngramRowsSql("tr", 2)}),
         |c2 AS (SELECT bg, count(*)::BIGINT AS c2 FROM bgtr GROUP BY 1),
         |ug AS (SELECT w, count(*)::BIGINT AS c1
         |       FROM (SELECT unnest(tk) w FROM tr) GROUP BY 1),
         |v AS (SELECT count(*)::BIGINT AS vv FROM ug),
         |bgsc AS (SELECT doc_id, bg FROM ${ngramRowsSql("sc", 2)})
         |SELECT doc_id, count(*) AS n_bigrams,
         |       sum(CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END)::BIGINT
         |         AS n_unseen,
         |       round(avg(ln((coalesce(c2.c2, 0) + 0.5) /
         |                    (coalesce(ug.c1, 0) + 0.5 * v.vv))), 4)
         |         AS avg_lp
         |FROM bgsc
         |LEFT JOIN c2 USING (bg)
         |LEFT JOIN ug ON split_part(bgsc.bg, ' ', 1) = ug.w
         |CROSS JOIN v
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // CCNet head/middle/tail: the held-out LM score partitioned into
    // terciles on the DISCRETE integer grid (score×10^4), the same
    // flip-immune cum-sum boundaries as q_length_buckets — the slice
    // labels CCNet ships its crawl under
    Gate("q_ccnet_buckets", (s, d) => {
      val all = docs(s, d)
      graft.operators.Selection.perplexityBuckets(
          all.where(col("doc_id") % 3 =!= 0),
          all.where(col("doc_id") % 3 === 0), "doc_id", "text")
        .select(col("doc").as("doc_id"), col("n_bigrams"),
          col("n_unseen"), col("avg_lp"), col("bucket"))
        .orderBy("doc_id")
    },
      // the heldout scoring verbatim, then terciles on the integer grid
      // (score×10^4) via the q_length_buckets cum-sum construction; the
      // 1/3 and 2/3 literals are the exact doubles Scala's 1.0/3 and
      // 2.0/3 produce, so ceil(q*n) is the same IEEE multiply
      s"""WITH $tokCte,
         |tr AS (SELECT * FROM t WHERE doc_id % 3 <> 0),
         |sc AS (SELECT * FROM t WHERE doc_id % 3 = 0),
         |bgtr AS (SELECT bg FROM ${ngramRowsSql("tr", 2)}),
         |c2 AS (SELECT bg, count(*)::BIGINT AS c2 FROM bgtr GROUP BY 1),
         |ug AS (SELECT w, count(*)::BIGINT AS c1
         |       FROM (SELECT unnest(tk) w FROM tr) GROUP BY 1),
         |v AS (SELECT count(*)::BIGINT AS vv FROM ug),
         |bgsc AS (SELECT doc_id, bg FROM ${ngramRowsSql("sc", 2)}),
         |scd AS (SELECT doc_id, count(*) AS n_bigrams,
         |          sum(CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END)::BIGINT
         |            AS n_unseen,
         |          round(avg(ln((coalesce(c2.c2, 0) + 0.5) /
         |                       (coalesce(ug.c1, 0) + 0.5 * v.vv))), 4)
         |            AS avg_lp
         |        FROM bgsc
         |        LEFT JOIN c2 USING (bg)
         |        LEFT JOIN ug ON split_part(bgsc.bg, ' ', 1) = ug.w
         |        CROSS JOIN v
         |        GROUP BY doc_id),
         |g AS (SELECT *, round(avg_lp * 10000)::BIGINT AS s FROM scd),
         |vc AS (SELECT s AS v2, count(*) AS c FROM g GROUP BY s),
         |cum AS (SELECT v2,
         |          sum(c) OVER (ORDER BY v2
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |            AS cum,
         |          sum(c) OVER () AS n
         |        FROM vc),
         |b AS (SELECT
         |        min(CASE WHEN cum >=
         |              ceil(CAST(0.3333333333333333 AS DOUBLE) * n)
         |            THEN v2 END) AS b0,
         |        min(CASE WHEN cum >=
         |              ceil(CAST(0.6666666666666666 AS DOUBLE) * n)
         |            THEN v2 END) AS b1
         |      FROM cum)
         |SELECT doc_id, n_bigrams, n_unseen, avg_lp,
         |       CASE WHEN s > b1 THEN 'head'
         |            WHEN s > b0 THEN 'middle'
         |            ELSE 'tail' END AS bucket
         |FROM g, b ORDER BY doc_id""".stripMargin),

    // order-3 held-out LM with STUPID BACKOFF (Brants et al. 2007):
    // every token scored at its longest available history, alpha=0.4
    // penalty per backoff step, add-0.5 unigram floor over V. The
    // oracle replays every branch of the backoff CASE (the alpha
    // powers are the same multiply-chain literals in both plans);
    // n_oov and n_backed are the junk signals
    Gate("q_ngram_lm", (s, d) => {
      val all = docs(s, d)
      graft.operators.CorpusStats.ngramLogProbAgainst(
          all.where(col("doc_id") % 3 =!= 0),
          all.where(col("doc_id") % 3 === 0), "doc_id", "text",
          order = 3, alpha = 0.4, k = 0.5)
        .select(col("doc").as("doc_id"), col("n_tokens"), col("n_oov"),
          col("n_backed"), col("avg_lp"))
        .orderBy("doc_id")
    },
      // order-3 stupid backoff, every branch replayed (generated CTE
      // chain — see ngramLmScoredSql)
      s"""WITH ${ngramLmScoredSql(3, 0.4, 0.5)}
         |SELECT doc_id, n_tokens, n_oov, n_backed, avg_lp
         |FROM scored ORDER BY doc_id""".stripMargin),

    // ARPA/KenLM model interchange gated through APPLIED scoring (the
    // q_unigram_vocab_io contract): the engine's count-derived stupid-
    // backoff model travels export -> import -> re-export (byte
    // equality required in-gate) and the IMPORTED copy — log-probs and
    // backoff weights read back from ARPA text, exactly what a user
    // does with a real pretrained KenLM artifact — drives the standard
    // ARPA backoff-walk scorer. The oracle rebuilds the same round-6
    // log10 tables from counts and replays every branch of the walk,
    // so any value the text layer corrupts breaks the hash
    Gate("q_arpa_score", (s, d) => {
      val all = docs(s, d)
      val arpa = graft.operators.ArpaIO.toArpa(
        all.where(col("doc_id") % 3 =!= 0), "text", 3, alpha = 0.4,
        k = 0.5)
      val model = graft.operators.ArpaIO.fromArpa(arpa)
      require(graft.operators.ArpaIO.render(model) == arpa,
        "ARPA round-trip drifted")
      graft.operators.ArpaIO.scoreAgainst(s, model,
          all.where(col("doc_id") % 3 === 0), "doc_id", "text")
        .select(col("doc").as("doc_id"), col("n_tokens"), col("n_oov"),
          col("n_backed"), col("avg_lp10"))
        .orderBy("doc_id")
    },
      // the ARPA export rebuilt from counts + the standard backoff walk
      // replayed branch by branch (generated CTE chain — arpaScoredSql)
      s"""WITH ${arpaScoredSql(3, 0.4, 0.5)}
         |SELECT doc_id, n_tokens, n_oov, n_backed, avg_lp10
         |FROM scored ORDER BY doc_id""".stripMargin),

    // INCREMENTAL n-gram LM: the train side comes out of a persisted
    // count-table index built from HALF the training corpus and
    // EXTENDED with the other half — under the disjoint-ids contract
    // scoring against the folded index EQUALS a full retrain on the
    // union, so the oracle is literally q_ngram_lm's (same split,
    // order, alpha, k): the incremental==batch contract is
    // ORACLE-gated, the q_dedup_spans_incr pattern. Only the delta
    // was ever re-counted; history contributed 16-byte digests +
    // counts folded Exchange-free out of the bucketed tables
    Gate("q_ngram_lm_incr", (s, d) => {
      val all = docs(s, d)
      val idx = memoIndex("ng", s, d)((name, path) => {
        val built = graft.operators.CorpusStats.buildNgramIndex(
          all.where(col("doc_id") % 3 === 1), "doc_id", "text", 3, name, path)
        built.extend(all.where(col("doc_id") % 3 === 2), "doc_id", "text")
        built
      })
      graft.operators.CorpusStats.ngramLogProbAgainstIndex(
          all.where(col("doc_id") % 3 === 0), "doc_id", "text", idx,
          alpha = 0.4, k = 0.5)
        .select(col("doc").as("doc_id"), col("n_tokens"), col("n_oov"),
          col("n_backed"), col("avg_lp"))
        .orderBy("doc_id")
    },
      // the incremental==batch contract, oracle-gated: build-from-third
      // + fold-in-third must EQUAL the full retrain, so the oracle IS
      // q_ngram_lm's full-retrain replay over the same split
      s"""WITH ${ngramLmScoredSql(3, 0.4, 0.5)}
         |SELECT doc_id, n_tokens, n_oov, n_backed, avg_lp
         |FROM scored ORDER BY doc_id""".stripMargin),

    // CCNet buckets at the PAPER's grain — 5-gram scoring (Wenzek et
    // al.'s KenLM order) via stupid backoff, then the same flip-immune
    // integer-grid terciles as q_ccnet_buckets
    Gate("q_ccnet_buckets_5gram", (s, d) => {
      val all = docs(s, d)
      graft.operators.Selection.perplexityBuckets(
          all.where(col("doc_id") % 3 =!= 0),
          all.where(col("doc_id") % 3 === 0), "doc_id", "text",
          order = 5, alpha = 0.4, k = 0.5)
        .select(col("doc").as("doc_id"), col("n_tokens"), col("n_oov"),
          col("n_backed"), col("avg_lp"), col("bucket"))
        .orderBy("doc_id")
    },
      // the 5-gram scoring chain + the q_ccnet_buckets tercile
      // construction on the integer grid (score x 10^4)
      s"""WITH ${ngramLmScoredSql(5, 0.4, 0.5)},
         |gg AS (SELECT *, round(avg_lp * 10000)::BIGINT AS s FROM scored),
         |vc AS (SELECT s AS v2, count(*) AS c FROM gg GROUP BY s),
         |cum AS (SELECT v2,
         |          sum(c) OVER (ORDER BY v2
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |            AS cum,
         |          sum(c) OVER () AS n
         |        FROM vc),
         |b AS (SELECT
         |        min(CASE WHEN cum >=
         |              ceil(CAST(0.3333333333333333 AS DOUBLE) * n)
         |            THEN v2 END) AS b0,
         |        min(CASE WHEN cum >=
         |              ceil(CAST(0.6666666666666666 AS DOUBLE) * n)
         |            THEN v2 END) AS b1
         |      FROM cum)
         |SELECT doc_id, n_tokens, n_oov, n_backed, avg_lp,
         |       CASE WHEN s > b1 THEN 'head'
         |            WHEN s > b0 THEN 'middle'
         |            ELSE 'tail' END AS bucket
         |FROM gg, b ORDER BY doc_id""".stripMargin),

    // DoReMi-style mixture-weight LEARNING (Xie et al. 2023): excess
    // loss per domain = global-generalist minus own-specialist
    // held-out bigram loss; 4 integer multiplicative-weights rounds +
    // uniform smoothing. The fixture corpus is HOMOGENEOUS (every
    // source shares one 31-token vocabulary, so pooling always beats
    // the tiny specialists and every excess is 0 — a degenerate loop),
    // so the gate augments it with a deterministically TRANSLATED
    // 'synth' domain (vowels -> digits, the shifted-copy convention on
    // the text side): its specialist genuinely beats the diluted
    // generalist, the MW rounds move real weight, and the oracle
    // replays ALL of it (generated CTE chain, the quality-classifier
    // pattern) — every loss, every renormalization, bit-exact
    Gate("q_doremi_weights", (s, d) => {
      import s.implicits._
      doremiLearned(s, d)
        .toDF("source", "n_docs", "loss_global_i4", "loss_own_i4",
          "excess_i4", "weight_micro", "alpha_micro")
        .orderBy("source")
    },
      // the full mixture-learning replay: per-domain losses + every MW
      // round unrolled (see doremiOracleSql)
      s"""${doremiOracleSql(4, 0.5, 200000L)}
         |SELECT source, n_docs, lg AS loss_global_i4,
         |       lo AS loss_own_i4, ex AS excess_i4, w AS weight_micro,
         |       alpha_micro
         |FROM dal ORDER BY source""".stripMargin),

    // DoReMi at CCNet's ACTUAL grain: both loss passes routed through
    // the order-5 stupid-backoff LM (global generalist + per-source
    // specialists re-keyed by (source, gram)) instead of the add-k
    // bigram surrogate; the MW loop and grid are byte-identical to
    // q_doremi_weights. The oracle generalizes the same round-CTE
    // chain — the losses CTE swaps, the loop replay does not
    Gate("q_doremi_weights_5gram", (s, d) => {
      val aug = doremiCorpus(s, d)
      graft.operators.Selection.doremiWeights(
          aug.where(col("doc_id") % 3 =!= 0),
          aug.where(col("doc_id") % 3 === 0), "doc_id", "text",
          "source", order = 5, alpha = 0.4, rounds = 4, eta = 0.5,
          smoothMicro = 200000L, k = 0.5)
        .orderBy("source")
    },
      // the same MW-round chain fed by order-5 stupid-backoff losses
      s"""${doremiNgramOracleSql(5, 0.4, 0.5, 4, 0.5, 200000L)}
         |SELECT source, n_docs, lg AS loss_global_i4,
         |       lo AS loss_own_i4, ex AS excess_i4, w AS weight_micro,
         |       alpha_micro
         |FROM dal ORDER BY source""".stripMargin),

    // the learned mixture APPLIED — DoReMi alpha composed into
    // Sampling.byWeight (the capstone the two operators advertise):
    // mixing weight w_d = round(alpha_d/1e6 · N/n_d, 6) converts the
    // learned target SHARE into a per-doc copy count over the corpus'
    // CURRENT shares; every step (the MW rounds, the weight grid,
    // byWeight's floor/round(frac·1e6) decomposition, the md5 draw) is
    // replayed in the oracle. Driver state: #domains doubles
    Gate("q_doremi_mixture", (s, d) => {
      val learned = doremiLearned(s, d)
        .map { case (src, _, _, _, _, _, alpha) => src -> alpha }.toMap
      val labeled = doremiCorpus(s, d).where(col("source").isNotNull)
      graft.operators.Sampling.byAlphaMicro(
          labeled.select(col("doc_id"), col("source")),
          "doc_id", "source", learned, salt = "doremi")
        .select(col("doc_id"), col("source"), col("__rep"))
        .orderBy("doc_id", "__rep")
    },
      // the learned mixture APPLIED: alpha -> per-domain mixing weight
      // round(alpha/1e6 * N/n_d, 6) -> byWeight's floor/round(frac*1e6)
      // decomposition -> the md5 copy draw — the full doremi chain plus
      // the q_corpus_upsample machinery in one replay
      s"""${doremiOracleSql(4, 0.5, 200000L)},
         |cnt AS (SELECT source, count(*)::BIGINT AS ndd
         |        FROM corp WHERE source IS NOT NULL GROUP BY 1),
         |nnn AS (SELECT sum(ndd)::BIGINT AS nn FROM cnt),
         |mw AS (SELECT c.source,
         |         round(CAST(a.alpha_micro AS DOUBLE) /
         |               CAST(1000000 AS DOUBLE) * nnn.nn / c.ndd, 6) AS w
         |       FROM cnt c JOIN dal a USING (source) CROSS JOIN nnn),
         |wdec AS (SELECT source, floor(w)::BIGINT AS n_base,
         |           round((w - floor(w)) * 1000000)::BIGINT AS thresh
         |         FROM mw),
         |dd AS (SELECT doc_id, source,
         |         n_base + CASE WHEN
         |           (('0x' || substr(md5('doremi' || doc_id::VARCHAR),
         |                            1, 8))::BIGINT % 1000000) < thresh
         |           THEN 1 ELSE 0 END AS n_copies
         |       FROM corp JOIN wdec USING (source))
         |SELECT doc_id, source, unnest(range(n_copies))::BIGINT AS __rep
         |FROM dd WHERE n_copies > 0
         |ORDER BY doc_id, __rep""".stripMargin),

    // subword tokenization (greedy longest-match against an explicit
    // vocab): per-doc piece/unk totals. Tokenization runs once per
    // DISTINCT word (Zipf amortization); counts join back by word. The
    // DuckDB oracle replays the greedy walk with a recursive CTE
    Gate("q_subword", (s, d) =>
      graft.operators.Subword.pieceCounts(docs(s, d), "doc_id", "text",
          subwordVocab)
        .select(col("doc").as("doc_id"), col("n_pieces"), col("n_unk"))
        .orderBy("doc_id"),
      // greedy longest-match subword tokenization, replayed in SQL by the
      // recursive CTE; per-doc totals weight each distinct word's piece
      // counts by its occurrence count
      s"""WITH RECURSIVE $tokCte,
         |$subwordRecCte
         |SELECT doc_id, sum(c * np)::BIGINT AS n_pieces,
         |       sum(c * nu)::BIGINT AS n_unk
         |FROM wc JOIN wp USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // corpus piece-frequency table: pins PIECE IDENTITY across engines
    // (agreeing totals could coincide; an agreeing distribution cannot)
    Gate("q_subword_pieces", (s, d) =>
      graft.operators.Subword.pieceFrequencies(docs(s, d), "text",
          subwordVocab)
        .orderBy("piece"),
      s"""WITH RECURSIVE $tokCte,
         |$subwordRecCte,
         |wcw AS (SELECT w, sum(c)::BIGINT AS c FROM wc GROUP BY w),
         |pc AS (SELECT w, unnest(pieces) AS piece FROM wp)
         |SELECT piece, sum(c)::BIGINT AS n
         |FROM wcw JOIN pc USING (w)
         |GROUP BY piece ORDER BY piece""".stripMargin),

    // the TRAINING half: top-40 char 2..4-grams by occurrence-weighted
    // frequency over the distinct-word frame — candidate scoring for a
    // vocab trainer, all codegen (explode(sequence) + substring), top-k
    // as a bounded heap (TakeOrderedAndProject), rk windowed over the
    // 40 survivors only
    Gate("q_subword_vocab", (s, d) =>
      graft.operators.Subword.topNgramPieces(docs(s, d), "text", 2, 4, 40)
        .select(col("piece"), col("n_occ"), col("rk").cast("bigint").as("rk"))
        .orderBy("rk"),
      s"""WITH $tokCte,
         |wcw AS (SELECT w, count(*)::BIGINT AS c
         |        FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
         |cand AS (SELECT substr(w, s + 1, n) AS piece, sum(c)::BIGINT AS n_occ
         |         FROM wcw,
         |              unnest(range(2, 5)) AS ln(n),
         |              unnest(range(0, greatest(len(w) - n + 1, 0))) AS st(s)
         |         GROUP BY piece)
         |SELECT piece, n_occ, rk FROM (
         |  SELECT piece, n_occ,
         |         row_number() OVER (ORDER BY n_occ DESC, piece) AS rk
         |  FROM cand)
         |WHERE rk <= 40 ORDER BY rk""".stripMargin),

    // unigram-LM (SentencePiece-style) Viterbi segmentation: per-doc
    // piece/unk totals + the summed log-prob under a -ln(prime) scored
    // vocab (tie-free by unique factorization). The DuckDB oracle
    // replays the DP as a sliding-window recursive CTE — one code
    // point per iteration, true linear DP, no path enumeration
    Gate("q_unigram", (s, d) =>
      graft.operators.Subword.unigramCounts(docs(s, d), "doc_id", "text",
          unigramVocab.toMap, unigramUnkScore)
        .select(col("doc").as("doc_id"), col("n_pieces"), col("n_unk"),
          col("score"))
        .orderBy("doc_id"),
      // unigram-LM Viterbi DP replayed as a sliding-window recursive CTE
      // (state structs for the last maxPieceLen positions; argmax via
      // list_max over STRUCT(sc,np,nu,ps) — tie-free scores make the
      // tail of that order defensive). Per-word results weight by
      // occurrence, exactly like q_subword
      s"""WITH RECURSIVE $tokCte,
         |$unigramRecCte
         |SELECT doc_id, sum(c * np)::BIGINT AS n_pieces,
         |       sum(c * nu)::BIGINT AS n_unk,
         |       round(sum(c * sc), 4) AS score
         |FROM wc JOIN uwp USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // HF Unigram tokenizer.json interchange gated through APPLIED
    // segmentation (the q_unigram contract): the scored vocab travels
    // export -> import -> re-export (byte-equality required in-gate)
    // and the IMPORTED copy drives unigramCounts — any piece or score
    // the JSON layer corrupts changes a Viterbi path and breaks the
    // oracle hash
    Gate("q_unigram_vocab_io", (s, d) => {
      val json = graft.operators.VocabIO.toHfUnigramJson(
        unigramVocab, unkId = Some(0))
      val (imported, unk) = graft.operators.VocabIO.fromHfUnigramJson(json)
      require(imported == unigramVocab && unk.contains(0) &&
        graft.operators.VocabIO.toHfUnigramJson(imported, unk) == json,
        "unigram tokenizer.json round-trip drifted")
      graft.operators.Subword.unigramCounts(docs(s, d), "doc_id", "text",
          imported.toMap, unigramUnkScore)
        .select(col("doc").as("doc_id"), col("n_pieces"), col("n_unk"),
          col("score"))
        .orderBy("doc_id")
    },
      // identical DP to q_unigram — the gate's Spark side segments with
      // the vocab AFTER an export->import round-trip through the HF
      // Unigram tokenizer.json layer, so a hash match here certifies the
      // JSON layer preserved every piece and score bit-exactly
      s"""WITH RECURSIVE $tokCte,
         |$unigramRecCte
         |SELECT doc_id, sum(c * np)::BIGINT AS n_pieces,
         |       sum(c * nu)::BIGINT AS n_unk,
         |       round(sum(c * sc), 4) AS score
         |FROM wc JOIN uwp USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // the Viterbi PATH itself: corpus piece frequencies pin piece
    // identity across engines (agreeing totals could coincide; an
    // agreeing distribution cannot) — and Viterbi genuinely diverges
    // from greedy here ("value" -> val+ue, not va+lu+e)
    Gate("q_unigram_pieces", (s, d) =>
      graft.operators.Subword.unigramPieceFrequencies(docs(s, d), "text",
          unigramVocab.toMap, unigramUnkScore)
        .orderBy("piece"),
      s"""WITH RECURSIVE $tokCte,
         |$unigramRecCte,
         |uwcw AS (SELECT w, sum(c)::BIGINT AS c FROM wc GROUP BY w),
         |upc AS (SELECT w, unnest(ps) AS piece FROM uwp)
         |SELECT piece, sum(c)::BIGINT AS n
         |FROM uwcw JOIN upc USING (w)
         |GROUP BY piece ORDER BY piece""".stripMargin),

    // unigram-LM TRAINING (SentencePiece hard EM, Kudo '18): 60 seed
    // 2..4-gram candidates + every corpus code point, two Viterbi-EM
    // rounds with a likelihood-loss prune to 40 multi-char pieces
    // between them, gated through the APPLIED SEGMENTATION (the
    // q_bpe_merges pattern): the learned vocab re-segments the corpus
    // and the per-doc BIGINT totals must match the oracle's replay of
    // seed + EM + prune + apply (three instances of the same generated
    // DP CTE as q_unigram). round6 score quantization at every M-step
    // is the cross-engine contract that makes DP path sums bit-equal.
    Gate("q_unigram_train", (s, d) => {
      val dd = docs(s, d)
      val vocab = graft.operators.Subword.trainUnigram(
        dd, "text", 60, 40, 2, 4, 2, unigramUnkScore).toMap
      graft.operators.Subword.unigramCounts(dd, "doc_id", "text", vocab,
          unigramUnkScore)
        .select(col("doc").as("doc_id"), col("n_pieces"), col("n_unk"))
        .orderBy("doc_id")
    },
      // the full trainer replay: seeds + singles -> EM1 -> loss prune ->
      // EM2 -> apply, three generated DP CTEs (see unigramTrainOracleSql)
      unigramTrainOracleSql(60, 40)),

    // the SOFT-EM trainer (Kudo '18's actual E-step, closing the
    // documented hard-EM divergence): two forward-backward EM rounds —
    // expected piece counts on the 1e-6 micro-occurrence grid, every
    // alpha/beta cell round-6 log-sum-exp-quantized — then the same
    // prune and the same hard-Viterbi APPLY as q_unigram_train. The
    // oracle replays both soft E-steps as recursive forward+backward
    // CTEs plus the final Viterbi DP
    Gate("q_unigram_train_soft", (s, d) => {
      val dd = docs(s, d)
      val vocab = graft.operators.Subword.trainUnigram(
        dd, "text", 60, 40, 2, 4, 2, unigramUnkScore, soft = true).toMap
      graft.operators.Subword.unigramCounts(dd, "doc_id", "text", vocab,
          unigramUnkScore)
        .select(col("doc").as("doc_id"), col("n_pieces"), col("n_unk"))
        .orderBy("doc_id")
    },
      // seed -> soft-EM1 -> prune -> soft-EM2 -> hard apply: two
      // generated forward-backward E-steps + one Viterbi DP (see
      // unigramTrainSoftOracleSql)
      unigramTrainSoftOracleSql(60, 40)),

    // BPE ENCODE (inference by rank-ordered merges, the apply half of
    // q_bpe_merges): per-doc piece totals under a fixed 8-rule list
    // with composing rules — rank order matters and both engines must
    // apply it identically
    Gate("q_bpe_encode", (s, d) =>
      graft.operators.Subword.bpeEncode(docs(s, d), "doc_id", "text",
          bpeGateMerges)
        .orderBy("doc"),
      bpeEncodeOracleSql),

    // HF BPE tokenizer.json interchange gated through APPLIED
    // segmentation (the q_unigram_vocab_io pattern): the merge list
    // travels export -> import -> re-export (byte-equality required
    // in-gate) and the IMPORTED rules drive bpeEncode — any rule the
    // JSON layer drops, reorders or corrupts changes a segmentation and
    // breaks the q_bpe_encode oracle
    Gate("q_bpe_encode_large", (s, d) => {
      val pieces = bpeGateMerges.map { case (l, r) => l + r }
      val json = graft.operators.VocabIO.toHfBpeJson(pieces, bpeGateMerges)
      val (vocab, imported) = graft.operators.VocabIO.fromHfBpeJson(json)
      require(vocab == pieces && imported == bpeGateMerges &&
        graft.operators.VocabIO.toHfBpeJson(vocab, imported) == json,
        "BPE tokenizer.json round-trip drifted")
      graft.operators.Subword.bpeEncode(docs(s, d), "doc_id", "text",
          imported)
        .orderBy("doc")
    },
      bpeEncodeOracleSql),

    // the tokenizer's OUTPUT artifact: every document as its sequence
    // of frequency-ranked vocabulary ids, pieces in document order.
    // Gated as exploded (doc, pos, id) SCALAR rows — the array form is
    // equivalent but the driver's pandas comparator cannot sort an
    // array-typed cell (r12's q_encode_ids err), and exploded rows pin
    // the same facts: piece identity, id assignment, and ordering.
    Gate("q_encode_ids", (s, d) => {
      val dd = docs(s, d)
      val vocab = graft.operators.Subword.vocabTable(dd, "text",
        bpeGateMerges)
      graft.operators.Subword.encodeToIds(dd, "doc_id", "text",
          bpeGateMerges, vocab)
        .select(col("doc"), posexplode(col("ids")).as(Seq("pos", "id")))
        .select(col("doc"), (col("pos") + 1).cast("long").as("pos"),
          col("id").cast("long").as("id"))
        .orderBy("doc", "pos")
    },
      // per-token positions via lateral range, per-word segmentation via
      // the delimited-replace apply, vocab ids by (freq desc, piece),
      // sequence positions via row_number over (token pos, piece pos) —
      // exploded scalar rows, mirroring the Spark side's posexplode
      s"""WITH $tokCte,
         |wcw AS (SELECT w, count(*)::BIGINT AS c
         |        FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
         |freq AS (SELECT piece, sum(c)::BIGINT AS n
         |         FROM (SELECT unnest($bpeApplySql) AS piece, c FROM wcw)
         |         GROUP BY piece),
         |vocab AS (SELECT piece,
         |            (row_number() OVER (ORDER BY n DESC, piece) - 1)::BIGINT
         |              AS id
         |          FROM freq),
         |wp AS (SELECT w, $bpeApplySql AS pieces FROM (SELECT w FROM wcw)),
         |tw AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) AS tp,
         |             unnest(tk) AS w FROM t),
         |pieces AS (SELECT tw.doc_id, tw.tp, v.i AS pp,
         |             list_extract(wp.pieces, v.i) AS piece
         |           FROM tw JOIN wp USING (w),
         |                unnest(range(1, len(wp.pieces) + 1)) AS v(i))
         |SELECT doc_id AS doc,
         |       (row_number() OVER (PARTITION BY doc_id ORDER BY tp, pp))::BIGINT
         |         AS pos,
         |       id
         |FROM pieces JOIN vocab USING (piece)
         |ORDER BY doc, pos""".stripMargin),

    // decode-inverts-encode certificate: every document's id stream,
    // decoded through the vocab, must reproduce its boundary-free token
    // concatenation — pins posexplode ordering, the id<->piece
    // bijection, and that the vocab inner join drops nothing. Docs
    // with no tokens (empty or null text) decode to "" by convention.
    Gate("q_decode_roundtrip", (s, d) => {
      val dd = docs(s, d)
      val vocab = graft.operators.Subword.vocabTable(dd, "text",
        bpeGateMerges)
      val enc = graft.operators.Subword.encodeToIds(dd, "doc_id", "text",
        bpeGateMerges, vocab)
      val dec = graft.operators.Subword.decodeIds(enc, "doc", "ids", vocab)
      dd.select(col("doc_id"),
          concat_ws("", TF.tokens(col("text"))).as("orig"))
        .join(dec, col("doc_id") === col("doc"), "left")
        .select(col("doc_id"),
          length(coalesce(col("decoded"), lit(""))).cast("long")
            .as("n_decoded_chars"),
          (coalesce(col("decoded"), lit("")) ===
            coalesce(col("orig"), lit(""))).as("roundtrip_ok"))
        .orderBy("doc_id")
    },
      // decode replay: the same per-word segmentation, reassembled in
      // (token, piece) order and compared to the boundary-free token
      // concatenation — the id round trip itself is bijective by the
      // vocab construction, so the replay goes piece-direct
      s"""WITH $tokCte,
         |wcw AS (SELECT w, count(*)::BIGINT AS c
         |        FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
         |wp AS (SELECT w, $bpeApplySql AS pieces FROM (SELECT w FROM wcw)),
         |tw AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) AS tp,
         |             unnest(tk) AS w FROM t),
         |pieces AS (SELECT tw.doc_id, tw.tp, v.i AS pp,
         |             list_extract(wp.pieces, v.i) AS piece
         |           FROM tw JOIN wp USING (w),
         |                unnest(range(1, len(wp.pieces) + 1)) AS v(i)),
         |dec AS (SELECT doc_id,
         |          string_agg(piece, '' ORDER BY tp, pp) AS decoded
         |        FROM pieces GROUP BY doc_id)
         |SELECT t.doc_id,
         |  length(coalesce(dec.decoded, ''))::BIGINT AS n_decoded_chars,
         |  (coalesce(dec.decoded, '')
         |     = coalesce(array_to_string(tk, ''), '')) AS roundtrip_ok
         |FROM t LEFT JOIN dec USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // piece IDENTITY under the same merges: the corpus piece
    // distribution, not just counts — two different segmentations of
    // equal length cannot both match it
    Gate("q_bpe_freq", (s, d) =>
      graft.operators.Subword.bpePieceFrequencies(docs(s, d), "text",
          bpeGateMerges)
        .orderBy("piece"),
      s"""WITH $tokCte,
         |wcw AS (SELECT w, count(*)::BIGINT AS c
         |        FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w)
         |SELECT piece, sum(c)::BIGINT AS n
         |FROM (SELECT unnest($bpeApplySql) AS piece, c FROM wcw)
         |GROUP BY piece ORDER BY piece""".stripMargin),

    // BPE merge TRAINING: 6 rounds of occurrence-weighted pair counting
    // + argmax + merge application over the distinct-word frame, gated
    // through the APPLIED SEGMENTATION (the q_bpe_encode pattern): the
    // learned rules re-encode the corpus and the per-doc piece totals
    // must match the oracle's replay of the same 6 training rounds +
    // apply. What this pins: any argmax divergence that changes the
    // final segmentation (including rank-order changes of INTERACTING
    // rules — this corpus's rule 6 (m,er) composes on rule 1 (e,r)).
    // What it deliberately does not: a rank swap of non-interacting
    // rules or a pair_count-only divergence with the same winner is
    // invisible by construction — the price of a BIGINT-only output
    // (no rule strings, no uncast aggregates), the shape that survived
    // two rounds of driver-DuckDB rendering drift where the rule-string
    // output hash-flipped. SubwordSpec pins rank order itself against
    // hand corpora. The rule collect is 6 rows by contract.
    Gate("q_bpe_merges", (s, d) => {
      val dd = docs(s, d)
      val rules = graft.operators.Subword.trainBpeMerges(dd, "text", 6)
        .orderBy("rk").collect()
        .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
      graft.operators.Subword.bpeEncode(dd, "doc_id", "text", rules)
        .orderBy("doc")
    },
      // occurrence-weighted char-ngram candidates via a correlated lateral
      // unnest over the distinct-word frame — same weighting as the Spark
      // side's explode(sequence) walk
      bpeOracleSql(6)),

    // corpus n-gram frequency table (top 100, deterministic tie-break)
    Gate("q_ngram_freq", (s, d) =>
      docs(s, d)
        .select(explode(TF.wordShingles(col("text"), 2)).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram").asc)
        .limit(100),
      s"""WITH $tokCte
         |SELECT ngram, count(*) AS n FROM (
         |  SELECT DISTINCT doc_id, bg AS ngram
         |  FROM ${ngramRowsSql("t", 2)})
         |GROUP BY ngram ORDER BY n DESC, ngram ASC LIMIT 100""".stripMargin),

    // exact corpus heavy hitters (bigrams with share >= 0.15%) via the
    // two-pass Misra-Gries + recount shape: the bigram stream is scanned
    // twice but NEVER shuffled — only O(partitions/minShare) candidates
    // leave the executors. Exact threshold recount makes the result
    // partition-invariant (CorpusStatsSpec pins this).
    Gate("q_heavy_hitters", (s, d) =>
      operators.CorpusStats.heavyHitters(
        docs(s, d).select(explode(TF.wordNgramsAll(col("text"), 2)).as("item")),
        "item", minShare = 0.0015)
        .orderBy("item"),
      // exact threshold over ALL bigram occurrences (non-distinct, unlike
      // q_ngram_freq) — the MG candidate pass is invisible to the result
      s"""WITH $tokCte,
        |bg AS (SELECT bg AS item FROM ${ngramRowsSql("t", 2)}),
        |tot AS (SELECT count(*) AS t FROM bg)
        |SELECT item, count(*) AS n,
        |       round(count(*) / (SELECT t FROM tot), 6) AS share
        |FROM bg GROUP BY item
        |HAVING count(*) >= ceil(0.0015 * (SELECT t FROM tot))
        |ORDER BY item""".stripMargin),

    // per-source vocabulary cardinality: exact distinct count + an
    // in-query certificate that the HLL++ sketch (the only affordable
    // form at 100 TB — fixed-size registers, map-side mergeable, item
    // stream never shuffles) lands within 5%. Oracle emits the exact
    // count and TRUE.
    // spread before the bigram explode: the certificate's per-row work
    // (HLL register updates at rsd 0.01 + the countDistinct Expand
    // duplication) ran on the 2-task documents scan — 3.8 s of task
    // time serialized into 4.6 s of wall (measured under the noop
    // action; count() had pruned both aggregates, hiding it)
    Gate("q_approx_distinct", (s, d) =>
      operators.CorpusStats.distinctCertificate(
        graft.util.Parallelism.spread(docs(s, d)).select(col("source"),
          explode(TF.wordNgramsAll(col("text"), 2)).as("item")),
        "source", "item")
        .orderBy("source"),
      // the sketch column is certified in-query (rsd 0.01 vs 5% tolerance);
      // the oracle checks the exact count and expects the certificate TRUE
      s"""WITH $tokCte,
         |bg AS (SELECT d2.source, r.bg AS item
         |       FROM ${ngramRowsSql("t", 2)} r
         |       JOIN documents d2 USING (doc_id))
         |SELECT source, count(DISTINCT item) AS exact_distinct,
         |       TRUE AS approx_ok
         |FROM bg GROUP BY source ORDER BY source""".stripMargin),

    // MERGEABLE distinct sketches across ingest days: three per-day
    // HLL sketch frames union into one, the merged estimate is
    // certified within 5% of exact AND bit-equal to the single-pass
    // sketch (register-max union is associative) — the incremental
    // primitive that answers day-range distincts without re-scans
    Gate("q_distinct_incremental", (s, d) => {
      val items = docs(s, d).select(col("source"),
        pmod(col("doc_id"), lit(3)).as("__day"),
        explode(TF.tokens(col("text"))).as("w"))
      val daily = (0 until 3).map(k =>
        operators.CorpusStats.distinctSketches(
          items.where(col("__day") === k), "source", "w"))
      val merged = operators.CorpusStats.mergeDistinctSketches(
        daily.reduce(_ unionAll _), "source")
      val mergedEst = operators.CorpusStats.estimateDistinct(
        merged, "source").withColumnRenamed("estimate", "__m")
      val singleEst = operators.CorpusStats.estimateDistinct(
        operators.CorpusStats.distinctSketches(items, "source", "w"),
        "source").withColumnRenamed("estimate", "__s")
      items.groupBy("source")
        .agg(countDistinct(col("w")).as("exact_distinct"))
        // null-safe joins: a null-source stratum keeps its certificate
        // row (a string-Seq join would silently drop it)
        .join(mergedEst.withColumnRenamed("source", "__ms"),
          col("source") <=> col("__ms")).drop("__ms")
        .join(singleEst.withColumnRenamed("source", "__ss"),
          col("source") <=> col("__ss")).drop("__ss")
        .select(col("source"), col("exact_distinct"),
          (abs(col("__m") - col("exact_distinct")) <=
            lit(0.05) * col("exact_distinct") &&
            col("__m") === col("__s")).as("merged_ok"))
        .orderBy("source")
    },
      // exact per-source distinct tokens; the merged-sketch certificate
      // (5% of exact AND merged == single-pass) must come back TRUE
      s"""WITH $tokCte
         |SELECT source, count(DISTINCT w) AS exact_distinct,
         |       TRUE AS merged_ok
         |FROM (SELECT d2.source, unnest(t.tk) AS w
         |      FROM t JOIN documents d2 ON t.doc_id = d2.doc_id)
         |GROUP BY source ORDER BY source""".stripMargin),

    // per-source length quantiles: exact interpolated p50/p90 (matching
    // quantile_cont, oracle-comparable) + rank certificates that the
    // quantile SKETCH's picks land within +-10% rank. Same certificate
    // pattern as q_knn_ivf_trained's recall column.
    Gate("q_approx_quantiles", (s, d) =>
      operators.CorpusStats.quantileCertificate(docs(s, d), "source", "n_chars")
        .orderBy("source"),
      // quantile_cont matches Spark's exact `percentile` interpolation;
      // the sketch's rank certificates must come back TRUE
      """SELECT source, count(*) AS n,
        |       round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |       round(quantile_cont(n_chars, 0.9), 4) AS p90,
        |       TRUE AS ok_p50, TRUE AS ok_p90
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)
  )
}
