package graft.gates

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.operators.PersistedIndex
import graft.util.FsUtil
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Helpers, the one memo and the DuckDB CTE builders that more than one
  * gate family (or SparkEntry) uses. Family objects import it; it
  * imports none of them, so no object-initialisation cycle can form. */
private[graft] object GateSupport {

  def ev(s: SparkSession, d: String): DataFrame = Tables.events(s, d)
  def li(s: SparkSession, d: String): DataFrame = Tables.lineitem(s, d)
  def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  /** Documents with a unique md5 island spliced in at char 61 — the
    * q_dedup_spans/_cut fixture derivation (pool-word fixture text
    * repeats almost everywhere, so without the island every doc would
    * be one full-length span and the interval merge would never branch;
    * the oracle's `t2` CTE derives the same bytes). */
  def islandDocs(dn: DataFrame): DataFrame =
    dn.select(col("doc_id"),
      concat(col("text").substr(lit(1), lit(60)), lit("["),
        md5(concat(lit("u"), col("doc_id").cast("string")).cast("binary")),
        lit("]"), col("text").substr(lit(61), length(col("text"))))
        .as("text"))

  def emb(s: SparkSession, d: String): DataFrame = Tables.embeddings(s, d)

  // the sanitation rule is load-bearing for table-name collision safety
  // — one definition, used by every index-backed gate
  private def idxTag(s: SparkSession, d: String): String =
    (s.sparkContext.applicationId + "_" + d).replaceAll("[^A-Za-z0-9]", "_")

  /** Everything a gate builds once per (session, sf-dir) and reuses:
    * persisted indexes, the stream-join replays and the DoReMi weights.
    * Keys carry the session and sf-dir, so do index table names and
    * paths: a shared name would let a second sf-dir in the same session
    * overwrite the tables behind the first dir's memoized handle —
    * silently wrong results, no error. */
  private val memo = new ConcurrentHashMap[String, AnyRef]()

  /** `build` for `key` in this session and sf-dir, run once. A build
    * must not call `memoized` itself (a ConcurrentHashMap compute may
    * not update its own map). */
  def memoized[T <: AnyRef](key: String, s: SparkSession, d: String)(
      build: => T): T =
    memo.computeIfAbsent(key + "|" + idxTag(s, d), _ => build)
      .asInstanceOf[T]

  /** The `kind` index for this session and sf-dir, built by
    * `build(name, path)` on first use: table name
    * `graft_<kind>_idx_<tag>`, directory
    * `<java.io.tmpdir>/graft-<kind>-idx-<tag>`. A build that mutates its
    * tables (a fold-in) needs a kind of its own, never a shared handle. */
  def memoIndex[I <: PersistedIndex](kind: String, s: SparkSession,
      d: String)(build: (String, String) => I): I = {
    val tag = idxTag(s, d)
    memoized(kind, s, d)(build(s"graft_${kind}_idx_$tag",
      s"${sys.props("java.io.tmpdir")}/graft-$kind-idx-$tag"))
  }

  /** Drop every memoized index (tables and backing directory), unpersist
    * every memoized replay, then forget them all. */
  def dropMemos(spark: SparkSession): Unit = {
    memo.values.asScala.foreach {
      case i: PersistedIndex => i.drop(spark)
      case ds: Dataset[_] => ds.unpersist()
      case _ =>
    }
    memo.clear()
  }

  // orphan guard for every consumer that never calls dropMemos (specs,
  // shell probes, a harness that dies mid-run): at JVM exit, delete the
  // memoized indexes' backing directories. File-only (no Spark calls —
  // the session and its in-memory catalog are already dying with the
  // JVM), best-effort by FsUtil contract.
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      memo.values.asScala.foreach {
        case i: PersistedIndex =>
          FsUtil.deleteRecursively(java.nio.file.Paths.get(i.path))
        case _ =>
      }, "graft-index-cleanup"))
  }

  // ONE full-outer stream-stream replay serves all four join-type
  // gates (r15 judge item: the four near-identical chunked replays
  // were ~34 s of a 105 s suite). Soundness of the projection split:
  // the full-outer emission set is matched ∪ left-evicted ∪
  // right-evicted; matches are identical across join types and each
  // side's null-padded eviction rows obey that side's bound
  // INDEPENDENTLY of join type, so inner = both ids non-null, left =
  // l_id non-null, right = r_id non-null — exact, because event_id is
  // never null (the only nullable replay column is the key, and
  // null-key rows surface as eviction rows with their side's id set).
  // Each gate keeps its OWN independent DuckDB oracle derivation, and
  // StreamingJoinsSpec still drives every joinType through the real
  // streaming plan. Memoized per (session, sf-dir) like the index
  // gates; result is small (pairs + evictions), persisted in memory.
  def ssjReplay(s: SparkSession, d: String, joinType: String): DataFrame =
    memoized("ssj_" + joinType, s, d) {
      implicit val ss: SparkSession = s
      val e = ev(s, d)
      val chunk = graft.streaming.ReplayChunks.byTime(e, "ts", 4)
      val out = graft.streaming.StreamingJoins.intervalJoinReplay(
          e.where(col("event_type") === "click"),
          e.where(col("event_type") === "purchase"),
          "ts", "user_id", "event_id", chunk, 4, "1 hour", "2 hours",
          joinType = joinType)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count() // materialize once, inside the compute
      out
    }
  def ssjFullReplay(s: SparkSession, d: String): DataFrame =
    ssjReplay(s, d, "full_outer")

  /** O(total tokens) word n-gram OCCURRENCE rows from a token-list CTE:
    * zip-unnest pairs each token with its position, `lead` builds the
    * gram, QUALIFY drops the ragged tail. This replaces the
    * `list_transform(range, i -> tk[i+1:i+n])` form everywhere: DuckDB
    * evaluates each per-position slice against the WHOLE list, so that
    * shape is O(tokens^2) per document — invisible on the ~550-char
    * fixture docs, a 30-minute stall on the round-14 long-document
    * sweep's 300k-char documents (tools/longdoc_sweep.py). Emits
    * ($docCol, p, gram) with identical gram strings and multiplicities
    * (tokens are non-empty and non-null, so a NULL gram appears exactly
    * at the last n-1 positions). */
  def ngramRowsSql(src: String, n: Int,
                   docCol: String = "doc_id",
                   gram: String = "bg"): String = {
    val cat = ("tok" +: (1 until n).map(j => s"lead(tok, $j) OVER w"))
      .mkString(" || ' ' || ")
    s"""(SELECT $docCol, p, $cat AS $gram
       |   FROM (SELECT $docCol, unnest(tk) AS tok,
       |                unnest(range(1, len(tk) + 1)) AS p FROM $src)
       |   WINDOW w AS (PARTITION BY $docCol ORDER BY p)
       |   QUALIFY $gram IS NOT NULL)""".stripMargin
  }

  val swEn = "'the','a','of','and','to','in','is','that','it','for'"
  val swDe = "'der','die','das','und','ist','nicht','ein','mit','auf','für'"
  val swFr = "'le','la','les','et','est','un','une','dans','que','pour'"
  val swEs = "'el','la','los','las','y','es','un','una','que','por'"
  val swAll = ((swEn + "," + swDe + "," + swFr + "," + swEs)
    .split(",").map(_.trim).distinct).mkString(",")

  /** Shared oracle fragment for q_dedup_spans/_cut: the island-text
    * derivation (islandDocs), every-position 20-gram md5s, the >1x
    * gram filter, and the per-doc gaps-and-islands interval merge
    * ending in `spans(doc_id, span_start, span_end)` — plus `t2` for
    * the cut replay to join back to. */
  val dupSpansCte = {
    // g = md5 of the 20-char window at pos, built LINEARLY: split the
    // text into char rows ONCE, window-lead the next 19 chars, concat.
    // The naive per-position substr(text, i, 20) pays an O(i) head
    // scan per call in DuckDB exactly as in Spark (the SCALE.md
    // round-15 quadratic class) — hours on a 10 MB document. The split
    // must land in its OWN CTE (cl) so unnest consumes a COLUMN: with
    // string_split inline under the unnest, DuckDB re-evaluates the
    // split per output vector — 98 s -> 19 s at the 10 MB fixture
    // (the cdcChunksSql __c/__p shape, same lesson).
    val leads = (1 until 20).map(j => s"lead(c, $j) OVER w")
      .mkString(" || ")
    s"""t2 AS (
      |  SELECT doc_id,
      |    substr(text, 1, 60) || '[' || md5('u' || doc_id::VARCHAR) ||
      |    ']' || substr(text, 61) AS text
      |  FROM documents),
      |cl AS (
      |  SELECT doc_id, len(text) AS n, string_split(text, '') AS chs
      |  FROM t2 WHERE len(text) >= 20),
      |ch AS (
      |  SELECT doc_id, unnest(range(1, n + 1)) AS pos, unnest(chs) AS c
      |  FROM cl),
      |g AS (
      |  SELECT doc_id, pos::BIGINT AS pos, md5(c || $leads) AS g
      |  FROM ch
      |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY lead(c, 19) OVER w IS NOT NULL),
      |dup AS (SELECT g FROM g GROUP BY g HAVING count(*) > 1),
      |h AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
      |m AS (SELECT doc_id, pos,
      |        max(pos + 19) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |          AS prev_end
      |      FROM h),
      |isl AS (SELECT doc_id, pos,
      |          sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
      |                   THEN 1 ELSE 0 END) OVER (
      |            PARTITION BY doc_id ORDER BY pos) AS island
      |        FROM m),
      |spans AS (SELECT doc_id, min(pos)::BIGINT AS span_start,
      |                 (max(pos) + 19)::BIGINT AS span_end
      |          FROM isl GROUP BY doc_id, island)""".stripMargin
  }

  val tokCte =
    """t AS (SELECT doc_id, text,
      |             list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
      |                         x -> x <> '') tk
      |      FROM documents)""".stripMargin

  /** `base(doc_id, toks)` and `chunks(doc_id, cidx, <alias>)`: every
    * document's tokens regrouped into `n`-token passages, the DuckDB
    * replay of TextFunctions.tokenLines. Linear zip-unnest form: token p
    * belongs to passage (p-1)//n (a per-passage list slice re-copies the
    * whole token list per chunk row, quadratic in document length). */
  def tokenGroupsCte(n: Int, alias: String): String =
    raw"""base AS (
         |  SELECT doc_id,
         |         list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
         |                     x -> x <> '') AS toks
         |  FROM documents
         |), chunks AS (
         |  SELECT doc_id, ((p - 1) // $n)::BIGINT AS cidx,
         |         string_agg(tok, ' ' ORDER BY p) AS $alias
         |  FROM (SELECT doc_id, unnest(toks) AS tok,
         |               unnest(range(1, len(toks) + 1)) AS p FROM base)
         |  GROUP BY doc_id, ((p - 1) // $n))""".stripMargin

  /** TextFunctions.punctRatio of `text` as a DuckDB expression. */
  def punctRatioSql(text: String): String =
    s"""CASE WHEN length($text) > 0 THEN
       |    len(regexp_extract_all($text, '[!-/:-@\\[-`{-~]'))::DOUBLE
       |      / length($text)
       |  ELSE 0.0 END""".stripMargin

  /** TextFunctions.stopwordRatio of token list `tk` as a DuckDB
    * expression. */
  def stopwordRatioSql(tk: String): String =
    s"""CASE WHEN len($tk) > 0 THEN
       |    len(list_filter($tk, x -> x IN ($swAll)))::DOUBLE / len($tk)
       |  ELSE 0.0 END""".stripMargin

  /** `<alias>(doc_id, pr, swr, ntok)` over the token CTE `t`: the inputs
    * of [[qualityScoreSql]]. */
  def qualityMetricsCte(alias: String): String =
    s"""$alias AS (SELECT doc_id,
       |  ${punctRatioSql("text")} AS pr,
       |  ${stopwordRatioSql("tk")} AS swr,
       |  len(tk) AS ntok
       |  FROM t)""".stripMargin

  /** TextFunctions.qualityScore over columns `pr`, `swr` and `ntok`,
    * unrounded. */
  val qualityScoreSql: String =
    """0.4 * least(ntok::DOUBLE / 100.0, 1.0)
      |      + 0.3 * (1.0 - least(pr * 5.0, 1.0))
      |      + 0.3 * least(swr * 4.0, 1.0)""".stripMargin

  /** `<alias>(doc_id, n, mean_len, sym_ratio, alpha_frac, stop_hits,
    * bullet_frac, ellipsis_frac)` over the token CTE `t`: the metrics of
    * TextFunctions.gopherFlags (Rae et al. 2021 App. A). Mean word
    * length counts CODE POINTS (DuckDB length(); strlen counts bytes
    * and diverges on multibyte text). */
  def gopherMetricsCte(alias: String): String =
    s"""$alias AS (SELECT doc_id, n, mean_len, sym_ratio, alpha_frac,
       |  stop_hits,
       |  CASE WHEN len(ls) > 0 THEN
       |    len(list_filter(ls, l -> starts_with(l, '•')
       |          OR starts_with(l, '-') OR starts_with(l, '*')))::DOUBLE
       |      / len(ls)
       |  ELSE 0.0 END AS bullet_frac,
       |  CASE WHEN len(ls) > 0 THEN
       |    len(list_filter(ls, l -> ends_with(l, '...')
       |          OR ends_with(l, '…')))::DOUBLE / len(ls)
       |  ELSE 0.0 END AS ellipsis_frac
       |  FROM (SELECT doc_id,
       |    len(tk) AS n,
       |    CASE WHEN len(tk) > 0 THEN
       |      list_sum(list_transform(tk, x -> length(x)))::DOUBLE / len(tk)
       |    ELSE 0.0 END AS mean_len,
       |    CASE WHEN len(tk) > 0 THEN
       |      (len(regexp_extract_all(text, '#'))
       |       + len(regexp_extract_all(text, '\\.\\.\\.'))
       |       + len(regexp_extract_all(text, '…')))::DOUBLE / len(tk)
       |    ELSE 0.0 END AS sym_ratio,
       |    list_filter(list_transform(string_split(text, chr(10)),
       |                               l -> trim(l)),
       |                l -> strlen(l) > 0) AS ls,
       |    CASE WHEN len(tk) > 0 THEN
       |      len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
       |        / len(tk)
       |    ELSE 0.0 END AS alpha_frac,
       |    ((CASE WHEN list_contains(tk, 'the') THEN 1 ELSE 0 END) +
       |     (CASE WHEN list_contains(tk, 'be') THEN 1 ELSE 0 END) +
       |     (CASE WHEN list_contains(tk, 'to') THEN 1 ELSE 0 END) +
       |     (CASE WHEN list_contains(tk, 'of') THEN 1 ELSE 0 END) +
       |     (CASE WHEN list_contains(tk, 'and') THEN 1 ELSE 0 END) +
       |     (CASE WHEN list_contains(tk, 'that') THEN 1 ELSE 0 END) +
       |     (CASE WHEN list_contains(tk, 'have') THEN 1 ELSE 0 END) +
       |     (CASE WHEN list_contains(tk, 'with') THEN 1 ELSE 0 END))
       |      AS stop_hits
       |    FROM t))""".stripMargin

  /** The Gopher pass conjunction over [[gopherMetricsCte]]'s columns.
    * Thresholds compare as DOUBLEs: a bare 0.1 is a DECIMAL literal in
    * DuckDB, and a ratio exactly on a boundary would flip between
    * decimal-exact and IEEE comparison semantics. */
  val gopherPassSql: String =
    """(n >= 50 AND n <= 100000
      |   AND mean_len >= CAST(3.0 AS DOUBLE)
      |   AND mean_len <= CAST(10.0 AS DOUBLE)
      |   AND sym_ratio <= CAST(0.1 AS DOUBLE)
      |   AND bullet_frac <= CAST(0.9 AS DOUBLE)
      |   AND ellipsis_frac <= CAST(0.3 AS DOUBLE)
      |   AND alpha_frac >= CAST(0.8 AS DOUBLE)
      |   AND stop_hits >= 2)""".stripMargin
}
