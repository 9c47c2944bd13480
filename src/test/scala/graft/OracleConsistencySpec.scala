package graft

import org.scalatest.funsuite.AnyFunSuite

/** Tripwire for the oracle SQL fragments several gates share: the
  * quality-score formula, the Gopher rule thresholds and the n-token
  * line regrouping. Each is built once in graft.gates.GateSupport and
  * interpolated into every carrier; this spec asserts every rendered
  * oracle still carries the same whitespace-normalized text, and pins
  * the carrier counts so a new hand-written copy registers here too.
  * No Spark session needed. */
class OracleConsistencySpec extends AnyFunSuite {

  private def norm(s: String): String = s.replaceAll("\\s+", " ")

  test("the quality-score formula is identical in every oracle copy") {
    val core = norm(
      """0.4 * least(ntok::DOUBLE / 100.0, 1.0)
        |      + 0.3 * (1.0 - least(pr * 5.0, 1.0))
        |      + 0.3 * least(swr * 4.0, 1.0)""".stripMargin)
    val carriers = SparkEntry.oracleSql.filter(_._2.contains("0.4 * least"))
    // pin the copy count so a NEW inlined copy registers here too
    assert(carriers.size == 6, s"carriers: ${carriers.keys.toSeq.sorted}")
    carriers.foreach { case (name, sql) =>
      assert(norm(sql).contains(core),
        s"$name's quality formula drifted from the canonical text")
    }
  }

  test("the Gopher rule thresholds are identical in every oracle copy") {
    val fragments = Seq(
      "n >= 50 AND n <= 100000",
      "mean_len >= CAST(3.0 AS DOUBLE)",
      "mean_len <= CAST(10.0 AS DOUBLE)",
      "sym_ratio <= CAST(0.1 AS DOUBLE)",
      "<= CAST(0.9 AS DOUBLE)",
      "<= CAST(0.3 AS DOUBLE)",
      "alpha_frac >= CAST(0.8 AS DOUBLE)",
      "stop_hits >= 2",
      // and the metric definitions feeding them — mean word length in
      // CODE POINTS (DuckDB length(); strlen counts BYTES and diverges
      // on multibyte text — the round-14 unicode-sweep finding)
      "list_sum(list_transform(tk, x -> length(x)))",
      "regexp_extract_all(text, '#')")
    val carriers = SparkEntry.oracleSql.filter(_._2.contains("stop_hits"))
    assert(carriers.keys.toSet == Set("q_quality_gopher", "q_calibration"),
      s"carriers: ${carriers.keys.toSeq.sorted}")
    carriers.foreach { case (name, sql) =>
      val n = norm(sql)
      fragments.foreach { f =>
        assert(n.contains(norm(f)),
          s"$name's Gopher block drifted: missing `$f`")
      }
    }
  }

  test("the 8-token line regrouping CTE is identical in every oracle copy") {
    // base (tokenize) + chunks (8-token lines) are inlined in the three
    // line-dedup oracles; the delivery capstone must keep replaying the
    // SAME lines the standalone gates verify
    val base = norm(
      """list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
        |                     x -> x <> '') AS toks""".stripMargin)
    val chunk8 = norm(
      """SELECT doc_id, ((p - 1) // 8)::BIGINT AS cidx,
        |         string_agg(tok, ' ' ORDER BY p) AS line""".stripMargin)
    val carriers = Seq("q_dedup_lines", "q_dedup_lines_incr",
      "q_delivery_pipeline")
    carriers.foreach { name =>
      val n = norm(SparkEntry.oracleSql(name))
      assert(n.contains(base), s"$name's tokenize CTE drifted")
      assert(n.contains(chunk8), s"$name's 8-token line CTE drifted")
    }
    // the within-doc keeper rule is shared by the capstone and the
    // standalone removal gate (2-token there, but the keeper expression
    // itself must stay identical)
    val keeper = norm("min(cidx) OVER (PARTITION BY doc_id, line) AS keeper")
    Seq("q_drop_repeated_lines", "q_delivery_pipeline").foreach { name =>
      assert(norm(SparkEntry.oracleSql(name)).contains(keeper),
        s"$name's keeper rule drifted")
    }
  }
}
