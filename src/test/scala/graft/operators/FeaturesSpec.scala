package graft.operators

import graft.SparkSpec

class FeaturesSpec extends SparkSpec {

  private def mk(rows: Seq[(Long, String, Double)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "g", "v")
  }

  test("zscore normalizes within each group; zero variance gives 0.0") {
    // g1: 1,2,3 -> mu 2, sd_pop sqrt(2/3); g2: constant
    val got = Features.zscore(mk(Seq(
        (1L, "g1", 1.0), (2L, "g1", 2.0), (3L, "g1", 3.0),
        (4L, "g2", 5.0), (5L, "g2", 5.0))), "g", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val z = BigDecimal(1.0 / math.sqrt(2.0 / 3.0)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map(1L -> -z, 2L -> 0.0, 3L -> z, 4L -> 0.0, 5L -> 0.0))
  }

  test("zscore keeps input columns and appends one _z per requested col") {
    val out = Features.zscore(mk(Seq((1L, "g1", 1.0), (2L, "g1", 3.0))),
      "g", Seq("v"))
    assert(out.columns.toSeq == Seq("id", "g", "v", "v_z"))
  }

  test("quantileFilter keeps the discrete top (and bottom) slice") {
    val df = mk(Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0),
      (4L, "a", 4.0), (5L, "b", 10.0)))
    // discrete thresholds are DATA VALUES: a at q=.5 -> smallest v with
    // cum >= ceil(2) = 2.0; b: the single row is its own quantile
    val top = Features.quantileFilter(df, "g", "v", 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(top == Set(2L, 3L, 4L, 5L))
    val bottom = Features.quantileFilter(df, "g", "v", 0.5, keepTop = false)
      .collect().map(_.getLong(0)).toSet
    assert(bottom == Set(1L, 2L, 5L))
    // a at q=.75 -> cum >= ceil(3) = 3.0 -> keep 3, 4
    val p75 = Features.quantileFilter(df, "g", "v", 0.75)
      .collect().map(_.getLong(0)).toSet
    assert(p75 == Set(3L, 4L, 5L))
    // the r11 failure class: a duplicated value ON the threshold — all
    // copies land on the same side, whatever engine computes it
    val dup = mk(Seq((1L, "a", 1.0), (2L, "a", 4.0), (3L, "a", 4.0),
      (4L, "a", 4.0), (5L, "a", 9.0)))
    val kd = Features.quantileFilter(dup, "g", "v", 0.75)
      .collect().map(_.getLong(0)).toSet
    // cum >= ceil(3.75) = 4 -> thr = 4.0 -> every 4.0 survives together
    assert(kd == Set(2L, 3L, 4L, 5L))
  }

  test("robustZscore: discrete median/MAD, outlier-immune, zero-MAD " +
      "and null groups handled") {
    val s = spark
    import s.implicits._
    // g1: 1..5 with a wild outlier 1000 — median of {1,2,3,4,5,1000}
    // at discrete rank ceil(3)=3 is 3; deviations {2,1,0,1,2,997} ->
    // MAD at rank 3 of {0,1,1,2,2,997} is 1
    val df = Seq((1L, Some("g1"), 1L), (2L, Some("g1"), 2L),
      (3L, Some("g1"), 3L), (4L, Some("g1"), 4L), (5L, Some("g1"), 5L),
      (6L, Some("g1"), 1000L),
      (7L, None, 10L), (8L, None, 30L), (9L, None, 30L))
      .toDF("id", "g", "v")
    val got = Features.robustZscore(df, "g", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(3L) == 0.0 && got(1L) == -2.0 && got(5L) == 2.0)
    // the outlier's score is huge but it did NOT move anyone else
    assert(got(6L) == 997.0)
    // null group is its own stratum: median of {10,30,30} rank 2 = 30;
    // deviations {20,0,0} -> MAD 0 -> all rows normalize to 0.0
    assert(got(7L) == 0.0 && got(8L) == 0.0 && got(9L) == 0.0)
    // contrast: the moment z-score WOULD be dragged by the outlier
    val mz = Features.zscore(df.where($"g".isNotNull), "g", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(math.abs(mz(5L)) < 0.5, s"moment z of 5 is ${mz(5L)}")
  }

  test("winsorize clips into discrete [qLow, qHigh] data-value bounds") {
    val s = spark
    import s.implicits._
    val df = (1L to 20L).map(i => (i, i * 10)).toDF("id", "v")
    // n=20: lo = value at cum >= ceil(1) = 10; hi = cum >= ceil(19) = 190
    val got = Features.winsorize(df, "v", 0.05, 0.95)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(1L) == 10L && got(2L) == 20L)
    assert(got(19L) == 190L && got(20L) == 190L, s"upper clip: $got")
    assert((2L to 19L).forall(i => got(i) == i * 10))
    // schema: input columns + one _w column
    assert(Features.winsorize(df, "v", 0.05, 0.95).columns.toSeq ==
      Seq("id", "v", "v_w"))
  }

  test("null group is its own stratum, never dropped") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Some("g1"), 1.0), (2L, Some("g1"), 3.0),
      (3L, None, 5.0), (4L, None, 7.0)).toDF("id", "g", "v")
    val z = Features.zscore(df, "g", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // null stratum: mu 6, sd 1 -> +-1.0; and the rows SURVIVE the join
    assert(z == Map(1L -> -1.0, 2L -> 1.0, 3L -> -1.0, 4L -> 1.0))
    val kept = Features.quantileFilter(df, "g", "v", 0.5)
      .collect().map(_.getLong(0)).toSet
    // discrete p50 of a 2-element group is its LOWER value (cume_dist
    // of the lower element already reaches 0.5) -> both rows survive
    // in each group; the point of the test is the null group SURVIVES
    assert(kept == Set(1L, 2L, 3L, 4L))
  }

  test("robustZscore: an all-null-valued group keeps its rows (null rz)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a", Some(1L)), (2L, "a", Some(2L)),
      (5L, "a", Some(3L)),
      (3L, "b", None: Option[Long]), (4L, "b", None: Option[Long]))
      .toDF("id", "g", "v")
    val got = Features.robustZscore(df, "g", "v").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None
        else Some(r.getDouble(3)))).toMap
    // append-shaped operator: group b has no median (all values null)
    // but its rows must SURVIVE with a null robust z, not vanish in an
    // inner join; a's null-free rows normalize as usual (median 2,
    // MAD 1)
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(got(3L).isEmpty && got(4L).isEmpty)
    assert(got(1L).contains(-1.0) && got(2L).contains(0.0) &&
      got(5L).contains(1.0))
  }

  test("calibrationBins: bin edges, conf/acc means, gap, ECE by hand") {
    val s = spark
    import s.implicits._
    // k=4: 0.0->bin0, 0.25->bin1 (left-closed edges), 1.0 clamps to
    // bin 3; bin 1 mixes scores .25/.35 with labels 1/0
    val df = Seq((0.0, 0), (0.25, 1), (0.35, 0), (0.8, 1), (1.0, 1))
      .toDF("score", "label")
    val got = Features.calibrationBins(df, "score", "label", 4)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      (0L, 1L, 0.0, 0.0, 0.0),
      (1L, 2L, 0.3, 0.5, 0.2),
      (3L, 2L, 0.9, 1.0, 0.1)))
    // nulls excluded, not crashed on
    val withNull = df.unionByName(
      Seq((Option.empty[Double], Option(1))).toDF("score", "label"))
    assert(Features.calibrationBins(withNull, "score", "label", 4)
      .agg(org.apache.spark.sql.functions.sum("n")).collect()
      .head.getLong(0) == 5L)
    // out-of-domain scores (unscaled logits/percentages) fail LOUDLY
    // at execution instead of producing a meaningless diagram
    val bad = Seq((3.7, 1), (0.5, 0)).toDF("score", "label")
    val e = intercept[Exception] {
      Features.calibrationBins(bad, "score", "label", 4).collect()
    }
    assert(e.getMessage.contains("outside [0,1]") ||
      Option(e.getCause).exists(_.getMessage.contains("outside [0,1]")),
      e.getMessage)
  }

  test("zscore plans no window sort (moments join, not a window)") {
    val df = mk((1L to 100L).map(i => (i, s"g${i % 3}", i.toDouble)))
    val p = Features.zscore(df, "g", Seq("v"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"expected no window operator in:\n$p")
  }
}
