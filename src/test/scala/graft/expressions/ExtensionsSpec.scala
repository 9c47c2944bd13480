package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ExtensionsSpec extends SparkSpec {

  test("graft functions callable from SQL after registration") {
    val s = spark
    import s.implicits._
    GraftExtensions.register(s)
    Seq((Seq(1.0, 2.0), Seq(3.0, 4.0), "a b c d"))
      .toDF("a", "b", "t").createOrReplaceTempView("ext_probe")
    val row = s.sql(
      """SELECT graft_dot(a, b) AS d,
        |       graft_word_shingles(t, 2) AS sh FROM ext_probe""".stripMargin)
      .collect()(0)
    assert(row.getDouble(0) == 11.0)
    assert(row.getSeq[String](1) == Seq("a b", "b c", "c d"))
    // registration is idempotent
    GraftExtensions.register(s)
    assert(s.sql("SELECT graft_dot(a, a) FROM ext_probe")
      .collect()(0).getDouble(0) == 5.0)
  }

  test("kernel expressions callable from SQL") {
    val s = spark
    import s.implicits._
    GraftExtensions.register(s)
    Seq(("Hello  World", Seq("the", "cat"), Seq(1.0, -2.0)))
      .toDF("t", "toks", "v").createOrReplaceTempView("kernel_probe")
    val row = s.sql(
      """SELECT graft_normalized_md5(t) AS fp,
        |       graft_simhash64(toks) AS sh,
        |       graft_text_stats(t).ntok AS n,
        |       graft_band_keys(v, 2, 4, 3, 42)[0] AS bk
        |FROM kernel_probe""".stripMargin).collect()(0)
    assert(row.getString(0).matches("[0-9a-f]{32}"))
    assert(row.getLong(2) == 2L)
    assert(row.getLong(3) >= 0L && row.getLong(3) < 16L)
    // the portable (md5 token hash) variant is a distinct hash family —
    // same tokens, different signature — and matches the Scala API form
    val sh = s.sql(
      """SELECT graft_simhash64(toks) AS sh,
        |       graft_simhash64(toks, true) AS shp FROM kernel_probe"""
        .stripMargin).collect()(0)
    assert(sh.getLong(0) != sh.getLong(1))
    val api = Seq(Seq("the", "cat")).toDF("toks")
      .select(graft.expressions.TextExprs
        .simhash64(col("toks"), portable = true)).collect()(0).getLong(0)
    assert(sh.getLong(1) == api)
    val e = intercept[Exception] {
      s.sql("SELECT graft_simhash64(toks, 1) FROM kernel_probe").collect()
    }
    assert(e.getMessage.contains("boolean literal"))
    // SQL minhash signatures use the same seeded permutation family as
    // the Scala pipeline — identical signature values
    // fused text-form simhash from SQL == token-form on the same text
    val fusedRow = s.sql(
      """SELECT graft_simhash_text('the cat', true) AS f,
        |       graft_simhash_text('   ') AS z FROM kernel_probe"""
        .stripMargin).collect()(0)
    assert(fusedRow.getLong(0) == sh.getLong(1)) // same tokens as toks
    assert(fusedRow.isNullAt(1)) // zero tokens -> null
    val sqlSig = s.sql(
      "SELECT graft_minhash_sig(toks, 16) FROM kernel_probe")
      .collect()(0).getSeq[Long](0)
    val apiSig = Seq(Seq("the", "cat")).toDF("toks")
      .select(graft.operators.DedupReference.minhashSignature(col("toks"), 16))
      .collect()(0).getSeq[Long](0)
    assert(sqlSig.length == 16 && sqlSig == apiSig)
    // within-doc repeated-line removal from SQL == the Scala API form
    val drl = s.sql(
      "SELECT graft_drop_repeated_lines('ab\nc\nab') AS k")
      .collect()(0).getString(0)
    assert(drl == "ab\nc")
    // CDC boundary kernel from SQL == the Scala API form
    val text = "the quick brown fox jumps over the lazy dog " * 8
    val sqlBnd = s.sql(
      s"SELECT graft_cdc_boundaries('$text', 16, 31, 20, 64, 13) AS b")
      .collect()(0).getSeq[Int](0)
    val apiBnd = Seq(text).toDF("t")
      .select(graft.expressions.TextExprs
        .cdcBoundaries(col("t"), 16, 31, 20, 64, 13))
      .collect()(0).getSeq[Int](0)
    assert(sqlBnd.nonEmpty && sqlBnd == apiBnd)
  }

  test("graft_dot yields NULL for mismatched vector lengths, in both paths") {
    val s = spark
    import s.implicits._
    GraftExtensions.register(s)
    Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
      .createOrReplaceTempView("ragged_probe")
    // codegen path
    assert(s.sql("SELECT graft_dot(a, b) FROM ragged_probe").collect()(0).isNullAt(0))
    // interpreted (filter-condition) path exercises eval()
    assert(s.sql("SELECT count(*) FROM ragged_probe WHERE graft_dot(a, b) > 0")
      .collect()(0).getLong(0) == 0L)
  }

  test("kernel functions reject wrong argument types at analysis") {
    val s = spark
    GraftExtensions.register(s)
    // arrays: no implicit cast turns them into the kernels' string input
    Seq("SELECT graft_word_shingles(array('a b c'), 2)",
        "SELECT graft_drop_repeated_lines(array('x'))").foreach { q =>
      intercept[org.apache.spark.sql.AnalysisException](s.sql(q).collect())
    }
  }

  test("a NULL literal parameter is refused as not a literal") {
    val s = spark
    GraftExtensions.register(s)
    // an int parameter and a long one (the band-key seed)
    Seq("SELECT graft_word_shingles('a b c', NULL)",
        "SELECT graft_band_keys(array(1.0D, 2.0D), 2, 4, 3, NULL)")
      .foreach { q =>
        val e = intercept[IllegalArgumentException](s.sql(q).collect())
        assert(e.getMessage.contains("must be a literal"), e.getMessage)
      }
  }

  test("salted aggregation equals direct aggregation on skewed data") {
    val s = spark
    import s.implicits._
    // 90% of rows share one key — the skew shape salting exists for
    val rows = (1 to 2000).map { i =>
      val k = if (i % 10 == 0) s"key${i % 7}" else "hot"
      (k, i.toDouble)
    }
    val df = rows.toDF("k", "v")
    val direct = df.groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = graft.operators.Skew
      .saltedSumCount(df, col("k"), col("v"), "sv")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == direct)
    val avgDirect = df.groupBy("k").agg(avg("v")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    def saltedAvg(d: org.apache.spark.sql.DataFrame) = graft.operators.Skew
      .saltedSumCount(d, col("k"), col("v"), "sv")
      .select(col("key"), when(col("n_val") > 0, col("sv") / col("n_val")))
    val avgSalted = saltedAvg(df)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    avgDirect.foreach { case (k, v) =>
      assert(math.abs(avgSalted(k) - v) < 1e-9)
    }

    // null values: an avg over the phases must divide by the NON-NULL
    // count n_val exactly as Spark's avg does (sum skips nulls; dividing
    // by the row count would silently deflate the average)
    val withNulls = rows.toDF("k", "v")
      .withColumn("v", when(col("v") % 3 === 0, col("v")))
    val nd = withNulls.groupBy("k").agg(avg("v")).collect()
      .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
      .toMap
    val ns = saltedAvg(withNulls)
      .collect()
      .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
      .toMap
    nd.foreach { case (k, v) =>
      (v, ns(k)) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9, s"key $k")
        case (a, b)             => assert(a == b, s"key $k")
      }
    }
  }
}
