package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the r19 unified scoring tail (unpivoted (doc, p, j, g) rows,
  * ONE join against the (src?, j, g)-keyed count frame) to the
  * sequential reference implementation it replaced (`order` wide
  * left joins against per-order count tables) — same corpus, same
  * params, bit-identical output. The reference ([[tailSeq]] over
  * [[CorpusStats.ngramCounts]]) lives here, the r18 DoReMi
  * fused==unfused pattern. */
class NgramTailEquivalenceSpec extends SparkSpec {

  /** The pre-r19 sequential tail — `order` left joins of the wide
    * position row against per-order count frames (g\$j -> c\$j,
    * optionally (src, g\$j)-keyed), then the shared backoff replay. */
  private def tailSeq(counts: Seq[DataFrame], nv: DataFrame,
                      pos: DataFrame, order: Int, alpha: Double, k: Double,
                      srcCol: Option[String]): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"backoff alpha must be in (0, 1], got $alpha")
    require(k > 0.0, s"smoothing k must be positive, got $k")
    val srcCols = srcCol.map(_ => "src").toSeq
    val joined = counts.zipWithIndex.foldLeft(pos) { case (df, (c, i)) =>
      df.join(c, srcCols :+ s"g${i + 1}", "left_outer")
    }
    CorpusStats.ngramBackoffFromWide(joined.select(
      (srcCols :+ "doc").map(col) ++ Seq(col("p")) ++
        (1 to order).map(j => col(s"c$j")): _*),
      nv, order, alpha, k, srcCol)
  }

  // deterministic multi-source corpus with repeated n-grams, token
  // counts 0..~40, and enough vocabulary overlap that every backoff
  // branch (full-order hit, partial backoff, OOV) is exercised
  private def corpus(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val words = (0 until (i * 7) % 41).map { p =>
        s"w${(i * 31 + p * p * 13) % 23}"
      }
      // source decorrelated from the %3 train/score split (i%3 would
      // put every scored doc in a domain absent from train)
      (i.toLong, words.mkString(" "), s"src${(i / 3) % 3}")
    }.toDF("doc_id", "text", "source")
  }

  private def viaSeq(train: DataFrame, score: DataFrame, order: Int,
                     srcCol: Option[String], digest: Boolean): DataFrame = {
    val counts = CorpusStats.ngramCounts(train, "text", order, srcCol,
      digest)
    val nv = srcCol match {
      case Some(_) => counts.head.groupBy("src")
        .agg(sum("c1").as("__n"), count(lit(1)).as("__v"))
      case None => broadcast(counts.head
        .agg(sum("c1").as("__n"), count(lit(1)).as("__v")))
    }
    tailSeq(counts, nv,
      CorpusStats.gramPositions(score, "doc_id", "text", order, srcCol,
        digest),
      order, 0.4, 0.5, srcCol)
  }

  private def viaUnified(train: DataFrame, score: DataFrame, order: Int,
                         srcCol: Option[String],
                         digest: Boolean): DataFrame = {
    val countsU = CorpusStats.ngramCountsUnified(train, "text", order,
      srcCol, digest)
    val nv = srcCol match {
      case Some(_) => countsU.where(col("j") === 1).groupBy("src")
        .agg(sum("c").as("__n"), count(lit(1)).as("__v"))
      case None => broadcast(countsU.where(col("j") === 1)
        .agg(sum("c").as("__n"), count(lit(1)).as("__v")))
    }
    CorpusStats.ngramScoreTailFromPos(countsU, nv,
      CorpusStats.gramPositions(score, "doc_id", "text", order, srcCol,
        digest),
      order, 0.4, 0.5, srcCol)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("doc").collect().map(_.toString).toSeq

  private def check(order: Int, srcCol: Option[String],
                    digest: Boolean): Unit = {
    val all = corpus(60)
    val train = all.where(col("doc_id") % 3 =!= 0)
    val score = all.where(col("doc_id") % 3 === 0)
    val a = rows(viaSeq(train, score, order, srcCol, digest))
    val b = rows(viaUnified(train, score, order, srcCol, digest))
    assert(a.nonEmpty, "degenerate fixture: no scored docs")
    assert(a == b,
      s"unified tail drifted from the sequential reference " +
        s"(order=$order, src=$srcCol, digest=$digest)")
  }

  test("unified == sequential: order 3, global, digest keys") {
    check(3, None, digest = true)
  }
  test("unified == sequential: order 5, global, digest keys") {
    check(5, None, digest = true)
  }
  test("unified == sequential: order 5, by-source, digest keys") {
    check(5, Some("source"), digest = true)
  }
  test("unified == sequential: order 3, global, raw string keys") {
    check(3, None, digest = false)
  }

  test("unified counts == per-order counts at every grain") {
    def hex(v: Any): String = v match {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case other => other.toString
    }
    val train = corpus(60).where(col("doc_id") % 3 =!= 0)
    val perOrder = CorpusStats.ngramCounts(train, "text", 4, None)
      .zipWithIndex.flatMap { case (c, i) =>
        val j = i + 1
        c.select(lit(j).as("j"), col(s"g$j").as("g"), col(s"c$j").as("c"))
          .collect().map(r => (r.getInt(0), hex(r.get(1)), r.getLong(2)))
      }.sorted
    val unified = CorpusStats.ngramCountsUnified(train, "text", 4, None)
      .collect().map(r => (r.getInt(0), hex(r.get(1)), r.getLong(2)))
      .toSeq.sorted
    assert(perOrder == unified)
  }
}
