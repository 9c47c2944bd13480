package graft.expressions

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** Every kernel column, over one adversarial slice: NULL, empty and
  * whitespace-only text, 2-, 3- and 4-byte UTF-8, repeated lines, and
  * ragged vectors. The compiled and the interpreted evaluation paths
  * must give bit-identical rows; the plan properties the kernels are
  * built for (one text-stats call per row, value-equal kernel
  * parameters) must hold. */
class KernelCallSpec extends SparkSpec {

  private val texts: Seq[String] = Seq(
    null, "", "   ", "\t\n \r\f", "The cat sat on the mat.",
    "héllo wörld ß straße", "日本語 トークン 分割 €", "🙂 emoji 🚀 tokens 🙂",
    "ab\nc\nab\n  ab  \n", "Ｆｕｌｌｗｉｄｔｈ ﬁ ligature é",
    "the quick brown fox jumps over the lazy dog " * 6)

  private val vectors: Seq[(Seq[Double], Seq[Double])] = Seq(
    (null, Seq(1.0, 2.0, 3.0)), (Seq(1.0, 2.0, 3.0), null),
    (Seq.empty, Seq.empty), (Seq(1.0, -2.0, 0.5), Seq(0.25, 4.0, -1.0)),
    (Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)), (Seq(0.0, 0.0, 0.0), Seq(3.0, 1e-9, -7.5)),
    (Seq(1.0, -2.0), Seq(1.0, -2.0)))

  // dim-3 codebook and centroids
  private val mins = IndexedSeq(-2.0, -1.0, 0.0)
  private val scales = IndexedSeq(0.02, 0.0, 0.01)
  private val cells = IndexedSeq(7L, 9L)
  private val matrix = IndexedSeq(1.0, 0.0, 0.0, 0.0, 1.0, 1.0)

  private val sliceDir = java.nio.file.Files.createTempDirectory("kernel_call_slice")

  override def afterAll(): Unit = {
    graft.operators.Dedup.clearCaches()
    graft.util.FsUtil.deleteRecursively(sliceDir)
  }

  // read back from parquet, so the kernels see UnsafeArrayData inputs and
  // no projection folds into a local relation
  private lazy val slice: DataFrame = {
    val s = spark
    import s.implicits._
    val rows = (0 until texts.size.max(vectors.size)).map { i =>
      val (v, w) = vectors.lift(i).getOrElse((null, null))
      (i.toLong, texts.lift(i).orNull, v, w)
    }
    val dir = sliceDir.resolve("t").toString
    rows.toDF("id", "t", "v", "w").write.parquet(dir)
    s.read.parquet(dir)
  }

  private val t = col("t")
  private val v = col("v")
  private val w = col("w")
  private val perms = graft.operators.Dedup.perms(16)

  private val kernels: Seq[(String, Column)] = Seq(
    "wordShingles" -> TextExprs.wordShingles(t, 2),
    "wordNgramsAll" -> TextExprs.wordNgramsAll(t, 2),
    "charShingles" -> TextExprs.charShingles(t, 3),
    "tokenSpans" -> TextExprs.tokenSpans(t, 3, 2),
    "normalizeText" -> TextExprs.normalizeText(t),
    "normalizeText nfkc" ->
      TextExprs.normalizeText(t, nfkc = true, casefold = false, collapseWs = false),
    "dropRepeatedLines" -> TextExprs.dropRepeatedLines(t),
    "cdcBoundaries" -> TextExprs.cdcBoundaries(t, 4, 31, 20, 2, 1),
    "cdcSlices" ->
      TextExprs.cdcSlices(t, TextExprs.cdcBoundaries(t, 4, 31, 20, 2, 1)),
    "cutSpans" -> TextExprs.cutSpans(t, when(length(t) >= 4,
      array(struct(lit(2L).as("s"), lit(3L).as("e"))))),
    "gramDigest" -> TextExprs.gramDigest(t),
    "normalizedMd5" -> TextExprs.normalizedMd5(t),
    "simhash64" -> TextExprs.simhash64(TextFunctions.tokens(t)),
    "simhash64 portable" ->
      TextExprs.simhash64(TextFunctions.tokens(t), portable = true),
    "simhashText" -> TextExprs.simhashText(t),
    "simhashText portable" -> TextExprs.simhashText(t, portable = true),
    "textStats" -> TextExprs.textStats(t),
    "tokenEntropy" -> TextExprs.tokenEntropy(t),
    "minhashSig" -> TextExprs.minhashSig(TextExprs.wordShingles(t, 2),
      perms.map(_._1).toIndexedSeq, perms.map(_._2).toIndexedSeq),
    "dot" -> VectorExprs.dot(v, w),
    "bandKeys" -> VectorExprs.bandKeys(v, 3, 4, 2, 42L),
    "nearestCentroid" -> VectorExprs.nearestCentroid(v, cells, matrix, 3),
    "signedProject" -> VectorExprs.signedProject(v, 3, 2, "s"),
    "sqEncode" -> VectorExprs.sqEncode(v, mins, scales),
    "sqDot" -> VectorExprs.sqDot(w,
      VectorExprs.sqEncode(v, mins, scales).getField("code"), mins, scales))

  // bit-exact comparable form: doubles by their bits, binary by content
  private def norm(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm)
    case o => o
  }

  private def rows(k: Column): Seq[Any] =
    slice.select(col("id"), k.as("r")).orderBy("id").collect().toSeq.map(norm)

  private def withConf[A](settings: (String, String)*)(body: => A): A = {
    val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, x) => spark.conf.set(k, x) }
    try body
    finally saved.foreach {
      case (k, Some(x)) => spark.conf.set(k, x)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every kernel gives identical rows compiled and interpreted") {
    kernels.foreach { case (name, k) =>
      // no silent fallback: a kernel call that fails to compile fails here
      val compiled = withConf("spark.sql.codegen.fallback" -> "false") {
        val plan = slice.select(k).queryExecution.executedPlan
        assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]),
          s"$name must compile under the default settings:\n$plan")
        rows(k)
      }
      assert(compiled.size == texts.size.max(vectors.size))
      val interpreted = withConf(
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
          "spark.sql.codegen.wholeStage" -> "false") {
        rows(k)
      }
      assert(interpreted == compiled, s"$name: the two paths differ")
    }
  }

  test("qualityScore compiles to one text-stats kernel call per row") {
    val q = slice.select(TextFunctions.qualityScore(t).as("q"))
    val code = org.apache.spark.sql.execution.debug
      .codegenString(q.queryExecution.executedPlan)
    // generated lines (`/* 048 */ ...`, not the plan header) whose call
    // names the kernel: TextStatsKernel.stats(...), or a referenced
    // TextStats object's compute(...)
    val calls = code.linesIterator.count(l =>
      l.matches("""\s*/\* \d+ \*/.*""") && l.contains("TextStats") &&
        (l.contains(".stats(") || l.contains(".compute(")))
    assert(calls == 1, s"expected one text-stats call, found $calls:\n$code")
  }

  test("plans built from equal kernel parameters are sameResult") {
    val docs = graft.engine.Tables.documents(spark, sf())
    def pairs = graft.operators.Dedup.minhashPairs(docs, "doc_id", "text", 5,
      0.8)
    assert(pairs.queryExecution.optimizedPlan
      .sameResult(pairs.queryExecution.optimizedPlan))
    def nearest(m: IndexedSeq[Double]) = slice.select(
      VectorExprs.nearestCentroid(v, cells, m, 3)).queryExecution.optimizedPlan
    assert(nearest(matrix).sameResult(nearest(matrix.toArray.toIndexedSeq)))
    assert(!nearest(matrix).sameResult(nearest(matrix.map(_ + 1.0))),
      "different centroids must not compare equal")
  }
}
