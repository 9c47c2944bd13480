package graft.expressions

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** The fused tokenize+SimHash kernel must be bit-identical to the
  * composed `simhash64(tokens(text))` form under the shared tokenization
  * contract — over the real corpus and over adversarial whitespace /
  * unicode / empty inputs, for both hash families. */
class SimHashFusedSpec extends SparkSpec {

  private def parity(df: org.apache.spark.sql.DataFrame, text: String): Unit = {
    val toks = TextFunctions.tokens(col(text))
    Seq(false, true).foreach { portable =>
      val both = df.select(
        TextExprs.simhashText(col(text), portable).as("fused"),
        when(size(toks) > 0, TextExprs.simhash64(toks, portable))
          .as("composed"))
      val rows = both.collect()
      rows.foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1),
          s"portable=$portable null-ness diverges: $r")
        if (!r.isNullAt(0))
          assert(r.getLong(0) == r.getLong(1),
            s"portable=$portable hash diverges: $r")
      }
    }
  }

  test("fused == composed over the documents corpus (both hash families)") {
    parity(graft.engine.Tables.documents(spark, sf()), "text")
  }

  test("fused == composed on adversarial inputs") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      "", " ", "\t\n\f\r", "  leading", "trailing  ",
      "a\tb\ncd\fe\rf", "MiXeD CaSe TOKENS", "x",
      "日本語 トークン  分割", "héllo wörld", "a  b   c",
      "\r\n\r\n", "tab\tseparated\tvalues", "ONE",
      "ünïcödé\tÀÇÈ  ß", "🙂 emoji  tokens 🙂", "0 1 2 3 4 5 6 7 8 9",
      "x" * 200 + " " + "y" * 200)
    parity(cases.toDF("text"), "text")
    // interpreted path too (no codegen): literal folding via eval
    cases.foreach { t =>
      Seq(false, true).foreach { portable =>
        val fused = org.apache.spark.sql.graft.ColumnBridge.expression(
          TextExprs.simhashText(KernelCall.param(t)._1, portable)).eval(null)
        val toks = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
        val expected =
          if (toks.isEmpty) null
          else {
            val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
              toks.map(org.apache.spark.unsafe.types.UTF8String.fromString(_))
                .asInstanceOf[Array[Any]])
            java.lang.Long.valueOf(
              if (portable) SimHashKernel.simhashMd5(arr)
              else SimHashKernel.simhash(arr))
          }
        assert(fused == expected, s"interpreted parity '$t' portable=$portable")
      }
    }
  }
}
