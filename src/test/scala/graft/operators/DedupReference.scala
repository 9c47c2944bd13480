package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Composed-builtin twins of the dedup kernels, kept as the specs'
  * reference: each computes what an engine operator computes, in plain
  * Spark column functions, so a spec can check the kernel against it. */
object DedupReference {

  private val MinhashP = graft.expressions.MinHashKernel.P

  /** MinHash signature column: array<bigint> of length `numPerms` over a
    * distinct-shingle array column. Empty shingle sets get the sentinel
    * signature of all p (never collides with a real hash). */
  def minhashSignature(shingles: Column, numPerms: Int): Column = {
    val h32 = transform(shingles, s => xxhash64(s).bitwiseAND(lit(0xffffffffL)))
    val sigs = Dedup.perms(numPerms).map { case (a, b) =>
      aggregate(h32, lit(MinhashP),
        (m, h) => least(m, pmod(h * lit(a) + lit(b), lit(MinhashP))))
    }
    array(sigs: _*)
  }

  /** 64-bit SimHash over a token/shingle array column, as bigint.
    * bit b of the result is 1 iff sum over tokens of (+1 if bit b of
    * xxhash64(token) else -1) is positive. */
  def simhash64(tokens: Column): Column = {
    val hs = transform(tokens, t => xxhash64(t))
    val bits = (0 until 64).map { b =>
      val vote = aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Every pair at cosine >= `threshold` by the quadratic self-join: the
    * recall reference for the banded and blocked embedding pairs. */
  def embeddingPairsExact(df: DataFrame, id: String, vec: String,
                          threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    // norms are computed once per vector BEFORE the self-join, so each of
    // the O(n^2) pairs costs exactly one codegen'd dot product
    val v = df.select(col(id).as("vid"), asDoubles(col(vec)).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
    v.as("a").join(v.as("b"), col("a.vid") < col("b.vid"))
      .withColumn("cosine",
        cosineFrom(dot(col("a.v"), col("b.v")), col("a.nrm"), col("b.nrm")))
      .where(col("cosine") >= threshold)
      .select(col("a.vid").as("id1"), col("b.vid").as("id2"),
        round(col("cosine"), 4).as("cosine"))
  }
}
