package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level vector (Array[Double]/Array[Float]) math built entirely from
  * codegen'd built-in higher-order functions — no UDFs in the hot path, so
  * whole-stage codegen stays intact and these run unchanged on a cluster.
  *
  * Covers the reference's element-wise vector aggregation inputs
  * (reference: activity/aggregate/window/functions/sum.go:16-27,
  * average.go:36-71, min.go:22-37) and the similarity-search extensions.
  */
object VectorFunctions {

  /** Cast any numeric array to Array[Double] for stable arithmetic. */
  def asDoubles(a: Column): Column = a.cast("array<double>")

  /** Dot product — a codegen'd kernel call (graft.expressions
    * .VectorKernels.dot); the lambda fold it replaces is interpreted per element
    * and dominates similarity joins. Same ascending-index summation order,
    * bitwise-identical results. */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VectorExprs.dot(a, b)

  /** L2 norm (sqrt of self-dot; same summation order as a sequential
    * fold over x*x). */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine from a precomputed dot and norms, guarded for zero-norm
    * vectors: NULL (cosine is undefined there) instead of a division
    * that THROWS [DIVIDE_BY_ZERO] under Spark 4's default ANSI mode —
    * one all-zero embedding (a failed-encoder row) must fall out of
    * similarity results, not kill the corpus-wide job. A null `d`
    * (wrong-dim vector) stays null through the `when`. */
  def cosineFrom(d: Column, n1: Column, n2: Column): Column =
    when(n1 > lit(0.0) && n2 > lit(0.0), d / (n1 * n2))

  /** Cosine similarity between two numeric array columns (zero-norm
    * guarded — see [[cosineFrom]]). */
  def cosine(a: Column, b: Column): Column = {
    val ad = asDoubles(a); val bd = asDoubles(b)
    cosineFrom(dot(ad, bd), l2Norm(ad), l2Norm(bd))
  }

  /** True if every element is zero — the vector form of the reference's
    * non-zero filter (reference: activity/filter/filters.go:14-31). */
  def allZero(a: Column): Column = !exists(a, x => x =!= 0.0)
}
