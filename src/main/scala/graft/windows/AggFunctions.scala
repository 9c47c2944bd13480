package graft.windows

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Aggregator, WindowSpec}
import org.apache.spark.sql.{Encoder, Encoders}

/** The reference's six aggregation functions (sum/avg/min/max/count/
  * accumulate — reference: the .go files under activity/aggregate/window/
  * functions/, dispatch at activity/aggregate/aggregators.go:10-86), expressed as
  * Spark aggregation Columns so Catalyst's partial aggregation provides the
  * same add-on-arrival incrementality the reference implements by hand.
  */
object AggFunctions {

  val names: Seq[String] = Seq("sum", "avg", "min", "max", "count", "accumulate")

  /** Scalar aggregation column for a function name.
    * `accumulate` preserves arrival order via an explicit ordering column
    * (the reference appends on arrival — functions/accumulate.go:3-16;
    * Spark's collect_list is partition-order-dependent, so we sort by the
    * caller-supplied sequence to make order deterministic). */
  def scalar(fn: String, value: Column, ord: Column): Column = fn match {
    case "accumulate" =>
      transform(array_sort(collect_list(struct(ord.as("o"), value.as("v")))),
        e => e.getField("v"))
    case other => table(other, value, identity)
  }

  /** The same functions over a window frame (`avgInt` included). The
    * frame's own order is `accumulate`'s order, so callers order the
    * frame by arrival. */
  def over(fn: String, value: Column, frame: WindowSpec): Column = fn match {
    case "accumulate" => collect_list(value).over(frame)
    case other => table(other, value, _.over(frame))
  }

  /** The one function table behind [[scalar]] and [[over]]; `w` places
    * each aggregate (identity for a grouped aggregation, `.over(frame)`
    * for a window). `avgInt` is Go int-division avg ([[intAvgCompat]]):
    * fully incremental (sum + count), so it streams too. */
  private def table(fn: String, value: Column, w: Column => Column): Column =
    fn match {
      case "sum"    => w(sum(value))
      case "avg"    => w(avg(value))
      case "min"    => w(min(value))
      case "max"    => w(max(value))
      case "count"  => w(count(value))
      // Go division truncates TOWARD ZERO (so -7/2 = -3) — exactly Java
      // long division, so Catalyst IntegralDivide matches for the full
      // long range (a double quotient would lose sums >= 2^53, and floor
      // would give -4)
      case "avgInt" =>
        org.apache.spark.sql.graft.ColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.IntegralDivide(
            org.apache.spark.sql.graft.ColumnBridge.expression(
              w(sum(value.cast("long")))),
            org.apache.spark.sql.graft.ColumnBridge.expression(
              w(count(value)))))
      case other => throw new IllegalArgumentException(s"unknown agg fn: $other")
    }

  /** Compat: the reference's integer-typed avg truncates (Go int division,
    * functions/average.go:75-76: `x / count`). Our engine defaults to true
    * floating-point avg; pipelines chasing bit-parity with int-typed
    * reference streams opt in via this expression (the DSL's avgCompat=int
    * windows reach it as `avgInt`). */
  def intAvgCompat(value: Column): Column = table("avgInt", value, identity)

  /** Compat: the reference's timeTumbling avg divides by `maxSamples` — a
    * HIGH-WATER mark of pane sizes across the stream, not the emitting
    * pane's own count (windows.go:177-205, maxSamples assigned at :192).
    * `paneSum` is the per-pane sum; `runningMaxCount` the running max of
    * pane counts up to that pane (a max() over an unbounded-preceding
    * frame ordered by pane start). */
  def maxSamplesAvgCompat(paneSum: Column, runningMaxCount: Column): Column =
    paneSum / runningMaxCount.cast("double")

  /** Element-wise vector aggregation (reference: functions/sum.go:16-27 etc.)
    * as typed Aggregators registered through functions.udaf. */
  def vector(fn: String, value: Column): Column = fn match {
    case "sum" => udaf(VectorAggs.sumAgg).apply(value)
    case "min" => udaf(VectorAggs.minAgg).apply(value)
    case "max" => udaf(VectorAggs.maxAgg).apply(value)
    case "avg" => udaf(VectorAggs.avgAgg).apply(value)
    // compat: the reference truncates []int element-wise (Go int
    // division, AggregateSingleAvg average.go:78-85); value must be
    // array<long>
    case "avgInt" => udaf(VectorAggs.intAvgAgg).apply(value)
    case "count" => count(value)
    case other => throw new IllegalArgumentException(s"unknown vector agg: $other")
  }
}

/** Typed element-wise vector aggregators. Buffers are fixed-size arrays —
  * state is O(vector_dim) per group regardless of row count, and merge is
  * associative+commutative, so these scale to arbitrarily large groups
  * (partial aggregation on every partition, single shuffle of dim-sized
  * buffers). */
object VectorAggs {

  private def zipOp(a: Array[Double], b: Array[Double],
                    op: (Double, Double) => Double): Array[Double] =
    if (a.isEmpty) b else if (b.isEmpty) a
    else if (a.length != b.length)
      throw new IllegalArgumentException(
        s"ragged vector aggregation: ${a.length} vs ${b.length} elements")
    else { val r = new Array[Double](a.length)
      var i = 0; while (i < r.length) { r(i) = op(a(i), b(i)); i += 1 }; r }

  abstract class ZipAgg(op: (Double, Double) => Double)
      extends Aggregator[Seq[Double], Array[Double], Seq[Double]] {
    def zero: Array[Double] = Array.empty
    def reduce(b: Array[Double], a: Seq[Double]): Array[Double] =
      zipOp(b, if (a == null) Array.empty else a.toArray, op)
    def merge(b1: Array[Double], b2: Array[Double]): Array[Double] =
      zipOp(b1, b2, op)
    def finish(r: Array[Double]): Seq[Double] = r.toSeq
    def bufferEncoder: Encoder[Array[Double]] = ExprEncoders.doubleArray
    def outputEncoder: Encoder[Seq[Double]] = ExprEncoders.doubleSeq
  }

  val sumAgg: Aggregator[Seq[Double], Array[Double], Seq[Double]] =
    new ZipAgg(_ + _) {}
  val minAgg: Aggregator[Seq[Double], Array[Double], Seq[Double]] =
    new ZipAgg(math.min) {}
  val maxAgg: Aggregator[Seq[Double], Array[Double], Seq[Double]] =
    new ZipAgg(math.max) {}

  case class VecAvgBuf(sums: Array[Double], n: Long)

  val avgAgg: Aggregator[Seq[Double], VecAvgBuf, Seq[Double]] =
    new Aggregator[Seq[Double], VecAvgBuf, Seq[Double]] {
      def zero: VecAvgBuf = VecAvgBuf(Array.empty, 0L)
      def reduce(b: VecAvgBuf, a: Seq[Double]): VecAvgBuf =
        VecAvgBuf(zipOp(b.sums, if (a == null) Array.empty else a.toArray, _ + _),
          b.n + (if (a == null) 0 else 1))
      def merge(b1: VecAvgBuf, b2: VecAvgBuf): VecAvgBuf =
        VecAvgBuf(zipOp(b1.sums, b2.sums, _ + _), b1.n + b2.n)
      def finish(r: VecAvgBuf): Seq[Double] =
        if (r.n == 0) Seq.empty else r.sums.map(_ / r.n).toSeq
      def bufferEncoder: Encoder[VecAvgBuf] = Encoders.product[VecAvgBuf]
      def outputEncoder: Encoder[Seq[Double]] = ExprEncoders.doubleSeq
    }

  case class VecIntAvgBuf(sums: Array[Long], n: Long)

  /** []int avg compat (AggregateSingleAvg, average.go:78-85): exact long
    * element sums, then Go int division — truncation toward zero, exact
    * for the full long range (no double round-trip). */
  val intAvgAgg: Aggregator[Seq[Long], VecIntAvgBuf, Seq[Long]] =
    new Aggregator[Seq[Long], VecIntAvgBuf, Seq[Long]] {
      private def zipAdd(a: Array[Long], b: Array[Long]): Array[Long] =
        if (a.isEmpty) b else if (b.isEmpty) a
        else if (a.length != b.length)
          throw new IllegalArgumentException(
            s"ragged vector aggregation: ${a.length} vs ${b.length} elements")
        else { val r = new Array[Long](a.length)
          var i = 0; while (i < r.length) { r(i) = a(i) + b(i); i += 1 }; r }
      def zero: VecIntAvgBuf = VecIntAvgBuf(Array.empty, 0L)
      def reduce(b: VecIntAvgBuf, a: Seq[Long]): VecIntAvgBuf =
        VecIntAvgBuf(zipAdd(b.sums, if (a == null) Array.empty else a.toArray),
          b.n + (if (a == null) 0 else 1))
      def merge(b1: VecIntAvgBuf, b2: VecIntAvgBuf): VecIntAvgBuf =
        VecIntAvgBuf(zipAdd(b1.sums, b2.sums), b1.n + b2.n)
      def finish(r: VecIntAvgBuf): Seq[Long] =
        if (r.n == 0) Seq.empty else r.sums.map(_ / r.n).toSeq
      def bufferEncoder: Encoder[VecIntAvgBuf] = Encoders.product[VecIntAvgBuf]
      def outputEncoder: Encoder[Seq[Long]] = ExprEncoders.longSeq
    }
}

/** Session-free encoders for aggregator buffers/outputs. */
object ExprEncoders {
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  import scala.reflect.runtime.universe.TypeTag
  private def enc[T: TypeTag]: Encoder[T] = ExpressionEncoder[T]()
  val doubleArray: Encoder[Array[Double]] = enc[Array[Double]]
  val doubleSeq: Encoder[Seq[Double]] = enc[Seq[Double]]
  val longSeq: Encoder[Seq[Long]] = enc[Seq[Long]]
}
