package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, LongType, StructField, StructType}

/** Stateless vector kernels.
  *
  * The built-in higher-order functions (`aggregate`, `zip_with`) evaluate
  * their lambda per element through the interpreter — fine for mapping a
  * column once, but a brute-force similarity join evaluates O(pairs * dim)
  * lambdas and dominates the benchmark. [[dot]] is one compiled loop
  * instead (measured ~20x over the lambda form on the sf0.1 embedding
  * self-join).
  */
object VectorKernels {

  /** Dot product in ascending index order, identical to the lambda-based
    * `aggregate(zip_with(a, b, *), 0.0, +)` it replaces and to DuckDB's
    * sequential list fold — results are bitwise identical, which the
    * duckdb-oracle hash compare requires. Mismatched-length inputs yield
    * NULL (as the lambda form does via zip_with's null padding) rather
    * than a silently truncated, plausible-but-wrong product. */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
}

/** All hyperplane-LSH band keys in ONE kernel: `numBands` bands of
  * `bitsPerBand` sign bits each over a fixed plane matrix, emitted as
  * array<bigint>. Composing this from per-plane dot columns
  * (bands*bits separate expressions, each with a dim-sized literal)
  * makes Catalyst analysis/codegen itself the bottleneck — planning a
  * 484-expression projection took seconds per query. Here the plane
  * matrix is one flat double[] built once per JVM from the seed and the
  * whole signature is a single tight loop.
  *
  * Plane sequence: java.util.Random(seed), drawn band-major then
  * bit-major then dim — deterministic across JVMs (Random is
  * spec-fixed). A vector whose length differs from `dim` gets all-zero
  * keys (the per-plane dot would be NULL -> bit unset).
  */
case class HyperplaneKernel(dim: Int, bitsPerBand: Int, numBands: Int,
                            seed: Long) {
  // (band * bitsPerBand + bit) * dim + d
  @transient private lazy val planes: Array[Double] = {
    val rnd = new java.util.Random(seed)
    Array.fill(numBands * bitsPerBand * dim)(rnd.nextDouble() * 2.0 - 1.0)
  }

  def compute(vec: ArrayData): ArrayData = {
    val v = vec.toDoubleArray()
    val out = new Array[Long](numBands)
    if (v.length != dim) return new GenericArrayData(out)
    var band = 0
    while (band < numBands) {
      var key = 0L
      var bit = 0
      while (bit < bitsPerBand) {
        val off = (band * bitsPerBand + bit) * dim
        var s = 0.0
        var d = 0
        while (d < dim) { s += planes(off + d) * v(d); d += 1 }
        if (s > 0) key |= (1L << bit)
        bit += 1
      }
      out(band) = key
      band += 1
    }
    new GenericArrayData(out)
  }

  override def toString: String =
    s"graft_band_keys($dim, $bitsPerBand, $numBands, $seed)"
}

/** Nearest-centroid argmax in one kernel: cosine against every centroid
  * of a driver-embedded matrix, returning struct(cell: bigint, sim:
  * double) for the best match (ties -> lowest cell id; centroids are
  * scanned in ascending-cell order with a strict >). The matrix lives in
  * the kernel value — a literal array-of-structs expression tree costs
  * seconds of analysis/codegen at moderate k and evaluates through the
  * interpreted higher-order-function path. A vector whose length differs
  * from the centroid dim yields (cell = -1, sim = -Infinity).
  *
  * IndexedSeq params (not Arrays) for value-based case-class equality —
  * see [[MinHashKernel]]: Array fields would break plan-cache matching
  * and semantic equality. The loops run on the transient lazy copies. */
case class CentroidKernel(cells: IndexedSeq[Long], matrix: IndexedSeq[Double],
                          dim: Int) {
  @transient private lazy val cellsArr: Array[Long] = cells.toArray
  @transient private lazy val matrixArr: Array[Double] = matrix.toArray

  @transient private lazy val norms: Array[Double] = {
    val k = cellsArr.length
    val out = new Array[Double](k)
    var c = 0
    while (c < k) {
      var s = 0.0
      var d = 0
      while (d < dim) { val x = matrixArr(c * dim + d); s += x * x; d += 1 }
      out(c) = math.sqrt(s)
      c += 1
    }
    out
  }

  def compute(vec: ArrayData): InternalRow = {
    val v = vec.toDoubleArray()
    var bestCell = -1L
    var bestSim = Double.NegativeInfinity
    if (v.length == dim) {
      var vn = 0.0
      var d = 0
      while (d < dim) { vn += v(d) * v(d); d += 1 }
      vn = math.sqrt(vn)
      var c = 0
      while (c < cellsArr.length) {
        var s = 0.0
        val off = c * dim
        d = 0
        while (d < dim) { s += matrixArr(off + d) * v(d); d += 1 }
        val sim = s / (vn * norms(c))
        if (sim > bestSim) { bestSim = sim; bestCell = cellsArr(c) }
        c += 1
      }
    }
    InternalRow(bestCell, bestSim)
  }

  override def toString: String =
    s"graft_nearest_centroid(${cells.length} cells, dim $dim)"
}

/** Per-dimension affine scalar quantization (SQ8) with a fixed codebook
  * (IndexedSeq params for value equality, as in [[CentroidKernel]]).
  * Constant dimensions (scale 0) encode as 0 and reconstruct to min. */
case class SqKernel(mins: IndexedSeq[Double], scales: IndexedSeq[Double]) {
  @transient private lazy val minsArr: Array[Double] = mins.toArray
  @transient private lazy val scalesArr: Array[Double] = scales.toArray

  /** One unsigned byte per dimension, plus the DEQUANTIZED l2 norm in the
    * same pass: struct(code: binary, dnorm: double). The norm is computed
    * from the reconstructed values (not the originals) so
    * asymmetric-distance scoring with [[dot]] is internally consistent.
    * NULL for a vector whose length differs from the codebook dim. */
  def encode(vec: ArrayData): InternalRow = {
    val v = vec.toDoubleArray()
    val dim = minsArr.length
    if (v.length != dim) return null
    val code = new Array[Byte](dim)
    var nsq = 0.0
    var j = 0
    while (j < dim) {
      val sc = scalesArr(j)
      val c =
        if (sc <= 0.0) 0
        else {
          val q = math.round((v(j) - minsArr(j)) / sc).toInt
          if (q < 0) 0 else if (q > 255) 255 else q
        }
      code(j) = c.toByte
      val dq = minsArr(j) + sc * c
      nsq += dq * dq
      j += 1
    }
    InternalRow(code, math.sqrt(nsq))
  }

  /** Asymmetric-distance dot product: full-precision query against an
    * SQ8 code, reconstructing each corpus dimension as
    * `min_j + scale_j * byte_j` inside the loop — the query is never
    * quantized, so the only error is the corpus side's rounding. NULL on
    * dim mismatch. */
  def dot(query: ArrayData, code: Array[Byte]): java.lang.Double = {
    val q = query.toDoubleArray()
    val dim = minsArr.length
    if (q.length != dim || code.length != dim) return null
    var s = 0.0
    var j = 0
    while (j < dim) {
      s += q(j) * (minsArr(j) + scalesArr(j) * (code(j) & 0xFF))
      j += 1
    }
    s
  }

  override def toString: String = s"graft_sq(dim ${mins.length})"
}

/** Seeded ±1 random projection (Achlioptas-style sign matrix) in one
  * kernel: y_j = (Σ_i v_i · s_ij) / sqrt(outDim) — the standard
  * Johnson-Lindenstrauss dimension-reduction step a 100 TB embedding
  * pipeline runs before LSH banding or index build to cut shuffle and
  * state bytes per vector.
  *
  * The sign matrix is derived from md5("rp:<salt>:<i>:<j>") (first hex
  * digit parity), NOT from a JVM PRNG — so any engine can replay the
  * exact matrix from the salt alone (the DuckDB oracle rebuilds it in
  * SQL), and the kernel's parameters stay scalar (plan-cache friendly;
  * the matrix itself is a @transient lazy val). A vector whose length
  * differs from `dim` yields an all-zero projection (the
  * [[HyperplaneKernel]] convention) rather than a crash.
  */
case class SignedProjectKernel(dim: Int, outDim: Int, salt: String) {
  require(dim > 0 && outDim > 0, "dims must be positive")

  // j * dim + i; +1.0 when the first md5 hex digit is even
  @transient private lazy val signs: Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Double](outDim * dim)
    var j = 0
    while (j < outDim) {
      var i = 0
      while (i < dim) {
        md.reset()
        val h = md.digest(s"rp:$salt:$i:$j".getBytes("UTF-8"))
        val firstHexDigit = (h(0) >> 4) & 0xf
        out(j * dim + i) = if (firstHexDigit % 2 == 0) 1.0 else -1.0
        i += 1
      }
      j += 1
    }
    out
  }
  // divide by sqrt (don't multiply by a reciprocal): x / sqrt(o) is the
  // form any replaying engine computes, and the two differ at 1 ulp for
  // non-power-of-4 outDims
  @transient private lazy val scale: Double = math.sqrt(outDim.toDouble)

  def compute(vec: ArrayData): ArrayData = {
    val v = vec.toDoubleArray()
    val out = new Array[Double](outDim)
    if (v.length != dim) return new GenericArrayData(out)
    var j = 0
    while (j < outDim) {
      val off = j * dim
      var s = 0.0
      var i = 0
      while (i < dim) { s += v(i) * signs(off + i); i += 1 }
      out(j) = s / scale
      j += 1
    }
    new GenericArrayData(out)
  }

  override def toString: String =
    s"graft_signed_project($dim, $outDim, $salt)"
}

/** Columns over the vector kernels, by the kernel-call rule of
  * [[TextExprs]]. */
object VectorExprs {
  import KernelCall.{invoke, static}

  private val Doubles = ArrayType(DoubleType)

  def dot(a: Column, b: Column): Column =
    static(VectorKernels, "dot", DoubleType, returnsNull = true)(
      a -> Doubles, b -> Doubles)

  def bandKeys(v: Column, dim: Int, bitsPerBand: Int, numBands: Int,
               seed: Long): Column =
    invoke(HyperplaneKernel(dim, bitsPerBand, numBands, seed), "compute",
      ArrayType(LongType, containsNull = false))(v -> Doubles)

  def nearestCentroid(v: Column, cells: IndexedSeq[Long], matrix: IndexedSeq[Double],
                      dim: Int): Column =
    invoke(CentroidKernel(cells, matrix, dim), "compute", StructType(Seq(
      StructField("cell", LongType, nullable = false),
      StructField("sim", DoubleType, nullable = false))))(v -> Doubles)

  def signedProject(v: Column, dim: Int, outDim: Int, salt: String): Column =
    invoke(SignedProjectKernel(dim, outDim, salt), "compute",
      ArrayType(DoubleType, containsNull = false))(v -> Doubles)

  /** NULL for a vector whose length differs from the codebook dim. */
  def sqEncode(v: Column, mins: IndexedSeq[Double],
               scales: IndexedSeq[Double]): Column =
    invoke(SqKernel(mins, scales), "encode", StructType(Seq(
      StructField("code", BinaryType, nullable = false),
      StructField("dnorm", DoubleType, nullable = false))),
      returnsNull = true)(v -> Doubles)

  /** NULL on a dim mismatch. */
  def sqDot(q: Column, code: Column, mins: IndexedSeq[Double],
            scales: IndexedSeq[Double]): Column =
    invoke(SqKernel(mins, scales), "dot", DoubleType, returnsNull = true)(
      q -> Doubles, code -> BinaryType)
}
