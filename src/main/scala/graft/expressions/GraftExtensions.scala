package graft.expressions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Registers graft's kernel columns with the SQL function registry so
  * `spark.sql("SELECT graft_dot(a, b) ...")` works.
  *
  * Two entry points:
  *  - config: `spark.sql.extensions=graft.expressions.GraftExtensions`
  *    (the standard SparkSessionExtensions route);
  *  - runtime: `GraftExtensions.register(spark)` for an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  // one SQL function: its kernel (named by the ExpressionInfo), the
  // argument counts it takes, and the column TextExprs/VectorExprs build
  private def fn(name: String, kernel: Class[_], usage: String, arity: Int*)(
      build: Seq[Expression] => Column)
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name, new ExpressionInfo(kernel.getName.stripSuffix("$"), null, name),
      (args: Seq[Expression]) => {
        require(arity.contains(args.length), s"$name takes $usage")
        ColumnBridge.expression(build(args))
      })

  private def c(e: Expression): Column = ColumnBridge.column(e)

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      fn("graft_dot", VectorKernels.getClass, "exactly 2 arguments", 2)(args =>
        VectorExprs.dot(c(args.head), c(args(1)))),
      fn("graft_word_shingles", TextKernels.getClass, "(text, n)", 2)(args =>
        TextExprs.wordShingles(c(args.head), litInt(args(1), "graft_word_shingles n"))),
      fn("graft_normalized_md5", Md5Kernel.getClass, "(text)", 1)(args =>
        TextExprs.normalizedMd5(c(args.head))),
      // portable=true switches the token hash to the md5-derived 64-bit
      // form DuckDB can replicate (oracle-checkable pipelines)
      fn("graft_simhash64", SimHashKernel.getClass, "(tokens[, portable])", 1, 2)(args =>
        TextExprs.simhash64(c(args.head),
          litFlag(args, 1, "graft_simhash64 portable flag", dflt = false))),
      fn("graft_text_stats", TextStatsKernel.getClass, "(text)", 1)(args =>
        TextExprs.textStats(c(args.head))),
      fn("graft_token_entropy", TokenEntropyKernel.getClass, "(text)", 1)(args =>
        TextExprs.tokenEntropy(c(args.head))),
      fn("graft_band_keys", classOf[HyperplaneKernel],
          "(vec, dim, bitsPerBand, numBands, seed)", 5)(args =>
        VectorExprs.bandKeys(c(args.head),
          litInt(args(1), "dim"), litInt(args(2), "bitsPerBand"),
          litInt(args(3), "numBands"), litLong(args(4), "seed"))),
      fn("graft_signed_project", classOf[SignedProjectKernel],
          "(vec, dim, outDim, salt)", 4)(args => {
        val salt = args(3) match {
          case Literal(v: UTF8String, StringType) => v.toString
          case other => throw new IllegalArgumentException(
            s"graft_signed_project salt must be a string literal, got $other")
        }
        VectorExprs.signedProject(c(args.head), litInt(args(1), "dim"),
          litInt(args(2), "outDim"), salt)
      }),
      fn("graft_normalize", TextKernels.getClass,
          "(text[, nfkc, casefold, collapseWs])", 1, 2, 3, 4)(args =>
        TextExprs.normalizeText(c(args.head),
          litFlag(args, 1, "graft_normalize nfkc", dflt = false),
          litFlag(args, 2, "graft_normalize casefold", dflt = true),
          litFlag(args, 3, "graft_normalize collapseWs", dflt = true))),
      fn("graft_drop_repeated_lines", TextKernels.getClass, "(text)", 1)(args =>
        TextExprs.dropRepeatedLines(c(args.head))),
      fn("graft_cdc_boundaries", TextKernels.getClass,
          "(text, window, prime, modBits, divisor, residue)", 6)(args =>
        TextExprs.cdcBoundaries(c(args.head), litInt(args(1), "window"),
          litInt(args(2), "prime"), litInt(args(3), "modBits"),
          litInt(args(4), "divisor"), litInt(args(5), "residue"))),
      fn("graft_simhash_text", SimHashKernel.getClass, "(text[, portable])", 1, 2)(args =>
        TextExprs.simhashText(c(args.head),
          litFlag(args, 1, "graft_simhash_text portable flag", dflt = false))),
      // the canonical seeded permutation family (same constants the
      // Dedup.minhashPairs pipeline uses), so SQL signatures join
      // against Scala-side ones
      fn("graft_minhash_sig", classOf[MinHashKernel],
          "(tokens, numPerms)", 2)(args => {
        val ps = graft.operators.Dedup.perms(litInt(args(1), "numPerms"))
        TextExprs.minhashSig(c(args.head), ps.map(_._1).toIndexedSeq,
          ps.map(_._2).toIndexedSeq)
      }))
  // The nearest-centroid kernel is deliberately NOT SQL-registered: its
  // centroid matrix is collected at run time, not a literal a SQL call
  // site could express — use Similarity.assignCells.

  private def litInt(e: Expression, what: String): Int = lit(e, what).toInt
  private def litLong(e: Expression, what: String): Long = lit(e, what).toLong

  private def lit(e: Expression, what: String): String = e match {
    case Literal(v, _) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a literal, got $other")
  }

  // args(i) as a boolean literal, `dflt` when the call omits it
  private def litFlag(args: Seq[Expression], i: Int, what: String,
                      dflt: Boolean): Boolean =
    if (args.length <= i) dflt
    else args(i) match {
      case Literal(v: Boolean, BooleanType) => v
      case other => throw new IllegalArgumentException(
        s"$what must be a boolean literal, got $other")
    }

  /** Register into an existing session's function registry. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, inf, builder) =>
      registry.registerFunction(FunctionIdentifier(name), inf, builder)
    }
  }
}
