package graft
import java.nio.file.{Files, Paths}
/** Optimization-round tooling: dump `.explain("formatted")` for named
  * queries (or all) to `<outDir>/<name>.txt`, so plan-shape claims in
  * OPTIMIZATION_r*.md are checkable without running Spark.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> [q_a,q_b,...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    val spark = GraftSession("graft-plans")
    new java.io.File(outDir).mkdirs()
    // failures are collected and the process exits non-zero, and each
    // target file is deleted before the dump is attempted — a failed
    // dump must never leave a STALE plan file from a previous run for
    // the OPTIMIZATION_r*.md evidence workflow to mistake for current
    // (r18 ADVICE)
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        Files.deleteIfExists(Paths.get(s"$outDir/$name.txt"))
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/$name.txt"), txt)
          System.err.println(s"[plans] wrote $name")
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[plans] $name failed: ${e.getMessage}")
          failed += name
        }
      }
    SparkEntry.dropCachedIndexes(spark)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plans] FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
