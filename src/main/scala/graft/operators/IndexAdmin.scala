package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** Shared teardown for the persisted incremental indexes (minhash,
  * exact-fingerprint, embedding, IVF): drop the catalog entries, then
  * delete the backing directory. This is the missing last step of the
  * blue/green lifecycle — build → probe → extend → compact-into-new →
  * CUTOVER → drop-old — that the compaction scaladocs defer to "the
  * caller"; without it, orphaned pre-compaction tables and paths
  * accumulate across compactions.
  *
  * DROP TABLE on an EXTERNAL table only removes the catalog entry (the
  * files are the caller's), so the path delete is a separate,
  * deliberate step. Single-writer contract as for `extend*`: drop only
  * after every probe of the old generation has drained.
  */
/** A persisted index handle: its catalog tables and the directory that
  * backs them. */
trait PersistedIndex {
  def path: String
  def tables: Seq[String]

  /** Drop the catalog entries and delete the backing directory — the
    * cutover end of the blue/green contract: after a compaction returns
    * the new handle and probes have drained off the old generation, this
    * removes it completely (no orphaned external tables or paths). */
  def drop(spark: SparkSession): Unit =
    IndexAdmin.dropTablesAndPath(spark, tables, path)
}

private[graft] object IndexAdmin {

  def dropTablesAndPath(spark: SparkSession, tables: Seq[String],
                        path: String): Unit = {
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(path))
  }

  /** Conf key gating [[requireDisjointIds]] (default on). A 100 TB
    * ingest that already guarantees monotone ids upstream can turn the
    * verification scan off; everyone else gets a loud failure instead
    * of silently double-counted probes. */
  val CheckDisjointKey = "spark.graft.index.checkDisjointIds"

  /** Enforce the `extend*` fold-in contract — delta ids DISJOINT from
    * ids already indexed — instead of trusting the scaladoc. A
    * violation is otherwise silent and compounding: a re-appended id
    * double-counts in every subsequent probe and no later read can
    * tell the duplicate from a legitimate row.
    *
    * Cost: one column-pruned scan of the index's id column, semi-joined
    * against the (broadcast) delta ids, aborted after the first few
    * hits — O(index) I/O on ONE column, zero shuffles of the index
    * side. Cheap at test/gate scale and bounded at cluster scale; the
    * conf above opts out when the caller proves disjointness upstream. */
  def requireDisjointIds(delta: DataFrame, deltaId: String,
                         indexTable: String, indexId: String,
                         op: String): Unit = {
    val spark = delta.sparkSession
    if (spark.conf.get(CheckDisjointKey, "true").toBoolean) {
      val dupes = spark.table(indexTable).select(col(indexId))
        .join(broadcast(delta.select(col(deltaId).as(indexId)).distinct()),
          Seq(indexId), "left_semi")
        .limit(3).collect().map(_.get(0))
      require(dupes.isEmpty,
        s"$op: delta ids already present in index table $indexTable " +
          s"(e.g. ${dupes.mkString(", ")}) — fold-ins must be id-" +
          s"disjoint or every probe double-counts the re-appended " +
          s"rows; set $CheckDisjointKey=false only when upstream " +
          s"guarantees disjointness")
    }
  }
}
