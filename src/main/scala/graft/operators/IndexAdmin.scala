package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, sum}

/** One table of a persisted index and its on-disk layout. Every index
  * table lives at `<index path>/<table name>` as an external parquet
  * table. */
sealed trait IndexTable { def name: String }

object IndexTable {

  /** Bucketed and sorted by `key` into `numBuckets` buckets. A SLICE
    * table (`sumCol` set) is additive: every extend appends its own
    * `(key, sumCol)` slice, probes fold the slices with sum, and
    * compaction folds them to one row per key. */
  case class Bucketed(name: String, key: String, numBuckets: Int,
                      sumCol: Option[String] = None) extends IndexTable

  /** Partitioned by `cell` (one directory per cell), so a probe's
    * `cell IN (...)` predicate prunes to the probed cells. */
  case class Cells(name: String) extends IndexTable

  /** Neither bucketed nor partitioned: small parameter tables
    * (centroids, codebooks) copied verbatim by compaction. */
  case class Plain(name: String) extends IndexTable
}

/** A persisted index handle: its catalog tables, each declared once
  * with its layout, and the directory that backs them. The lifecycle
  * is build → probe → extend → compact-into-new → CUTOVER → drop-old,
  * and every step that touches storage goes through this trait: build
  * and extend through one fold, compaction through [[compact]], the
  * cutover end through [[drop]]. Single-writer contract: extend,
  * compact and drop only while no other writer holds the index, and
  * drop an old generation only after every probe of it has drained.
  *
  * The fold contract: the ids of every extend's delta are DISJOINT
  * from the ids already indexed. A re-folded id double-counts in every
  * later probe, and no later read can tell the duplicate from a
  * legitimate row, so the fold verifies it by default against the
  * handle's [[guard]] ([[IndexAdmin.requireDisjointIds]]; the
  * `spark.graft.index.checkDisjointIds` conf opts out when upstream
  * guarantees it). An extend is O(delta): it appends the delta's own
  * slices and never rescans history. */
trait PersistedIndex {
  /** The concrete handle type, which [[compact]] returns. */
  type Self <: PersistedIndex
  def name: String
  def path: String
  def layout: Seq[IndexTable]

  /** This handle's parameters under another name and path. */
  protected def at(name: String, path: String): Self

  /** The table and id column the disjoint-ids guard scans. */
  protected def guard: (String, String)

  /** The `(table, rows)` pairs one ingest of `df` writes, keyed by the
    * id column `id` and the content column `c` (text or vector). A
    * slice that needs the index's own state (an anti-join against the
    * indexed keys, the persisted centroids or codebook) reads it here,
    * after the seed is written. */
  protected def slices(df: DataFrame, id: String, c: String,
                       append: Boolean): Seq[(String, DataFrame)]

  /** The one writer of index tables. A build (`append = false`)
    * overwrites `table` at `<path>/<table>`; an extend appends to it
    * without a path, since the location is fixed at creation and the
    * append inherits it. Both repeat the table's declared layout. */
  private def write(table: String, df: DataFrame, append: Boolean): Unit = {
    val t = layout.find(_.name == table).getOrElse(throw
      new IllegalArgumentException(s"$table is not a table of index $name"))
    IndexAdmin.save(df, t,
      if (append) None else Some(s"$path/$table"))
  }

  /** The one fold-in: guard the delta's ids (extend only), then write
    * its slices. */
  private def fold(df: DataFrame, id: String, c: String,
                   append: Boolean): Unit = {
    if (append) IndexAdmin.requireDisjointIds(df, id, guard._1, guard._2,
      s"${getClass.getSimpleName} $name")
    slices(df, id, c, append).foreach { case (t, rows) =>
      write(t, rows, append) }
  }

  /** Create the index over `df`: write the `seed` parameter tables
    * (centroids, codebook), then fold `df` in without appending. */
  private[graft] def build(df: DataFrame, id: String, c: String,
                           seed: (String, DataFrame)*): this.type = {
    seed.foreach { case (t, rows) => write(t, rows, append = false) }
    fold(df, id, c, append = false)
    this
  }

  /** Fold a processed delta into the index: after the probe has
    * answered the delta, extending makes the next delta probe against
    * corpus + this one. `c` is the column the index was built over. */
  def extend(delta: DataFrame, id: String, c: String): Unit =
    fold(delta, id, c, append = true)

  /** Compact a many-times-extended index: every extend appends small
    * files per bucket or cell until open/seek cost dominates the
    * probe. Compaction rewrites every table under a NEW name and path
    * and returns the new handle: bucketed tables to one file per
    * bucket, cell tables to one file per cell, slice tables folded to
    * one row per key, parameter tables copied verbatim. Blue/green by
    * design: the old index stays readable until the caller [[drop]]s
    * it, so probes never race a rewrite. Probe output is identical
    * (spec-pinned). */
  def compact(spark: SparkSession, name: String, path: String): Self = {
    require(name != this.name && path != this.path,
      "compaction is blue/green: compact into a NEW name and path, " +
        "then drop the old index")
    val out = at(name, path)
    layout.zip(out.layout).foreach { case (from, to) =>
      IndexAdmin.save(IndexAdmin.compacted(spark, from, this.path), to,
        Some(s"$path/${to.name}"))
    }
    out
  }

  /** Drop the catalog entries and delete the backing directory — the
    * cutover end of the blue/green contract: after a compaction returns
    * the new handle and probes have drained off the old generation, this
    * removes it completely (no orphaned external tables or paths).
    * DROP TABLE on an EXTERNAL table only removes the catalog entry, so
    * the path delete is a separate, deliberate step. */
  def drop(spark: SparkSession): Unit = {
    layout.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(path))
  }
}

/** A persisted index of additive count slices whose tables carry no
  * document id: a ledger of ingested document ids, `(doc_id)` bucketed
  * by `doc_id`, is its guard, and every fold records the delta's ids
  * in it beside the handle's own [[countSlices]]. */
trait LedgeredIndex extends PersistedIndex {
  def numBuckets: Int
  def docsTable: String = s"${name}_docs"
  protected def ledger: IndexTable =
    IndexTable.Bucketed(docsTable, "doc_id", numBuckets)
  protected def guard: (String, String) = (docsTable, "doc_id")

  /** The count slices one ingest of `df` writes. */
  protected def countSlices(df: DataFrame, id: String,
                            c: String): Seq[(String, DataFrame)]

  protected def slices(df: DataFrame, id: String, c: String,
                       append: Boolean): Seq[(String, DataFrame)] =
    countSlices(df, id, c) :+ (docsTable ->
      df.select(col(id).cast("long").as("doc_id")).distinct())
}

private[graft] object IndexAdmin {

  /** The only `bucketBy`/`partitionBy`/`saveAsTable` of an index table:
    * write `df` with `t`'s layout, overwriting at `location` when one is
    * given, else appending to the existing table. */
  def save(df: DataFrame, t: IndexTable, location: Option[String]): Unit = {
    val w = df.write.format("parquet")
      .mode(if (location.isEmpty) SaveMode.Append else SaveMode.Overwrite)
    val laid = t match {
      case b: IndexTable.Bucketed =>
        w.bucketBy(b.numBuckets, b.key).sortBy(b.key)
      case _: IndexTable.Cells => w.partitionBy("cell")
      case _: IndexTable.Plain => w
    }
    location.fold(laid)(laid.option("path", _)).saveAsTable(t.name)
  }

  /** `t`'s rows (stored under `indexPath`) arranged for a compacted
    * rewrite with the same layout.
    *
    * A bucketed table is read as RAW parquet, NOT via `spark.table`,
    * and repartitioned by its key into its bucket count: repartition's
    * hash partitioning and the bucket id function are the same
    * murmur3-mod-n, so each task holds exactly one bucket's rows and
    * writes exactly one file. A catalog read would advertise the bucket
    * distribution, which lets the planner elide the repartition as
    * redundant — and since nothing downstream exploits bucketing, the
    * bucketed scan itself is then disabled
    * (DisableUnnecessaryBucketedScan), leaving split-based tasks that
    * each write a file per bucket they hold: exactly the accretion
    * being compacted away (measured: 102 files instead of 32). The raw
    * read has no claimed distribution, so the exchange survives.
    *
    * A slice table folds to one row per key instead; a cell table is
    * repartitioned by cell, so each cell lands in one task. */
  def compacted(spark: SparkSession, t: IndexTable,
                indexPath: String): DataFrame = t match {
    case IndexTable.Bucketed(name, key, _, Some(c)) =>
      spark.table(name).groupBy(key).agg(sum(c).as(c))
    case IndexTable.Bucketed(name, key, n, None) =>
      spark.read.parquet(s"$indexPath/$name").repartition(n, col(key))
    case IndexTable.Cells(name) => spark.table(name).repartition(col("cell"))
    case IndexTable.Plain(name) => spark.table(name)
  }

  /** The rows of `rows` whose `key` is not yet in `table` — the append
    * slice of an index that keeps one row per key. NULL-SAFE: a null
    * key matches its indexed row like any other, or every extend would
    * re-append it. */
  def unseen(rows: DataFrame, key: String, table: String): DataFrame =
    rows.join(rows.sparkSession.table(table).select(col(key).as("__seen"))
      .hint("shuffle_hash"), col(key) <=> col("__seen"), "left_anti")

  /** Conf key gating [[requireDisjointIds]] (default on). A 100 TB
    * ingest that already guarantees monotone ids upstream can turn the
    * verification scan off; everyone else gets a loud failure instead
    * of silently double-counted probes. */
  val CheckDisjointKey = "spark.graft.index.checkDisjointIds"

  /** Enforce the fold contract of [[PersistedIndex]] — delta ids
    * DISJOINT from ids already indexed — instead of trusting the
    * scaladoc. `op` names the handle in the message.
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
