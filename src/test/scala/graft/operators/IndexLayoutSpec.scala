package graft.operators

import graft.SparkSpec
import graft.engine.Tables
import graft.util.FsUtil
import java.nio.file.{Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one persisted-index layout, checked for every index handle: each
  * handle is built, extended twice and compacted through
  * [[PersistedIndex]], and
  *  - a third extend with already-indexed ids fails the disjoint-ids
  *    guard,
  *  - probes answer identically before and after compaction,
  *  - every compacted bucketed or cell table holds at most one file per
  *    bucket or cell,
  *  - the catalog (`DESCRIBE TABLE EXTENDED`) shows each table with the
  *    location, bucket columns, sort columns, bucket count and partition
  *    columns its handle declares, before and after compaction,
  *  - compaction into the same name or the same path is refused. */
class IndexLayoutSpec extends SparkSpec {

  override def afterAll(): Unit = Dedup.clearCaches()

  /** One handle family: build over a corpus slice, extend with a delta
    * slice, probe with the held-out slice. Slices are `id % 4` of the
    * documents (or embeddings): 0 builds, 1 and 2 extend, 3 probes.
    * `c` is the content column the index is built and extended over. */
  private case class Family[I <: PersistedIndex { type Self = I }](
      kind: String, input: () => DataFrame, id: String, c: String,
      build: (DataFrame, String, String) => I,
      probe: (DataFrame, I) => DataFrame) extends Case {
    def run(): Unit = check(this)
  }
  private sealed trait Case { def kind: String; def run(): Unit }

  private def docs = Tables.documents(spark, sf())
  private def emb = Tables.embeddings(spark, sf())
  private def cents = emb.where(col("vec_id") < 10)
  private lazy val codebook = Similarity.trainPq(emb, "embedding", m = 16,
    codesPerSub = 32, seed = 7L)
  // near-copies of the indexed vectors under fresh ids, so the
  // embedding probe has cross pairs to find
  private def shifted = emb.where(col("vec_id") % 4 =!= 3).select(
    (col("vec_id") + 100000L).as("vec_id"),
    transform(col("embedding"), x => x + lit(0.001f)).as("embedding"))
  private def queries(d: DataFrame) = d.where(col("vec_id") % 40 === 3)

  private val families: Seq[Case] = Seq(
    Family[DedupIndex]("minhash", () => docs, "doc_id", "text",
      (df, n, p) => Dedup.buildIndex(df, "doc_id", "text", n, p),
      (df, i) => Dedup.pairsAgainstIndex(df, "doc_id", "text", i, 0.8)),
    Family[ExactIndex]("exact", () => docs, "doc_id", "text",
      (df, n, p) => Dedup.buildExactIndex(df, "doc_id", "text", n, p),
      (df, i) => Dedup.exactAgainstIndex(df, "doc_id", "text", i)),
    Family[LineIndex]("line", () => docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokenLines(col("text"), 8).as("text")),
      "doc_id", "text",
      (df, n, p) => Dedup.buildLineIndex(df, "doc_id", "text", n, p),
      (df, i) => Dedup.lineDedupAgainstIndex(df, "doc_id", "text", i)),
    Family[SpanIndex]("span", () => docs, "doc_id", "text",
      (df, n, p) => Dedup.buildSpanIndex(df, "doc_id", "text", 20, n, p),
      (df, i) => Dedup.duplicateSpansAgainstIndex(df, "doc_id", "text", i)),
    Family[EmbeddingIndex]("embedding", () => emb, "vec_id", "embedding",
      (df, n, p) => Dedup.buildEmbeddingIndex(df, "vec_id", "embedding",
        n, p, 0.85, dim = 64),
      (_, i) => Dedup.embeddingPairsAgainstIndex(shifted, "vec_id",
        "embedding", i)),
    Family[IvfIndex]("ivf", () => emb, "vec_id", "embedding",
      (df, n, p) => Similarity.buildIvfIndex(df, "vec_id", "embedding",
        cents, "vec_id", "embedding", n, p),
      (_, i) => Similarity.ivfKnnFromIndex(spark, queries(emb), "vec_id",
        "embedding", i, 3, nProbe = 2)),
    Family[IvfPqIndex]("ivf-pq", () => emb, "vec_id", "embedding",
      (df, n, p) => Similarity.buildIvfPqIndex(df, "vec_id", "embedding",
        cents, "vec_id", "embedding", codebook, n, p),
      (_, i) => Similarity.ivfPqKnnFromIndex(spark, queries(emb),
        "vec_id", "embedding", i, 3, nProbe = 4, refine = 48)),
    Family[NgramIndex]("n-gram", () => docs, "doc_id", "text",
      (df, n, p) => CorpusStats.buildNgramIndex(df, "doc_id", "text", 3,
        n, p),
      (df, i) => CorpusStats.ngramLogProbAgainstIndex(df, "doc_id", "text",
        i)),
    Family[ChunkIndex]("chunk", () => docs, "doc_id", "text",
      (df, n, p) => Chunking.buildChunkIndex(df, "doc_id", "text", n, p),
      (df, i) => Chunking.deltaNovelty(df, "doc_id", "text", i)))

  private def tmpPath(): String =
    java.nio.file.Files.createTempDirectory("graft-layout-spec").toString

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).toSet

  /** The catalog's view of `table`: location, bucket columns, sort
    * columns, bucket count and partition columns. */
  private def described(table: String)
      : (String, Seq[String], Seq[String], Int, Seq[String]) = {
    val out = spark.sql(s"DESCRIBE TABLE EXTENDED `$table`").collect()
      .map(r => (r.getString(0).trim, Option(r.getString(1)).fold("")(_.trim)))
    def field(k: String) = out.collectFirst { case (`k`, v) => v }
    def cols(k: String) = field(k).toSeq.flatMap(
      _.stripPrefix("[").stripSuffix("]").split(",").map(_.trim
        .stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty))
    val partitionCols = out.map(_._1)
      .dropWhile(_ != "# Partition Information").drop(2)
      .takeWhile(c => c.nonEmpty && !c.startsWith("#")).toSeq
    (field("Location").get.stripPrefix("file:"), cols("Bucket Columns"),
      cols("Sort Columns"), field("Num Buckets").fold(-1)(_.toInt),
      partitionCols)
  }

  private def assertDeclaredLayout(idx: PersistedIndex): Unit =
    idx.layout.foreach { t =>
      val (loc, bucketCols, sortCols, nBuckets, partCols) = described(t.name)
      assert(Paths.get(loc) == Paths.get(s"${idx.path}/${t.name}"),
        s"${t.name}: location $loc")
      val want = t match {
        case b: IndexTable.Bucketed =>
          (Seq(b.key), Seq(b.key), b.numBuckets, Nil)
        case _: IndexTable.Cells => (Nil, Nil, -1, Seq("cell"))
        case _: IndexTable.Plain => (Nil, Nil, -1, Nil)
      }
      assert((bucketCols, sortCols, nBuckets, partCols) == want,
        s"${t.name}: catalog layout differs from the declaration")
    }

  private def parquetFiles(dir: Path): Seq[Path] =
    FsUtil.listFiles(dir, ".parquet")

  /** At most one file per bucket (bucket id is the file name's `_NNNNN`
    * suffix) or per `cell=` directory. */
  private def assertOneFilePerUnit(idx: PersistedIndex): Unit =
    idx.layout.foreach { t =>
      val dir = Paths.get(s"${idx.path}/${t.name}")
      t match {
        case b: IndexTable.Bucketed =>
          val files = parquetFiles(dir)
          assert(files.nonEmpty, s"${t.name}: no files")
          val perBucket = files.groupBy(_.getFileName.toString
            .split("_").last.take(5))
          assert(perBucket.size <= b.numBuckets &&
            perBucket.values.forall(_.size == 1),
            s"${t.name}: ${files.size} files over ${perBucket.size} buckets")
        case _: IndexTable.Cells =>
          val cells = FsUtil.listDirs(dir, "cell=")
          assert(cells.nonEmpty, s"${t.name}: no cell directories")
          cells.foreach(c => assert(parquetFiles(c).size == 1,
            s"${t.name}/${c.getFileName}: ${parquetFiles(c).size} files"))
        case _: IndexTable.Plain =>
      }
    }

  private def check[I <: PersistedIndex { type Self = I }](
      f: Family[I]): Unit = {
    val all = f.input()
    def part(m: Int) = all.where(col(f.id) % 4 === m)
    val tag = f.kind.replace("-", "_")
    val idx = f.build(part(0), s"layout_spec_$tag", tmpPath())
    var out: Option[I] = None
    try {
      idx.extend(part(1), f.id, f.c)
      idx.extend(part(2), f.id, f.c)
      // part 0 holds every id the build recorded, the keep ids of the
      // exact and chunk indexes included
      val refused = intercept[IllegalArgumentException](
        idx.extend(part(0), f.id, f.c))
      assert(refused.getMessage.contains("disjoint"),
        s"${f.kind}: ${refused.getMessage}")
      assertDeclaredLayout(idx)
      val before = rows(f.probe(part(3), idx))
      assert(before.nonEmpty, s"${f.kind}: the probe finds nothing")
      out = Some(idx.compact(spark, s"layout_spec_${tag}_c", tmpPath()))
      val compacted = out.get
      assert(rows(f.probe(part(3), compacted)) == before,
        s"${f.kind}: compaction changed the probe output")
      assertDeclaredLayout(compacted)
      assertOneFilePerUnit(compacted)
      intercept[IllegalArgumentException](
        idx.compact(spark, idx.name, s"${idx.path}_x"))
      intercept[IllegalArgumentException](
        idx.compact(spark, s"layout_spec_${tag}_x", idx.path))
    } finally {
      idx.drop(spark)
      out.foreach(_.drop(spark))
    }
  }

  families.foreach { f =>
    test(s"${f.kind} index: build, two extends, compaction keep the " +
      "declared layout and the probe output")(f.run())
  }
}
