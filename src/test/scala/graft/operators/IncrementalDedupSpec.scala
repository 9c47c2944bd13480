package graft.operators

import graft.SparkSpec
import graft.engine.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental persisted dedup index: a delta dedups against bucketed
  * signature tables instead of recomputing corpus signatures — the
  * production shape at 100 TB. Pins (1) union-equivalence with the
  * batch operator, (2) the plan property that the index side of the
  * candidate join reads its buckets with no Exchange, (3) extendIndex
  * folding a delta in for the next round. */
class IncrementalDedupSpec extends SparkSpec {

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def tmpPath(): String =
    java.nio.file.Files.createTempDirectory("graft-idx-spec").toString

  test("index + delta pairs equal the batch operator on corpus + delta") {
    val s = spark
    val all = Tables.documents(s, sf())
    val corpus = all.where(col("doc_id") % 4 =!= 3)
    val delta = all.where(col("doc_id") % 4 === 3)
    val idx = Dedup.buildIndex(corpus, "doc_id", "text", "inc_spec_a",
      tmpPath())
    try {
      val batch = pairSet(Dedup.minhashPairs(all, "doc_id", "text", 3, 0.8))
      val corpusOnly = pairSet(
        Dedup.minhashPairs(corpus, "doc_id", "text", 3, 0.8))
      val incr = pairSet(
        Dedup.pairsAgainstIndex(delta, "doc_id", "text", idx, 0.8))
      // every incremental pair touches the delta — none was already known
      assert(incr.forall(p => p._1 % 4 == 3 || p._2 % 4 == 3))
      assert((corpusOnly ++ incr) == batch,
        s"union-equivalence broken: missing=${batch -- corpusOnly -- incr} " +
          s"extra=${(corpusOnly ++ incr) -- batch}")
      // the split actually exercises the cross path at this sf
      assert(incr.exists(p => p._1 % 4 != 3 || p._2 % 4 != 3),
        "no corpus x delta pair in the vector — split is vacuous")
    } finally idx.drop(s)
  }

  test("incremental pair verdicts: corpus wins, smaller delta id wins") {
    val s = spark
    import s.implicits._
    // delta ids 10,11,12,13; pairs: (5,10) cross — 10 drops regardless
    // of order; (11,20) cross with larger indexed id — 11 still drops
    // (corpus wins); (12,13) within delta — 13 drops; 12 has no
    // dropping pair and keeps
    val delta = Seq(10L, 11L, 12L, 13L).toDF("doc_id")
    val pairs = Seq((5L, 10L, 0.9), (11L, 20L, 0.9), (12L, 13L, 0.9))
      .toDF("d1", "d2", "jaccard")
    val v = Dedup.verdictsFromIncrementalPairs(delta, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(v == Map(10L -> false, 11L -> false, 12L -> true, 13L -> false))
  }

  test("candidate join reads the index buckets without an Exchange") {
    val s = spark
    val all = Tables.documents(s, sf())
    val idx = Dedup.buildIndex(all.where(col("doc_id") % 4 =!= 3),
      "doc_id", "text", "inc_spec_b", tmpPath())
    try {
      val pairs = Dedup.pairsAgainstIndex(
        all.where(col("doc_id") % 4 === 3), "doc_id", "text", idx, 0.8)
      val plan = pairs.queryExecution.executedPlan.toString
      // the candidate join is a shuffle-hash join...
      assert(plan.contains("ShuffledHashJoin"), s"expected SHJ:\n$plan")
      // ...and the bands-table scan feeds it directly: no Exchange (and
      // no Sort) between the bucketed scan and the join
      val scanToJoin = plan.linesIterator
        .dropWhile(l => !l.contains(idx.bandsTable)).toSeq
      assert(scanToJoin.nonEmpty, s"no ${idx.bandsTable} scan in:\n$plan")
      val above = plan.linesIterator
        .takeWhile(l => !l.contains(idx.bandsTable)).toSeq.reverse
        .takeWhile(l => !l.contains("Join")).mkString("\n")
      assert(!above.contains("Exchange"),
        s"Exchange above the index scan:\n$plan")
    } finally idx.drop(s)
  }

  test("materialized-signature batch dedup equals the in-memory operator") {
    // the 100 TB persistShingles answer: signatures read from the
    // bucketed index, banded self-join Exchange-free on BOTH sides
    val s = spark
    val all = Tables.documents(s, sf())
    val idx = Dedup.buildIndex(all, "doc_id", "text", "inc_spec_m",
      tmpPath())
    try {
      val fromIndex = Dedup.minhashPairsFromIndex(s, idx, 0.8)
      assert(pairSet(fromIndex) ==
        pairSet(Dedup.minhashPairs(all, "doc_id", "text", 3, 0.8)))
      // plan property the operator relies on, pinned on the exact join
      // shape it builds (the operator's own candidate frame is cached,
      // so its executed plan prints as an InMemoryTableScan): a banded
      // self-join of the bucketed table shuffles NEITHER side
      val bands = s.table(idx.bandsTable)
      val selfJoin = bands.hint("shuffle_hash").as("a")
        .join(bands.hint("shuffle_hash").as("b"),
          col("a.bkey") === col("b.bkey") && col("a.doc") < col("b.doc"))
      val plan = selfJoin.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"), s"expected SHJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed banded self-join should be Exchange-free:\n$plan")
    } finally idx.drop(s)
  }

  test("embedding delta vs index equals the batch LSH operator") {
    // shifted near-copies (the q_dedup_embedding_lsh corpus recipe)
    // guarantee true pairs at 0.85 — the base corpus alone has none,
    // so set-equality here is never vacuous
    val s = spark
    import graft.functions.VectorFunctions.asDoubles
    val base = Tables.embeddings(s, sf())
      .select(col("vec_id"), asDoubles(col("embedding")).as("embedding"))
    val shifted = base.where(col("vec_id") < 100)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.08)).as("embedding"))
    val idx = Dedup.buildEmbeddingIndex(base, "vec_id", "embedding",
      "inc_spec_e", tmpPath(), 0.85, dim = 64)
    try {
      def eset(df: DataFrame): Set[(Long, Long, Double)] =
        df.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val incr = eset(Dedup.embeddingPairsAgainstIndex(
        shifted, "vec_id", "embedding", idx))
      val batch = eset(Dedup.embeddingPairsLsh(
        base.unionAll(shifted), "vec_id", "embedding", 0.85, dim = 64))
      val batchBase = eset(Dedup.embeddingPairsLsh(
        base, "vec_id", "embedding", 0.85, dim = 64))
      assert(incr.nonEmpty, "vector is vacuous — no shifted pairs found")
      assert((batchBase ++ incr) == batch,
        s"union-equivalence broken: missing=${batch -- batchBase -- incr}")
      // a sub-build-threshold probe must be refused loudly
      intercept[IllegalArgumentException] {
        Dedup.embeddingPairsAgainstIndex(shifted, "vec_id", "embedding",
          idx, threshold = 0.5)
      }
      // extend folds the delta in: a second shifted batch then finds
      // its pairs against base AND the first delta
      val shifted2 = base.where(col("vec_id") < 100)
        .select((col("vec_id") + 200000).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.08)).as("embedding"))
      Dedup.extendEmbeddingIndex(shifted, "vec_id", "embedding", idx)
      val incr2 = eset(Dedup.embeddingPairsAgainstIndex(
        shifted2, "vec_id", "embedding", idx))
      // shifted2(v+0.08) vs shifted(v+0.08) are IDENTICAL vectors —
      // every id < 100100 pair at cosine 1.0 must appear
      assert(incr2.exists { case (a, b, c) =>
        a >= 100000 && b >= 200000 && c == 1.0 },
        s"extend missed first-delta pairs: ${incr2.take(5)}")
      // drop removes catalog entries and the backing path (idempotent —
      // the finally below re-drops harmlessly)
      idx.drop(s)
      assert(!s.catalog.tableExists(idx.bandsTable) &&
        !s.catalog.tableExists(idx.vectorsTable) &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(idx.path)),
        "EmbeddingIndex.drop left debris behind")
    } finally {
      idx.drop(s)
    }
  }

  test("exact fingerprint index: delta verdicts match the batch operator") {
    val s = spark
    val all = Tables.documents(s, sf())
    val corpus = all.where(col("doc_id") % 4 =!= 3)
    val delta = all.where(col("doc_id") % 4 === 3)
    val idx = Dedup.buildExactIndex(corpus, "doc_id", "text",
      "inc_spec_fp", tmpPath())
    try {
      def vset(df: DataFrame): Set[(Long, Boolean)] =
        df.select(col("doc_id"), col("keep")).collect()
          .map(r => (r.getLong(0), r.getBoolean(1))).toSet
      val incr = vset(Dedup.exactAgainstIndex(delta, "doc_id", "text", idx))
      // batch over corpus+delta, restricted to delta rows
      val batch = vset(Dedup.exact(all, "doc_id", "text")
        .where(col("doc_id") % 4 === 3))
      assert(incr == batch,
        s"verdict mismatch: ${(incr -- batch).take(5)} vs ${(batch -- incr).take(5)}")
      // within-delta duplicates (BEFORE extend, so the fp is corpus-
      // unseen): the smallest delta id carrying a shared fp keeps, the
      // larger copy does not — pinning the min-id window branch
      // non-vacuously (no two natural delta docs share a fingerprint)
      val first = delta.orderBy("doc_id").limit(1)
        .select(col("doc_id"), col("text")).collect()(0)
      val withDup = delta.select(col("doc_id"), col("text"))
        .unionAll(delta.orderBy("doc_id").limit(1)
          .select((col("doc_id") + 950000).as("doc_id"), col("text")))
      val dd = Dedup.exactAgainstIndex(withDup, "doc_id", "text", idx)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(dd(first.getLong(0)), "original should keep")
      assert(!dd(first.getLong(0) + 950000),
        "larger within-delta duplicate should not keep")
      // a duplicated delta doc (same text, new id) flips to keep=false
      // after the original's fp is folded in via extend
      Dedup.extendExactIndex(delta, "doc_id", "text", idx)
      val dup = delta.limit(1)
        .select((col("doc_id") + 900000).as("doc_id"), col("text"))
      val v2 = Dedup.exactAgainstIndex(dup, "doc_id", "text", idx).collect()
      assert(v2.length == 1 && !v2(0).getBoolean(2),
        s"folded fp should mark the duplicate keep=false: ${v2.toSeq}")
    } finally idx.drop(s)
  }

  test("exact fingerprint index joins the null-fp group null-safely") {
    // null-text docs fingerprint to NULL; the probe's <=> join must
    // match them against the corpus's null-fp row (a plain equi-join
    // would mark every null-text doc keep=true), and extend must not
    // re-append the null-fp row
    val s = spark
    import s.implicits._
    val nCorpus = Seq((1L, "some text"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val nDelta = Seq((10L, null.asInstanceOf[String]),
      (11L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val idx = Dedup.buildExactIndex(nCorpus, "doc_id", "text",
      "inc_spec_fpn", tmpPath())
    try {
      val v = Dedup.exactAgainstIndex(nDelta, "doc_id", "text", idx)
        .collect()
      assert(v.length == 2 && v.forall(!_.getBoolean(2)),
        s"null-text delta docs are dups of the corpus null-fp group: " +
          v.mkString(", "))
      Dedup.extendExactIndex(nDelta, "doc_id", "text", idx)
      assert(s.table(idx.fpTable).where(col("fp").isNull).count() == 1,
        "extend must preserve the one-row-per-fp invariant for null fp")
    } finally idx.drop(s)
  }

  test("line index: delta dedup equals the batch operator on corpus ∪ delta") {
    val s = spark
    // the fixture's documents are single-line: regroup into 8-token
    // lines (the q_dedup_lines construction) so cross-doc duplicate
    // lines exist on both sides of the split
    val all = Tables.documents(s, sf()).select(col("doc_id"),
      graft.functions.TextFunctions.tokenLines(col("text"), 8).as("text"))
    val corpus = all.where(col("doc_id") % 4 =!= 3)
    val delta = all.where(col("doc_id") % 4 === 3)
    val idx = Dedup.buildLineIndex(corpus, "doc_id", "text",
      "inc_spec_lf", tmpPath())
    try {
      def rows(df: DataFrame): Set[(Long, String, Long, Long)] =
        df.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val incr = rows(Dedup.lineDedupAgainstIndex(delta, "doc_id", "text", idx))
      val batch = rows(Dedup.lineDedup(all, "doc_id", "text")
        .where(col("doc_id") % 4 === 3))
      assert(incr == batch,
        s"mismatch: ${(incr -- batch).take(3)} vs ${(batch -- incr).take(3)}")
      // the equality is non-vacuous only if the index actually dropped
      // something from the delta
      assert(incr.exists(r => r._4 < r._3),
        "fixture must produce at least one cross-split duplicate line")
      // fold the delta in; a re-keyed verbatim COPY of a delta doc now
      // collides with the indexed counts on every line -> empty survivor
      Dedup.extendLineIndex(delta, "doc_id", "text", idx)
      val probe = delta.orderBy("doc_id").limit(1)
        .select((col("doc_id") + 900000).as("doc_id"), col("text"))
      val v = Dedup.lineDedupAgainstIndex(probe, "doc_id", "text", idx)
        .collect()
      assert(v.length == 1 && v(0).getString(1) == "" &&
        v(0).getLong(3) == 0L,
        s"all lines of a re-crawled copy must drop: ${v.toSeq}")
      // re-folding the same ids must fail loudly (additive counts would
      // silently double)
      intercept[IllegalArgumentException] {
        Dedup.extendLineIndex(delta, "doc_id", "text", idx)
      }
    } finally {
      idx.drop(s)
    }
  }

  test("line-index probe folds the freq buckets without an Exchange") {
    val s = spark
    val all = Tables.documents(s, sf()).select(col("doc_id"),
      graft.functions.TextFunctions.tokenLines(col("text"), 8).as("text"))
    val idx = Dedup.buildLineIndex(all.where(col("doc_id") % 4 =!= 3),
      "doc_id", "text", "inc_spec_lfp", tmpPath())
    try {
      val probe = Dedup.lineDedupAgainstIndex(
        all.where(col("doc_id") % 4 === 3), "doc_id", "text", idx)
      val plan = probe.queryExecution.executedPlan.toString
      // the slice fold (groupBy lfp over the bucketed table) must reuse
      // the bucket partitioning: the index BRANCH — final sum agg →
      // partial agg → freq-table scan, printed contiguously in tree
      // order — contains no Exchange (the delta side repartitioning to
      // the bucket count is expected and not this branch)
      val branch = plan.linesIterator
        .dropWhile(l => !l.contains("functions=[sum(ndocs"))
        .takeWhile(l => !l.contains(idx.freqTable)).mkString("\n")
      assert(branch.nonEmpty && plan.contains(idx.freqTable),
        s"index fold branch not found in:\n$plan")
      assert(!branch.contains("Exchange"),
        s"Exchange between the freq-table scan and its fold:\n$branch")
      assert(plan.contains("ShuffledHashJoin"),
        s"index joins must be shuffle-hash:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"no corpus-sized side may broadcast:\n$plan")
    } finally {
      idx.drop(s)
    }
  }

  test("compactLineIndex collapses slices and preserves probe results") {
    val s = spark
    val all = Tables.documents(s, sf()).select(col("doc_id"),
      graft.functions.TextFunctions.tokenLines(col("text"), 8).as("text"))
    val c0 = all.where(col("doc_id") % 4 === 0)
    val c1 = all.where(col("doc_id") % 4 === 1)
    val delta = all.where(col("doc_id") % 4 === 3)
    val idx = Dedup.buildLineIndex(c0, "doc_id", "text",
      "inc_spec_lfc", tmpPath())
    try {
      Dedup.extendLineIndex(c1, "doc_id", "text", idx)
      // two slices appended: some lfp rows exist twice pre-compaction
      val pre = s.table(idx.freqTable).count()
      val distinctLfp = s.table(idx.freqTable)
        .select("lfp").distinct().count()
      assert(pre > distinctLfp,
        "extend must append a second slice for shared lines")
      val before = Dedup.lineDedupAgainstIndex(delta, "doc_id", "text", idx)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val out = Dedup.compactLineIndex(s, idx, "inc_spec_lfc2", tmpPath())
      try {
        assert(s.table(out.freqTable).count() == distinctLfp,
          "compaction must collapse to one row per lfp")
        val after = Dedup.lineDedupAgainstIndex(delta, "doc_id", "text", out)
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
        assert(after == before, "compaction must not change verdicts")
      } finally out.drop(s)
    } finally {
      idx.drop(s)
    }
  }

  test("extendIndex folds a delta in for the next round") {
    val s = spark
    val all = Tables.documents(s, sf())
    val corpus = all.where(col("doc_id") % 4 < 2)
    val d1 = all.where(col("doc_id") % 4 === 2)
    val d2 = all.where(col("doc_id") % 4 === 3)
    val idx = Dedup.buildIndex(corpus, "doc_id", "text", "inc_spec_c",
      tmpPath())
    try {
      Dedup.extendIndex(d1, "doc_id", "text", idx)
      // after the fold, d2 dedups against corpus+d1: its pairs plus the
      // batch pairs over corpus+d1 must reconstruct the full batch set
      val incr2 = pairSet(
        Dedup.pairsAgainstIndex(d2, "doc_id", "text", idx, 0.8))
      val upTo1 = pairSet(Dedup.minhashPairs(
        all.where(col("doc_id") % 4 < 3), "doc_id", "text", 3, 0.8))
      val batch = pairSet(Dedup.minhashPairs(all, "doc_id", "text", 3, 0.8))
      assert((upTo1 ++ incr2) == batch,
        s"extend broken: missing=${batch -- upTo1 -- incr2}")
    } finally idx.drop(s)
  }

  private def parquetFiles(s: org.apache.spark.sql.SparkSession,
                           table: String): Seq[java.nio.file.Path] = {
    val loc = s.sql(s"DESCRIBE FORMATTED $table").collect()
      .find(_.getString(0).trim == "Location").get.getString(1).trim
      .stripPrefix("file:")
    graft.util.FsUtil.listFiles(java.nio.file.Paths.get(loc), ".parquet")
  }

  test("compactIndex: identical pairs, one file per bucket after many folds") {
    val s = spark
    val all = Tables.documents(s, sf())
    val corpus = all.where(col("doc_id") % 8 < 4)
    val idx = Dedup.buildIndex(corpus, "doc_id", "text", "inc_spec_cp",
      tmpPath())
    var out: DedupIndex = null
    try {
      // three folds -> the bands table accretes a slice of files per fold
      for (m <- 4 to 6)
        Dedup.extendIndex(all.where(col("doc_id") % 8 === m),
          "doc_id", "text", idx)
      val probe = all.where(col("doc_id") % 8 === 7)
      val before = pairSet(
        Dedup.pairsAgainstIndex(probe, "doc_id", "text", idx, 0.8,
          persistShingles = false))
      val filesBefore = parquetFiles(s, idx.bandsTable).size
      assert(filesBefore > idx.numBuckets,
        s"vector vacuous: $filesBefore files after 3 folds does not " +
          s"exceed ${idx.numBuckets} buckets")
      out = Dedup.compactIndex(s, idx, "inc_spec_cp2", tmpPath())
      // pairs identical through the compacted handle
      val after = pairSet(
        Dedup.pairsAgainstIndex(probe, "doc_id", "text", out, 0.8,
          persistShingles = false))
      assert(after == before, "compaction changed the pairs output")
      // one file per non-empty bucket, for both tables
      for (t <- Seq(out.bandsTable, out.shinglesTable)) {
        val files = parquetFiles(s, t)
        assert(files.size <= idx.numBuckets,
          s"$t: ${files.size} files > ${idx.numBuckets} buckets")
        // bucket ids are encoded in the file name (_00007); no bucket
        // may carry two files or the compaction didn't co-locate
        val perBucket = files.groupBy(_.getFileName.toString
          .split("_").last.take(5))
        assert(perBucket.values.forall(_.size == 1),
          s"$t: a bucket carries multiple files after compaction")
      }
      // in-place compaction must refuse (blue/green contract)
      intercept[IllegalArgumentException] {
        Dedup.compactIndex(s, idx, idx.name, idx.path)
      }
      // cutover: drop the OLD generation — catalog entries and the
      // backing path both go; the compacted handle keeps probing
      idx.drop(s)
      assert(!s.catalog.tableExists(idx.bandsTable) &&
        !s.catalog.tableExists(idx.shinglesTable),
        "DedupIndex.drop left catalog entries behind")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(idx.path)),
        "DedupIndex.drop left the backing directory behind")
      val afterDrop = pairSet(
        Dedup.pairsAgainstIndex(probe, "doc_id", "text", out, 0.8,
          persistShingles = false))
      assert(afterDrop == before,
        "dropping the old generation broke the compacted index")
    } finally {
      idx.drop(s)
      if (out != null) out.drop(s)
    }
  }

  test("compactExactIndex and compactIvfIndex preserve results, shrink files") {
    val s = spark
    val all = Tables.documents(s, sf())
    val emb = Tables.embeddings(s, sf())
    // exact index: build + 2 folds, compact, verdicts identical
    val eIdx = Dedup.buildExactIndex(all.where(col("doc_id") % 8 < 4),
      "doc_id", "text", "inc_spec_ce", tmpPath())
    var eOut: ExactIndex = null
    // ivf: build + fold, compact, probe identical
    val iIdx = Similarity.buildIvfIndex(emb.where(col("vec_id") % 4 =!= 3),
      "vec_id", "embedding", emb.where(col("vec_id") < 10), "vec_id",
      "embedding", "inc_spec_ci", tmpPath())
    var iOut: IvfIndex = null
    try {
      for (m <- 4 to 5)
        Dedup.extendExactIndex(all.where(col("doc_id") % 8 === m),
          "doc_id", "text", eIdx)
      val probe = all.where(col("doc_id") % 8 === 7)
      def vset(i: ExactIndex) = Dedup.exactAgainstIndex(probe, "doc_id",
        "text", i).collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
      val eBefore = vset(eIdx)
      eOut = Dedup.compactExactIndex(s, eIdx, "inc_spec_ce2", tmpPath())
      assert(vset(eOut) == eBefore, "exact compaction changed verdicts")
      assert(parquetFiles(s, eOut.fpTable).size <= eIdx.numBuckets)

      Similarity.extendIvfIndex(emb.where(col("vec_id") % 4 === 3),
        "vec_id", "embedding", iIdx)
      val queries = emb.where(col("vec_id").between(100, 104))
      def kset(i: IvfIndex) = Similarity.ivfKnnFromIndex(s, queries,
          "vec_id", "embedding", i, 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val iBefore = kset(iIdx)
      val iFilesBefore = s.table(iIdx.corpusTable).inputFiles.length
      iOut = Similarity.compactIvfIndex(s, iIdx, "inc_spec_ci2", tmpPath())
      assert(kset(iOut) == iBefore, "ivf compaction changed the probe")
      val iFilesAfter = s.table(iOut.corpusTable).inputFiles.length
      assert(iFilesAfter < iFilesBefore,
        s"ivf compaction did not shrink files ($iFilesBefore -> $iFilesAfter)")
      // cutover both: old generations drop clean, new handles keep
      // answering identically
      eIdx.drop(s)
      assert(!s.catalog.tableExists(eIdx.fpTable) &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(eIdx.path)),
        "ExactIndex.drop left debris behind")
      assert(vset(eOut) == eBefore)
      iIdx.drop(s)
      assert(!s.catalog.tableExists(iIdx.corpusTable) &&
        !s.catalog.tableExists(iIdx.centroidsTable) &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(iIdx.path)),
        "IvfIndex.drop left debris behind")
      assert(kset(iOut) == iBefore)
    } finally {
      eIdx.drop(s)
      if (eOut != null) eOut.drop(s)
      iIdx.drop(s)
      if (iOut != null) iOut.drop(s)
    }
  }

  test("extend* verifies the delta-ids-disjoint contract by default") {
    // a duplicate-id fold-in silently double-counts in every later
    // probe; all four extenders must fail loudly instead, and the
    // documented conf must opt a caller with upstream guarantees out
    val s = spark
    val all = Tables.documents(s, sf())
    val emb = Tables.embeddings(s, sf())
    val corpus = all.where(col("doc_id") % 4 =!= 3)
    val embCorpus = emb.where(col("vec_id") % 4 =!= 3)
    val dupDocs = corpus.limit(5)   // ids already indexed
    val dupVecs = embCorpus.limit(5)
    val mIdx = Dedup.buildIndex(corpus, "doc_id", "text", "inc_spec_g1",
      tmpPath())
    val eIdx = Dedup.buildExactIndex(corpus, "doc_id", "text",
      "inc_spec_g2", tmpPath())
    val bIdx = Dedup.buildEmbeddingIndex(embCorpus, "vec_id", "embedding",
      "inc_spec_g3", tmpPath(), 0.9, 32)
    val iIdx = Similarity.buildIvfIndex(embCorpus, "vec_id", "embedding",
      emb.where(col("vec_id") < 10), "vec_id", "embedding", "inc_spec_g4",
      tmpPath())
    try {
      intercept[IllegalArgumentException] {
        Dedup.extendIndex(dupDocs, "doc_id", "text", mIdx)
      }
      intercept[IllegalArgumentException] {
        Dedup.extendExactIndex(
          // collide with an indexed KEEP id specifically — the fp table
          // only records survivors, so only those are checkable
          s.table(eIdx.fpTable).limit(3)
            .select(col("keep_id").as("doc_id"), lit("fresh text").as("text")),
          "doc_id", "text", eIdx)
      }
      intercept[IllegalArgumentException] {
        Dedup.extendEmbeddingIndex(dupVecs, "vec_id", "embedding", bIdx)
      }
      intercept[IllegalArgumentException] {
        Similarity.extendIvfIndex(dupVecs, "vec_id", "embedding", iIdx)
      }
      // opting out via the documented conf lets the same fold through
      // (the caller now owns the invariant)
      s.conf.set(IndexAdmin.CheckDisjointKey, "false")
      try Similarity.extendIvfIndex(dupVecs, "vec_id", "embedding", iIdx)
      finally s.conf.unset(IndexAdmin.CheckDisjointKey)
    } finally {
      mIdx.drop(s)
      eIdx.drop(s)
      bIdx.drop(s)
      iIdx.drop(s)
    }
  }

  private def spanSet(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("span-index probe equals batch duplicateSpans restricted to " +
      "the delta; re-fold refused") {
    val s = spark
    val all = Tables.documents(s, sf())
    val corpus = all.where(col("doc_id") % 4 =!= 3)
    val delta = all.where(col("doc_id") % 4 === 3)
    val idx = Dedup.buildSpanIndex(corpus, "doc_id", "text", 20,
      "inc_spec_sp", tmpPath())
    try {
      val batch = spanSet(Dedup.duplicateSpans(all, "doc_id", "text", 20))
        .filter(_._1 % 4 == 3)
      val incr = spanSet(
        Dedup.duplicateSpansAgainstIndex(delta, "doc_id", "text", idx))
      assert(incr.nonEmpty, "vector is vacuous — no delta spans at sf0.001")
      assert(incr == batch,
        s"incremental != batch|delta: missing=${batch -- incr} " +
          s"extra=${incr -- batch}")
      // additive counts would silently double — re-folding refused
      intercept[IllegalArgumentException] {
        Dedup.extendSpanIndex(corpus, "doc_id", "text", idx)
      }
    } finally idx.drop(s)
  }

  test("span-index: delta-internal duplicates count without the corpus," +
      " extend folds, compact preserves, probe folds buckets " +
      "Exchange-free") {
    val s = spark
    import s.implicits._
    // corpus shares nothing with the delta; the delta repeats a 20+
    // char phrase across its own two docs — the probe must find it
    // from the delta's own counts alone
    val corpus = Seq((1L, "unique corpus content nothing repeats here at all"))
      .toDF("doc_id", "text")
    val phrase = "the exact same twenty-plus character phrase"
    val delta = Seq((3L, s"A $phrase A"), (7L, s"B $phrase B"))
      .toDF("doc_id", "text")
    val idx = Dedup.buildSpanIndex(corpus, "doc_id", "text", 20,
      "inc_spec_sp2", tmpPath())
    try {
      val probe = Dedup.duplicateSpansAgainstIndex(delta, "doc_id",
        "text", idx)
      val got = spanSet(probe)
      assert(got.map(_._1) == Set(3L, 7L),
        s"delta-internal phrase must span both delta docs: $got")
      // plan properties: the slice fold (groupBy g over the bucketed
      // table) reuses the bucket partitioning — the index branch has
      // no Exchange; all index joins shuffle-hash, nothing broadcasts
      val plan = probe.queryExecution.executedPlan.toString
      val branch = plan.linesIterator
        .dropWhile(l => !l.contains("functions=[sum(n"))
        .takeWhile(l => !l.contains(idx.freqTable)).mkString("\n")
      assert(branch.nonEmpty && plan.contains(idx.freqTable),
        s"index fold branch not found in:\n$plan")
      assert(!branch.contains("Exchange"),
        s"Exchange between the gram-table scan and its fold:\n$branch")
      assert(plan.contains("ShuffledHashJoin"),
        s"index joins must be shuffle-hash:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"no corpus-sized side may broadcast:\n$plan")
      // extend a second slice (shared grams -> duplicate g rows), then
      // blue/green compact: one row per g, identical probe verdicts
      val c1 = Seq((9L, "unique corpus content nothing repeats here at all"))
        .toDF("doc_id", "text")
      Dedup.extendSpanIndex(c1, "doc_id", "text", idx)
      val pre = s.table(idx.freqTable).count()
      val distinctG = s.table(idx.freqTable).select("g").distinct().count()
      assert(pre > distinctG, "extend must append a second slice")
      // doc 1 == doc 9 now: a delta copy of that text would be fully
      // duplicated; and our old probe result must be unchanged
      val before = spanSet(Dedup.duplicateSpansAgainstIndex(delta,
        "doc_id", "text", idx))
      val out = Dedup.compactSpanIndex(s, idx, "inc_spec_sp3", tmpPath())
      try {
        assert(s.table(out.freqTable).count() == distinctG)
        assert(spanSet(Dedup.duplicateSpansAgainstIndex(delta, "doc_id",
          "text", out)) == before)
        // the indexed corpus duplicate is visible to a NEW delta
        val ctext = "unique corpus content nothing repeats here at all"
        val d2 = Seq((11L, ctext)).toDF("doc_id", "text")
        val full = spanSet(Dedup.duplicateSpansAgainstIndex(d2, "doc_id",
          "text", out))
        val L = ctext.length.toLong
        assert(full == Set((11L, 1L, L, L)),
          s"whole-doc corpus duplicate must span fully: $full")
      } finally out.drop(s)
    } finally idx.drop(s)
  }
}
