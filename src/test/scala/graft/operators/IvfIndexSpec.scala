package graft.operators

import graft.SparkSpec
import graft.engine.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted IVF index: cell assignment paid once at write time, probes
  * partition-pruned to the probed cells. Pins (1) result parity with
  * the inline operator, (2) the plan property that the corpus scan
  * carries a cell partition filter. */
class IvfIndexSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("indexed probe equals the inline operator and prunes partitions") {
    val s = spark
    val emb = Tables.embeddings(s, sf())
    val cents = emb.where(col("vec_id") < 10)
    val queries = emb.where(col("vec_id").between(100, 104))
    val idx = Similarity.buildIvfIndex(emb, "vec_id", "embedding",
      cents, "vec_id", "embedding", "ivf_spec_a",
      java.nio.file.Files.createTempDirectory("graft-ivf-spec").toString)
    try {
      for (nProbe <- Seq(1, 4)) {
        val inline = rows(Similarity.ivfKnn(queries, emb, "vec_id",
          "embedding", cents, "vec_id", "embedding", 3, nProbe))
        val indexed = rows(Similarity.ivfKnnFromIndex(s, queries, "vec_id",
          "embedding", idx, 3, nProbe))
        assert(indexed == inline, s"nProbe=$nProbe mismatch")
      }
      // plan property: the corpus scan is partition-pruned by cell —
      // the probed-cell predicate must appear as a PartitionFilter on
      // the file scan, not a post-scan Filter over all partitions
      val probed = Similarity.ivfKnnFromIndex(s, queries, "vec_id",
        "embedding", idx, 3, nProbe = 1)
      val scanLines = probed.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("PartitionFilters")).toSeq
      assert(scanLines.exists(l => l.contains("cell") && l.contains("IN")),
        s"no cell IN partition filter on the index scan:\n" +
          scanLines.mkString("\n"))
    } finally idx.drop(s)
  }

  test("ivf-pq index: exhaustive probe equals brute force; scans prune both ways") {
    val s = spark
    val emb = Tables.embeddings(s, sf())
    val cents = emb.where(col("vec_id") < 10)
    val queries = emb.where(col("vec_id").between(100, 104))
    val cb = Similarity.trainPq(emb, "embedding", m = 16,
      codesPerSub = 32, seed = 7L)
    val idx = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      cents, "vec_id", "embedding", cb, "ivfpq_spec_a",
      java.nio.file.Files.createTempDirectory("graft-ivfpq-spec").toString)
    try {
      // the rehydrated codebook is the trained one, bit for bit
      val loaded = Similarity.loadPqCodebook(s, idx)
      assert(loaded.m == cb.m && loaded.dim == cb.dim)
      assert(loaded.centroids.flatten.flatten == cb.centroids.flatten.flatten)
      // exhaustive probe + generous refine recovers exact brute-force
      // top-3: the IVF half contributes no loss at nProbe = nCells and
      // the refine tail is exact
      val exact = rows(Similarity.bruteForceKnn(queries, emb, "vec_id",
        "embedding", 3))
      val got = rows(Similarity.ivfPqKnnFromIndex(s, queries, "vec_id",
        "embedding", idx, 3, nProbe = 10, refine = 48))
      assert(got == exact, "exhaustive ivf-pq probe diverged from brute force")
      // pruned probe still certifies at a floor (near-random vectors:
      // generous floor, the gate measures the real number)
      val pruned = Similarity.ivfPqKnnFromIndex(s, queries, "vec_id",
        "embedding", idx, 3, nProbe = 4, refine = 48)
      val ok = Similarity.recallCertificate(
        Similarity.bruteForceKnn(queries, emb, "vec_id", "embedding", 3),
        pruned, 0.3).collect()(0).getBoolean(0)
      assert(ok, "pruned ivf-pq recall under 0.3")
      // plan properties: cell partition filter AND codes-only read — the
      // ADC scan must never materialize the vector column
      val plan = Similarity.ivfPqKnnFromIndex(s, queries, "vec_id",
        "embedding", idx, 3, nProbe = 1)
        .queryExecution.executedPlan.toString
      val scans = plan.linesIterator
        .filter(_.contains("PartitionFilters")).toSeq
      assert(scans.exists(l => l.contains("cell") && l.contains("IN")),
        s"no cell IN partition filter:\n${scans.mkString("\n")}")
      val codeScan = plan.linesIterator
        .filter(l => l.contains("ReadSchema") && l.contains("codes")).toSeq
      assert(codeScan.nonEmpty && codeScan.forall(!_.contains("cv")),
        s"ADC scan reads the vector column:\n${codeScan.mkString("\n")}")
    } finally {
      idx.drop(s)
      assert(!s.catalog.tableExists(idx.corpusTable) &&
        !s.catalog.tableExists(idx.codebookTable) &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(idx.path)),
        "IvfPqIndex.drop left debris behind")
    }
  }

  test("extendIvfPqIndex fold-in: probe parity with scratch build, dup ids throw") {
    val s = spark
    val emb = Tables.embeddings(s, sf())
    val cents = emb.where(col("vec_id") < 10)
    val queries = emb.where(col("vec_id").between(100, 104))
    val corpus = emb.where(col("vec_id") % 4 =!= 3)
    val delta = emb.where(col("vec_id") % 4 === 3)
    val cb = Similarity.trainPq(emb, "embedding", m = 16,
      codesPerSub = 32, seed = 7L)
    def tmp() = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-spec").toString
    val full = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      cents, "vec_id", "embedding", cb, "ivfpq_spec_full", tmp())
    val folded = Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding",
      cents, "vec_id", "embedding", cb, "ivfpq_spec_fold", tmp())
    try {
      Similarity.extendIvfPqIndex(delta, "vec_id", "embedding", folded)
      for (nProbe <- Seq(1, 4)) {
        val fr = rows(Similarity.ivfPqKnnFromIndex(s, queries, "vec_id",
          "embedding", full, 3, nProbe, refine = 48))
        val xr = rows(Similarity.ivfPqKnnFromIndex(s, queries, "vec_id",
          "embedding", folded, 3, nProbe, refine = 48))
        assert(xr == fr, s"nProbe=$nProbe ivf-pq fold-in probe mismatch")
      }
      // the fold-in contract is verified, as for every other extender
      intercept[IllegalArgumentException] {
        Similarity.extendIvfPqIndex(delta.limit(5), "vec_id", "embedding",
          folded)
      }
      // blue/green compaction: fewer files, identical probes through
      // the new handle, old generation drops clean
      val filesBefore = s.table(folded.corpusTable).inputFiles.length
      val before = rows(Similarity.ivfPqKnnFromIndex(s, queries, "vec_id",
        "embedding", folded, 3, nProbe = 4, refine = 48))
      val out = Similarity.compactIvfPqIndex(s, folded, "ivfpq_spec_cp",
        tmp())
      try {
        assert(s.table(out.corpusTable).inputFiles.length < filesBefore,
          "ivf-pq compaction did not shrink files")
        assert(rows(Similarity.ivfPqKnnFromIndex(s, queries, "vec_id",
          "embedding", out, 3, nProbe = 4, refine = 48)) == before,
          "ivf-pq compaction changed the probe")
        folded.drop(s)
        assert(rows(Similarity.ivfPqKnnFromIndex(s, queries, "vec_id",
          "embedding", out, 3, nProbe = 4, refine = 48)) == before,
          "dropping the old generation broke the compacted ivf-pq index")
      } finally out.drop(s)
    } finally {
      full.drop(s)
      folded.drop(s)
    }
  }

  test("extendIvfIndex fold-in equals a from-scratch build at the same centroids") {
    val s = spark
    val emb = Tables.embeddings(s, sf())
    val cents = emb.where(col("vec_id") < 10)
    val queries = emb.where(col("vec_id").between(100, 104))
    val corpus = emb.where(col("vec_id") % 4 =!= 3)
    val delta = emb.where(col("vec_id") % 4 === 3)
    val full = Similarity.buildIvfIndex(emb, "vec_id", "embedding",
      cents, "vec_id", "embedding", "ivf_spec_full",
      java.nio.file.Files.createTempDirectory("graft-ivf-spec").toString)
    val folded = Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      cents, "vec_id", "embedding", "ivf_spec_folded",
      java.nio.file.Files.createTempDirectory("graft-ivf-spec").toString)
    try {
      Similarity.extendIvfIndex(delta, "vec_id", "embedding", folded)
      // row-level equivalence of the two physical indexes, not just of
      // one probe's top-k: every (cid, cell) must agree
      val a = s.table(full.corpusTable).select("cid", "cell")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val b = s.table(folded.corpusTable).select("cid", "cell")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(a == b, s"fold-in index differs from scratch build " +
        s"(${a.size} vs ${b.size} rows)")
      // and probe parity at both probe widths
      for (nProbe <- Seq(1, 4)) {
        val fr = rows(Similarity.ivfKnnFromIndex(s, queries, "vec_id",
          "embedding", full, 3, nProbe))
        val xr = rows(Similarity.ivfKnnFromIndex(s, queries, "vec_id",
          "embedding", folded, 3, nProbe))
        assert(xr == fr, s"nProbe=$nProbe fold-in probe mismatch")
      }
      // post-fold recall certificate: the folded index's pruned probe
      // recalls enough of brute-force truth to certify at the gate floor
      val exact = Similarity.bruteForceKnn(queries, emb, "vec_id",
        "embedding", 3)
      val approx = Similarity.ivfKnnFromIndex(s, queries, "vec_id",
        "embedding", folded, 3, nProbe = 4)
      val ok = Similarity.recallCertificate(exact, approx, 0.3)
        .collect()(0).getBoolean(0)
      assert(ok, "post-fold recall certificate failed at floor 0.3")
    } finally Seq(full, folded).foreach(_.drop(s))
  }
}
