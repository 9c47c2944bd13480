package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Handle to a persisted IVF index (see [[Similarity.buildIvfIndex]]):
  * the corpus with assigned cells as an external parquet table
  * PARTITIONED by `cell` (one directory per cell, so a probe's
  * `cell IN (...)` predicate prunes to exactly the probed partitions)
  * plus the centroid table the cells were assigned against. Centroids
  * are immutable after build (the faiss IVF contract: fold-ins shift
  * cell occupancy, never geometry), so every fold assigns against the
  * persisted table and writes files only under the cells its rows land
  * in; a build plus extends equals one build over the union at the same
  * centroids (spec- and gate-pinned). */
case class IvfIndex(name: String, path: String) extends PersistedIndex {
  type Self = IvfIndex
  protected def at(name: String, path: String) = copy(name = name, path = path)
  def corpusTable: String = s"${name}_cells"
  def centroidsTable: String = s"${name}_cents"
  def layout: Seq[IndexTable] = Seq(IndexTable.Cells(corpusTable),
    IndexTable.Plain(centroidsTable))
  protected def guard: (String, String) = (corpusTable, "cid")
  protected def slices(df: DataFrame, id: String, vec: String,
                       append: Boolean): Seq[(String, DataFrame)] =
    Seq(corpusTable -> Similarity.cellVectors(df, id, vec,
      df.sparkSession.table(centroidsTable), "cell", "centroid"))
}

/** Handle to a persisted IVF-PQ index (see
  * [[Similarity.buildIvfPqIndex]]): the FAISS IVFADC layout expressed
  * Spark-native — ONE cell-partitioned parquet table holding both the
  * m-byte PQ codes and the original vectors as separate COLUMNS, plus
  * the coarse-centroid and PQ-codebook tables that make the index
  * self-contained. Columnar storage is what makes one table enough:
  * the ADC scan selects only (cid, codes, dnorm) and parquet never
  * reads the vector column; the exact refine reads vectors only for
  * the top-R candidate ids. */
case class IvfPqIndex(name: String, path: String) extends PersistedIndex {
  type Self = IvfPqIndex
  protected def at(name: String, path: String) = copy(name = name, path = path)
  def corpusTable: String = s"${name}_pqc"
  def centroidsTable: String = s"${name}_pqcent"
  def codebookTable: String = s"${name}_pqcb"
  def layout: Seq[IndexTable] = Seq(IndexTable.Cells(corpusTable),
    IndexTable.Plain(centroidsTable), IndexTable.Plain(codebookTable))
  protected def guard: (String, String) = (corpusTable, "cid")
  /** Assign to the persisted coarse centroids and encode against the
    * persisted codebook, both immutable after build. */
  protected def slices(df: DataFrame, id: String, vec: String,
                       append: Boolean): Seq[(String, DataFrame)] = {
    val spark = df.sparkSession
    Seq(corpusTable -> Similarity.pqEncoded(Similarity.cellVectors(df, id,
        vec, spark.table(centroidsTable), "cell", "centroid"),
      Similarity.loadPqCodebook(spark, this)))
  }
}

/** Exact and approximate nearest-neighbour search over an embedding
  * column. Every search has one shape: it builds CANDIDATE PAIRS of a
  * query frame `(qid, qv, qn)` and a corpus frame `(cid, cv, cn)`, and
  * one exact cosine plus one per-query cut ([[topK]]) turn them into
  * the shared output `(qid, rank: bigint, cid, sim)`: ties broken by
  * ascending cid, sims on the 4-decimal grid, zero-norm and wrong-dim
  * pairs dropped. The searches differ only in their candidates:
  *
  * - [[bruteForceKnn]]: every corpus vector (queries broadcast, the
  *   corpus scanned once) — the exact baseline.
  * - [[hardNegatives]]: brute force over label-mismatched pairs.
  * - [[ivfKnn]]: vectors in the query's `nProbe` nearest centroid
  *   cells ([[assignCells]]).
  * - [[knnGraph]]: [[ivfKnn]] with the corpus as its own queries,
  *   joined shuffle-hash (nothing corpus-sized broadcasts).
  * - [[ivfKnnFromIndex]]: [[ivfKnn]] over a persisted [[IvfIndex]],
  *   partition-pruned to the probed cells.
  * - [[lshKnn]]: vectors sharing a hyperplane-LSH band with the query
  *   ([[cosineLshBandKeys]]).
  * - [[rpKnn]]: the top `k * refine` by random-projection cosine.
  * - [[sqKnn]]: the top `k * refine` by SQ8-code cosine, re-ranked on
  *   the original vectors ([[rerank]]).
  * - [[pqKnn]]: the top `k * refine` by PQ asymmetric distance
  *   ([[adcTopR]]), re-ranked on the original vectors.
  * - [[ivfPqKnnFromIndex]]: [[pqKnn]]'s scan over the probed cells of
  *   a persisted [[IvfPqIndex]], re-ranked on the index's vectors.
  */
object Similarity {

  /** Seeded ±1 random projection (Johnson-Lindenstrauss dimension
    * reduction): adds `outCol` = the `outDim`-dimensional projection of
    * `vec` under the md5-derived sign matrix keyed by `salt` (see
    * [[graft.expressions.SignedProjectKernel]]). The standard pre-compression
    * step before LSH banding or index build at 100 TB — inner products
    * are preserved in expectation, state/shuffle bytes per vector drop
    * by dim/outDim, and the matrix is replayable from the salt alone by
    * any engine (no PRNG state to ship). Row-local, zero shuffle,
    * single codegen kernel per row. */
  def randomProject(df: DataFrame, vec: String, dim: Int, outDim: Int,
                    salt: String, outCol: String = "rp"): DataFrame =
    df.withColumn(outCol, graft.expressions.VectorExprs.signedProject(
      asDoubles(col(vec)), dim, outDim, salt))

  /** `(idCol, vCol, keep…, nCol)`: `vec` as doubles with its L2 norm —
    * every query frame `(qid, qv, qn)`, every corpus frame
    * `(cid, cv, cn)`, and the embedding dedup's `(vid, v, nrm)`. */
  private[operators] def normedVectors(df: DataFrame, id: String,
                                       vec: String, idCol: String,
                                       vCol: String, nCol: String,
                                       keep: Column*): DataFrame =
    df.select(Seq(col(id).as(idCol), asDoubles(col(vec)).as(vCol)) ++ keep: _*)
      .withColumn(nCol, l2Norm(col(vCol)))

  private def queryVectors(df: DataFrame, id: String, vec: String): DataFrame =
    normedVectors(df, id, vec, "qid", "qv", "qn")

  private def corpusVectors(df: DataFrame, id: String, vec: String): DataFrame =
    normedVectors(df, id, vec, "cid", "cv", "cn")

  /** The per-query cut: the rows of `df` whose `row_number` over
    * (qid ORDER BY `score` DESC, cid ASC) is at most `n`, numbered in
    * `rank`. A filter straight over the window, so the planner bounds
    * it to an n-heap per query and task (WindowGroupLimit). */
  private def ranked(df: DataFrame, score: String, n: Int): DataFrame =
    df.withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col(score).desc, col("cid").asc)))
      .where(col("rank") <= n)

  /** The exact tail of every search: the cosine of each candidate pair
    * `(qid, qv, qn, cid, cv, cn, …)` — a NULL sim (zero-norm or
    * wrong-dim vector) drops instead of taking a slot — cut to the top
    * `k` per query, as `(qid, rank: bigint, cid, extra…, sim)` with
    * sims rounded to 4 places and -0.0 normalized to 0.0. */
  private def topK(pairs: DataFrame, k: Int, extra: String*): DataFrame =
    ranked(pairs.withColumn("sim",
          cosineFrom(dot(col("qv"), col("cv")), col("qn"), col("cn")))
        .where(col("sim").isNotNull), "sim", k)
      .select(Seq(col("qid"), col("rank").cast("bigint").as("rank"),
        col("cid")) ++ extra.map(col) :+
        (round(col("sim"), 4) + lit(0.0)).as("sim"): _*)

  /** The exact re-rank of a compressed search's candidates `(qid, cid,
    * …)`: their original vectors come from `corpus` `(cid, cv, cn)` —
    * corpus-sized, so shuffle-hash pinned and never broadcast — and
    * the few `queries` `(qid, qv, qn)` broadcast into [[topK]]. */
  private def rerank(cand: DataFrame, corpus: DataFrame,
                     queries: DataFrame, k: Int): DataFrame =
    topK(cand.select(col("qid"), col("cid"))
      .join(corpus.hint("shuffle_hash"), "cid")
      .join(broadcast(queries), "qid"), k)

  /** Exact top-k neighbors by cosine for each query vector.
    * Output: (qid, rank, cid, sim). Ties broken by ascending cid. */
  def bruteForceKnn(queries: DataFrame, corpus: DataFrame, id: String,
                    vec: String, k: Int): DataFrame =
    topK(corpusVectors(corpus, id, vec).join(
      broadcast(queryVectors(queries, id, vec)), col("cid") =!= col("qid")), k)

  /** Hard-negative mining for contrastive training: per query, the k
    * most-similar corpus vectors whose LABEL DIFFERS — near the anchor
    * in embedding space but semantically wrong, exactly the negatives
    * that make a contrastive batch informative (easy random negatives
    * teach nothing at scale). Null-safe label inequality (`<=>`
    * negated): a null-label corpus row counts as a mismatch for a
    * labeled query and vice versa, so unlabeled strays become
    * negatives rather than silently vanishing from both sides.
    *
    * Scale shape: identical to [[bruteForceKnn]] — queries broadcast
    * (training anchors are batch-sized by contract), one corpus scan,
    * codegen'd dot products, and the `row_number <= k` filter is
    * planner-bounded (WindowGroupLimit) so each task holds a k-heap
    * per query. For corpus-scale anchor sets, run the same predicate
    * over an IVF/PQ candidate frame instead of the raw corpus — the
    * filter composes with any ANN path's output.
    * Output: (qid, rank, cid, clabel, sim). */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, id: String,
                    vec: String, label: String, k: Int): DataFrame =
    topK(normedVectors(corpus, id, vec, "cid", "cv", "cn",
        col(label).as("clabel"))
      .join(broadcast(normedVectors(queries, id, vec, "qid", "qv", "qn",
          col(label).as("qlabel"))),
        col("cid") =!= col("qid") && !(col("clabel") <=> col("qlabel"))),
      k, "clabel")

  /** Assign each vector to its nearest centroid by cosine (ties: lowest
    * centroid id). Output: df + (cell, cell_sim).
    *
    * The centroid table is collected to the driver and embedded as an
    * array literal (centroids are O(k) by definition — the one collect
    * that is NOT an anti-pattern, same contract as MLlib holding
    * clusterCenters on the driver), so assignment is a single argmax
    * projection: no k-times row expansion, no rank shuffle — the corpus
    * is scanned once and never grows. Folding in ascending cell order
    * makes a strict `>` keep the lowest cell id on ties, matching the
    * rank-formulation it replaces.
    *
    * A vector whose length differs from the centroid dim gets
    * `cell = -1` / `sim = -Infinity` (it matches no probe and is
    * excluded from ANN search); filter `cell === -1` to audit such rows.
    * A zero vector's sims are all NaN and also lands on cell -1. */
  def assignCells(df: DataFrame, id: String, vec: String,
                  centroids: DataFrame, cid: String, cvec: String): DataFrame = {
    val cents: Seq[(Long, Seq[Double])] = centroids
      .select(col(cid).cast("bigint"), asDoubles(col(cvec)))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "assignCells requires at least one centroid")
    val dim = cents.head._2.length
    require(cents.forall(_._2.length == dim),
      s"ragged centroid vectors: expected uniform dim $dim, got " +
        cents.map(_._2.length).distinct.mkString("/"))
    val cells = cents.map(_._1).toIndexedSeq
    val matrix = cents.flatMap(_._2).toIndexedSeq
    df.withColumn("__best", graft.expressions.VectorExprs
        .nearestCentroid(asDoubles(col(vec)), cells, matrix, dim))
      .withColumn("cell", col("__best").getField("cell"))
      .withColumn("cell_sim", col("__best").getField("sim"))
      .drop("__best")
  }

  /** `(cid, cv, cell, cn)`: the corpus frame with each vector's
    * [[assignCells]] cell — the IVF search side, and the table an
    * [[IvfIndex]] persists. */
  private[operators] def cellVectors(df: DataFrame, id: String, vec: String,
                                     centroids: DataFrame, centId: String,
                                     centVec: String): DataFrame =
    normedVectors(assignCells(df, id, vec, centroids, centId, centVec),
      id, vec, "cid", "cv", "cn", col("cell"))

  /** Each query of the frame `q` `(qid, qv, qn)` with its nProbe nearest
    * centroids (centroid table broadcast): `(qid, qv, qn, cell)`. The
    * centroid ids ride in `cid` through the cut, so ties keep the
    * lowest cell. */
  private def queryProbes(q: DataFrame, centroids: DataFrame,
                          centId: String, centVec: String,
                          nProbe: Int): DataFrame = {
    val c = normedVectors(centroids, centId, centVec, "cid", "__cv", "__cvn")
    ranked(q.join(broadcast(c), lit(true))
        .withColumn("__csim",
          cosineFrom(dot(col("qv"), col("__cv")), col("qn"), col("__cvn"))),
        "__csim", nProbe)
      .select(col("qid"), col("qv"), col("qn"), col("cid").as("cell"))
  }

  /** IVF ANN: top-k within the query's own cell (nProbe=1) or its nProbe
    * nearest cells. Output: (qid, rank, cid, sim) — same contract as
    * [[bruteForceKnn]] but approximate (only vectors sharing a probed cell
    * are considered). Assigns corpus cells inline — use
    * [[buildIvfIndex]] + [[ivfKnnFromIndex]] to pay assignment once. */
  def ivfKnn(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
             centroids: DataFrame, centId: String, centVec: String,
             k: Int, nProbe: Int = 1): DataFrame = {
    val probes = queryProbes(queryVectors(queries, id, vec), centroids,
      centId, centVec, nProbe)
    topK(cellVectors(corpus, id, vec, centroids, centId, centVec)
      .join(broadcast(probes), Seq("cell"))
      .where(col("cid") =!= col("qid")), k)
  }

  /** Whole-corpus kNN GRAPH via IVF cells — every vector's top-k
    * neighbors, the input artifact of graph-based dedup/clustering
    * (NN-Descent seeding, connected-components over near-dup edges,
    * diversity scoring). Same probe semantics as [[ivfKnn]] with
    * queries = corpus, but the probe side is CORPUS-SIZED, so neither
    * side may broadcast (only the centroid table does, inside the
    * probe ranking): probes and cell-assigned corpus meet in a
    * shuffle-hash equi-join on the cell key — shuffle volume is
    * nProbe rows per vector against one row per vector, candidate
    * work is bounded by cell occupancy × nProbe, and the per-vector
    * top-k is the usual rank window. A corpus vector lives in exactly
    * one cell, so (qid, cid) pairs never duplicate across probes.
    * Output: (qid, rank, cid, sim) — one row per graph edge. */
  def knnGraph(vecs: DataFrame, id: String, vec: String,
               centroids: DataFrame, centId: String, centVec: String,
               k: Int, nProbe: Int = 1): DataFrame = {
    val probes = queryProbes(queryVectors(vecs, id, vec), centroids,
      centId, centVec, nProbe)
    topK(cellVectors(vecs, id, vec, centroids, centId, centVec)
      .hint("shuffle_hash")
      .join(probes.hint("shuffle_hash"), Seq("cell"))
      .where(col("cid") =!= col("qid")), k)
  }

  /** The (cell, centroid) table an IVF or IVF-PQ index persists. */
  private def centroidTable(centroids: DataFrame, centId: String,
                            centVec: String): DataFrame =
    centroids.select(col(centId).cast("bigint").as("cell"),
      asDoubles(col(centVec)).as("centroid"))

  /** Persist the IVF layout the scaladoc above promises: the corpus with
    * assigned cells (plus precomputed norms) written as an external
    * parquet table PARTITIONED by cell, and the centroid table beside
    * it. Cell assignment — a full-corpus argmax scan — happens exactly
    * once, at write time; every subsequent [[ivfKnnFromIndex]] query
    * reads only its probed cells' directories. */
  def buildIvfIndex(corpus: DataFrame, id: String, vec: String,
                    centroids: DataFrame, centId: String, centVec: String,
                    name: String, path: String): IvfIndex = {
    val idx = IvfIndex(name, path)
    idx.build(corpus, id, vec,
      idx.centroidsTable -> centroidTable(centroids, centId, centVec))
  }

  /** IVF ANN against a persisted index: identical results to [[ivfKnn]]
    * over the same centroids (spec-pinned), but the corpus scan is
    * PARTITION-PRUNED to the probed cells — the query batch's probe
    * cells form a static `cell IN (...)` predicate (queries are few by
    * contract; collecting their probe cells is O(queries x nProbe)), so
    * a 16-cell index probed at nProbe=1 reads 1/16th of the corpus and
    * never re-runs cell assignment. */
  def ivfKnnFromIndex(spark: SparkSession, queries: DataFrame, id: String,
                      vec: String, idx: IvfIndex, k: Int,
                      nProbe: Int = 1): DataFrame = {
    // collect the probe rows ONCE (O(queries x nProbe) by the few-
    // queries contract) and rebuild the probe frame from them — lazily
    // reusing the plan would re-run the centroid join + window twice,
    // once for the cell collect and again inside the ranking join
    val probes = queryProbes(queryVectors(queries, id, vec),
      spark.table(idx.centroidsTable), "cell", "centroid", nProbe)
    val probeRows = probes.collect()
    val cells = probeRows.map(_.getAs[Long]("cell")).distinct.toSeq
    val probesDf = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probes.schema)
    topK(spark.table(idx.corpusTable)
      .where(col("cell").isInCollection(cells))
      .join(broadcast(probesDf), Seq("cell"))
      .where(col("cid") =!= col("qid")), k)
  }

  /** Train IVF centroids with seeded k-means (deterministic).
    *
    * `sampleFraction` < 1 trains on a seeded Bernoulli sample of the
    * corpus — THE 100 TB contract: k-means needs only enough points to
    * estimate k cluster centers (thousands per centroid, not the
    * corpus), every iteration is a full pass over the training set, and
    * centroid quality saturates long before the sample does. Train on
    * the sample, persist the centroids, bucket the corpus once with
    * [[assignCells]] so queries touch nProbe cells. Returns
    * (cell: int, centroid: array<double>).
    *
    * Samples up to `localTrainDoubles` total double VALUES (rows x dim;
    * memory is 8 bytes each, so the 4M default caps ~32 MB) train with an
    * in-memory Lloyd's loop on the driver — the faiss IVF contract
    * (coarse quantizers train in-memory on a bounded sample; a sensible
    * budget is ~256*k points, far under the threshold), and ~10x faster
    * than scheduling one distributed job per iteration for a sample
    * that fits in a few MB. Larger samples fall through to MLlib
    * k-means, whose per-iteration jobs are the right trade once the
    * training set is genuinely distributed.
    *
    * `initMode` passes through to MLlib: `k-means||` (default) buys
    * init quality with several extra distributed passes; `random` is
    * the faiss-style choice for IVF coarse quantizers, where Lloyd
    * iterations on a decent sample dominate final quality anyway. The
    * local path always uses seeded-random init. */
  def trainCentroids(corpus: DataFrame, vec: String, k: Int,
                     seed: Long = 42L, maxIter: Int = 20,
                     sampleFraction: Double = 1.0,
                     initMode: String = "k-means||",
                     localTrainDoubles: Long = 4000000L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val spark = corpus.sparkSession
    import spark.implicits._
    // null embeddings (failed-encoder rows) carry no training signal and
    // would poison both paths: a null in the sniff row yields dim=0
    // (mis-sizing the local-vs-distributed decision) and the local
    // collect would NPE on .toArray
    val base = corpus.select(
        array_to_vector(asDoubles(col(vec))).as("features"))
      .where(col("features").isNotNull)
    val sampled = if (sampleFraction < 1.0)
      base.sample(withReplacement = false, sampleFraction, seed) else base
    // one job for count + dim sniff: the local-vs-distributed decision is
    // a memory bound (rows x dim), not a row count that would collect
    // hundreds of MB for high-dim embeddings
    val head = sampled
      .agg(count(lit(1)), first(col("features"))).collect()(0)
    val n = head.getLong(0)
    require(n >= k,
      s"cannot train $k centroids from $n vectors (need at least k; " +
        s"raise sampleFraction=$sampleFraction)")
    val dim =
      if (head.isNullAt(1)) 0
      else head.getAs[org.apache.spark.ml.linalg.Vector](1).size
    if (n * math.max(dim, 1) <= localTrainDoubles) {
      val pts = sampled.collect().map(
        _.getAs[org.apache.spark.ml.linalg.Vector](0).toArray)
      localLloyd(pts, k, seed, maxIter).zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }
        .toSeq.toDF("cell", "centroid")
    } else {
      // Right-size partitions to the training set: k-means|| init and
      // every one of the maxIter passes is a separate job, so per-task
      // scheduling overhead dominates once the sample is much smaller
      // than the corpus it was scanned from. ~100k vectors per partition
      // keeps big samples parallel.
      val parts = math.max(1L, math.min(
        spark.sparkContext.defaultParallelism.toLong, n / 100000L)).toInt
      val train = if (sampled.rdd.getNumPartitions > parts)
        sampled.coalesce(parts) else sampled
      val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
        .setInitMode(initMode)
        .fit(train)
      model.clusterCenters.zipWithIndex
        .map { case (c, i) => (i, c.toArray.toSeq) }
        .toSeq.toDF("cell", "centroid")
    }
  }

  /** Seeded in-memory Lloyd's: random init (distinct points), then
    * assign/recenter until `maxIter` or no assignment changes. An empty
    * cluster re-seeds from a seeded-random point (cheap repair; fine for
    * coarse quantizers where nearby Lloyd iterations re-balance).
    * Deterministic for a given (points, k, seed). */
  private def localLloyd(pts: Array[Array[Double]], k: Int, seed: Long,
                         maxIter: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val n = pts.length
    val dim = pts.head.length
    val centroids = rnd.shuffle(pts.indices.toVector).take(k)
      .map(i => pts(i).clone()).toArray
    val assign = new Array[Int](n)
    var iter = 0
    var changed = true
    while (iter < maxIter && changed) {
      changed = false
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          val cent = centroids(c); val p = pts(i)
          while (j < dim) { val t = p(j) - cent(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (assign(i) != best) { assign(i) = best; changed = true }
        i += 1
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var i2 = 0
      while (i2 < n) {
        val a = assign(i2); counts(a) += 1
        val s = sums(a); val p = pts(i2)
        var j = 0
        while (j < dim) { s(j) += p(j); j += 1 }
        i2 += 1
      }
      var c2 = 0
      while (c2 < k) {
        if (counts(c2) > 0) {
          var j = 0
          while (j < dim) { centroids(c2)(j) = sums(c2)(j) / counts(c2); j += 1 }
        } else {
          // re-seed an empty cluster deterministically
          centroids(c2) = pts(rnd.nextInt(n)).clone()
          changed = true
        }
        c2 += 1
      }
      iter += 1
    }
    centroids
  }

  /** Per-band LSH bucket keys: `numBands` independent bands of
    * `bitsPerBand` sign bits each, as array<bigint> (index = band). All
    * planes come from ONE seeded PRNG stream, so signatures are
    * deterministic across runs/JVMs; a pair colliding in ANY band is a
    * candidate (band OR-ing). Collision probability per band for cosine
    * sim s is (1 - acos(s)/pi)^bitsPerBand — few bits + many bands
    * buys recall, many bits + few bands buys pruning. */
  def cosineLshBandKeys(vec: Column, dim: Int, bitsPerBand: Int,
                        numBands: Int): Column =
    graft.expressions.VectorExprs.bandKeys(asDoubles(vec), dim, bitsPerBand,
      numBands, 42L + dim * 1000L + bitsPerBand * 17L + numBands)

  /** One-row recall certificate: does `approx` find at least `floor` of
    * `exact`'s (qid, cid) neighbor pairs? Output: a single row
    * `(recall_ok: boolean)` suitable for cross-joining onto an exact
    * result so an approximate path becomes oracle-checkable — the exact
    * rows hash against plain SQL, and the certificate flips to `false`
    * (failing the hash compare loudly) if the ANN configuration's recall
    * ever drops below the floor.
    *
    * Computed as one left-outer join + one aggregate over the exact
    * pairs — the exact plan is evaluated once here (not once per side of
    * a hits/total split). An EMPTY exact set certifies `false`, not
    * null: 0/0 divides to null, and `false AND null = false` makes the
    * vacuous certificate an explicit failure instead of an ambiguous
    * three-valued pass-through. */
  def recallCertificate(exact: DataFrame, approx: DataFrame,
                        floor: Double): DataFrame = {
    val hits = approx.select(col("qid"), col("cid"))
      .withColumn("__hit", lit(1L))
    exact.select(col("qid"), col("cid"))
      .join(hits, Seq("qid", "cid"), "left_outer")
      .agg((count(lit(1)) > lit(0L) &&
        coalesce(sum(col("__hit")), lit(0L)) / count(lit(1))
          >= lit(floor)).as("recall_ok"))
  }

  /** Banding parameters for a target per-pair miss probability at the
    * given cosine threshold: the largest bitsPerBand whose required band
    * count stays within `maxBands`. Returns (bitsPerBand, numBands).
    *
    * Maximizing bits first is what makes the self-join scale: the
    * expected RANDOM-pair candidate count is ~ pairs * numBands *
    * 0.5^bits, so each extra bit halves the quadratic term while the
    * band count (linear hashing + shuffle cost) grows only ~1/p per
    * bit. An undersized band budget is a scale trap — at maxBands=128
    * a 0.85 threshold got 9-bit keys (512 buckets/band), and a 10x
    * corpus saturated the key space: candidates grew ~n^2/5 and the
    * probe clocked 29x wall at 10x data. At 512 bands the same
    * threshold gets 16-bit keys, a 27x smaller collision factor, and
    * near-linear growth; the cost is bands*n small (id, key) shuffle
    * rows — linear, and the only alternative to quadratic candidates. */
  def bandingFor(threshold: Double, maxBands: Int = 512,
                 targetMiss: Double = 1e-9): (Int, Int) = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    val candidates = (32 to 1 by -1).iterator.map { b =>
      val pBand = math.pow(p, b)
      val l = math.max(1,
        math.ceil(math.log(targetMiss) / math.log1p(-pBand)).toInt)
      (b, l)
    }
    candidates.find(_._2 <= maxBands).getOrElse((1, maxBands))
  }

  /** ANN via banded LSH: a corpus vector is a candidate for a query iff
    * they agree on ANY band's sign bits; candidates are then ranked by
    * exact cosine. A single long bucket (the old formulation) has
    * near-zero recall when true neighbors sit at moderate cosine — the
    * per-bit collision probability 1 - acos(sim)/pi compounds — so
    * recall comes from band OR-ing, pruning from the bits per band.
    * Defaults (6 bits x 24 bands) give ~0.75 expected top-k recall on
    * near-random corpora (far higher on clustered real-world data)
    * while touching ~1/3 of the corpus per query; SimilaritySpec pins
    * the recall floor against brute force. Output: (qid, rank, cid, sim). */
  def lshKnn(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
             dim: Int, k: Int, bitsPerBand: Int = 6,
             numBands: Int = 24): DataFrame = {
    val qv = queryVectors(queries, id, vec)
    val cv = corpusVectors(corpus, id, vec)
    val qBands = qv.select(col("qid"), posexplode(
      cosineLshBandKeys(col("qv"), dim, bitsPerBand, numBands))
      .as(Seq("band", "bkey")))
    val cBands = cv.select(col("cid"), posexplode(
      cosineLshBandKeys(col("cv"), dim, bitsPerBand, numBands))
      .as(Seq("band", "bkey")))
    // queries are few: their exploded band table broadcasts, the corpus
    // band table streams through map-side — then only distinct candidate
    // ids shuffle for the vector lookup
    val cand = cBands.join(broadcast(qBands), Seq("band", "bkey"))
      .where(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid")).distinct()
    // a wrong-dim vector's all-zero band keys can collide with a
    // legitimate all-negative-signs key; topK drops its NULL sim
    topK(cand.join(cv, "cid").join(broadcast(qv), "qid"), k)
  }

  /** RP→rerank ANN: candidates scored in Johnson-Lindenstrauss
    * projected space ([[randomProject]]'s salt-replayable ±1 matrix),
    * the top `k * refine` per query re-ranked by exact full-precision
    * cosine. The retrieve-then-refine discipline of [[sqKnn]]/[[pqKnn]]
    * with RP as the compression: dot products in the candidate scan
    * cost outDim multiplies instead of dim (4x at 64→16), and at
    * 100 TB the projected column is what an LSH banding or IVF build
    * consumes — this operator is the rerank harness those compose
    * with, its RP-space scan the correctness baseline.
    *
    * Recall is a function of the JL distortion (cosine estimate noise
    * ~ (1-s²)/√outDim): true neighbors whose margin over the field
    * exceeds the noise survive candidate generation; near-random
    * corpora whose neighbor margins sit INSIDE the noise need a
    * planted/clustered structure for a recall floor to be meaningful
    * — the q_knn_rp gate augments the fixture accordingly and carries
    * an in-query [[recallCertificate]]. Scale shape: queries broadcast,
    * ONE corpus scan with the projection computed row-locally (zero
    * extra shuffle), per-partition bounded top-R heaps
    * (WindowGroupLimit) before the per-query rerank window.
    * Output: (qid, rank, cid, sim). */
  def rpKnn(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
            dim: Int, outDim: Int, salt: String, k: Int,
            refine: Int = 16): DataFrame = {
    require(k >= 1 && refine >= 1, s"need k, refine >= 1, got $k, $refine")
    val q = randomProject(queryVectors(queries, id, vec), "qv", dim, outDim,
        salt, "qp")
      .withColumn("qpn", l2Norm(col("qp")))
    val c = randomProject(corpusVectors(corpus, id, vec), "cv", dim, outDim,
        salt, "cp")
      .withColumn("cpn", l2Norm(col("cp")))
    val scored = c.join(broadcast(q), col("cid") =!= col("qid"))
      .withColumn("psim",
        cosineFrom(dot(col("qp"), col("cp")), col("qpn"), col("cpn")))
      // a wrong-dim vector projects to all zeros (SignedProjectKernel's
      // degrade rule) → NULL RP cosine; a zero vector likewise — both
      // drop here instead of occupying candidate slots
      .where(col("psim").isNotNull)
    topK(ranked(scored, "psim", k * refine).drop("rank"), k)
  }

  // --------------------------------------------------------------------
  // Scalar-quantized (SQ8) search: 1 byte per dimension instead of 4-8,
  // the standard memory/IO scale path when raw float vectors dominate
  // storage (a 100 TB float32 corpus becomes 25 TB of codes).
  // --------------------------------------------------------------------

  /** Per-dimension affine SQ8 codebook: `code_j = round((v_j - min_j) /
    * scale_j)` clamped to [0, 255], `scale_j = (max_j - min_j) / 255`
    * from the corpus' per-dimension extrema. */
  case class SqCodebook(mins: IndexedSeq[Double], scales: IndexedSeq[Double]) {
    def dim: Int = mins.length
  }

  /** Train an SQ8 codebook from per-dimension min/max over the corpus
    * (or a sample — extrema only widen the range, so a generous sample
    * is safe; clamping handles out-of-range tails). The posexplode
    * stream partial-aggregates to `dim` rows per partition before the
    * shuffle, and the collect is O(dim). */
  def trainSq(corpus: DataFrame, vec: String): SqCodebook = {
    val stats = corpus
      .select(posexplode(asDoubles(col(vec))).as(Seq("j", "x")))
      .groupBy("j").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy("j")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    require(stats.nonEmpty, "trainSq: empty corpus or empty vectors")
    require(stats.map(_._1).toSeq == stats.indices.toSeq,
      "trainSq: ragged vectors — every row must have the same dimension")
    SqCodebook(stats.map(_._2).toIndexedSeq,
      stats.map(t => (t._3 - t._2) / 255.0).toIndexedSeq)
  }

  /** Top-k by cosine via SQ8 retrieve-then-refine: score every corpus
    * CODE against the full-precision query (asymmetric distance — only
    * the corpus side carries rounding error), keep the best
    * `k * refine` candidates per query, then re-rank exactly those with
    * the original float vectors and keep k.
    *
    * Scale shape: the scan reads 1-byte-per-dim codes (plus a cached
    * dequantized norm) instead of float vectors — at 100 TB that is the
    * difference between 25 TB and 100 TB of scan IO, and at a fixed
    * memory budget 4x more of the index stays cache-resident. Queries
    * broadcast both times; the only shuffles are the per-query top-R
    * window over scored candidates and the candidate-id lookup of full
    * vectors for the refine step (shuffle-hash pinned — the corpus side
    * must never be considered for broadcast). Recall loss needs a true
    * neighbor to fall out of the top `k * refine` under quantized
    * scores; SimilaritySpec measures refine=4 at recall 1.0 on the test
    * corpus and q_knn_sq8 carries an in-query certificate.
    *
    * Output: (qid, rank, cid, sim) with EXACT sims. */
  def sqKnn(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
            k: Int, codebook: SqCodebook, refine: Int = 4): DataFrame = {
    import graft.expressions.VectorExprs
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val q = queryVectors(queries, id, vec)
    // one-pass encode: byte code + dequantized norm
    val enc = corpus.select(col(id).as("cid"),
        VectorExprs.sqEncode(asDoubles(col(vec)), codebook.mins,
          codebook.scales).as("e"))
      .where(col("e").isNotNull)
      .select(col("cid"), col("e.code").as("code"), col("e.dnorm").as("dnorm"))
    val scored = enc.join(broadcast(q), col("cid") =!= col("qid"))
      .withColumn("asim", cosineFrom(
        VectorExprs.sqDot(col("qv"), col("code"), codebook.mins,
          codebook.scales),
        col("qn"), col("dnorm")))
      .where(col("asim").isNotNull)
    rerank(ranked(scored, "asim", k * refine), corpusVectors(corpus, id, vec),
      q, k)
  }

  // --------------------------------------------------------------------
  // Product-quantized (PQ) search with asymmetric-distance computation
  // (ADC) — the Jegou/Douze/Schmid PQ paper's scheme: the memory scale
  // path BEYOND SQ8. SQ8 stores 1 byte per dimension; PQ stores 1 byte
  // per SUBSPACE (m bytes per vector regardless of dim), so a 64-dim
  // float32 corpus compresses 16x at m=16 vs SQ8's 4x — at 100 TB that
  // is the difference between a cache-resident code table and a
  // disk-bound scan.
  // --------------------------------------------------------------------

  /** Per-subspace k-means codebooks: `centroids(s)(c)` is code c's
    * dsub-dim centroid for subspace s. */
  case class PqCodebook(dim: Int, m: Int,
                        centroids: IndexedSeq[IndexedSeq[Array[Double]]]) {
    def dsub: Int = dim / m
    def codesPerSub: Int = centroids.head.length
  }

  /** Train PQ codebooks: slice a driver-side sample into `m` contiguous
    * subspaces and run seeded Lloyd's per subspace (the per-subspace
    * problems are independent — PQ's defining property). The sample is
    * capped at `sampleDoubles` total doubles (same memory bound as
    * [[trainCentroids]]'s local path); codebook quality only needs a
    * representative sample, and the gate's recall certificate measures
    * the result rather than trusting it. */
  def trainPq(corpus: DataFrame, vec: String, m: Int,
              codesPerSub: Int = 256, seed: Long = 42L, maxIter: Int = 15,
              sampleDoubles: Long = 4000000L): PqCodebook = {
    require(m > 0, s"m must be positive, got $m")
    require(codesPerSub > 1 && codesPerSub <= 256,
      s"codesPerSub must be in [2, 256] (one byte per code), got $codesPerSub")
    val clean = corpus.select(asDoubles(col(vec)).as("v"))
      .where(col("v").isNotNull)
    val head = clean.agg(count(lit(1)), first(col("v"))).collect()(0)
    val n = head.getLong(0)
    require(n > 0, "trainPq: empty corpus")
    val dim = head.getAs[Seq[Double]](1).length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val targetRows = math.max(codesPerSub * 4L, sampleDoubles / dim)
    val sampled =
      if (n > targetRows)
        clean.sample(withReplacement = false,
          math.min(1.0, targetRows.toDouble * 1.2 / n), seed)
      else clean
    val pts = sampled.collect().map(_.getAs[Seq[Double]](0).toArray)
    require(pts.length >= codesPerSub,
      s"trainPq: sample of ${pts.length} vectors cannot train " +
        s"$codesPerSub codes per subspace")
    val dsub = dim / m
    val cents = (0 until m).map { s =>
      val sub = pts.map(p =>
        java.util.Arrays.copyOfRange(p, s * dsub, (s + 1) * dsub))
      // distinct seed per subspace: identical sub-distributions must
      // not force identical codebooks
      localLloyd(sub, codesPerSub, seed + s, maxIter).toIndexedSeq
    }
    PqCodebook(dim, m, cents)
  }

  /** Top-k by cosine via PQ retrieve-then-refine. Queries are FEW by
    * contract (the [[ivfKnnFromIndex]] contract): they collect to the
    * driver, each precomputing an ADC lookup table `lut(s)(c) =
    * dot(q_sub_s, centroid_c)` — scoring a corpus vector is then `m`
    * table lookups + adds, never a d-dim dot product. The corpus scan
    * runs partition-parallel with a bounded per-query top-R heap PER
    * PARTITION, so the shuffle after the scan carries at most
    * `partitions x queries x R` rows — contrast [[sqKnn]]'s window
    * over every scored pair; at 1000 executors this is the difference
    * between shuffling the corpus and shuffling kilobytes. The top-R
    * survivors re-rank exactly on original vectors (shuffle-hash
    * pinned corpus lookup, same tail as [[sqKnn]]).
    *
    * The reconstructed-corpus cosine `lutSum / (|q| * |reconstruct|)`
    * carries quantization error on the corpus side only (asymmetric:
    * the query is never quantized); recall loss needs a true neighbor
    * to leave the top `k * refine` under that error. The gate carries
    * an in-query [[recallCertificate]]; SimilaritySpec floors recall.
    *
    * Output: (qid, rank, cid, sim) with EXACT sims. */
  def pqKnn(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
            k: Int, cb: PqCodebook, refine: Int = 8): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val spark = corpus.sparkSession
    import spark.implicits._
    val aq = adcQueries(queryVectors(queries, id, vec), cb, "pqKnn")
    val dsub = cb.dsub
    val topR = k * refine
    val bc = spark.sparkContext.broadcast(
      (aq, cb.centroids.map(_.toArray).toArray, pqCentNorm2(cb)))
    val cand = corpus
      .select(col(id).cast("long").as("cid"), asDoubles(col(vec)).as("cv"))
      .where(col("cv").isNotNull)
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val (q, cents, cn2) = bc.value
        // encoded inside the scan; every query probes every row
        val every = q.qids.indices.toArray
        adcTopR(it.flatMap { case (cid, cv) =>
          pqEncode(cv.toArray, cents, cn2, dsub).map { case (codes, n2) =>
            (cid, codes, math.sqrt(n2), every) }
        }, q, topR)
      }
      .toDF("qid", "cid", "asim")
    rerank(ranked(cand, "asim", topR), corpusVectors(corpus, id, vec),
      aq.frame(spark), k)
  }

  /** The driver half of an ADC scan: the few queries of `q` (`qid, qv,
    * qn`, plus `cell` when they probe an index) in qid order, each with
    * its [[pqLutFor]] lookup table, and each probed cell's query
    * indexes. */
  private case class AdcQueries(qids: Array[Long], qvs: Array[Array[Double]],
                                qns: Array[Double],
                                luts: Array[Array[Array[Double]]],
                                cellToQ: Map[Long, Array[Int]]) {
    /** `(qid, qv, qn)` for the exact [[rerank]]. */
    def frame(spark: SparkSession): DataFrame = {
      import spark.implicits._
      qids.indices.map(i => (qids(i), qvs(i).toSeq, qns(i)))
        .toDF("qid", "qv", "qn")
    }
  }

  /** Collect the queries of an ADC scan once (O(queries x nProbe) by the
    * few-queries contract): NULL vectors drop, ids read as bigint, and
    * a query whose dim is not the codebook's fails loudly. */
  private def adcQueries(q: DataFrame, cb: PqCodebook,
                         op: String): AdcQueries = {
    val probed = q.columns.contains("cell")
    val rows = q.where(col("qv").isNotNull)
      .withColumn("qid", col("qid").cast("long")).collect()
    require(rows.nonEmpty, s"$op: no queries")
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    val qids = byQ.keys.toArray.sorted
    val first = qids.map(byQ(_).head)
    val qvs = first.map(_.getAs[Seq[Double]]("qv").toArray)
    qids.indices.foreach { i => require(qvs(i).length == cb.dim,
      s"$op: query ${qids(i)} has dim ${qvs(i).length}, " +
        s"codebook dim ${cb.dim}") }
    val qIdx = qids.zipWithIndex.toMap
    val cellToQ =
      if (!probed) Map.empty[Long, Array[Int]]
      else rows.groupBy(_.getAs[Long]("cell")).map { case (c, rs) =>
        c -> rs.map(r => qIdx(r.getAs[Long]("qid"))).distinct }
    AdcQueries(qids, qvs, first.map(_.getAs[Double]("qn")),
      qvs.map(pqLutFor(_, cb)), cellToQ)
  }

  /** The one ADC heap loop, over one partition of rows `(cid, codes,
    * dnorm, qs)`: each row scores against the query indexes `qs` that
    * probe it — `m` lookup-table adds per pair, never a d-dim dot — and
    * a bounded min-heap keeps each query's `topR` best, so a partition
    * emits at most queries × topR rows `(qid, cid, asim)` and the
    * shuffle after the scan carries kilobytes, not the corpus. */
  private def adcTopR(rows: Iterator[(Long, Array[Byte], Double, Array[Int])],
                      q: AdcQueries,
                      topR: Int): Iterator[(Long, Long, Double)] = {
    // per-query min-heap of (asim, cid): head = worst survivor
    val heaps = Array.fill(q.qids.length)(
      scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
        Ordering.by[(Double, Long), Double](_._1).reverse))
    rows.foreach { case (cid, codes, dnorm, qs) =>
      var qi = 0
      while (qi < qs.length) {
        val i = qs(qi)
        if (q.qids(i) != cid && dnorm > 0 && q.qns(i) > 0) {
          val lut = q.luts(i)
          var dot = 0.0; var s = 0
          while (s < codes.length) { dot += lut(s)(codes(s) & 0xff); s += 1 }
          val asim = dot / (q.qns(i) * dnorm)
          val h = heaps(i)
          if (h.size < topR) h.enqueue((asim, cid))
          else if (asim > h.head._1) { h.dequeue(); h.enqueue((asim, cid)) }
        }
        qi += 1
      }
    }
    heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
      h.iterator.map { case (asim, cid) => (q.qids(i), cid, asim) }
    }
  }

  /** Encode one vector against PQ codebooks: per-subspace argmin code
    * (one byte each) + the reconstruction's norm² (sum of the chosen
    * centroids' norm² — subspaces are disjoint coordinates). None for a
    * vector whose length is not the codebook's dim: it is left out of
    * PQ search and of the IVF-PQ index, as SQ8 encodes it to NULL and
    * IVF assigns it cell -1. */
  private def pqEncode(cv: Array[Double], cents: Array[Array[Array[Double]]],
                       cn2: Array[Array[Double]], dsub: Int)
      : Option[(Array[Byte], Double)] = {
    val m = cents.length
    if (cv.length != m * dsub) None
    else {
      val codes = new Array[Byte](m)
      var cn2sum = 0.0
      var s = 0
      while (s < m) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents(s).length) {
          val cent = cents(s)(c)
          var d = 0.0; var j = 0
          while (j < dsub) {
            val t = cv(s * dsub + j) - cent(j); d += t * t; j += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        codes(s) = best.toByte; cn2sum += cn2(s)(best); s += 1
      }
      Some((codes, cn2sum))
    }
  }

  /** centroid norm² per (sub, code) for a codebook. */
  private def pqCentNorm2(cb: PqCodebook): Array[Array[Double]] =
    Array.tabulate(cb.m, cb.codesPerSub) { (s, c) =>
      val cent = cb.centroids(s)(c)
      var t = 0.0; var j = 0
      while (j < cb.dsub) { t += cent(j) * cent(j); j += 1 }
      t
    }

  /** ADC lookup table for one query: lut(s)(c) = dot(q_sub_s, cent_c). */
  private def pqLutFor(qv: Array[Double], cb: PqCodebook)
      : Array[Array[Double]] =
    Array.tabulate(cb.m, cb.codesPerSub) { (s, c) =>
      val cent = cb.centroids(s)(c)
      var t = 0.0; var j = 0
      while (j < cb.dsub) { t += qv(s * cb.dsub + j) * cent(j); j += 1 }
      t
    }

  /** One encoded row of a persisted IVF-PQ index. `codes` is the m-byte
    * PQ word, `dnorm` the reconstruction norm; `cv`/`cn` are the
    * original vector and its norm, carried as SEPARATE COLUMNS so the
    * columnar scan can skip them (see [[IvfPqIndex]]). */
  case class PqIndexedRow(cid: Long, cell: Long, codes: Array[Byte],
                          dnorm: Double, cv: Seq[Double], cn: Double)

  /** Persist the IVFADC layout: coarse cells from `centroids` (the IVF
    * half — partition pruning), PQ codes from `cb` (the ADC half —
    * 1-byte-per-subspace scans), plus both parameter tables so the
    * index is self-contained. Cell assignment AND encoding — the two
    * full-corpus scans — happen exactly once, at write time. */
  def buildIvfPqIndex(corpus: DataFrame, id: String, vec: String,
                      centroids: DataFrame, centId: String, centVec: String,
                      cb: PqCodebook, name: String, path: String)
      : IvfPqIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val idx = IvfPqIndex(name, path)
    idx.build(corpus, id, vec,
      idx.centroidsTable -> centroidTable(centroids, centId, centVec),
      idx.codebookTable ->
        cb.centroids.zipWithIndex.flatMap { case (subCents, s) =>
          subCents.zipWithIndex.map { case (cent, c) => (s, c, cent.toSeq) }
        }.toDF("sub", "code", "centroid").coalesce(1))
  }

  /** Encode the [[cellVectors]] frame `(cid, cv, cell, cn)` against
    * `cb`: one IVF-PQ corpus slice, NULL and wrong-dim vectors left
    * out (see [[pqEncode]]). */
  private[operators] def pqEncoded(cells: DataFrame,
                                   cb: PqCodebook): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val dsub = cb.dsub
    val bc = spark.sparkContext.broadcast(
      (cb.centroids.map(_.toArray).toArray, pqCentNorm2(cb)))
    cells.where(col("cv").isNotNull)
      .select(col("cid").cast("long"), col("cv"), col("cell").cast("long"),
        col("cn"))
      .as[(Long, Seq[Double], Long, Double)]
      .mapPartitions { it =>
        val (cents, cn2) = bc.value
        it.flatMap { case (cid, cv, cell, cn) =>
          pqEncode(cv.toArray, cents, cn2, dsub).map { case (codes, n2) =>
            PqIndexedRow(cid, cell, codes, math.sqrt(n2), cv, cn) }
        }
      }.toDF()
  }

  /** Rehydrate the PQ codebook from the index's own table. */
  def loadPqCodebook(spark: SparkSession, idx: IvfPqIndex): PqCodebook = {
    val rows = spark.table(idx.codebookTable)
      .select(col("sub"), col("code"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getAs[Seq[Double]](2).toArray))
    require(rows.nonEmpty, s"empty codebook table ${idx.codebookTable}")
    val bySub = rows.groupBy(_._1).toIndexedSeq.sortBy(_._1)
    val cents = bySub.map(_._2.sortBy(_._2).map(_._3).toIndexedSeq)
    val m = cents.length
    PqCodebook(m * cents.head.head.length, m, cents)
  }

  /** IVF-PQ ANN against the persisted index: the probe prunes to the
    * queries' nProbe cells (partition filter — the IVF half), the ADC
    * scan reads ONLY the (cid, codes, dnorm) columns of those
    * partitions (parquet column pruning — the PQ half; the vector
    * column is never read), scores by per-query lookup table with
    * per-partition bounded top-R heaps, and re-ranks the survivors
    * exactly against the index's own vector column (read only for
    * candidate ids). Within probed cells the candidate semantics match
    * [[ivfKnn]]: a vector counts for a query only if the query probed
    * its cell. Output: (qid, rank, cid, sim) with EXACT sims. */
  def ivfPqKnnFromIndex(spark: SparkSession, queries: DataFrame, id: String,
                        vec: String, idx: IvfPqIndex, k: Int,
                        nProbe: Int = 1, refine: Int = 8): DataFrame = {
    import spark.implicits._
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val aq = adcQueries(queryProbes(queryVectors(queries, id, vec),
        spark.table(idx.centroidsTable), "cell", "centroid", nProbe),
      loadPqCodebook(spark, idx), "ivfPqKnnFromIndex")
    val topR = k * refine
    val bc = spark.sparkContext.broadcast(aq)
    val probed = spark.table(idx.corpusTable)
      .where(col("cell").isInCollection(aq.cellToQ.keys.toSeq))
    val cand = probed
      .select(col("cid"), col("cell"), col("codes"), col("dnorm"))
      .as[(Long, Long, Array[Byte], Double)]
      .mapPartitions { it =>
        val q = bc.value
        adcTopR(it.map { case (cid, cell, codes, dnorm) =>
          (cid, codes, dnorm, q.cellToQ.getOrElse(cell, Array.emptyIntArray))
        }, q, topR)
      }
      .toDF("qid", "cid", "asim")
    // exact refine against the index's OWN vector column — still
    // partition-pruned to the probed cells, read only for candidates
    rerank(ranked(cand, "asim", topR),
      probed.select(col("cid"), col("cv"), col("cn")), aq.frame(spark), k)
  }
}
