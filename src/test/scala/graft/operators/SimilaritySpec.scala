package graft.operators

import graft.SparkSpec
import graft.engine.Tables
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf())

  private def cosineRef(a: Seq[Double], b: Seq[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
  }

  test("randomProject: deterministic, salt-sensitive, JL-preserving") {
    val proj = Similarity.randomProject(emb, "embedding", 64, 16, "rp1")
      .select(col("vec_id"), col("rp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(proj.values.forall(_.length == 16))
    // deterministic: a second plan produces bit-identical values
    val again = Similarity.randomProject(emb, "embedding", 64, 16, "rp1")
      .select(col("vec_id"), col("rp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(proj.keySet.forall(k => proj(k).sameElements(again(k))))
    // a different salt is a different matrix
    val other = Similarity.randomProject(emb, "embedding", 64, 16, "rp2")
      .select(col("vec_id"), col("rp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(proj.keySet.exists(k => !proj(k).sameElements(other(k))))
    // JL property: projected dot products approximate originals — check
    // the mean absolute error over query pairs stays inside the JL bound
    // ballpark for k=16 (unit-ish vectors, eps ~ sqrt(ln(n)/k))
    val orig = emb.select(col("vec_id"),
        graft.functions.VectorFunctions.asDoubles(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val ids = orig.keys.toSeq.sorted.take(30)
    val errs = for (a <- ids; b <- ids if a < b)
      yield math.abs(dot(orig(a), orig(b)) - dot(proj(a), proj(b)))
    assert(errs.sum / errs.size < 0.35,
      s"mean |dot - dot_rp| = ${errs.sum / errs.size}")
    // wrong-length vector degrades to the zero projection, null -> null
    val s = spark
    import s.implicits._
    val odd = Seq((1L, Array(1.0f, 2.0f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val rows = Similarity.randomProject(odd, "embedding", 64, 16, "x")
      .orderBy("vec_id").collect()
    assert(rows(0).getSeq[Double](2).forall(_ == 0.0))
    assert(rows(1).isNullAt(2))
  }

  test("rpKnn: RP candidates + exact rerank equal brute force on the " +
      "planted gate corpus; refine=1 degrades to RP-order top-k") {
    val base = emb.select(col("vec_id"),
      graft.functions.VectorFunctions.asDoubles(col("embedding"))
        .as("embedding"))
    val qBase = base.where(col("vec_id") < 5)
    val shifted = Seq(0.06, 0.08, 0.10).zipWithIndex.map { case (d, i) =>
      qBase.select((col("vec_id") + (i + 1) * 100000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(d)).as("embedding"))
    }.reduce(_ unionAll _)
    val corpus = base.unionAll(shifted)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = rows(Similarity.bruteForceKnn(qBase, corpus,
      "vec_id", "embedding", 3))
    // planted margins clear the 32-dim JL noise: the gate config
    // recovers the exact top-3 for every query (the q_knn_rp contract)
    val approx = rows(Similarity.rpKnn(qBase, corpus, "vec_id",
      "embedding", 64, 32, "rpknn", 3, refine = 16))
    assert(approx == exact, s"exact $exact\napprox $approx")
    // every query's exact top-3 are its three planted copies — the
    // structure that makes the recall claim meaningful, not fixture luck
    exact.foreach { case (q, _, c) =>
      assert(c % 100000L == q && c >= 100000L, s"($q, $c)")
    }
    // and the certificate over the gate config reads true
    val cert = Similarity.recallCertificate(
      Similarity.bruteForceKnn(qBase, corpus, "vec_id", "embedding", 3),
      Similarity.rpKnn(qBase, corpus, "vec_id", "embedding", 64, 32,
        "rpknn", 3, refine = 16), 0.9)
      .collect().head.getBoolean(0)
    assert(cert)
  }

  test("brute-force knn matches a driver-side reference") {
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val got = Similarity.bruteForceKnn(
        emb.where(col("vec_id") < 3), emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2)))
    val expected = (0L until 3L).flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (c, v) => (c, cosineRef(vecs(q), v)) }
        .sortBy { case (c, sim) => (-sim, c) }
        .take(3).zipWithIndex
        .map { case ((c, _), i) => (q, i + 1, c) }
    }
    assert(got.sorted.toSeq == expected.sorted)
  }

  test("ivf knn only searches the probed cell and ranks correctly") {
    val cent = emb.where(col("vec_id") < 10)
    val out = Similarity.ivfKnn(emb.where(col("vec_id").between(50, 54)), emb,
        "vec_id", "embedding", cent, "vec_id", "embedding", 3)
      .collect()
    assert(out.nonEmpty)
    val byQ = out.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val ranks = rows.map(_.getLong(1).toInt).sorted
      assert(ranks.toSeq == (1 to ranks.length))
      // sims are non-increasing with rank
      val byRank = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("knnGraph: per-query slices equal ivfKnn, every vector is a " +
      "query, nothing corpus-sized broadcasts") {
    val cents = emb.where(col("vec_id") < 10)
    val graph = Similarity.knnGraph(emb, "vec_id", "embedding",
      cents, "vec_id", "embedding", k = 3, nProbe = 2)
    val rows = graph.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // every vector appears as a query (non-degenerate cells at sf0.001)
    val nVecs = emb.count()
    assert(rows.map(_._1).distinct.length == nVecs,
      s"${rows.map(_._1).distinct.length} queries of $nVecs vectors")
    // slice equality: the graph restricted to a query set equals
    // ivfKnn over those queries at the same probes
    val probeQs = emb.where(col("vec_id").between(20, 24))
    val slice = Similarity.ivfKnn(probeQs, emb, "vec_id", "embedding",
        cents, "vec_id", "embedding", 3, nProbe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows.filter(t => t._1 >= 20 && t._1 <= 24).toSet == slice)
    // no self edges, ranks contiguous from 1
    assert(rows.forall(t => t._1 != t._3))
    rows.groupBy(_._1).values.foreach { es =>
      assert(es.map(_._2).sorted.toSeq == (1L to es.length).toSeq)
    }
    // the probe-cell join must be shuffle-hash — broadcasting either
    // corpus-sized side is the scale bug this operator exists to avoid
    val plan = graph.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"cell join must be shuffle-hash:\n$plan")
  }

  test("assignCells: argmax projection matches driver-side nearest centroid") {
    val cent = emb.where(col("vec_id") < 8)
    val assigned = Similarity.assignCells(emb.where(col("vec_id") < 200),
      "vec_id", "embedding", cent, "vec_id", "embedding")
    // no per-row expansion: the plan must contain neither a join nor a
    // window — assignment is a single projection over the corpus scan
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"assignment must not join:\n$plan")
    assert(!plan.contains("Window"), s"assignment must not rank:\n$plan")
    val vecs = emb.where(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val cvecs = (0L until 8L).map(i => i -> vecs(i)).toMap
    val got = assigned.select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (id, v) =>
      val best = cvecs.toSeq
        .map { case (c, cv) => (c, cosineRef(v, cv)) }
        .minBy { case (c, sim) => (-sim, c) }._1
      assert(got(id) == best, s"vec $id assigned ${got(id)}, expected $best")
    }
  }

  test("lsh knn recall@3 vs brute force clears the quality bar") {
    // the quantitative check behind the rows-only q_knn_lsh gate entry:
    // bucket-mate candidates must recover most of the true top-3
    val queries = emb.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceKnn(queries, emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.lshKnn(queries, emb, "vec_id", "embedding",
        64, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // near-random 64-d vectors are LSH's worst case: banded OR-ing must
    // still recover most of the true top-3 (the single-bucket form this
    // replaced measured 0.017 here)
    assert(recall >= 0.6, s"recall@3 $recall below 0.6")
  }

  test("lsh knn at the gate band budget (4x48) equals brute force exactly") {
    // the q_knn_lsh gate config: deterministic planes make recall a
    // property of the config, and at 4 bits x 48 bands the measured
    // recall is 1.0 — so the whole (qid, rank, cid, sim) tuple must
    // match brute force, which is what licenses its SQL oracle row
    val queries = emb.where(col("vec_id") < 20)
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val exact = tuples(
      Similarity.bruteForceKnn(queries, emb, "vec_id", "embedding", 3))
    val gated = tuples(Similarity.lshKnn(queries, emb, "vec_id", "embedding",
      64, 3, bitsPerBand = 4, numBands = 48))
    assert(gated == exact)
  }

  test("sq8 codebook reconstructs within half a quantization step") {
    val cb = Similarity.trainSq(emb, "embedding")
    assert(cb.dim == 64)
    // encode + decode a handful of vectors driver-side and bound the
    // per-dimension error by scale/2 (+ eps for the round trip)
    val vecs = emb.limit(5).select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0))
    for (v <- vecs; j <- v.indices) {
      val sc = cb.scales(j)
      val code = if (sc <= 0) 0
        else math.max(0, math.min(255, math.round((v(j) - cb.mins(j)) / sc).toInt))
      val dq = cb.mins(j) + sc * code
      assert(math.abs(dq - v(j)) <= sc / 2 + 1e-12,
        s"dim $j: |$dq - ${v(j)}| > ${sc / 2}")
    }
  }

  test("sq8 knn with refine=4 equals brute force exactly on the corpus") {
    val cb = Similarity.trainSq(emb, "embedding")
    val q = emb.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceKnn(q, emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val got = Similarity.sqKnn(q, emb, "vec_id", "embedding", 3, cb, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == exact.toSeq)
  }

  test("pq knn with generous refine equals brute force exactly") {
    // near-random 64-d vectors are PQ's worst case (no cluster
    // structure for the codebooks to exploit), so a generous refine
    // budget must still recover the exact top-3 — the retrieve-then-
    // refine contract: candidates approximate, final ranks exact
    val cb = Similarity.trainPq(emb, "embedding", m = 16,
      codesPerSub = 32, seed = 7L)
    assert(cb.dsub == 4 && cb.codesPerSub == 32)
    val q = emb.where(col("vec_id") < 3)
    val exact = Similarity.bruteForceKnn(q, emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = Similarity.pqKnn(q, emb, "vec_id", "embedding", 3, cb,
        refine = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == exact,
      s"pq refine=48 diverged: missing=${exact -- got} extra=${got -- exact}")
  }

  test("pq codebook: reconstruction beats the zero vector, codes in range") {
    val cb = Similarity.trainPq(emb, "embedding", m = 8,
      codesPerSub = 16, seed = 3L)
    assert(cb.m == 8 && cb.dsub == 8)
    assert(cb.centroids.forall(_.size == 16))
    // quantization must reduce error vs predicting zero: the mean
    // squared reconstruction error of a trained codebook is bounded by
    // the subspace variance it was trained on
    val vecs = emb.limit(100).select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    def encDec(v: Array[Double]): Array[Double] =
      (0 until cb.m).flatMap { s =>
        val sub = java.util.Arrays.copyOfRange(v, s * cb.dsub,
          (s + 1) * cb.dsub)
        cb.centroids(s).minBy(c =>
          c.zip(sub).map { case (a, b) => (a - b) * (a - b) }.sum).toSeq
      }.toArray
    val (errQ, errZ) = vecs.map { v =>
      val r = encDec(v)
      (v.zip(r).map { case (a, b) => (a - b) * (a - b) }.sum,
        v.map(x => x * x).sum)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(errQ < errZ * 0.7,
      s"pq reconstruction barely beats zero: $errQ vs $errZ")
  }

  test("sq8 expressions canonicalize equal across invocations (plan cache)") {
    // the Seq-param contract: two structurally identical sqKnn plans must
    // be semantically equal, or every call would leak a plan-cache entry
    val cb = Similarity.trainSq(emb, "embedding")
    val q = emb.where(col("vec_id") < 2)
    def plan() = Similarity.sqKnn(q, emb, "vec_id", "embedding", 2, cb)
      .queryExecution.analyzed.canonicalized
    assert(plan() == plan())
  }

  test("lsh knn candidates share at least one band with the query") {
    val out = Similarity.lshKnn(emb.where(col("vec_id") < 5), emb,
      "vec_id", "embedding", 64, 3)
    def keys(): Map[Long, Seq[Long]] = emb.select(col("vec_id"),
        Similarity.cosineLshBandKeys(col("embedding"), 64, 6, 24).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val bands = keys()
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (q, c) =>
      assert(bands(q).zip(bands(c)).exists { case (a, b) => a == b },
        s"pair ($q,$c) shares no band")
    }
    // signatures must be deterministic across evaluations
    assert(keys() == bands)
  }

  test("hardNegatives: label-mismatched top-k, null-safe, plan-bounded") {
    val queries = emb.where(col("vec_id") < 4)
    val got = Similarity.hardNegatives(queries, emb, "vec_id",
      "embedding", "label", 4).collect()
    assert(got.nonEmpty && got.groupBy(_.getLong(0)).forall(_._2.length == 4))
    // no negative shares its query's label
    val qLabels = queries.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach(r => assert(r.getInt(3) != qLabels(r.getLong(0)),
      s"query ${r.getLong(0)} negative ${r.getLong(2)} shares its label"))
    // equals brute-force knn over the label-mismatched corpus subset
    qLabels.foreach { case (qid, ql) =>
      val want = Similarity.bruteForceKnn(
          emb.where(col("vec_id") === qid),
          emb.where(col("label") =!= ql), "vec_id", "embedding", 4)
        .collect().map(r => (r.getLong(2), r.getDouble(3))).toSeq
      val mine = got.filter(_.getLong(0) == qid).sortBy(_.getLong(1))
        .map(r => (r.getLong(2), r.getDouble(4))).toSeq
      assert(mine == want, s"query $qid diverges from filtered knn")
    }
    // a null-label corpus row is a valid negative for labeled queries
    val withNull = emb.select(col("vec_id"), col("embedding"),
      when(col("vec_id") === 7, lit(null)).otherwise(col("label"))
        .as("label"))
    val nn = Similarity.hardNegatives(withNull.where(col("vec_id") < 2),
      withNull, "vec_id", "embedding", "label", 1000).collect()
    assert(nn.exists(r => r.getLong(2) == 7L), "null-label row vanished")
    // the row_number<=k filter must be planner-bounded
    val plan = Similarity.hardNegatives(queries, emb, "vec_id",
      "embedding", "label", 4).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no group limit:\n$plan")
  }

  test("every search at exact settings equals brute force row for row " +
      "(sim ties, zero and antipodal vectors, no -0.0)") {
    val s = spark
    import s.implicits._
    val a = Seq(1.0, 2.0, 0.0, 1.0, 3.0, 1.0, 0.0, 2.0)
    val b = Seq(0.0, 1.0, 3.0, 1.0, 0.0, 2.0, 1.0, 1.0)
    val pad = Seq.fill(5)(0.0)
    // 1/2 and 3/4 are exact duplicates (sim ties broken by cid), 5 is
    // the zero vector (no sim), 6 is 1's antipode (sim -1), and 8/9
    // are orthogonal with a floating-point dot of -6.9e-18
    val vecs = Seq(1L -> a, 2L -> a, 3L -> b, 4L -> b,
      5L -> Seq.fill(8)(0.0), 6L -> a.map(-_),
      7L -> Seq(2.0, 0.0, 1.0, 0.0, 1.0, 0.0, 2.0, 1.0),
      8L -> (Seq(0.1, 0.1, 0.2) ++ pad), 9L -> (Seq(0.3, -0.1, -0.1) ++ pad),
      10L -> Seq(3.0, 1.0, 2.0, 2.0, 0.0, 1.0, 1.0, 0.0),
      11L -> Seq.fill(8)(1.0),
      12L -> Seq(0.0, 3.0, 1.0, 2.0, 2.0, 0.0, 1.0, 3.0))
    val corpus = vecs.map { case (i, v) => (i, v, i.toInt) }
      .toDF("vec_id", "embedding", "label")
    val n = vecs.length
    val cents = corpus.where(col("vec_id").isin(1L, 3L, 7L))
    def tmp() = java.nio.file.Files.createTempDirectory("graft-knn-spec")
      .toString
    val ivf = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", cents,
      "vec_id", "embedding", "knn_contract_ivf", tmp())
    val pq = Similarity.trainPq(corpus, "embedding", m = 4, codesPerSub = 4,
      seed = 7L)
    val ivfPq = Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding",
      cents, "vec_id", "embedding", pq, "knn_contract_ivfpq", tmp())
    val sq = Similarity.trainSq(corpus, "embedding")
    def rows(df: org.apache.spark.sql.DataFrame, simAt: Int = 3) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(simAt))).sortBy(t => (t._1, t._2)).toSeq
    try {
      for (k <- Seq(3, n)) {
        val exact = rows(Similarity.bruteForceKnn(corpus, corpus, "vec_id",
          "embedding", k))
        val searches: Seq[(String, Seq[(Long, Long, Long, Double)])] = Seq(
          "hardNegatives" -> rows(Similarity.hardNegatives(corpus, corpus,
            "vec_id", "embedding", "label", k), simAt = 4),
          "ivfKnn" -> rows(Similarity.ivfKnn(corpus, corpus, "vec_id",
            "embedding", cents, "vec_id", "embedding", k, nProbe = 3)),
          "knnGraph" -> rows(Similarity.knnGraph(corpus, "vec_id",
            "embedding", cents, "vec_id", "embedding", k, nProbe = 3)),
          "ivfKnnFromIndex" -> rows(Similarity.ivfKnnFromIndex(s, corpus,
            "vec_id", "embedding", ivf, k, nProbe = 3)),
          "rpKnn" -> rows(Similarity.rpKnn(corpus, corpus, "vec_id",
            "embedding", 8, 6, "contract", k, refine = n)),
          "sqKnn" -> rows(Similarity.sqKnn(corpus, corpus, "vec_id",
            "embedding", k, sq, refine = n)),
          "pqKnn" -> rows(Similarity.pqKnn(corpus, corpus, "vec_id",
            "embedding", k, pq, refine = n)),
          "ivfPqKnnFromIndex" -> rows(Similarity.ivfPqKnnFromIndex(s, corpus,
            "vec_id", "embedding", ivfPq, k, nProbe = 3, refine = n)))
        searches.foreach { case (name, got) =>
          assert(got == exact, s"$name at k=$k diverges from brute force")
        }
        // LSH has no exact setting: its rows are brute-force pairs with
        // brute-force sims
        val pairs = rows(Similarity.bruteForceKnn(corpus, corpus, "vec_id",
          "embedding", n)).map(t => (t._1, t._3, t._4)).toSet
        val lsh = rows(Similarity.lshKnn(corpus, corpus, "vec_id",
          "embedding", 8, k)).map(t => (t._1, t._3, t._4))
        assert(lsh.nonEmpty && lsh.forall(pairs), s"lshKnn at k=$k: $lsh")
        // the fixture exercises what it claims: a tie, the antipode, a
        // 0.0 from a negative dot — and never a -0.0
        val sims = exact.map(_._4)
        assert(sims.forall(x => java.lang.Double.doubleToRawLongBits(x) !=
          java.lang.Double.doubleToRawLongBits(-0.0)), s"-0.0 in $exact")
        assert(!exact.exists(t => t._1 == 5L || t._3 == 5L))
        // at k = 3, query 6's tied 3/4 straddle the cut: cid 3 keeps it
        if (k == 3) assert(exact.filter(_._1 == 6L).map(_._3) ==
          Seq(9L, 8L, 3L))
        if (k == n) {
          assert(exact.contains((1L, 1L, 2L, 1.0)))
          val of7 = exact.filter(_._1 == 7L).map(t => t._3 -> (t._2, t._4))
            .toMap
          assert(of7(1L)._2 == of7(2L)._2 && of7(2L)._1 == of7(1L)._1 + 1)
          assert(exact.exists(t => t._1 == 1L && t._3 == 6L && t._4 == -1.0))
          assert(exact.exists(t => t._1 == 8L && t._3 == 9L && t._4 == 0.0))
        }
      }
    } finally Seq(ivf, ivfPq).foreach(_.drop(s))
  }

  test("pq search leaves wrong-dimension vectors out: pqKnn and an " +
      "ivf-pq build + probe equal the runs without them") {
    val s = spark
    import s.implicits._
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val q = base.where(col("vec_id") < 3)
    val q0 = q.where(col("vec_id") === 0L).collect().head.getSeq[Double](1)
    // a short vector, a long one whose prefix is query 0 itself —
    // encoded from that prefix it would take a top-R slot the exact
    // refine then drops — and a NULL one
    val dirty = base.unionByName(Seq(900001L -> q0.take(63),
      900002L -> (q0 :+ 1.0), 900003L -> null.asInstanceOf[Seq[Double]])
      .toDF("vec_id", "embedding"))
    val cb = Similarity.trainPq(base, "embedding", m = 16,
      codesPerSub = 32, seed = 7L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(rows(Similarity.pqKnn(q, dirty, "vec_id", "embedding", 3, cb,
        refine = 1)) ==
      rows(Similarity.pqKnn(q, base, "vec_id", "embedding", 3, cb,
        refine = 1)))
    val cents = base.where(col("vec_id") < 10)
    def tmp() = java.nio.file.Files.createTempDirectory("graft-pq-spec")
      .toString
    val clean = Similarity.buildIvfPqIndex(base, "vec_id", "embedding",
      cents, "vec_id", "embedding", cb, "pq_dim_clean", tmp())
    val mixed = Similarity.buildIvfPqIndex(dirty, "vec_id", "embedding",
      cents, "vec_id", "embedding", cb, "pq_dim_mixed", tmp())
    try {
      for (nProbe <- Seq(1, 10)) {
        assert(rows(Similarity.ivfPqKnnFromIndex(s, q, "vec_id", "embedding",
            mixed, 3, nProbe, refine = 1)) ==
          rows(Similarity.ivfPqKnnFromIndex(s, q, "vec_id", "embedding",
            clean, 3, nProbe, refine = 1)), s"nProbe=$nProbe")
      }
      assert(s.table(mixed.corpusTable).where(col("cid") > 900000L)
        .isEmpty, "wrong-dim vectors were encoded into the index")
    } finally Seq(clean, mixed).foreach(_.drop(s))
  }
}
