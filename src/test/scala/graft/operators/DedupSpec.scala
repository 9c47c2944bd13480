package graft.operators

import graft.SparkSpec
import graft.engine.Tables
import graft.operators.Similarity
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf())

  test("exact dedup: synthetic duplicates collapse by normalized text") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "different doc"))
      .toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df, "doc_id", "text").collect()
    assert(groups.length == 2)
    val dupGroup = groups.find(_.getAs[Long]("n_docs") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
  }

  test("exact dedup per-document keep flags agree with the group view") {
    val flags = Dedup.exact(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    flags.foreach { case (id, fp, keep) =>
      assert(keep == (groups(fp) == id),
        s"doc $id keep=$keep disagrees with group keeper ${groups(fp)}")
    }
    // exactly one keeper per fingerprint group
    assert(flags.count(_._3) == groups.size)
  }

  test("minhash LSH pairs equal exact-jaccard pairs on the corpus") {
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("d1", "d2", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mh = Dedup.minhashPairs(docs, "doc_id", "text", 3, 0.8)
      .select("d1", "d2", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(jac.nonEmpty)
    assert(mh == jac)
  }

  test("prefix-filtered jaccard equals brute-force exact pairs (lossless lemma)") {
    val s = spark
    import s.implicits._
    // random corpora with heavy shared vocabulary so near-duplicates,
    // borderline pairs, and exact ceil(t*|d|) boundaries all occur
    val rnd = new scala.util.Random(11)
    val vocab = Array.tabulate(40)(i => s"w$i")
    val base = Seq.tabulate(30)(_ =>
      Seq.fill(8 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" "))
    // append mutated near-copies: drop/replace a token
    val docsSeq = (base ++ base.take(15).map { t =>
      val ws = t.split(" ").toBuffer
      ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.length))
      ws.mkString(" ")
    }).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docsSeq.toDF("doc_id", "text")
    Seq(0.5, 0.7, 0.8, 0.9).foreach { t =>
      val fast = Dedup.jaccardPairs(df, "doc_id", "text", 2, t,
          persistShingles = false)
        .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // brute force: exact jaccard over all pairs of shingle sets
      val sh = Dedup.withShingles(df, "doc_id", "text", 2)
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      val exact = (for {
        a <- sh.keys; b <- sh.keys if a < b
        inter = (sh(a) & sh(b)).size
        uni = (sh(a) | sh(b)).size
        if uni > 0 && inter.toDouble / uni >= t
      } yield (a, b)).toSet
      assert(fast == exact,
        s"t=$t: prefix filter missed ${exact -- fast} / extra ${fast -- exact}")
    }
  }

  test("containment: prefix-on-smaller-side equals brute force; quotes " +
      "score 1.0 where jaccard fails") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val vocab = Array.tabulate(40)(i => s"w$i")
    val base = Seq.tabulate(25)(_ =>
      Seq.fill(8 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" "))
    // quotes: short excerpts of longer docs (the asymmetric mode) plus
    // mutated near-copies (the symmetric mode)
    val docsSeq = (base ++
      base.take(8).map(_.split(" ").take(5).mkString(" ")) ++
      base.take(5).map { t =>
        val ws = t.split(" ").toBuffer
        ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.length))
        ws.mkString(" ")
      }).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docsSeq.toDF("doc_id", "text")
    val sh = Dedup.withShingles(df, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    Seq(0.5, 0.6, 0.8, 1.0).foreach { t =>
      val fast = Dedup.containmentPairs(df, "doc_id", "text", 2, t,
          persistShingles = false)
        .select("d1", "d2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = (for {
        a <- sh.keys; b <- sh.keys if a < b
        mn = math.min(sh(a).size, sh(b).size)
        inter = (sh(a) & sh(b)).size
        if mn > 0 && inter.toDouble / mn >= t
      } yield (a, b)).toSet
      assert(fast == exact,
        s"t=$t: missed ${exact -- fast} / extra ${fast -- exact}")
    }
    // the asymmetric point: a full quote has containment 1.0 but can
    // sit far below any practical jaccard threshold
    val full = Dedup.containmentPairs(df, "doc_id", "text", 2, 1.0,
        persistShingles = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(full.nonEmpty && full.forall(_._3 == 1.0))
    val quotePair = full.find { case (a, b, _) =>
      a < 25 && b >= 25 && b < 33 }
    assert(quotePair.isDefined, s"no quote pair found in ${full.toSeq}")
    val (qa, qb, _) = quotePair.get
    val j = (sh(qa) & sh(qb)).size.toDouble /
      (sh(qa) | sh(qb)).size
    assert(j < 0.6, s"quote pair ($qa,$qb) jaccard $j not asymmetric")
  }

  test("minhash kernel signatures equal the lambda formulation") {
    // orderBy before limit: a bare limit is not a deterministic row set,
    // and the kernel/lambda plans would each re-sample independently
    val sh = Dedup.withShingles(docs.orderBy("doc_id").limit(50),
      "doc_id", "text", 3)
    val kernel = Dedup.minhashSignatureTable(sh, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val lambda = sh.where(size(col("sh")) > 0)
      .select(col("doc"), Dedup.minhashSignature(col("sh"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(kernel.nonEmpty)
    assert(kernel == lambda)
  }

  test("simhash pairs are verified by driver-side recomputation") {
    val sims = docs.select(col("doc_id"),
        Dedup.simhash64(graft.functions.TextFunctions.tokens(col("text")))
          .as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.nonEmpty)
    // every reported pair must have the reported hamming distance
    pairs.foreach { case (d1, d2, ham) =>
      assert(java.lang.Long.bitCount(sims(d1) ^ sims(d2)) == ham)
      assert(ham <= 3)
    }
    // pigeonhole banding is exact for hamming <= 3: no pair may be missed
    val expected = for {
      Seq((a, ha), (b, hb)) <- sims.toSeq.sortBy(_._1).combinations(2).toSeq
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)
    assert(pairs.map(p => (p._1, p._2)).toSet == expected.toSet)
  }

  test("portable simhash matches an independent md5-based recomputation") {
    // independent reimplementation: BigInt md5 prefix + per-bit votes
    def md5h64(t: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      java.lang.Long.parseUnsignedLong(
        d.take(8).map(b => f"${b & 0xff}%02x").mkString, 16)
    }
    def simhashRef(tokens: Seq[String]): Long = {
      val votes = new Array[Int](64)
      tokens.foreach { t =>
        val h = md5h64(t)
        (0 until 64).foreach { b =>
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        }
      }
      (0 until 64).foldLeft(0L)((acc, b) =>
        if (votes(b) > 0) acc | (1L << b) else acc)
    }
    val rows = Dedup.simhashTable(docs, "doc_id", "text", portable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    val texts = docs.select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (id, h) =>
      val toks = texts(id).toLowerCase(java.util.Locale.ROOT)
        .trim.split("\\s+").filter(_.nonEmpty).toSeq
      assert(h == simhashRef(toks), s"doc $id")
    }
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val emb = Tables.embeddings(spark, sf())
    val pairs = Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, c) => assert(a < b); assert(c >= 0.3) }
  }

  test("LSH-banded embedding pairs equal the exact baseline (recall 1.0)") {
    val emb = Tables.embeddings(spark, sf())
    // 0.4 is the gate threshold — near-random separation, the hardest
    // case for banding; the OR-heavy parameters must still find every
    // pair the quadratic baseline finds (deterministic planes: equality
    // here proves the gate query itself is exact on this corpus)
    for (t <- Seq(0.4, 0.5)) {
      val exact = Dedup.embeddingPairsExact(emb, "vec_id", "embedding", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val lsh = Dedup.embeddingPairsLsh(emb, "vec_id", "embedding", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(exact.nonEmpty || t > 0.4)
      assert(lsh == exact, s"threshold $t: LSH missed ${exact -- lsh}")
    }
  }

  test("blocked all-pairs equals the exact baseline (zero misses)") {
    val emb = Tables.embeddings(spark, sf())
    for (nb <- Seq(1, 3, 16)) {
      val exact = Dedup.embeddingPairsExact(emb, "vec_id", "embedding", 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val blocked = Dedup
        .embeddingPairsBlocked(emb, "vec_id", "embedding", 0.4, numBlocks = nb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(blocked == exact,
        s"numBlocks=$nb: missing ${exact -- blocked}, extra ${blocked -- exact}")
    }
  }

  test("embeddingPairs dispatches by the banding's random-collision rate") {
    def pRand(t: Double): Double = {
      val (b, l) = Similarity.bandingFor(t)
      1.0 - math.pow(1.0 - math.pow(0.5, b), l)
    }
    // the gate threshold (0.4) admits ~every random pair -> blocked exact;
    // near-dup territory (0.9) prunes hard -> LSH
    assert(pRand(0.4) > 0.5, s"0.4 should dispatch blocked: ${pRand(0.4)}")
    assert(pRand(0.9) < 0.5, s"0.9 should dispatch LSH: ${pRand(0.9)}")
    val emb = Tables.embeddings(spark, sf())
    val autoPlan = Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.4)
      .queryExecution.executedPlan.toString
    // the blocked path has no posexplode of band keys
    assert(!autoPlan.contains("graft_band_keys"),
      s"0.4 must take the blocked path, not LSH:\n$autoPlan")
  }

  test("banding parameters trade pruning for recall with the threshold") {
    val (bLow, lLow) = Similarity.bandingFor(0.4)
    val (bHigh, lHigh) = Similarity.bandingFor(0.9)
    // higher thresholds afford longer bands (pruning-heavy); both stay
    // within the band budget and meet the 1e-9 per-pair miss target
    assert(bHigh > bLow, s"expected more bits at 0.9: $bHigh vs $bLow")
    assert(lLow <= 512 && lHigh <= 512)
    def miss(t: Double, b: Int, l: Int): Double = {
      val p = 1.0 - math.acos(t) / math.Pi
      math.pow(1.0 - math.pow(p, b), l)
    }
    assert(miss(0.4, bLow, lLow) <= 1e-9)
    assert(miss(0.9, bHigh, lHigh) <= 1e-9)
  }

  test("banding collision factor stays sub-quadratic at dedup thresholds") {
    // The scale property behind the round-6 fix: expected RANDOM-pair
    // candidates ~ pairs * bands * 0.5^bits. An undersized band budget
    // once yielded 9-bit keys at 0.85 (factor 0.19 — candidates ~ n^2/5,
    // key space saturated at ~10k vectors). Pin the factor low at every
    // threshold the auto-dispatch sends to LSH, so a bandingFor tweak
    // that silently re-fattens the quadratic term fails here.
    // the bound tightens with the threshold because LSH's fundamental
    // n^(1+rho) trade does: at 0.8 the 1e-9 miss target under a 512-band
    // budget can only buy 14-bit keys (factor ~0.03), while at >= 0.85
    // anything above 0.01 means the budget regressed
    for ((t, bound) <- Seq(0.8 -> 0.05, 0.85 -> 0.01, 0.9 -> 0.001,
                           0.95 -> 0.0001)) {
      val (b, l) = Similarity.bandingFor(t)
      val factor = l * math.pow(0.5, b)
      assert(factor <= bound,
        f"threshold $t: bits=$b bands=$l collision factor $factor%.4f " +
          f"allows ~quadratic random candidates (bound $bound)")
    }
  }

  test("maxBands dial: a bigger budget buys more bits and fewer collisions") {
    // the scale dial documented in SCALE.md's cost anatomy: raising the
    // band budget must monotonically shrink the quadratic collision
    // factor (more bits per band) while still meeting the miss target —
    // and the LSH result itself is banding-independent (exactness comes
    // from the verify stage)
    val (b512, l512) = Similarity.bandingFor(0.85, 512)
    val (b2048, l2048) = Similarity.bandingFor(0.85, 2048)
    assert(b2048 > b512 && l2048 <= 2048)
    assert(l2048 * math.pow(0.5, b2048) < l512 * math.pow(0.5, b512))
    // shifted-copy corpus (the gate construction) so true pairs EXIST —
    // equality on the base corpus alone would be vacuous (0 == 0)
    val base = Tables.embeddings(spark, sf())
      .select(col("vec_id"),
        graft.functions.VectorFunctions.asDoubles(col("embedding"))
          .as("embedding"))
    val shifted = base.where(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.08)).as("embedding"))
    val corpus = base.unionAll(shifted)
    val at512 = Dedup.embeddingPairsLsh(corpus, "vec_id", "embedding", 0.85,
        dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val at2048 = Dedup.embeddingPairsLsh(corpus, "vec_id", "embedding", 0.85,
        dim = 64, maxBands = 2048)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at512.nonEmpty && at512 == at2048)
  }

  test("clearCaches releases every retained dedup cache block") {
    // the shared shingle/prefix/simhash caches are a deliberate
    // retention (shared across one corpus pass) but must be releasable:
    // a long-lived multi-tenant session would otherwise accrete them
    // with no API to let go
    spark.catalog.clearCache()
    Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8).count()
    Dedup.minhashPairs(docs, "doc_id", "text", 3, 0.8).count()
    Dedup.simhashPairs(docs, "doc_id", "text", 3, portable = true).count()
    // the shingle table is retained (storageLevel consults the session
    // CacheManager by plan equality)
    val sh = Dedup.withShingles(docs, "doc_id", "text", 3)
    assert(sh.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "expected the shingle table to be cache-retained after dedup runs")
    Dedup.clearCaches()
    assert(sh.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "clearCaches left the shingle table cached")
    // the contract is scoped to the frames Dedup itself registered (the
    // storageLevel probes above) — asserting the SESSION CacheManager
    // empty would couple this test to every other cache in the shared
    // SparkSession and fail spuriously if a suite runs concurrently
    // and the family still works after release (caches simply re-fill)
    assert(Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8).count() >= 0)
    Dedup.clearCaches()
  }

  test("zero-norm and null vectors fall out of similarity, not crash it") {
    // Spark 4 runs ANSI mode by default, where a raw dot/(n1*n2) with a
    // zero-norm vector THROWS [DIVIDE_BY_ZERO] and kills the job; the
    // guarded cosine must instead exclude the undefined rows
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.0, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 0.0, 0.0)), // zero-norm: cosine undefined
      (4L, Seq(0.9, 0.1, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val withNull = vecs.unionAll(
      Seq(5L).toDF("vec_id").withColumn("embedding",
        lit(null).cast("array<double>")))
    for (t <- Seq(0.4, 0.85)) { // blocked branch and LSH branch
      val pairs = Dedup.embeddingPairs(withNull, "vec_id", "embedding", t,
          dim = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.contains((1L, 2L)), s"t=$t: true pair lost")
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
        s"t=$t: zero-norm vector matched something")
      assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L),
        s"t=$t: null vector matched something")
    }
    val knn = Similarity.bruteForceKnn(withNull.where(col("vec_id") === 1),
        withNull, "vec_id", "embedding", 10)
      .collect().map(_.getLong(2))
    assert(knn.toSet == Set(2L, 4L)) // zero-norm + null corpus rows excluded
  }

  test("exact dedup gives null-text docs verdicts too") {
    // an equi-join on fp would silently drop null-fingerprint rows
    // (null != null); the window formulation groups them like any
    // other fingerprint group
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "same"), (2L, "same"), (3L, null), (4L, null))
      .toDF("doc_id", "text")
    val v = Dedup.exact(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(v == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
  }

  test("streaming exact dedup: first arrival wins inside the watermark horizon") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(String, Long)] // (text, event seconds)
    val stream = input.toDF()
      .select(col("_1").as("text"),
        timestamp_seconds(col("_2")).as("ts"))
    val q = Dedup.streamingExact(stream, "text", "ts", "10 seconds")
      .select(col("text"), unix_timestamp(col("ts")).as("sec"))
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      // batch 1: duplicate inside the batch — one survivor
      input.addData(("alpha", 100L), ("alpha", 101L), ("beta", 102L))
      q.processAllAvailable()
      // batch 2: duplicate across batches, still inside the horizon —
      // dropped; watermark advances to 120-10=110
      input.addData(("alpha", 105L), ("gamma", 120L))
      q.processAllAvailable()
      // batch 3: advance watermark (to 490) far past alpha's state,
      // which was evicted once the watermark passed 100+delay; batch 4:
      // alpha re-arrives at 495 — NOT late (>= watermark), and its old
      // fingerprint state is gone, so horizon-scoped dedup admits it
      input.addData(("delta", 500L))
      q.processAllAvailable()
      input.addData(("alpha", 495L))
      q.processAllAvailable()
      val got = s.sql("SELECT text, sec FROM stream_dedup ORDER BY sec")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(got.toSeq == Seq(("alpha", 100L), ("beta", 102L),
        ("gamma", 120L), ("alpha", 495L), ("delta", 500L)),
        s"got ${got.toSeq}")
    } finally q.stop()
  }

  test("passage dedup: repeated spans dropped keep-first, docs reassembled") {
    val s = spark
    import s.implicits._
    // width=2 passages: doc 1 = [a b][c d][e f]; doc 2 repeats [a b][c d]
    // then diverges; doc 3 is built ENTIRELY of doc 1/2's passages
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d x y"),
      (3L, "a b x y")).toDF("doc_id", "text")
    val got = Dedup.passageDedup(df, "doc_id", "text", width = 2, minDocs = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got === Array(
      // doc 1 is first owner of "a b" and "c d"; "e f" is unique
      (1L, "a b c d e f", 3L, 3L),
      // doc 2 loses both repeated spans, keeps first copy of "x y"
      (2L, "x y", 3L, 1L),
      // doc 3's spans all live elsewhere first -> empty survivor
      (3L, "", 2L, 0L)))
  }

  test("passage dedup: ragged tail chunk + below-threshold spans survive") {
    val s = spark
    import s.implicits._
    // width=3: doc 10 = [p q r][s] (ragged last); doc 11 shares no FULL
    // 3-token passage with doc 10 even though tokens overlap
    val df = Seq((10L, "p q r s"), (11L, "q r s")).toDF("doc_id", "text")
    val got = Dedup.passageDedup(df, "doc_id", "text", width = 3, minDocs = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got === Array((10L, "p q r s", 2L, 2L), (11L, "q r s", 1L, 1L)))
  }

  test("line dedup: corpus-repeated lines removed from ALL docs by default") {
    val s = spark
    import s.implicits._
    // "Sign in" repeats across docs 1/2 (with CRLF + indent variants —
    // identity is the trimmed content, reassembly keeps original bytes);
    // "unique ..." lines survive; doc 2's internal repeat of "only here"
    // is within-ONE-doc and must NOT trip the corpus rule; blank lines
    // are kept verbatim and never counted
    val df = Seq(
      (1L, "Sign in\nunique one\n\nclosing"),
      (2L, "  Sign in\r\nonly here\nonly here\nunique two"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Dedup.lineDedup(df, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got === Array(
      (1L, "unique one\n\nclosing", 3L, 2L),
      // "\r\n" split leaves "only here\r"... no: the \r\n sits after
      // "Sign in", so "  Sign in\r" trims to the shared content and is
      // dropped with its original bytes
      (2L, "only here\nonly here\nunique two", 4L, 3L),
      (3L, "", 0L, 0L)))
  }

  test("line dedup: keepFirst retains the lowest doc id's occurrences") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (5L, "header\nbody five"),
      (7L, "header\nbody seven"),
      (9L, "header")).toDF("doc_id", "text")
    val got = Dedup.lineDedup(df, "doc_id", "text", keepFirst = true)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got === Array(
      (5L, "header\nbody five", 2L, 2L),
      (7L, "body seven", 2L, 1L),
      (9L, "", 1L, 0L)))
  }

  test("streaming dedup with history drops duplicates of indexed docs") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // history: 'old' was ingested long ago and folded into the index;
    // a null-text doc too (the null-fp group must match null-safely)
    val history = Seq((1L, "old"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val idx = Dedup.buildExactIndex(history, "doc_id", "text",
      "hist_fp_idx", java.nio.file.Files
        .createTempDirectory("graft-hist-idx").toString)
    val input = MemoryStream[(String, Long)]
    val stream = input.toDF()
      .select(when(col("_1") === "NULL", lit(null)).otherwise(col("_1"))
          .as("text"),
        timestamp_seconds(col("_2")).as("ts"))
    val q = Dedup.streamingExactWithHistory(stream, "text", "ts",
        "10 seconds", idx)
      .select(col("text"), unix_timestamp(col("ts")).as("sec"))
      .writeStream.format("memory").queryName("stream_hist_dedup")
      .outputMode("append").start()
    try {
      // 'old' duplicates history (dropped by the index anti-join even
      // though it's a first arrival IN-STREAM); 'fresh' passes; the
      // in-stream duplicate of 'fresh' is dropped by the watermark
      // dedup; a null-text row duplicates history's null-fp group
      input.addData(("old", 100L), ("fresh", 101L), ("fresh", 102L),
        ("NULL", 103L))
      q.processAllAvailable()
      val got = s.sql("SELECT text, sec FROM stream_hist_dedup ORDER BY sec")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(got.toSeq == Seq(("fresh", 101L)), s"got ${got.toSeq}")
      // LIVE fold-in: extend the index while the query runs — the
      // static side is re-read per micro-batch, so a duplicate of the
      // newly folded doc is dropped WITHOUT restarting the query (the
      // scaladoc's claim, pinned here against engine changes)
      Dedup.extendExactIndex(
        Seq((3L, "folded live")).toDF("doc_id", "text"),
        "doc_id", "text", idx)
      input.addData(("folded live", 110L))
      q.processAllAvailable()
      val got2 = s.sql("SELECT text, sec FROM stream_hist_dedup ORDER BY sec")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(got2.toSeq == Seq(("fresh", 101L)),
        s"live-folded duplicate should be dropped: ${got2.toSeq}")
    } finally {
      q.stop()
      idx.drop(s)
    }
  }

  test("duplicateSpans: overlap merge, adjacency, gaps, self-repeats") {
    val s = spark
    import s.implicits._
    def spans(rows: (Long, String)*): Map[Long, Seq[(Long, Long, Long)]] =
      Dedup.duplicateSpans(rows.toDF("doc_id", "text"), "doc_id", "text", 4)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
    // cross-doc shared "abcdef": overlapping 4-grams at pos 3,4,5 merge
    // into ONE maximal span [3,8] in each doc; the unique flanks don't
    val a = spans((1L, "XXabcdefYY"), (2L, "ZZabcdefWW"))
    assert(a == Map(1L -> Seq((3L, 8L, 6L)), 2L -> Seq((3L, 8L, 6L))))
    // SELF-repeat in one doc: "abcd" at pos 1 and 5; intervals [1,4]
    // and [5,8] are adjacent (5 = prev_end + 1) -> one span
    assert(spans((1L, "abcdabcd")) == Map(1L -> Seq((1L, 8L, 8L))))
    // a real gap keeps two islands
    assert(spans((1L, "abcdMNOPQabcd")) ==
      Map(1L -> Seq((1L, 4L, 4L), (10L, 13L, 4L))))
    // nothing repeated / too short / null: no rows
    assert(spans((1L, "abcdefgh"), (2L, "zz"),
      (3L, null.asInstanceOf[String])).isEmpty)
    // positions count CODE POINTS: shared 6-cp prefix with an astral
    // head spans [1,6] in both docs
    val rocket = new String(Character.toChars(0x1F680))
    val b = spans((1L, s"${rocket}abcdZ1"), (2L, s"${rocket}abcdZ2"))
    assert(b == Map(1L -> Seq((1L, 6L, 6L)), 2L -> Seq((1L, 6L, 6L))))
  }

  test("duplicateTokenSpans: token islands, char bounds, case " +
      "sensitivity, cutSpans composition") {
    val s = spark
    import s.implicits._
    def spans(rows: (Long, String)*)
        : Map[Long, Seq[(Long, Long, Long, Long, Long, Long)]] =
      Dedup.duplicateTokenSpans(rows.toDF("doc_id", "text"),
          "doc_id", "text", 2)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
    // "big cat sat" shared: token 2-grams (big,cat),(cat,sat) overlap
    // and merge into ONE token island [1,3] — char span covers first
    // char of "big" to last of "sat" in EACH doc's own offsets
    val a = spans((1L, "big cat sat here"), (2L, "xx big cat sat"))
    assert(a == Map(
      1L -> Seq((1L, 11L, 11L, 1L, 3L, 3L)),
      2L -> Seq((4L, 14L, 11L, 2L, 4L, 3L))))
    // runs of whitespace collapse into one boundary; tabs/newlines are
    // token separators; char bounds EXCLUDE the flanking whitespace
    val b = spans((1L, "aa  bb\tcc"), (2L, "aa bb\ncc dd"))
    assert(b == Map(
      1L -> Seq((1L, 9L, 9L, 1L, 3L, 3L)),
      2L -> Seq((1L, 8L, 8L, 1L, 3L, 3L)))) // dd unique -> excluded
    // case-SENSITIVE: "Big cat" does not match "big cat"
    assert(spans((1L, "Big cat one"), (2L, "big cat two")).isEmpty)
    // token-boundary identity: "ab cd" never matches "a bcd" even
    // though the concatenated bytes agree
    assert(spans((1L, "ab cd xx"), (2L, "a bcd yy")).isEmpty)
    // gaps keep two islands; self-repeat within one doc counts
    val c = spans((1L, "u v GAP1 u v"), (2L, "nothing shared here"))
    assert(c == Map(1L -> Seq((1L, 3L, 3L, 1L, 2L, 2L),
      (10L, 12L, 3L, 4L, 5L, 2L))))
    // code points: astral-plane token positions count correctly
    val rocket = new String(Character.toChars(0x1F680))
    val d = spans((1L, s"$rocket pad tail1"), (2L, s"$rocket pad tail2"))
    assert(d == Map(1L -> Seq((1L, 5L, 5L, 1L, 2L, 2L)),
      2L -> Seq((1L, 5L, 5L, 1L, 2L, 2L))))
    // char spans feed cutSpans directly (columns are span_start/end)
    val df = Seq((1L, "big cat sat here"), (2L, "xx big cat sat"))
      .toDF("doc_id", "text")
    val cut = Dedup.cutSpans(df,
        Dedup.duplicateTokenSpans(df, "doc_id", "text", 2),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cut == Map(1L -> " here", 2L -> "xx "))
  }

  test("cutSpans removes exactly the spans and passes span-free docs") {
    val s = spark
    import s.implicits._
    def cut(rows: (Long, String)*): Map[Long, String] = {
      val df = rows.toDF("doc_id", "text")
      val spans = Dedup.duplicateSpans(df, "doc_id", "text", 4)
      Dedup.cutSpans(df, spans, "doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    // shared "abcdef" cut from both; unique flanks survive; the
    // span-free doc 3 passes through byte-identical
    assert(cut((1L, "XXabcdefYY"), (2L, "ZZabcdefWW"), (3L, "qrstuv")) ==
      Map(1L -> "XXYY", 2L -> "ZZWW", 3L -> "qrstuv"))
    // two islands in one doc both cut; head/tail spans handled
    val m = cut((1L, "abcdXabcdYefghZ"), (2L, "abcd"), (3L, "efgh"))
    // doc1: "abcd" repeats (docs 1x2 + self) -> spans [1,4],[6,9];
    // "efgh" repeats vs doc3 -> [11,14]; kept = X + Y + Z
    assert(m(1L) == "XYZ")
    // docs 2 and 3 are each ONE whole span -> empty string, never null
    assert(m(2L) == "" && m(3L) == "")
    // null text passes through as null
    val n = cut((1L, null.asInstanceOf[String]), (2L, "abcd"))
    assert(n(1L) == null)
  }

  test("semDedup: within-cell groups resolved to the least " +
      "centroid-similar member; cross-cell dups missed by design; " +
      "zero vectors dropped") {
    val s = spark
    import s.implicits._
    // centroids along the two axes; a1/a2 nearly colinear with c0 (a
    // dup pair in cell 0 — a2 is FARTHER from the centroid, so a2
    // survives), a3 alone in cell 1, b1/b2 a near-dup pair that lands
    // in DIFFERENT cells (cos(b1,b2) ≈ 0.976 > 0.85) — missed, both
    // keep. The zero vector has no cosine and must not appear.
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cvec")
    // 98/97: wrong-dimension vectors — assignCells lands them in the
    // cell = -1 sentinel; without the sentinel filter they would dedup
    // against EACH OTHER and emit a verdict (review finding)
    val vecs = Seq(
      (10L, Seq(1.0, 0.01)), (11L, Seq(1.0, 0.02)),
      (20L, Seq(0.02, 1.0)),
      (30L, Seq(1.0, 0.8)), (31L, Seq(0.8, 1.0)),
      (99L, Seq(0.0, 0.0)),
      (98L, Seq(1.0, 0.0, 0.0)), (97L, Seq(1.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = Dedup.semDedup(vecs, "vec_id", "embedding", cents,
        "cid", "cvec", 0.85)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getBoolean(4))).toMap
    assert(!got.contains(99L), "zero vector must drop")
    assert(!got.contains(98L) && !got.contains(97L),
      "wrong-dimension vectors (assignCells' cell = -1 sentinel) " +
        "must drop, never dedup against each other")
    assert(got(10L)._1 == 0L && got(11L)._1 == 0L && got(20L)._1 == 1L)
    assert(got(30L)._1 == 0L && got(31L)._1 == 1L)
    // the duplicate group {10, 11}: component = min id, survivor = 11
    // (least similar to c0)
    assert(got(10L)._2 == 10L && got(11L)._2 == 10L)
    assert(!got(10L)._3 && got(11L)._3,
      s"keep must pick the least centroid-similar member: $got")
    // singletons and the missed cross-cell pair all survive
    assert(got(20L)._3 && got(30L)._3 && got(31L)._3)
    assert(got(30L)._2 == 30L && got(31L)._2 == 31L,
      "cross-cell pair must NOT share a component")
  }

  test("semDedupFraction: per-cell ceil(frac*n) least-central keep, " +
      "sentinel/zero rows dropped, >=1 kept per cell") {
    val s = spark
    import s.implicits._
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cid", "cvec")
    // cell 0 gets 5 members at increasing angle from c0 (vid order =
    // similarity order, most-central first); cell 1 gets 2; plus a
    // zero vector and a wrong-dimension sentinel row
    val vecs = Seq(
      (10L, Seq(1.0, 0.01)), (11L, Seq(1.0, 0.1)), (12L, Seq(1.0, 0.2)),
      (13L, Seq(1.0, 0.3)), (14L, Seq(1.0, 0.4)),
      (20L, Seq(0.01, 1.0)), (21L, Seq(0.3, 1.0)),
      (99L, Seq(0.0, 0.0)), (98L, Seq(1.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = Dedup.semDedupFraction(vecs, "vec_id", "embedding",
        cents, "cid", "cvec", 0.4)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getBoolean(5)))
      .toMap
    assert(!got.contains(99L) && !got.contains(98L))
    // cell 0: ceil(0.4*5) = 2 kept, the two LEAST central (14, 13)
    assert(got(14L)._4 && got(13L)._4)
    assert(!got(12L)._4 && !got(11L)._4 && !got(10L)._4)
    assert(got(14L)._2 == 1L && got(13L)._2 == 2L, "rank order")
    assert(got(10L)._3 == 5L, "n_cell")
    // cell 1: ceil(0.4*2) = 1 kept — the less central member
    assert(got(21L)._4 && !got(20L)._4)
    // a tiny fraction still keeps one per cell (the integer ceil rule)
    val one = Dedup.semDedupFraction(vecs, "vec_id", "embedding",
        cents, "cid", "cvec", 0.000001)
      .where(col("keep")).collect().map(_.getLong(0)).toSet
    assert(one == Set(14L, 21L))
    // below the 1e-6 grid the fraction would round to 0 micro and
    // silently drop every cell — refused instead (review finding)
    val e = intercept[IllegalArgumentException](
      Dedup.semDedupFraction(vecs, "vec_id", "embedding",
        cents, "cid", "cvec", 2e-7))
    assert(e.getMessage.contains("1e-6"))
  }

  test("semDedupFraction composes with the persisted IVF assignment") {
    val s = spark
    val emb = graft.engine.Tables.embeddings(s, sf())
    val cents0 = emb.where(col("vec_id") < 10)
    val idx = Similarity.buildIvfIndex(emb, "vec_id", "embedding",
      cents0, "vec_id", "embedding", "semfrac_spec_idx",
      java.nio.file.Files.createTempDirectory("graft-sdf-spec").toString)
    try {
      import graft.functions.VectorFunctions._
      val cents = broadcast(s.table(idx.centroidsTable)
        .select(col("cell"), col("centroid"),
          l2Norm(col("centroid")).as("__cnm")))
      val asg = s.table(idx.corpusTable).where(col("cn") > 0.0)
        .join(cents, Seq("cell"))
        .select(col("cid").cast("long").as("vid"), col("cell"),
          (round(cosineFrom(dot(col("cv"), col("centroid")), col("cn"),
            col("__cnm")), 6) + lit(0.0)).as("cent_sim"))
      val viaIndex = Dedup.semDedupFraction(asg, 0.5)
        .collect().map(r => (r.getLong(0), r.getBoolean(5))).sortBy(_._1)
      val direct = Dedup.semDedupFraction(emb, "vec_id", "embedding",
          cents0.select(col("vec_id").as("cid"),
            col("embedding").as("cvec")), "cid", "cvec", 0.5)
        .collect().map(r => (r.getLong(0), r.getBoolean(5))).sortBy(_._1)
      assert(viaIndex.toSeq == direct.toSeq,
        "index-fed fraction mode must equal the direct operator")
    } finally idx.drop(s)
  }

  test("semDedupFromIndex: the persisted-IVF path equals the direct " +
      "operator on the same corpus and centroids") {
    val s = spark
    val emb = graft.engine.Tables.embeddings(s, sf())
    val cents0 = emb.where(col("vec_id") < 10)
    val idx = Similarity.buildIvfIndex(emb, "vec_id", "embedding",
      cents0, "vec_id", "embedding", "semdedup_spec_idx",
      java.nio.file.Files.createTempDirectory("graft-sdd-spec").toString)
    try {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getBoolean(4))).sortBy(_._1).toSeq
      val direct = rows(Dedup.semDedup(emb, "vec_id", "embedding",
        cents0.select(col("vec_id").as("cid"),
          col("embedding").as("cvec")), "cid", "cvec", 0.4))
      val indexed = rows(Dedup.semDedupFromIndex(s, idx, 0.4))
      assert(indexed == direct,
        "index-fed semDedup must equal the direct operator")
    } finally {
      idx.drop(s)
    }
  }
}
