package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusStatsSpec extends SparkSpec {

  // skewed synthetic item stream: item "h<i>" appears 200-50*i times for
  // i in 0..3 (heavy), plus a long uniform tail of singletons
  private def mkItems(parts: Int) = {
    val s = spark
    import s.implicits._
    val heavy = (0 until 4).flatMap(i => Seq.fill(200 - 50 * i)(s"h$i"))
    val tail = (0 until 400).map(i => s"t$i")
    val all = new scala.util.Random(11).shuffle(heavy ++ tail)
    all.toDF("item").repartition(parts)
  }

  private def brute(minShare: Double, parts: Int) = {
    val df = mkItems(parts)
    val total = df.count()
    val thr = math.ceil(minShare * total).toLong
    df.groupBy("item").agg(count(lit(1)).as("n")).where(col("n") >= thr)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
  }

  private def hh(minShare: Double, parts: Int) =
    CorpusStats.heavyHitters(mkItems(parts), "item", minShare)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  test("heavy hitters equal the exact brute-force threshold set") {
    // total = 500 heavy + 400 tail = 900; share 0.1 -> thr 90 -> h0, h1, h2
    assert(hh(0.1, 8) == brute(0.1, 8))
    assert(hh(0.1, 8).map(_._1) == Set("h0", "h1", "h2"))
    // share 0.05 -> thr 45 -> h3 (50) joins
    assert(hh(0.05, 8) == brute(0.05, 8))
    assert(hh(0.05, 8).map(_._1) == Set("h0", "h1", "h2", "h3"))
  }

  test("result is invariant under partition layout (MG is only a filter)") {
    val want = brute(0.05, 4)
    for (p <- Seq(1, 3, 7, 32)) assert(hh(0.05, p) == want, s"parts=$p")
  }

  test("share column is the exact global share") {
    val rows = CorpusStats.heavyHitters(mkItems(6), "item", 0.1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, share) =>
      assert(math.abs(share - n / 900.0) < 1e-6)
    }
  }

  test("empty input and all-null input yield empty results") {
    val s = spark
    import s.implicits._
    assert(CorpusStats.heavyHitters(
      Seq.empty[String].toDF("item"), "item", 0.1).count() == 0)
    assert(CorpusStats.heavyHitters(
      Seq[Option[String]](None, None).toDF("item"), "item", 0.1).count() == 0)
  }

  test("distinct certificate: exact counts match and sketch certifies") {
    val s = spark
    import s.implicits._
    val df = (0 until 3000).map(i => (s"g${i % 3}", s"v${i % (50 * (i % 3 + 1))}"))
      .toDF("g", "item")
    val got = CorpusStats.distinctCertificate(df, "g", "item")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    val want = df.groupBy("g").agg(countDistinct("item").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.view.mapValues(_._1).toMap == want)
    assert(got.values.forall(_._2), s"sketch outside tolerance: $got")
  }

  test("quantile certificate: exact interpolated percentiles + rank ok") {
    val s = spark
    import s.implicits._
    // group g0: 1..101 (p50=51, p90=91); g1: even numbers 2..50
    val df = ((1 to 101).map(("g0", _)) ++ (1 to 25).map(i => ("g1", i * 2)))
      .toDF("g", "v")
    val got = CorpusStats.quantileCertificate(df, "g", "v")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(got("g0") == ((101L, 51.0, 91.0, true, true)))
    // g1: p50 = 2*(1 + 0.5*24) = 26; p90 = interpolate(24*0.9=21.6):
    // 2*(22) + 0.6*2 = 45.2
    assert(got("g1") == ((25L, 26.0, 45.2, true, true)))
  }

  private def tfidfOf() = {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "x y Y"), (2L, "y  z")).toDF("doc_id", "text")
    CorpusStats.tfidf(docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
  }

  test("distinct sketches: day-merge equals single-pass, any merge " +
      "order, estimate certifies vs exact") {
    val s = spark
    import s.implicits._
    val df = (1 to 900).map(i => (s"g${i % 2}", s"v${i % 240}", i % 3))
      .toDF("g", "w", "day")
    val daily = (0 until 3).map(k =>
      CorpusStats.distinctSketches(df.where($"day" === k), "g", "w"))
    def est(sk: org.apache.spark.sql.DataFrame): Map[String, Long] =
      CorpusStats.estimateDistinct(sk, "g")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val merged = est(CorpusStats.mergeDistinctSketches(
      daily.reduce(_ unionAll _), "g"))
    val single = est(CorpusStats.distinctSketches(df, "g", "w"))
    assert(merged == single, s"merge != single pass: $merged vs $single")
    // order-insensitive: reversed day order produces the same answer
    val reversed = est(CorpusStats.mergeDistinctSketches(
      daily.reverse.reduce(_ unionAll _), "g"))
    assert(reversed == merged)
    // certificate: exact distinct per group is 120 (i%240 splits evenly
    // over the two groups), and lgK=12 holds 5% easily at this scale
    merged.values.foreach(e =>
      assert(math.abs(e - 120L) <= 6, s"estimate $e vs exact 120"))
  }

  test("corpusReport: counts, dup rate, discrete median on a hand vector") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "a", "one two three"),      // 3 tokens, 13 chars
      (2L, "a", "one two three"),      // exact duplicate of doc 1
      (3L, "a", "four five"),          // 2 tokens, 9 chars
      (4L, "b", "solo document here")  // 3 tokens, 18 chars
    ).toDF("doc_id", "source", "text")
    val got = CorpusStats.corpusReport(df, "doc_id", "source", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(5))).toMap
    // a: 3 docs, 8 tokens, 2 distinct fps -> dup_rate 1/3; lengths
    // {9, 13, 13}: cum at 9 is 1 < ceil(1.5)=2 -> median 13
    val (nA, tokA, dupA, medA) = got("a")
    assert(nA == 3 && tokA == 8 && medA == 13L)
    assert(dupA == math.rint((1.0 - 2.0 / 3.0) * 1e6) / 1e6)
    // b: single doc, no dups, median = its own length
    assert(got("b") == ((1L, 3L, 0.0, 18L)), got("b").toString)
    // a null stratum is its own report row (zscore's null discipline)
    val withNull = df.unionByName(Seq(
      (5L, null.asInstanceOf[String], "lone null stratum doc"))
      .toDF("doc_id", "source", "text"))
    val rows = CorpusStats.corpusReport(withNull, "doc_id", "source",
      "text").collect()
    assert(rows.length == 3 && rows.exists(_.isNullAt(0)),
      rows.mkString(", "))
    // a stratum whose text is ENTIRELY null (malformed ingest — the
    // rows an audit most needs) keeps its report row with a null p50
    // instead of vanishing in the median join
    val withBroken = df.unionByName(Seq(
      (6L, "broken", null.asInstanceOf[String]))
      .toDF("doc_id", "source", "text"))
    val broken = CorpusStats.corpusReport(withBroken, "doc_id", "source",
      "text").collect().find(r => r.getString(0) == "broken")
    assert(broken.isDefined && broken.get.getLong(1) == 1L &&
      broken.get.isNullAt(5), broken.toString)
  }

  test("sourceOverlap: pairwise set arithmetic on a hand vector; " +
      "disjoint pairs are absent") {
    val s = spark
    import s.implicits._
    // 2-gram shingle sets: A = {a b, b c, c d}; B = {b c, c d, d e};
    // C is disjoint vocabulary
    val df = Seq(
      ("A", "a b c d"), ("B", "b c d e"), ("C", "x y z")
    ).toDF("source", "text")
    val got = CorpusStats.sourceOverlap(df, "source", "text", 2)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    // A∩B = {b c, c d}: jaccard 2/4, containment 2/3
    assert(got.keySet == Set(("A", "B")), got.toString)
    val (n1, n2, sh, j, c) = got(("A", "B"))
    assert(n1 == 3 && n2 == 3 && sh == 2)
    assert(j == 0.5 && c == math.rint(2.0 / 3.0 * 1e6) / 1e6)
    // duplicated shingles within a source count once (set semantics)
    val dup = Seq(("A", "a b a b"), ("B", "a b")).toDF("source", "text")
    val g2 = CorpusStats.sourceOverlap(dup, "source", "text", 2)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).head
    // A's distinct 2-grams: {a b, b a}; B's: {a b}
    assert(g2 == ((2L, 1L, 1L)), g2.toString)
  }

  test("tfidf matches the smoothed-idf formula on a hand vector") {
    // N=2; df: x 1, y 2, z 1; idf(x)=idf(z)=ln(3/2)+1, idf(y)=ln(1)+1=1
    val w = BigDecimal(math.log(1.5) + 1).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(tfidfOf() == Map(
      (1L, "x") -> ((1L, w)), (1L, "y") -> ((2L, 2.0)),
      (2L, "y") -> ((1L, 1.0)), (2L, "z") -> ((1L, w))))
  }

  test("bigramLogProb matches hand-computed MLE transition probabilities") {
    val s = spark
    import s.implicits._
    // unigrams: a 3, b 2, c 1; bigrams: "a b" x2, "b a", "a c"
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    def r4(x: Double) = BigDecimal(x).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = CorpusStats.bigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // d1: [ln(2/3), ln(1/2), ln(2/3)] mean; d2: [ln(1/3)]
    val d1 = r4((2 * math.log(2.0 / 3.0) + math.log(0.5)) / 3.0)
    assert(got == Map(1L -> ((3L, d1)), 2L -> ((1L, r4(math.log(1.0 / 3.0))))))
  }

  test("bigramLogProb drops docs with fewer than two tokens") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "only"), (2L, ""), (3L, "two words"))
      .toDF("doc_id", "text")
    val got = CorpusStats.bigramLogProb(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(3L))
  }

  test("tfidf: a downstream doc filter must not change df (global idf)") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "x y Y"), (2L, "y  z")).toDF("doc_id", "text")
    // filter AFTER tfidf: Catalyst may push doc=1 below the join, but it
    // must never reach the df aggregate or the corpus count — x keeps
    // its corpus-wide score ln(3/2)+1 ≈ 1.4055 and y keeps df=2's
    // 2*(ln(3/3)+1) = 2.0 (a filtered recompute would give x 1.0 for
    // N=1/df=1 and a different y)
    val cut = CorpusStats.tfidf(docs, "doc_id", "text")
      .where(col("doc") === 1L)
      .collect().map(r => r.getString(1) -> r.getDouble(3)).toMap
    val w = BigDecimal(math.log(1.5) + 1).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(cut == Map("x" -> w, "y" -> 2.0))
  }

  // hand-computed BM25 corpus: N=4, avgdl=3, df(apple)=df(cherry)=2,
  // idf = ln(1 + 2.5/2.5) = ln 2 for both query terms
  private def bm25Docs = {
    val s = spark
    import s.implicits._
    Seq((0L, "apple banana apple"), (1L, "banana cherry"),
        (2L, "apple apple apple apple"), (3L, "durian cherry banana"))
      .toDF("doc_id", "text")
  }

  test("bm25TopK matches the hand-computed ranking") {
    val got = CorpusStats
      .bm25TopK(bm25Docs, "doc_id", "text", Map("q" -> "apple cherry"), 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).sortBy(_._4)
    // d2: tf=4, dl=4 -> 4*2.2/(4+1.2*1.25) = 1.6;      ln2*1.6    = 1.1090
    // d0: tf=2, dl=3 -> 2*2.2/(2+1.2)      = 1.375;    ln2*1.375  = 0.9531
    // d1: tf=1, dl=2 -> 2.2/(1+1.2*0.75)   = 1.15789.; ln2*that   = 0.8026
    // d3: tf=1, dl=3 -> 2.2/2.2            = 1;        ln2        = 0.6931 (cut)
    assert(got.toSeq == Seq(("q", 2L, 1.1090, 1), ("q", 0L, 0.9531, 2),
      ("q", 1L, 0.8026, 3)))
  }

  test("bm25TopK: per-query independence, universal terms score positive") {
    val got = CorpusStats.bm25TopK(bm25Docs, "doc_id", "text",
        Map("qa" -> "banana", "qb" -> "durian"), 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // banana is in 3 of 4 docs — the non-negative idf variant still
    // gives it weight ln(1 + 1.5/3.5) > 0
    val qa = got.filter(_._1 == "qa")
    assert(qa.map(_._2).toSet == Set(0L, 1L, 3L) && qa.forall(_._3 > 0))
    // durian hits exactly its one doc; the other query never leaks in
    assert(got.filter(_._1 == "qb").map(_._2).toSeq == Seq(3L))
  }

  test("bm25TopK: k bounds every query's result and ranks are dense") {
    val got = CorpusStats.bm25TopK(bm25Docs, "doc_id", "text",
        Map("q" -> "banana cherry apple"), 2)
      .collect().map(r => (r.getInt(3), r.getLong(1)))
    assert(got.length == 2 && got.map(_._1).sorted.toSeq == Seq(1, 2))
  }

  test("held-out LM scores against the TRAIN split, smoothing the unseen") {
    val s = spark
    import s.implicits._
    val train = Seq((1L, "the cat sat"), (2L, "the cat ran"))
      .toDF("doc_id", "text")
    // scored doc: bigrams "the cat" (c2=2, c1(the)=2), "cat flew"
    // (unseen, c1(cat)=2). V = 5 (the, cat, sat, ran — plus none);
    // wait: train unigrams = the x2, cat x2, sat, ran -> V = 4
    val score = Seq((10L, "the cat flew")).toDF("doc_id", "text")
    val got = CorpusStats.bigramLogProbAgainst(train, score,
      "doc_id", "text", k = 0.5).collect().head
    val v = 4.0
    val lp1 = math.log((2 + 0.5) / (2 + 0.5 * v)) // the cat
    val lp2 = math.log((0 + 0.5) / (2 + 0.5 * v)) // cat flew (unseen)
    assert(got.getLong(1) == 2L && got.getLong(2) == 1L)
    assert(math.abs(got.getDouble(3) -
      BigDecimal((lp1 + lp2) / 2).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // a doc that IS the training distribution outscores junk
    val pair = Seq((20L, "the cat sat"), (21L, "zz qq xx yy ww"))
      .toDF("doc_id", "text")
    val scores = CorpusStats.bigramLogProbAgainst(train, pair,
      "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(scores(20L) > scores(21L),
      s"in-distribution must outscore junk: $scores")
  }

  test("ngram stupid backoff: every branch on a hand-computed vector") {
    val s = spark
    import s.implicits._
    // train: tokens a b c a b d -> N=6, V=4 (a:2 b:2 c:1 d:1);
    // bigrams "a b"x2 "b c" "b d"; trigrams "a b c" "a b d"
    val train = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    // scored "a b c x b" walks all five cases:
    //  p1 'a': 1-token history available -> unigram, NO penalty
    //  p2 'b': bigram "a b" seen at its full available order
    //  p3 'c': trigram "a b c" seen (ctx count = c2("a b") = 2)
    //  p4 'x': OOV -> backs to the alpha^2-penalized unigram floor
    //  p5 'b': in-vocab but both grams unseen -> alpha^2 * unigram
    val score = Seq((10L, "a b c x b")).toDF("doc_id", "text")
    val got = CorpusStats.ngramLogProbAgainst(train, score,
      "doc_id", "text", order = 3, alpha = 0.4, k = 0.5).collect().head
    val a2 = 0.4 * 0.4 // the exact multiply-chain literal
    val uni = (2 + 0.5) / (6 + 0.5 * 4) // c1=2 tokens a/b
    val lp = Seq(math.log(uni), math.log(2.0 / 2),
      math.log(1.0 / 2), math.log(a2 * (0 + 0.5) / (6 + 0.5 * 4)),
      math.log(a2 * uni))
    assert(got.getLong(1) == 5L, "n_tokens")
    assert(got.getLong(2) == 1L, "n_oov: only 'x'")
    assert(got.getLong(3) == 2L, "n_backed: 'x' and final 'b'")
    assert(math.abs(got.getDouble(4) -
      BigDecimal(lp.sum / 5).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // a 1-token doc scores at the unpenalized unigram floor (the
    // bigram model would drop it)
    val one = CorpusStats.ngramLogProbAgainst(train,
      Seq((11L, "a")).toDF("doc_id", "text"), "doc_id", "text", 3)
      .collect().head
    assert(one.getLong(1) == 1L && one.getLong(3) == 0L)
    assert(math.abs(one.getDouble(4) - BigDecimal(math.log(uni))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    intercept[IllegalArgumentException](CorpusStats.ngramLogProbAgainst(
      train, score, "doc_id", "text", order = 1))
  }

  test("sourceDivergence matches the exact driver KL on a hand vector") {
    val s = spark
    import s.implicits._
    // srcA tokens: a a b (n=3); srcB: b c (n=2); corpus: a=2 b=2 c=1 N=5
    val docs = Seq(("A", "a a b"), ("B", "b c")).toDF("source", "text")
    val got = CorpusStats.sourceDivergence(docs, "source", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val klA = (2.0 / 3) * math.log((2.0 / 3) / (2.0 / 5)) +
      (1.0 / 3) * math.log((1.0 / 3) / (2.0 / 5))
    val klB = (1.0 / 2) * math.log((1.0 / 2) / (2.0 / 5)) +
      (1.0 / 2) * math.log((1.0 / 2) / (1.0 / 5))
    assert(got("A") == ((3L, r4(klA))))
    assert(got("B") == ((2L, r4(klB))))
  }

  test("sourceDivergence keeps a NULL stratum (null-safe totals join)") {
    val s = spark
    import s.implicits._
    val docs = Seq((Some("A"), "a a b"), (None, "b c"))
      .toDF("source", "text")
    val got = CorpusStats.sourceDivergence(docs, "source", "text")
      .collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    // the untagged slice is a real group, not silently dropped
    assert(got == Map(Some("A") -> 3L, None -> 2L))
  }

  test("sourceDivergence is zero iff the stratum matches the blend") {
    val s = spark
    import s.implicits._
    // both sources have the identical distribution -> KL exactly 0;
    // a third source of pure novel tokens diverges strictly positively
    val docs = Seq(("A", "x y"), ("B", "x y x y"), ("C", "zz zz zz"))
      .toDF("source", "text")
    val got = CorpusStats.sourceDivergence(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // A and B share P(x)=P(y)=1/2 but the corpus includes C's zz mass,
    // so their KL is equal and positive; C's too
    assert(got("A") == got("B"))
    assert(got.values.forall(_ > 0.0))
    // with C removed, A and B ARE the blend -> exactly 0.0 after round
    val even = CorpusStats.sourceDivergence(
        docs.where(col("source") =!= "C"), "source", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(even == Map("A" -> 0.0, "B" -> 0.0))
  }

  test("by-source n-gram scoring equals per-domain plain scoring, and " +
      "train-absent domains drop") {
    // the specialist-model equivalence DoReMi's order-n form rests on:
    // scoring domain d's held-out docs through the (src, gram)-keyed
    // tables must EQUAL training a plain model on d's slice alone
    val s = spark
    val all = graft.engine.Tables.documents(s, sf())
      .where(col("source").isNotNull)
    val tr = all.where(col("doc_id") % 3 =!= 0)
    val ho = all.where(col("doc_id") % 3 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc", "n_tokens", "n_oov", "n_backed", "avg_lp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(_._1).toSeq
    val bySrc = rows(CorpusStatsReference.ngramLogProbAgainstBySource(
      tr, ho, "doc_id", "text", "source", 3))
    val domains = ho.select("source").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val perDomain = domains.flatMap { dom =>
      rows(CorpusStats.ngramLogProbAgainst(
        tr.where(col("source") === dom),
        ho.where(col("source") === dom), "doc_id", "text", 3))
    }.sortBy(_._1)
    assert(bySrc == perDomain,
      "by-source scoring diverged from per-domain plain scoring")
    // a held-out-only domain has no specialist and must DROP, not
    // silently score against someone else's tables
    val hoExtra = ho.select(
      (col("doc_id") + 900000L).as("doc_id"),
      lit("never_in_train").as("source"), col("text"))
    val dropped = CorpusStatsReference.ngramLogProbAgainstBySource(
      tr, hoExtra, "doc_id", "text", "source", 3)
    assert(dropped.count() == 0L)
  }
}
