package graft.operators

import graft.SparkSpec

class SubwordSpec extends SparkSpec {

  private val vocab = Seq("a", "b", "d", "e", "l", "p", "val", "wind",
    "ow", "str", "eam", "ab", "bc")
  private def tok(w: String) =
    Subword.tokenizeWord(w, vocab.toSet, vocab.map(_.length).max)._1

  test("tokenizeWord: greedy longest-match with single-char unk fallback") {
    assert(tok("window") == List("wind", "ow"))
    assert(tok("stream") == List("str", "eam"))
    assert(tok("value") == List("val", Subword.Unk, "e"))
    assert(tok("dup") == List("d", Subword.Unk, "p"))
    // fully uncovered word: one unk per char
    assert(tok("zzz") == List(Subword.Unk, Subword.Unk, Subword.Unk))
    assert(tok("") == Nil)
    // GREEDY, not optimal: "abc" takes "ab" (longest at pos 0) and
    // degrades 'c', even though a+bc would cover it fully — the
    // documented wordpiece-inference semantics both engines replay
    assert(tok("abc") == List("ab", Subword.Unk))
    // the unk count is the segmenter's own, one per degraded position
    assert(Subword.tokenizeWord("zvalz", vocab.toSet, 4) ==
      ((List(Subword.Unk, "val", Subword.Unk), 2L)))
  }

  test("tokenizeWord and charSeg are code-point based, not UTF-16") {
    // an astral char (surrogate PAIR in UTF-16) is ONE character: one
    // unk, never two lone-surrogate unks — matching DuckDB's
    // string_split(w, '') and Spark SQL's split(w, '')
    val rocket = new String(Character.toChars(0x1F680)) // 🚀
    assert(Subword.charSeg(s"a${rocket}b").toList == List("a", rocket, "b"))
    assert(Subword.charSeg("").isEmpty)
    assert(tok(s"a$rocket") == List("a", Subword.Unk))
    assert(tok(rocket + rocket) == List(Subword.Unk, Subword.Unk))
    // an astral char IN vocab matches as one piece of length 1
    val v2 = Set("a", rocket)
    assert(Subword.tokenizeWord(s"a$rocket", v2, 1) == ((List("a", rocket), 0L)))
    // multibyte BMP chars count 1 toward maxPieceLen too
    assert(Subword.tokenizeWord("中文", Set("中文"), 2) == ((List("中文"), 0L)))
    // ranked BPE apply segments code points the same way
    assert(Subword.applyMergesRanked(s"a${rocket}b",
        Subword.rankMap(Seq.empty)).toList ==
      List("a", rocket, "b"))
  }

  test("pieceCounts weights per-word pieces by occurrence") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "window window value"), (2L, "dup"), (3L, ""))
      .toDF("doc_id", "text")
    val got = Subword.pieceCounts(docs, "doc_id", "text", vocab)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1: 2*(wind,ow) + (val,unk,e) = 7 pieces, 1 unk
    // doc 2: d,unk,p = 3 pieces, 1 unk; doc 3: no tokens -> no row
    assert(got == Set((1L, 7L, 1L), (2L, 3L, 1L)))
  }

  test("pieceFrequencies collapses unks and preserves totals") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "window window value"), (2L, "dup value"))
      .toDF("doc_id", "text")
    val got = Subword.pieceFrequencies(docs, "text", vocab)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("wind" -> 2L, "ow" -> 2L, "val" -> 2L, "e" -> 2L,
      Subword.Unk -> 3L, "d" -> 1L, "p" -> 1L))
    // totals agree with pieceCounts
    val totals = Subword.pieceCounts(docs, "doc_id", "text", vocab)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.values.sum == totals.map(_._1).sum)
    assert(got(Subword.Unk) == totals.map(_._2).sum)
  }

  test("empty or degenerate vocab fails loudly") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Subword.pieceCounts(docs, "doc_id", "text", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Subword.pieceFrequencies(docs, "text", Seq("a", ""))
    }
  }

  test("topNgramPieces: occurrence-weighted candidates, ties by piece") {
    val s = spark
    import s.implicits._
    // words: abc x1, ab x2 -> pieces ab=1+2=3, bc=1, abc=1
    val docs = Seq((1L, "abc ab"), (2L, "ab")).toDF("doc_id", "text")
    val got = Subword.topNgramPieces(docs, "text", 2, 3, 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq(("ab", 3L, 1), ("abc", 1L, 2)),
      s"got ${got.toSeq}")
    // the global top-k must be a bounded heap, not a full sort
    val plan = Subword.topNgramPieces(docs, "text", 2, 3, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k not planner-bounded:\n$plan")
    intercept[IllegalArgumentException] {
      Subword.topNgramPieces(docs, "text", 3, 2, 5)
    }
  }

  test("tokenization runs per distinct word: plan shuffles words, not docs") {
    val s = spark
    import s.implicits._
    // the distinct-word frame feeding the mapPartitions walk must sit
    // behind its own aggregate — the plan contains the (doc, w) count
    // agg AND a distinct over w, and the final agg groups by doc
    val docs = (0L until 50L).map(i => (i, "window value " * 5))
      .toDF("doc_id", "text")
    val plan = Subword.pieceCounts(docs, "doc_id", "text", vocab)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("SerializeFromObject"),
      "expected the typed per-word walk in the plan")
  }

  /** Reference BPE trainer: the Sennrich algorithm, driver-side. */
  private def refBpe(words: Seq[(String, Long)], n: Int)
      : Seq[(String, String, String, Long)] = {
    var frame = words.map { case (w, c) => (w.map(_.toString).toList, c) }
    val out = Seq.newBuilder[(String, String, String, Long)]
    var r = 0
    var done = false
    while (r < n && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      frame.foreach { case (syms, c) =>
        syms.zip(syms.drop(1)).foreach(p =>
          counts(p) = counts.getOrElse(p, 0L) + c)
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, rr), cnt) = counts.toSeq
          .minBy { case ((a, b), cn) => (-cn, a, b) }
        out += ((l, rr, l + rr, cnt))
        frame = frame.map { case (syms, c) => (foldMerge(syms, l, rr), c) }
        r += 1
      }
    }
    out.result()
  }

  private def foldMerge(syms: List[String], l: String, r: String)
      : List[String] =
    syms.foldLeft(List.empty[String]) { (acc, x) =>
      if (acc.nonEmpty && acc.last == l && x == r)
        acc.dropRight(1) :+ (l + r)
      else acc :+ x
    }

  test("trainBpeMerges matches a driver-side Sennrich replay") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "low low low lower lower newest newest newest newest widest"),
      (2L, "widest widest newest low lowest"),
      (3L, "the newest widest lowest low"))
    val docs = corpus.toDF("doc_id", "text")
    val got = Subword.trainBpeMerges(docs, "text", 8).collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq
    val wordCounts = corpus.flatMap(_._2.split("\\s+"))
      .groupBy(identity).map { case (w, xs) => (w, xs.length.toLong) }.toSeq
    val want = refBpe(wordCounts, 8)
    assert(got == want, s"\ngot  $got\nwant $want")
    // and the classic property: "newest" (9 occurrences) drives early
    // merges — its first pair is learned within the first rounds
    assert(got.take(3).exists(m => "newest".contains(m._3)))
  }

  test("trainBpeMerges: merged symbols re-merge across rounds") {
    val s = spark
    import s.implicits._
    // "aaab" x4: round 1 learns (a,a) -> aa; round 2 must be able to
    // merge (aa, a) or (aa, b) — i.e. rounds compose
    val docs = Seq((1L, "aaab aaab aaab aaab")).toDF("doc_id", "text")
    val got = Subword.trainBpeMerges(docs, "text", 3).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(got.head == (("a", "a", 8L)), s"round 1: ${got.head}")
    // after [aa, a, b]: pairs (aa,a)=4, (a,b)=4 — tie broken by lhs asc
    assert(got(1) == (("a", "b", 4L)), s"round 2: ${got(1)}")
    assert(got(2) == (("aa", "ab", 4L)), s"round 3: ${got(2)}")
  }

  test("bpeEncode applies merges in rank order and weights by occurrence") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "abc abc ax"), (2L, "abc")).toDF("doc_id", "text")
    // rank order composes: a+b then ab+c fully merges "abc"
    val m1 = Seq(("a", "b"), ("ab", "c"))
    val got = Subword.bpeEncode(docs, "doc_id", "text", m1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1: abc->1 piece x2, ax->[a,x] 2 pieces = 4; doc 2: abc->1
    assert(got == Map(1L -> 4L, 2L -> 1L), got.toString)
    // reversed rank order cannot compose: ab+c never fires on chars
    val m2 = Seq(("ab", "c"), ("a", "b"))
    val got2 = Subword.bpeEncode(docs, "doc_id", "text", m2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 6L, 2L -> 2L), got2.toString)
    // piece identity via frequencies: [abc x3, a, x]
    val freq = Subword.bpePieceFrequencies(docs, "text", m1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(freq == Map("abc" -> 3L, "a" -> 1L, "x" -> 1L), freq.toString)
  }

  test("encode(train(corpus)) round-trips: learned merges compress it") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "newest newest newest lowest lowest low"))
      .toDF("doc_id", "text")
    val merges = Subword.trainBpeMerges(docs, "text", 6).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val n = Subword.bpeEncode(docs, "doc_id", "text", merges)
      .collect().head.getLong(1)
    val chars = "newest newest newest lowest lowest low"
      .split(" ").map(_.length.toLong).sum
    assert(n < chars, s"merges did not compress: $n vs $chars chars")
  }

  test("trainBpeMerges: local and distributed paths learn identical " +
      "rule lists on adversarial corpora") {
    val s = spark
    import s.implicits._
    // each corpus targets a divergence class: overlapping same-char
    // runs (non-overlap consumption order), cascading merges whose
    // outputs immediately re-pair, exact count ties (argmax must break
    // by binary (lhs, rhs)), and a word that exhausts mid-training
    val corpora = Seq(
      "aaaa aaaaa aa a",                 // overlap: (a,a) consumption
      "aaab aaab aaab aaab",             // cascade: aa then aa+a / a+b
      "ab cd ab cd ef ef",               // 3-way count tie at 2
      "ababab bababa abab",              // alternating overlap
      "xyxyx yxy xxyy zz zz zz",         // mixed runs + tie vs (z,z)
      "ab")                              // exhausts after one merge
    corpora.foreach { text =>
      val docs = Seq((1L, text)).toDF("doc_id", "text")
      def rules(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq.sortBy(_._1)
      val local = rules(Subword.trainBpeMerges(docs, "text", 8))
      val dist = rules(Subword.trainBpeMergesDistributed(
        Subword.corpusWords(docs, "text"), 8))
      assert(local == dist, s"'$text':\nlocal $local\ndist  $dist")
    }
  }

  test("trainBpeMerges: randomized local == distributed cross-check " +
      "over a tiny alphabet (collision-dense corpora)") {
    val s = spark
    import s.implicits._
    // a 3-letter alphabet maximizes the corner density: same-char runs,
    // lrl/lrlr patterns, merged-string collisions ("ab" merged while a
    // word contains literal adjacent a,b elsewhere), count ties, and
    // shared-symbol candidate chains. Seeded, so failures replay.
    val rnd = new scala.util.Random(0xb9e5L)
    (1 to 10).foreach { trial =>
      val words = (1 to (3 + rnd.nextInt(10))).map { _ =>
        (1 to (1 + rnd.nextInt(6)))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      }
      val text = words.mkString(" ")
      val docs = Seq((1L, text)).toDF("doc_id", "text")
      def rules(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq.sortBy(_._1)
      val local = rules(Subword.trainBpeMerges(docs, "text", 10))
      val dist = rules(Subword.trainBpeMergesDistributed(
        Subword.corpusWords(docs, "text"), 10))
      assert(local == dist,
        s"trial $trial '$text':\nlocal $local\ndist  $dist")
    }
  }

  test("trainBpeMerges: VOCAB-SCALE distributed training (4096 merges " +
      "in batched rounds) equals the driver-local path") {
    val s = spark
    import s.implicits._
    // 4096 learnable pairs over 8192 distinct BMP letters: every
    // candidate is symbol-disjoint with strictly distinct counts, so
    // the exact batched rounds can prove large batches safe — the
    // uncapped path the r14 verdict asked for (old fallback refused
    // numMerges > 1024 outright)
    val words = (0 until 4096).map { i =>
      val w = "" + (0x4E00 + 2 * i).toChar + (0x4E00 + 2 * i + 1).toChar
      Seq.fill(4097 - i)(w).mkString(" ")
    }
    val docs = words.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def rules(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq.sortBy(_._1)
    val dist = rules(Subword.trainBpeMergesDistributed(
      Subword.corpusWords(docs, "text"), 4096))
    assert(dist.size == 4096, s"got ${dist.size} merges")
    val local = rules(Subword.trainBpeMerges(docs, "text", 4096))
    assert(local == dist)
    // count-ranked: rule k merged the pair with count 4097-k
    assert(dist.head._5 == 4097L && dist.last._5 == 2L)
  }

  test("bpeEncode and bpePieceFrequencies equal the sequential " +
      "rank-order fold for any rule list") {
    val s = spark
    import s.implicits._
    // the reference: every rule applied once, in list order
    def fold(w: String, merges: Seq[(String, String)]): Array[String] =
      merges.foldLeft(Subword.charSeg(w)) { case (syms, (l, r)) =>
        Subword.mergeWord(syms, l, r, l + r)
      }
    val rnd = new scala.util.Random(0xb9e0L)
    def word() = (1 to (1 + rnd.nextInt(12)))
      .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    (1 to 4).foreach { trial =>
      val texts = Seq.fill(3)(Seq.fill(12)(word()).mkString(" "))
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val wc = texts.flatMap(_.split(" ")).groupBy(identity)
        .map { case (w, xs) => (w, xs.length.toLong) }.toArray
      val trained = Subword.trainBpeMergesLocal(wc, 120).map(m => (m._2, m._3))
      assert(trained.size > 64, s"trial $trial: ${trained.size} rules")
      // a rule moved in front of the rule that creates one of its sides
      val k = trained.indexWhere { case (l, r) => l.length > 1 || r.length > 1 }
      val side = if (trained(k)._1.length > 1) trained(k)._1 else trained(k)._2
      val j = trained.indexWhere { case (l, r) => l + r == side }
      val early = trained.take(j) ++ Seq(trained(k)) ++
        trained.slice(j, k) ++ trained.drop(k + 1)
      // every rule kept, a third of them listed again further down
      val repeated = trained.zipWithIndex.flatMap { case (m, i) =>
        if (rnd.nextInt(3) == 0) Seq(m, trained(rnd.nextInt(i + 1))) else Seq(m)
      }
      // rules drawn at random from the trained ones and every char pair
      val chars = Seq("a", "b", "c", "d")
      val pool = trained ++ (for (l <- chars; r <- chars) yield (l, r))
      val shuffled = Seq.fill(65 + rnd.nextInt(40))(pool(rnd.nextInt(pool.size)))
      Seq("training-consistent" -> trained.take(20),
        "more than 64 trained" -> trained, "side before its creator" -> early,
        "repeated" -> repeated, "random" -> shuffled).foreach {
        case (kind, merges) =>
          val counts = Subword.bpeEncode(docs, "doc_id", "text", merges)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val wantCounts = texts.zipWithIndex.map { case (t, i) =>
            i.toLong -> t.split(" ").map(w => fold(w, merges).length.toLong).sum
          }.toMap
          assert(counts == wantCounts, s"trial $trial, $kind: $merges")
          val freqs = Subword.bpePieceFrequencies(docs, "text", merges)
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val wantFreqs = texts.flatMap(_.split(" ")).flatMap(fold(_, merges))
            .groupBy(identity).map { case (p, ps) => p -> ps.length.toLong }
          assert(freqs == wantFreqs, s"trial $trial, $kind: $merges")
      }
    }
  }

  test("bpeEncode past 64 rules: a 300-merge training run compresses " +
      "at least as well as its 48-rule prefix") {
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text")
    def counts(merges: Seq[(String, String)]) =
      Subword.bpeEncode(docs, "doc_id", "text", merges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def train(n: Int) = Subword.trainBpeMerges(docs, "text", n).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val merges48 = train(48)
    val merges300 = train(300)
    assert(merges48.size == 48)
    assert(merges300.size > 64, s"corpus exhausted at ${merges300.size}")
    val c48 = counts(merges48)
    val c300 = counts(merges300)
    assert(c300.keySet == c48.keySet)
    assert(c300.forall { case (d, n) => n <= c48(d) },
      "300 trained merges must compress at least as well as their" +
        " 48-rule prefix")
    assert(c300.values.sum < c48.values.sum)
  }

  test("encodeToIds: ids decode back to the exact token stream, " +
      "counts match bpeEncode") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the mother there and other words here"),
      (2L, "another other the then"),
      (3L, "weather rather")).toDF("doc_id", "text")
    val merges = Seq(("t", "h"), ("th", "e"), ("e", "r"),
      ("o", "the"), ("a", "n"))
    val vocab = Subword.vocabTable(docs, "text", merges)
    val ids = Subword.encodeToIds(docs, "doc_id", "text", merges, vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // piece-count consistency with the verified encode path
    val counts = Subword.bpeEncode(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids.view.mapValues(_.size.toLong).toMap == counts)
    // full round-trip: ids -> pieces concatenated == the token stream
    val idToPiece = vocab.collect()
      .map(r => r.getLong(1) -> r.getString(0)).toMap
    docs.collect().foreach { r =>
      val doc = r.getLong(0)
      val toks = r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
      val decoded = ids(doc).map(idToPiece).mkString
      assert(decoded == toks.mkString,
        s"doc $doc: '$decoded' != '${toks.mkString}'")
    }
    // id assignment: rank 0 is the most frequent piece
    val freqTop = Subword.bpePieceFrequencies(docs, "text", merges)
      .orderBy($"n".desc, $"piece".asc)
      .collect().head.getString(0)
    assert(idToPiece(0L) == freqTop)
  }

  test("decodeIds inverts encodeToIds distributed (and flags a wrong vocab)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the mother there and other words here"),
      (2L, "another other the then"),
      (3L, "weather rather"),
      (4L, "   "),           // no tokens -> absent from the encoding
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val merges = Seq(("t", "h"), ("th", "e"), ("e", "r"),
      ("o", "the"), ("a", "n"))
    val vocab = Subword.vocabTable(docs, "text", merges)
    val enc = Subword.encodeToIds(docs, "doc_id", "text", merges, vocab)
    val dec = Subword.decodeIds(enc, "doc", "ids", vocab)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.where($"text".isNotNull).collect().foreach { r =>
      val toks = r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (toks.nonEmpty)
        assert(dec(r.getLong(0)) == toks.mkString)
      else assert(!dec.contains(r.getLong(0)))
    }
    assert(!dec.contains(5L))
    // decoding with a TRUNCATED vocab drops ids instead of crashing —
    // the round trip fails loudly at the certificate, not the operator
    val truncated = vocab.where($"id" < 2)
    val partial = Subword.decodeIds(enc, "doc", "ids", truncated)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(partial != dec, "truncated vocab must change the decoding")
  }

  test("trainBpeMergesLocal equals a from-scratch recount trainer on " +
      "random corpora (exercises the heap-drain rebuild)") {
    // reference implementation: recount EVERY pair from scratch each
    // round — no incremental counts, no index, no heap — argmax by
    // (count desc, lhs, rhs) with left-to-right non-overlapping merge.
    // ASCII-only corpora, so plain string order == UTF-8 byte order.
    def naive(wc: Array[(String, Long)], numMerges: Int)
        : Seq[(Int, String, String, String, Long)] = {
      var syms = wc.map(_._1.split("").filter(_.nonEmpty))
      val cnt = wc.map(_._2)
      val out = Seq.newBuilder[(Int, String, String, String, Long)]
      var rank = 1
      var done = false
      while (rank <= numMerges && !done) {
        val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
        syms.zipWithIndex.foreach { case (s, wi) =>
          (0 until s.length - 1).foreach { j =>
            pairs((s(j), s(j + 1))) =
              pairs.getOrElse((s(j), s(j + 1)), 0L) + cnt(wi)
          }
        }
        if (pairs.isEmpty) done = true
        else {
          val ((l, r), n) = pairs.toSeq.minBy { case ((pl, pr), pn) =>
            (-pn, pl, pr)
          }
          out += ((rank, l, r, l + r, n))
          syms = syms.map { s =>
            val b = Array.newBuilder[String]
            var i = 0
            while (i < s.length) {
              if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
                b += (l + r); i += 2
              } else { b += s(i); i += 1 }
            }
            b.result()
          }
          rank += 1
        }
      }
      out.result()
    }
    val rnd = new scala.util.Random(20260814L)
    def corpus(nWords: Int, alpha: String, maxLen: Int)
        : Array[(String, Long)] =
      (1 to nWords).map { _ =>
        val len = 1 + rnd.nextInt(maxLen)
        val w = (1 to len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
        (w, (1 + rnd.nextInt(9)).toLong)
      }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toArray
    (1 to 60).foreach { i =>
      val wc = corpus(5 + rnd.nextInt(35), "abcd", 8)
      val got = Subword.trainBpeMergesLocal(wc, 30)
      val want = naive(wc, 30)
      assert(got == want, s"case #$i on ${wc.toSeq}:\ngot  $got\nwant $want")
    }
    // one long run: 400 merges over a larger alphabet forces the
    // lazy-deletion heap past the 4:1 stale ratio so the rebuild path
    // actually executes (and must not change results)
    val big = corpus(300, "abcdef", 12)
    assert(Subword.trainBpeMergesLocal(big, 400) == naive(big, 400))
  }

  test("trainBpeMerges stops early when no pairs remain") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    // single-char words only — zero pairs, zero merges
    assert(Subword.trainBpeMerges(docs, "text", 5).count() == 0L)
    // "ab" exhausts after one merge
    val one = Subword.trainBpeMerges(
      Seq((1L, "ab ab")).toDF("doc_id", "text"), "text", 5).collect()
    assert(one.length == 1 && one.head.getString(3) == "ab")
  }

  // ----- unigram-LM Viterbi segmentation -----

  // -ln(prime) scores: path sums unique per piece multiset (unique
  // factorization), so every argmax below is tie-free by construction
  private def lp(prime: Int): Double = -math.log(prime.toDouble)
  private val uniVocab: Map[String, Double] = Map(
    "val" -> lp(2), "ue" -> lp(3), "va" -> lp(5), "lu" -> lp(7),
    "e" -> lp(11), "a" -> lp(13), "l" -> lp(17), "u" -> lp(19),
    "v" -> lp(23), "ab" -> lp(29), "b" -> lp(31), "able" -> lp(37),
    "ta" -> lp(41), "ble" -> lp(43), "t" -> lp(47))
  private def vit(w: String) =
    Subword.viterbiWord(w, uniVocab, 4, -10.0)

  test("viterbiWord maximizes summed score, not greedy longest-match") {
    // greedy longest-match from the left would take "va" at pos 0 of
    // "value" only after failing "valu"/"val"... greedy takes "val"
    // then "ue": here they agree; force divergence on "able":
    // greedy(maxLen=4) takes "able" (one piece, -ln 37); Viterbi
    // prefers ab+le? "le" not in vocab -> a+ble (-ln 13 - ln 43 =
    // -ln 559) vs able (-ln 37): able wins. ab+l+e = -ln(29*17*11) =
    // -ln 5423 loses. So able it is — pinned against the hand argmax
    assert(vit("able") == (List("able"), lp(37), 0L))
    // "value": val+ue = -ln(2*3) = -ln 6 beats va+lu+e = -ln(5*7*11)
    assert(vit("value") == (List("val", "ue"), lp(2) + lp(3), 0L))
    // "tab": ta+b = -ln(41*31) vs t+ab = -ln(47*29) = -ln 1363 —
    // ta+b = -ln 1271 wins (larger = less negative)
    assert(vit("tab") == (List("ta", "b"), lp(41) + lp(31), 0L))
    // empty word: empty path, score 0
    assert(vit("") == (Nil, 0.0, 0L))
  }

  test("viterbiWord unk fallback is per-code-point and only when OOV") {
    // 'z' uncovered: single-char unk advance at -10
    val (ps, sc, nu) = vit("zvalz")
    assert(ps == List(Subword.Unk, "val", Subword.Unk))
    assert(sc == -10.0 + lp(2) + -10.0 && nu == 2L)
    // an astral char is ONE unk, not two lone-surrogate unks
    val rocket = new String(Character.toChars(0x1F680))
    assert(vit(s"a${rocket}b") ==
      (List("a", Subword.Unk, "b"), lp(13) - 10.0 + lp(31), 1L))
    // a known char NEVER degrades to unk even when unk would score
    // higher (it can't here: vocab scores beat -10), and a word of
    // only unks still segments totally
    assert(vit("zz") == (List(Subword.Unk, Subword.Unk), -20.0, 2L))
  }

  test("unigramCounts weights per-word Viterbi results by occurrence") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "value value able"), (2L, "zz"), (3L, ""))
      .toDF("doc_id", "text")
    val got = Subword.unigramCounts(docs, "doc_id", "text", uniVocab, -10.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val d1 = BigDecimal(2 * (lp(2) + lp(3)) + lp(37))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Set((1L, 5L, 0L, d1), (2L, 2L, 2L, -20.0)))
  }

  test("unigramPieceFrequencies pins the Viterbi path distribution") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "value able zz value")).toDF("doc_id", "text")
    val got = Subword
      .unigramPieceFrequencies(docs, "text", uniVocab, -10.0)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("val" -> 2L, "ue" -> 2L, "able" -> 1L,
      Subword.Unk -> 2L))
  }

  test("trainUnigram: local == distributed on an adversarial corpus " +
      "(repeats, unicode, near-tie seeds)") {
    val s = spark
    import s.implicits._
    // repeats drive Zipf weighting; the rocket exercises code-point
    // seg; 'abab'/'baba' create overlapping near-tie candidates whose
    // loss rank must cut identically on both paths
    val rocket = new String(Character.toChars(0x1F680))
    val texts = Seq(
      "the window stream value value", "the the window able",
      s"abab baba abab ${rocket}ab", "stream window the able value",
      "baba abab the the the")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val dist = Subword.trainUnigram(docs, "text", seedSize = 20,
      targetMulti = 8, minN = 2, maxN = 4, emRounds = 2, unkScore = -10.0)
    val wcLocal = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
    val local = SubwordReference.trainUnigramLocal(wcLocal, 20, 8, 2, 4, 2, -10.0)
    assert(dist == local)
    // contract shape: 8 multi-char pieces + every corpus code point
    val (multi, single) = dist.partition { case (p, _) =>
      p.codePointCount(0, p.length) > 1 }
    assert(multi.length == 8)
    val corpusChars = texts.flatMap(_.split(" ")).flatMap { w =>
      var off = 0
      val b = Seq.newBuilder[String]
      while (off < w.length) {
        val cp = w.codePointAt(off)
        b += new String(Character.toChars(cp)); off += Character.charCount(cp)
      }
      b.result()
    }.toSet
    assert(single.map(_._1).toSet == corpusChars)
    // scores are finite negative log-probs, quantized to 6 decimals
    assert(dist.forall { case (_, sc) =>
      sc < 0 && sc == BigDecimal(sc).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble })
  }

  test("trainUnigram: learned pieces beat greedy char splits on the " +
      "corpus they trained on, and emRounds=1 skips the prune") {
    val s = spark
    import s.implicits._
    val docs = Seq.tabulate(6)(i => (i.toLong, "window window stream"))
      .toDF("doc_id", "text")
    val vocab = Subword.trainUnigram(docs, "text", 10, 3, 2, 4, 2, -10.0)
    val m = vocab.toMap
    // the top repeated substrings must survive as multi-char pieces
    assert(m.keys.exists(_.length >= 2))
    // applying the trained vocab segments with fewer pieces than chars
    val counts = Subword.unigramCounts(docs, "doc_id", "text", m, -10.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts(0L) < "windowwindowstream".length)
    // no prune pass when emRounds=1: all seeds survive to the output
    val noPrune = Subword.trainUnigram(docs, "text", 10, 3, 2, 4, 1, -10.0)
    assert(noPrune.count(_._1.length >= 2) > 3)
  }

  test("soft EM == hard EM where they provably agree (single-path " +
      "corpus), local == distributed on the soft path") {
    val s = spark
    import s.implicits._
    // every word is ONE code point -> exactly one segmentation path
    // per word, so the posterior puts all mass on the Viterbi path and
    // expected counts are EXACTLY 1e6 x the hard counts; the M-steps
    // then produce the same doubles ((c*u + u)/(T*u) and (c+1)/T are
    // the same real number, both from exact operands), so the learned
    // vocabularies must be IDENTICAL, scores included
    val texts = Seq("a b a c", "b b a", "c a a")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val hard = Subword.trainUnigram(docs, "text", 3, 1, 2, 4, 2, -10.0)
    val soft = Subword.trainUnigram(docs, "text", 3, 1, 2, 4, 2, -10.0,
      soft = true)
    assert(soft == hard, s"single-path corpus must agree: $soft vs $hard")
    // and the soft path keeps the local == distributed discipline on
    // an AMBIGUOUS corpus
    val texts2 = Seq("abab baba abab", "baba abab ab", "ab ab abab")
    val docs2 = texts2.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val dist = Subword.trainUnigram(docs2, "text", 10, 3, 2, 4, 2,
      -10.0, soft = true)
    val wcLocal = texts2.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
    val local = SubwordReference.trainUnigramLocal(wcLocal, 10, 3, 2, 4, 2,
      -10.0, soft = true)
    assert(dist == local)
  }

  test("softWordCounts: posteriors spread over ALL paths and " +
      "normalize per position") {
    // vocab where "ab" competes with a+b: hard EM counts only the
    // argmax path; soft must give BOTH segmentations positive mass
    val vocab = Map("a" -> -1.0, "b" -> -1.2, "ab" -> -1.5)
    val soft = Subword.softWordCounts("ab", vocab, 2, -10.0).toMap
    assert(soft.keySet == Set("a", "b", "ab"),
      s"soft counts must cover every path: $soft")
    assert(soft.values.forall(m => m > 0L && m < 1000000L),
      s"competing paths must split the mass strictly: $soft")
    // a and b ride the same path: identical posterior mass
    assert(soft("a") == soft("b"))
    // the two segmentations tile the word: their masses sum to ~1
    // occurrence (1e6 micro, +-1 of rounding dust)
    assert(math.abs(soft("ab") + soft("a") - 1000000L) <= 1L)
    // the argmax path (a+b: -2.2 vs ab: -1.5 — ab wins) carries the
    // larger share, matching what hard EM would have picked
    assert(soft("ab") > soft("a"))
    // unambiguous word: all mass on the single path, exactly 1e6 each
    val single = Subword.softWordCounts("ba", vocab, 2, -10.0).toMap
    assert(single == Map("b" -> 1000000L, "a" -> 1000000L))
  }
}
