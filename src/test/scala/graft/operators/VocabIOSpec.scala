package graft.operators

import graft.SparkSpec

/** Interchange contract of [[VocabIO]]: TRAINED vocabularies round-trip
  * through the public formats byte-stably, and imported artifacts drive
  * the apply paths identically to the originals — the "bring your
  * existing tokenizer" story, pinned. */
class VocabIOSpec extends SparkSpec {

  test("trained BPE vocab round-trips through HF tokenizer.json " +
      "byte-stably and re-encodes identically") {
    val s = spark
    import s.implicits._
    val docs = Seq.tabulate(8)(i =>
      (i.toLong, "the window stream merges the window data"))
      .toDF("doc_id", "text")
    val merges = Subword.trainBpeMerges(docs, "text", 6)
      .orderBy("rk").collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
    val vocab = Subword.vocabTable(docs, "text", merges)
    val pieces = vocab.orderBy("id").collect()
      .map(_.getString(0)).toSeq
    val json = VocabIO.toHfBpeJson(pieces, merges)
    val (pieces2, merges2) = VocabIO.fromHfBpeJson(json)
    assert(pieces2 == pieces && merges2 == merges)
    // export-import-export: byte-equal
    assert(VocabIO.toHfBpeJson(pieces2, merges2) == json)
    // the imported artifacts drive encodeToIds to the same id streams
    val vocab2 = pieces2.zipWithIndex
      .map { case (p, i) => (p, i.toLong) }.toDF("piece", "id")
    def ids(v: org.apache.spark.sql.DataFrame,
            m: Seq[(String, String)]): Map[Long, Seq[Long]] =
      Subword.encodeToIds(docs, "doc_id", "text", m, v)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(ids(vocab2, merges2) == ids(vocab, merges))
  }

  test("newer HF pair-form merges parse; malformed inputs fail loudly") {
    val json = """{"model":{"type":"BPE",
      |"vocab":{"a":0,"b":1,"ab":2},
      |"merges":[["a","b"]]}}""".stripMargin
    val (pieces, merges) = VocabIO.fromHfBpeJson(json)
    assert(pieces == Seq("a", "b", "ab") && merges == Seq(("a", "b")))
    intercept[IllegalArgumentException](VocabIO.fromHfBpeJson(
      """{"model":{"type":"Unigram","vocab":{},"merges":[]}}"""))
    // non-dense ids refused
    intercept[IllegalArgumentException](VocabIO.fromHfBpeJson(
      """{"model":{"type":"BPE","vocab":{"a":0,"b":2},"merges":[]}}"""))
    // duplicate vocab keys refused at the boundary (json4s keeps
    // repeated JSON object fields)
    intercept[IllegalArgumentException](VocabIO.fromHfBpeJson(
      """{"model":{"type":"BPE","vocab":{"a":0,"a":1},"merges":[]}}"""))
    // a space inside a merge symbol cannot round-trip the string form
    intercept[IllegalArgumentException](
      VocabIO.toHfBpeJson(Seq("a b"), Seq(("a b", "c"))))
    // a string merge with MORE than one space is ambiguous — refused
    // loudly instead of silently parsing ("a", "b c") (r16 ADVICE)
    intercept[IllegalArgumentException](VocabIO.fromHfBpeJson(
      """{"model":{"type":"BPE","vocab":{"a":0},"merges":["a b c"]}}"""))
  }

  test("trained unigram vocab round-trips through the SentencePiece " +
      ".vocab text byte-stably and re-segments identically") {
    val s = spark
    import s.implicits._
    val docs = Seq.tabulate(6)(i =>
      (i.toLong, "value window value stream able window"))
      .toDF("doc_id", "text")
    val vocab = Subword.trainUnigram(docs, "text", 20, 8, 2, 4, 2, -10.0)
    val txt = VocabIO.toSentencePieceVocab(vocab)
    val vocab2 = VocabIO.fromSentencePieceVocab(txt)
    assert(vocab2 == vocab) // exact doubles: shortest-repr round-trip
    assert(VocabIO.toSentencePieceVocab(vocab2) == txt)
    def seg(v: Map[String, Double]): Map[Long, (Long, Long)] =
      Subword.unigramCounts(docs, "doc_id", "text", v, -10.0)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    assert(seg(vocab2.toMap) == seg(vocab.toMap))
    // pieces with tabs/newlines are refused, blank lines ignored
    intercept[IllegalArgumentException](
      VocabIO.toSentencePieceVocab(Seq(("a\tb", -1.0))))
    assert(VocabIO.fromSentencePieceVocab("a\t-1.5\n\nb\t-2.5\n") ==
      Seq(("a", -1.5), ("b", -2.5)))
    // CRLF files parse to the same structures (r16 ADVICE: the '\r'
    // used to reach Double.parseDouble as part of the score)
    assert(VocabIO.fromSentencePieceVocab("a\t-1.5\r\nb\t-2.5\r\n") ==
      Seq(("a", -1.5), ("b", -2.5)))
  }

  test("trained unigram vocab round-trips through the HF Unigram " +
      "tokenizer.json byte-stably and re-segments identically") {
    val s = spark
    import s.implicits._
    val docs = Seq.tabulate(6)(i =>
      (i.toLong, "value window value stream able window"))
      .toDF("doc_id", "text")
    val vocab = Subword.trainUnigram(docs, "text", 20, 8, 2, 4, 2, -10.0)
    val json = VocabIO.toHfUnigramJson(vocab, unkId = Some(0))
    val (vocab2, unk) = VocabIO.fromHfUnigramJson(json)
    assert(vocab2 == vocab && unk.contains(0))
    assert(VocabIO.toHfUnigramJson(vocab2, unk) == json) // byte-stable
    def seg(v: Map[String, Double]): Map[Long, (Long, Long)] =
      Subword.unigramCounts(docs, "doc_id", "text", v, -10.0)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    assert(seg(vocab2.toMap) == seg(vocab.toMap))
    // unk_id omitted -> absent from the JSON and from the parse
    val noUnk = VocabIO.toHfUnigramJson(Seq(("a", -1.5)))
    assert(!noUnk.contains("unk_id") &&
      VocabIO.fromHfUnigramJson(noUnk) == ((Seq(("a", -1.5)), None)))
    // a foreign writer's integer-rendered score parses as its double
    val (v3, _) = VocabIO.fromHfUnigramJson(
      """{"model":{"type":"Unigram","vocab":[["a",-10]]}}""")
    assert(v3 == Seq(("a", -10.0)))
    // wrong model type, duplicate pieces, malformed entries and an
    // out-of-range unk_id are refused loudly
    intercept[IllegalArgumentException](VocabIO.fromHfUnigramJson(
      """{"model":{"type":"BPE","vocab":[["a",-1.0]]}}"""))
    intercept[IllegalArgumentException](VocabIO.fromHfUnigramJson(
      """{"model":{"type":"Unigram","vocab":[["a",-1.0],["a",-2.0]]}}"""))
    intercept[IllegalArgumentException](VocabIO.fromHfUnigramJson(
      """{"model":{"type":"Unigram","vocab":[["a"]]}}"""))
    intercept[IllegalArgumentException](VocabIO.fromHfUnigramJson(
      """{"model":{"type":"Unigram","unk_id":5,"vocab":[["a",-1.0]]}}"""))
    intercept[IllegalArgumentException](
      VocabIO.toHfUnigramJson(Seq(("a", -1.0)), unkId = Some(3)))
    // an unk_id beyond Int range must be refused, not wrapped: 2^32
    // .toInt is 0, which would slip past a post-truncation range check
    intercept[IllegalArgumentException](VocabIO.fromHfUnigramJson(
      """{"model":{"type":"Unigram","unk_id":4294967296,
        |"vocab":[["a",-1.0]]}}""".stripMargin))
    // non-finite scores have no JSON representation — refused at the
    // export boundary instead of surfacing as a foreign parse error
    intercept[IllegalArgumentException](
      VocabIO.toHfUnigramJson(Seq(("a", Double.NaN))))
    intercept[IllegalArgumentException](
      VocabIO.toHfUnigramJson(Seq(("a", Double.PositiveInfinity))))
  }
}
