package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ChunkingSpec extends SparkSpec {

  import spark.implicits._

  /** Local replay of the gear polynomial — an independent walk the
    * operator's Catalyst expression must agree with. */
  private def localChunks(text: String, w: Int = 16, p: Int = 31,
                          m: Long = 1L << 20, d: Int = 64, r: Int = 13)
      : Seq[(Int, Int)] = { // (start 1-based, len)
    val codes = text.codePoints().toArray
    val n = codes.length
    val pows = Iterator.iterate(1L)(_ * p % m).take(w).toArray
    val bnd = (w until n).filter { i => // i = 1-based boundary position
      val h = (0 until w).map(j => codes(i - 1 - j) * pows(j)).sum % m
      h % d == r
    }.map(_.toInt)
    val starts = 1 +: bnd.map(_ + 1)
    val ends = bnd :+ n
    starts.zip(ends).map { case (s, e) => (s, e - s + 1) }
  }

  test("boundaries agree with an independent local replay") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text").limit(50)
    val got = Chunking.cdcChunks(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = texts.toSeq.flatMap { case (id, t) =>
      localChunks(t).zipWithIndex.map { case ((s, l), k) =>
        (id, k.toLong, s.toLong, l.toLong) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want)
  }

  test("chunks tile the document exactly and hashes match content") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog " * 20))
      .toDF("doc_id", "text")
    val chunks = Chunking.cdcChunks(df).collect().sortBy(_.getLong(1))
    val text = df.head().getString(1)
    // tiling: starts/lens cover [1, n] with no gaps or overlaps
    assert(chunks.head.getLong(2) == 1L)
    chunks.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(2) + a.getLong(3) == b.getLong(2), "gap/overlap")
    case _ => }
    assert(chunks.last.getLong(2) + chunks.last.getLong(3) - 1 == text.length)
    // hash identity: md5 of the exact substring
    chunks.foreach { c =>
      val sub = text.substring(c.getLong(2).toInt - 1,
        (c.getLong(2) + c.getLong(3)).toInt - 1)
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(sub.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(c.getString(4) == md5hex)
    }
  }

  test("content-defined means an edit only moves nearby boundaries") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " * 30
    val edited = base.substring(0, 700) + "INSERTED NEW PARAGRAPH " +
      base.substring(700)
    val df = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val byDoc = Chunking.cdcChunks(df).collect().groupBy(_.getLong(0))
    val h1 = byDoc(1L).map(_.getString(4)).toSeq
    val h2 = byDoc(2L).map(_.getString(4)).toSeq
    // most chunk identities survive the edit (the CDC property); a
    // fixed-offset slicer would lose every chunk after position 700
    val shared = h1.toSet.intersect(h2.toSet).size
    assert(shared >= h1.size / 2, s"only $shared of ${h1.size} survive")
    assert(h1 != h2) // but the edit is visible
  }

  test("short and boundary-free documents are one whole-doc chunk") {
    val df = Seq((1L, "tiny"), (2L, "x" * 200)).toDF("doc_id", "text")
    val chunks = Chunking.cdcChunks(df).collect()
    // "tiny" is under the window; 200×'x' hits residue 13 never or
    // everywhere — either way determinism holds; just assert tiling
    val byDoc = chunks.groupBy(_.getLong(0))
    assert(byDoc(1L).length == 1 && byDoc(1L).head.getLong(3) == 4L)
    assert(byDoc(2L).map(_.getLong(3)).sum == 200L)
  }

  test("duplicate chunks surface across documents") {
    val shared = "this licence block repeats verbatim in every file " * 4
    val df = Seq(
      (1L, "unique preamble one " * 10 + shared),
      (2L, "another distinct head " * 10 + shared),
      (3L, "totally unrelated text without the block " * 8))
      .toDF("doc_id", "text")
    val dups = Chunking.chunkDuplicates(df).collect()
    assert(dups.nonEmpty, "shared block produced no duplicate chunks")
    assert(dups.forall(_.getLong(1) >= 2))
    // and the duplicate hashes really come from the shared tail
    val c1 = Chunking.cdcChunks(df.filter($"doc_id" === 1)).collect()
      .map(_.getString(4)).toSet
    val c3 = Chunking.cdcChunks(df.filter($"doc_id" === 3)).collect()
      .map(_.getString(4)).toSet
    dups.foreach(d => assert(c1.contains(d.getString(0)) ||
      !c3.contains(d.getString(0))))
  }

  test("chunk index lifecycle: build, score, extend, compact, drop") {
    implicit val s = spark
    val tmp = s"/tmp/graft-chunkidx-spec-${java.util.UUID.randomUUID()}"
    val corpus = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text").filter($"doc_id" % 2 === 0)
    val idx = Chunking.buildChunkIndex(corpus, "doc_id", "text",
      "chunkidx_spec", s"$tmp/blue")
    try {
      // novelty: verbatim re-keys of indexed docs score 0; fresh docs
      // score the independently-computed unseen-chunk ratio
      val rekeys = corpus.limit(20)
        .select(($"doc_id" + 900000).as("doc_id"), $"text")
      val fresh = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
        .select($"doc_id", $"text").filter($"doc_id" % 2 === 1).limit(20)
      val nov = Chunking.deltaNovelty(rekeys.unionAll(fresh),
        "doc_id", "text", idx).collect()
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(nov.filter(_._1 >= 900000).values.forall(_ == 0.0),
        "re-keyed copies must score zero novelty")
      assert(nov.filter(_._1 < 900000).values.exists(_ > 0.0),
        "fresh docs must contribute novel chunks")

      // a partial edit of an indexed doc keeps most chunks seen: CDC
      // novelty is strictly below 1 even though the doc hash changed
      val editedText = corpus.orderBy($"doc_id").limit(1).collect()
        .head.getString(1) + " APPENDED TAIL CONTENT"
      val edited = spark.createDataFrame(Seq((910000L, editedText)))
        .toDF("doc_id", "text")
      val en = Chunking.deltaNovelty(edited, "doc_id", "text", idx)
        .collect().head
      assert(en.getDouble(3) < 1.0 && en.getLong(1) >= 1)

      // extend folds the delta in; the same content re-keyed again now
      // scores 0 everywhere
      idx.extend(fresh, "doc_id", "text")
      val again = fresh
        .select(($"doc_id" + 950000).as("doc_id"), $"text")
      val nov2 = Chunking.deltaNovelty(again, "doc_id", "text", idx)
        .collect().map(_.getDouble(3))
      assert(nov2.forall(_ == 0.0), "extended chunks must be seen")

      // duplicate delta ids fail loudly (default-on guard)
      intercept[IllegalArgumentException] {
        idx.extend(fresh, "doc_id", "text")
      }

      // compact: blue/green to one file per bucket, probe-identical
      val compacted = idx.compact(spark, "chunkidx_spec_g", s"$tmp/green")
      try {
        val before = Chunking.deltaNovelty(rekeys.unionAll(fresh),
          "doc_id", "text", idx).collect().map(_.toSeq).toSet
        val after = Chunking.deltaNovelty(rekeys.unionAll(fresh),
          "doc_id", "text", compacted).collect().map(_.toSeq).toSet
        assert(before == after, "compaction changed probe results")
        val files = new java.io.File(s"$tmp/green/${compacted.chunksTable}")
          .listFiles().count(f => f.getName.startsWith("part-"))
        assert(files == idx.numBuckets,
          s"expected 1 file per bucket, got $files")
      } finally compacted.drop(spark)
      assert(!spark.catalog.tableExists(compacted.chunksTable))
      assert(!new java.io.File(s"$tmp/green").exists())
    } finally {
      idx.drop(spark)
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(tmp))
    }
    assert(!spark.catalog.tableExists(idx.chunksTable))
  }

  test("chunkDiff: retained/added/removed partition both snapshots") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text").limit(60)
    val newer = docs.where($"doc_id" % 7 =!= 2)
      .select($"doc_id",
        when($"doc_id" % 3 === 0, concat($"text", lit(" EDITED TAIL")))
          .otherwise($"text").as("text"))
      .unionAll(docs.limit(5)
        .select(($"doc_id" + 70000).as("doc_id"), $"text"))
    val diff = Chunking.chunkDiff(docs, newer, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val oldCounts = Chunking.cdcChunks(docs).groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val newCounts = Chunking.cdcChunks(newer).groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    diff.foreach { case (id, (ret, add, rem, change)) =>
      // multiset invariants against independently computed chunk counts
      assert(ret + rem == oldCounts.getOrElse(id, 0L), s"old side of $id")
      assert(ret + add == newCounts.getOrElse(id, 0L), s"new side of $id")
      if (!oldCounts.contains(id)) assert(ret == 0 && rem == 0 && change == 1.0)
      if (!newCounts.contains(id)) assert(ret == 0 && add == 0 && change == 1.0)
    }
    // untouched docs report zero change; edited docs strictly between
    val untouched = diff.filter { case (id, _) =>
      id % 3 != 0 && id % 7 != 2 && id < 70000 }
    assert(untouched.nonEmpty && untouched.values.forall(_._4 == 0.0))
    val edited = diff.filter { case (id, _) => id % 3 == 0 && id % 7 != 2 &&
      id < 70000 }
    assert(edited.nonEmpty && edited.values.forall(_._4 > 0.0),
      "every edited doc must register change")
    // CDC locality: at least some multi-chunk edited docs keep most
    // chunks (a single-chunk doc legitimately reports change = 1.0)
    assert(edited.values.exists(v => v._4 > 0.0 && v._4 < 0.5),
      "no edited doc kept the untouched chunks")
  }

  test("streaming verdicts equal the batch run (stateless replay)") {
    implicit val s = spark
    val tmp = s"/tmp/graft-chunkidx-stream-${java.util.UUID.randomUUID()}"
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text")
    val idx = Chunking.buildChunkIndex(docs.filter($"doc_id" % 2 === 0),
      "doc_id", "text", "chunkidx_stream_spec", s"$tmp/idx")
    try {
      val delta = docs.filter($"doc_id" % 2 === 1).limit(40)
        .unionAll(docs.filter($"doc_id" % 2 === 0).limit(10)
          .select(($"doc_id" + 800000).as("doc_id"), $"text"))
      val streamed = graft.streaming.StreamingNovelty.verdictReplay(
          delta, "doc_id", "text", idx, pmod($"doc_id", lit(3)), 3)
        .collect().map(_.toSeq).toSet
      val batch = Chunking.chunkVerdictStream(
          delta.select($"doc_id".as("id"), $"text"), "id", "text", idx)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch, "replay diverges from the batch verdicts")
      // re-keyed corpus docs are fully seen; fresh docs mostly not
      val seenById = streamed.groupBy(_.head.asInstanceOf[Long])
      assert(seenById.filter(_._1 >= 800000).values
        .forall(_.forall(_.last == true)))
      assert(seenById.filter(_._1 < 800000).values
        .exists(_.exists(_.last == false)))
    } finally {
      idx.drop(spark)
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(tmp))
    }
  }

  test("boilerplateRatio: shared spans score, unique docs score zero, " +
      "arithmetic closes") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    def blob(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar)
      .mkString(" ")
    // a shared 400-char "footer" carried by docs 1 and 2; doc 3 unique
    val footer = blob(200)
    val docs = Seq(
      (1L, blob(150) + " " + footer),
      (2L, blob(150) + " " + footer),
      (3L, blob(350))).toDF("doc_id", "text")
    val got = Chunking.boilerplateRatio(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // every doc reports; ratios close arithmetically
    assert(got.keySet == Set(1L, 2L, 3L))
    got.values.foreach { case (n, b, r) =>
      assert(b <= n && r == math.rint(b.toDouble / n * 1e6) / 1e6)
    }
    // the carriers of the shared footer score > 0; the unique doc 0
    assert(got(1L)._2 > 0 && got(2L)._2 > 0, got.toString)
    assert(got(3L)._2 == 0 && got(3L)._3 == 0.0, got.toString)
    // CDC locality: the shared chunks are the same count on both
    // carriers (boundaries derive from content, not position)
    assert(got(1L)._2 == got(2L)._2, got.toString)
  }

  test("tokenWindows: starts, clipping and coverage by hand vector") {
    // 10 tokens, size 4, stride 3 -> windows at 0, 3, 6 (full) and the
    // ceil((10-4)/3)=2 formula ends at k=2... start 6 covers 6..9, the
    // tail token 9 included; verify starts/lengths and the span hash
    val doc = (0 until 10).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "a b"), (3L, " "), (4L, "x y z w")).toDF("doc_id", "text")
    val out = Chunking.tokenWindows(df, size = 4, stride = 3)
      .orderBy("doc_id", "win")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(w => (w._2, w._3, w._4)).toSeq ==
      Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L)))
    // doc 2: shorter than size -> one whole-doc window, clipped length
    assert(out.filter(_._1 == 2L).map(w => (w._2, w._3, w._4)).toSeq ==
      Seq((0L, 0L, 2L)))
    // doc 3: zero tokens -> no rows
    assert(!out.exists(_._1 == 3L))
    // doc 4: n == size -> exactly one window
    assert(out.filter(_._1 == 4L).map(w => (w._2, w._3, w._4)).toSeq ==
      Seq((0L, 0L, 4L)))
    // span hash is md5 of the space-joined window tokens
    val exp = java.security.MessageDigest.getInstance("MD5")
      .digest("t3 t4 t5 t6".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(d1(1)._5 == exp)
  }

  test("tokenWindows: every token is covered and rows are zero-shuffle") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 100)
    val size = 12; val stride = 8
    val wins = Chunking.tokenWindows(docs, size = size, stride = stride)
    // coverage: per doc, max(start_tok + n_tok) == token count, and
    // consecutive windows overlap by size - stride (except the tail)
    val toks = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.size(
        graft.functions.TextFunctions.tokens(col("text"))).as("n"))
    val bad = wins.groupBy("doc_id")
      .agg(max(col("start_tok") + col("n_tok")).as("covered"))
      .join(toks, "doc_id")
      .where(col("covered") =!= col("n")).count()
    assert(bad == 0)
    val plan = wins.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("the plan is shuffle-free for chunking, one exchange for dedup") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val chunkPlan = Chunking.cdcChunks(docs).queryExecution
      .executedPlan.toString
    assert(!chunkPlan.contains("Exchange"), s"unexpected shuffle:\n$chunkPlan")
    val dedupPlan = Chunking.chunkDuplicates(docs).queryExecution
      .executedPlan.toString
    assert("Exchange".r.findAllIn(dedupPlan).size <= 2, // hash agg + AQE read
      s"too many shuffles:\n$dedupPlan")
  }
}
