package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import TextFunctions._

  private def one(text: String, c: org.apache.spark.sql.Column): Any = {
    val s = spark
    import s.implicits._
    Seq(text).toDF("text").select(c).collect()(0).get(0)
  }

  test("tokens lower-case, split and drop empties") {
    assert(one("  Hello   World ", tokens(col("text")))
      .asInstanceOf[scala.collection.Seq[String]].toSeq == Seq("hello", "world"))
    assert(one("", tokens(col("text")))
      .asInstanceOf[scala.collection.Seq[String]].isEmpty)
  }

  test("word shingles") {
    assert(one("a b c d", wordShingles(col("text"), 3))
      .asInstanceOf[scala.collection.Seq[String]].toSeq.sorted ==
      Seq("a b c", "b c d"))
    assert(one("a b", wordShingles(col("text"), 3))
      .asInstanceOf[scala.collection.Seq[String]].isEmpty)
  }

  test("bpe-ish token count: words, digits, punctuation") {
    assert(one("ab 12, c!", bpeishTokenCount(col("text"))) == 6)
  }

  test("language id heuristics") {
    assert(one("the cat is on the mat and it is happy",
      langId(col("text"))) == "en")
    assert(one("der hund ist nicht auf und mit das",
      langId(col("text"))) == "de")
    assert(one("xyzzy qwerty plugh", langId(col("text"))) == "und")
    assert(one("一二三", langId(col("text"))) == "zh")
  }

  test("quality score stays in [0,1]") {
    val s = spark
    val docs = graft.engine.Tables.documents(s, sf())
    val stats = docs.select(qualityScore(col("text")).as("q"))
      .agg(min("q"), max("q")).collect()(0)
    assert(stats.getDouble(0) >= 0.0 && stats.getDouble(1) <= 1.0)
  }

  test("langIdMargin: best-minus-second stopword score, 0 on ties") {
    // clear english: en stopwords only -> margin = en count
    assert(one("the cat and the dog of it", langIdMargin(col("text")))
      .asInstanceOf[Long] == 5L)
    // constructed tie: 'la' is a stopword of BOTH fr and es -> margin 0
    assert(one("la la la", langIdMargin(col("text")))
      .asInstanceOf[Long] == 0L)
    // mixed en/de: margin is the gap, not the max (en 3, de 2)
    assert(one("the cat und der hund of it", langIdMargin(col("text")))
      .asInstanceOf[Long] == 1L)
    // no stopwords at all: 0 - 0 = 0 (pairs with langId's 'und')
    assert(one("zzz qqq", langIdMargin(col("text")))
      .asInstanceOf[Long] == 0L)
  }

  test("gopher rules: each rule trips on its own adversarial document") {
    import org.apache.spark.sql.Row
    def flags(text: String): Row =
      one(text, gopherFlags(col("text"))).asInstanceOf[Row]
    // a clean passing document: 60 plain words incl. 2 stopwords
    val good = ("the quick brown fox jumps with vigor " +
      Seq.tabulate(53)(i => s"word$i").mkString(" "))
    val g = flags(good)
    assert(g.getAs[Boolean]("pass"), g.toString)
    assert(g.getAs[Long]("n_words") == 60)
    // too short: 10 words
    assert(!flags("the cat with a hat sat on a warm mat")
      .getAs[Boolean]("pass"))
    // symbol ratio: 60 words with 20 '#'
    val hashy = good + " " + Seq.fill(20)("#").mkString(" ")
    val h = flags(hashy)
    assert(h.getAs[Double]("symbol_ratio") > 0.1 && !h.getAs[Boolean]("pass"))
    // bullet lines: every line a bullet -> frac 1.0 > 0.9
    val bullets = Seq.tabulate(60)(i => s"- the with item$i word$i")
      .mkString("\n")
    val b = flags(bullets)
    assert(b.getAs[Double]("bullet_frac") == 1.0 && !b.getAs[Boolean]("pass"))
    // ellipsis line ends: every line trails off -> frac 1.0 > 0.3
    val ell = Seq.tabulate(30)(i => s"the with thing$i goes on...")
      .mkString("\n")
    val e = flags(ell)
    assert(e.getAs[Double]("ellipsis_frac") == 1.0 && !e.getAs[Boolean]("pass"))
    // alpha fraction: 60 words, 20 pure numbers -> 40/60 < 0.8
    val nums = ("the with " + Seq.tabulate(38)(i => s"w$i").mkString(" ") +
      " " + Seq.tabulate(20)(i => s"${i}00").mkString(" "))
    val nf = flags(nums)
    assert(nf.getAs[Double]("alpha_frac") < 0.8 && !nf.getAs[Boolean]("pass"))
    // stopword containment: 60 words, zero stopwords
    val nostop = Seq.tabulate(60)(i => s"zz$i").mkString(" ")
    val ns = flags(nostop)
    assert(ns.getAs[Long]("stop_hits") == 0 && !ns.getAs[Boolean]("pass"))
    // mean word length: 60 single chars -> mean 1 < 3
    val short = ("the of " + Seq.fill(58)("a").mkString(" "))
    assert(!flags(short).getAs[Boolean]("pass"))
    // blank lines are excluded from line fractions
    val blanky = good + "\n\n   \n"
    assert(flags(blanky).getAs[Double]("bullet_frac") == 0.0)
    // empty document: nothing passes, nothing divides by zero
    val z = flags("")
    assert(!z.getAs[Boolean]("pass") && z.getAs[Long]("n_words") == 0)
  }

  test("fingerprint is whitespace/case-insensitive") {
    val s = spark
    import s.implicits._
    val fps = Seq("Hello  World", "hello world ").toDF("text")
      .select(fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
    assert(fps(0).matches("[0-9a-f]{32}"))
  }

  test("text-stats kernel matches the composed builtin formulations") {
    val s = spark
    import s.implicits._
    // the pre-kernel formulas, spelled out with builtins — the kernel
    // must reproduce every count bit-for-bit (these are also what the
    // DuckDB oracle replicates)
    def toks(c: org.apache.spark.sql.Column) =
      filter(split(lower(trim(c)), "\\s+"), t => length(t) > 0)
    def composedNtok(c: org.apache.spark.sql.Column) = size(toks(c))
    def composedPunct(c: org.apache.spark.sql.Column) =
      regexp_count(c, lit("[!-/:-@\\[-`{-~]"))
    def composedCjk(c: org.apache.spark.sql.Column) =
      length(regexp_replace(c, "[^\\x{4e00}-\\x{9fff}]", ""))
    val sw = stopwords.values.flatten.toSeq.distinct
    def composedSw(c: org.apache.spark.sql.Column) =
      size(filter(toks(c), t => t.isInCollection(sw)))
    val edge = Seq("", " ", "The  quick\tBROWN fox!?", "der die und 42",
      "日本語のテキスト 漢字", "\t\n le la ", "a.b,c;d", "ÜBER grüßen",
      "punct!!! ... ???").toDF("text")
    val docs = graft.engine.Tables.documents(s, sf()).select("text")
    for (df <- Seq(edge, docs)) {
      val st = textStats(col("text"))
      val bad = df.select(
          st.getField("ntok").as("k_ntok"), composedNtok(col("text")).as("c_ntok"),
          st.getField("npunct").as("k_p"), composedPunct(col("text")).as("c_p"),
          st.getField("cjk").as("k_c"), composedCjk(col("text")).as("c_c"),
          st.getField("nswall").as("k_s"), composedSw(col("text")).as("c_s"),
          st.getField("nchar").as("k_n"), length(col("text")).as("c_n"))
        .where(col("k_ntok") =!= col("c_ntok") || col("k_p") =!= col("c_p") ||
          col("k_c") =!= col("c_c") || col("k_s") =!= col("c_s") ||
          col("k_n") =!= col("c_n"))
      assert(bad.count() == 0, s"kernel/builtin mismatch:\n" +
        bad.collect().take(3).mkString("\n"))
    }
  }

  test("char shingles over normalized text") {
    val s = spark
    import s.implicits._
    val df = Seq("ab cde f", "", "Hello  HELLO").toDF("text")
    val rows = df.select(charShingles(col("text"), 3).as("cs")).collect()
    // char 3-grams over normalized "ab cde f", distinct
    assert(rows(0).getSeq[String](0).head == "ab ")
  }

  test("md5 kernel is byte-identical to the composed builtin form") {
    val s = spark
    import s.implicits._
    // the recipe the DuckDB oracle replicates — the kernel must match it
    // byte-for-byte, including Unicode lowercase, mixed whitespace,
    // leading/trailing runs, empty strings and NULLs
    def composed = md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))
      .cast("binary"))
    val edge = Seq("", " ", "  \t\n ", "Hello  World", "ÜBER  Straße",
      "ΑΛΦΑ βήτα", "tab\there\r\nnewline", "mixedvtab", "日本語 テスト",
      null.asInstanceOf[String]).toDF("text")
    val rows = edge.select(fingerprint(col("text")).as("k"),
        composed.as("c")).collect()
    rows.foreach { r => assert(r.get(0) == r.get(1), s"mismatch: $r") }
    // and over the real corpus
    val docs = graft.engine.Tables.documents(s, sf())
    val bad = docs.select(fingerprint(col("text")).as("k"), composed.as("c"))
      .where(col("k") =!= col("c")).count()
    assert(bad == 0L)
  }

  test("normalizeText: NFC composition, NFKC compatibility, fold, collapse") {
    def norm(t: String, nfkc: Boolean = false) =
      one(t, normalizeText(col("text"), nfkc = nfkc)).asInstanceOf[String]
    // decomposed e + COMBINING ACUTE (5 chars in) composes to the
    // single codepoint (4 chars out)
    assert(norm("Cafe\u0301") == "caf\u00e9")
    assert(norm("Cafe\u0301").length == 4)
    // NFC preserves compatibility forms; NFKC folds them
    assert(norm("ﬁle") == "ﬁle")       // fi-ligature survives NFC
    assert(norm("ﬁle", nfkc = true) == "file")
    assert(norm("ＡＢ", nfkc = true) == "ab") // fullwidth AB
    // casefold + whitespace collapse, leading tab handled (collapse
    // BEFORE trim — the cross-engine order contract)
    assert(norm("\t Hello\n\n  WORLD  ") == "hello world")
    // idempotence: normalize(normalize(x)) == normalize(x)
    val messy = "  é Qﬁ  \n x "
    assert(norm(norm(messy)) == norm(messy))
    // nulls stay null
    val s = spark
    import s.implicits._
    assert(Seq[String](null).toDF("text")
      .select(normalizeText(col("text"))).collect()(0).isNullAt(0))
  }

  test("tokenEntropy: known values, edge cases, null") {
    def ent(t: String): (Long, Long, Double) = {
      val r = one(t, tokenEntropy(col("text")))
        .asInstanceOf[org.apache.spark.sql.Row]
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    // uniform over 2 types -> exactly 1 bit
    assert(ent("a b a b") == ((4L, 2L, 1.0)))
    // all-distinct: H = log2(n)
    val (n4, t4, h4) = ent("w x y z")
    assert(n4 == 4L && t4 == 4L && math.abs(h4 - 2.0) < 1e-12)
    // degenerate repetition: a single type has zero entropy
    assert(ent("spam spam spam spam") == ((4L, 1L, 0.0)))
    // tokenization contract matches tokens(): case-fold + \s+ split
    assert(ent("  The THE the\tdog ") == ((4L, 2L, ent("the the the dog")._3)))
    // empty and one-token docs are 0 bits, not NaN
    assert(ent("") == ((0L, 0L, 0.0)))
    assert(ent("word") == ((1L, 1L, 0.0)))
    // null text -> null struct
    val s = spark
    import s.implicits._
    assert(Seq[String](null).toDF("text")
      .select(tokenEntropy(col("text"))).collect()(0).isNullAt(0))
  }

  test("tokenEntropy kernel equals the composed explode/groupBy form") {
    val s = spark
    val docs = graft.engine.Tables.documents(s, sf())
      .where(col("text").isNotNull)
    val kernel = docs.select(col("doc_id"),
      tokenEntropy(col("text")).getField("ntok").as("n"),
      tokenEntropy(col("text")).getField("ntypes").as("t"),
      round(tokenEntropy(col("text")).getField("entropy_bits"), 9).as("h"))
    val composed = docs
      .select(col("doc_id"), explode_outer(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").count()
      .groupBy("doc_id")
      .agg(
        coalesce(sum(when(col("tok").isNotNull, col("count"))), lit(0L)).as("n"),
        coalesce(sum(when(col("tok").isNotNull, 1L)), lit(0L)).as("t"),
        sum(when(col("count") > 1,
          col("count") * log(col("count"))).otherwise(lit(0.0))).as("sl"))
      .select(col("doc_id"), col("n"), col("t"),
        round(when(col("n") === 0, 0.0)
          .otherwise((log(col("n")) - col("sl") / col("n")) / log(lit(2.0))),
          9).as("h"))
    val bad = kernel.as("k").join(composed.as("c"), "doc_id")
      .where(col("k.n") =!= col("c.n") || col("k.t") =!= col("c.t") ||
        abs(col("k.h") - col("c.h")) > 1e-9)
      .count()
    assert(bad == 0L)
  }

  test("dupLineStats: known values, blanks, empties, null") {
    def dls(t: String): (Long, Double, Double) = {
      val r = one(t, dupLineStats(col("text")))
        .asInstanceOf[org.apache.spark.sql.Row]
      (r.getLong(0), r.getDouble(1), r.getDouble(2))
    }
    // "ab" twice + "c" once: 1 of 3 lines duplicate; chars 2 of 5
    assert(dls("ab\nc\nab") == ((3L, 1.0 / 3, 2.0 / 5)))
    // all unique
    assert(dls("a\nbb\nccc") == ((3L, 0.0, 0.0)))
    // blank and whitespace-only lines are not lines; trimming unifies
    assert(dls(" x \n\n   \nx") == ((2L, 0.5, 0.5)))
    // a no-line document divides nothing
    assert(dls("") == ((0L, 0.0, 0.0)))
    assert(dls("\n \n") == ((0L, 0.0, 0.0)))
    // full ASCII whitespace trim (MassiveText rule, ADVICE r14): CRLF
    // corpora lose the trailing \r, so "ab\r" == "ab"; tab- and
    // CR-only lines are blank, not 1-char lines
    assert(dls("ab\r\nc\r\nab") == ((3L, 1.0 / 3, 2.0 / 5)))
    assert(dls("\t\n\r\nx") == ((1L, 0.0, 0.0)))
    // null text -> null fields
    val s = spark
    import s.implicits._
    val r = Seq[String](null).toDF("text")
      .select(dupLineStats(col("text"))).collect()(0)
      .getStruct(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("dropRepeatedLines: first occurrence keeps its bytes, blanks survive") {
    def drl(t: String): String = {
      val s = spark
      import s.implicits._
      Seq(t).toDF("text")
        .select(dropRepeatedLines(col("text"))).collect()(0).getString(0)
    }
    // later repeats drop, first copy's ORIGINAL bytes (indent, \r) stay
    assert(drl("ab\nc\nab") == "ab\nc")
    assert(drl("  ab \nc\nab\r\nAB") == "  ab \nc\nAB")
    // blank/whitespace-only lines carry no content: all survive, and
    // they never unify with each other
    assert(drl("x\n\n \nx\n") == "x\n\n \n")
    // trimming identity: tab-only line is blank; "x\r" == "x"
    assert(drl("\t\nx\r\nx") == "\t\nx\r")
    // no repeats -> byte-identical round-trip
    assert(drl("a\nbb\nccc") == "a\nbb\nccc")
    assert(drl("") == "")
    // null in, null out
    val s = spark
    import s.implicits._
    val r = Seq[String](null).toDF("text")
      .select(dropRepeatedLines(col("text"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("canonicalUrl: every rule, edge shapes, null propagation") {
    val s = spark
    import s.implicits._
    def canon(u: String): Option[String] = {
      val r = Seq(Option(u)).toDF("u")
        .select(TextFunctions.canonicalUrl(col("u"))).collect()(0)
      if (r.isNullAt(0)) None else Some(r.getString(0))
    }
    // scheme+host lower, default port drop, slash collapse, trailing
    // slash strip, tracking strip, param sort, fragment drop — at once
    assert(canon("HTTP://Site.COM:80/a//b/?utm_source=x&b=2&a=1#frag")
      == Some("http://site.com/a/b?a=1&b=2"))
    assert(canon("HTTPS://X.org:443/") == Some("https://x.org/"))
    // non-default port survives; path case preserved
    assert(canon("https://x.org:8443/API/v1") ==
      Some("https://x.org:8443/API/v1"))
    // http default port on https scheme is NOT default -> kept
    assert(canon("https://x.org:80/") == Some("https://x.org:80/"))
    // empty path becomes /; query of only tracking params vanishes —
    // but ref is CONTENT-BEARING (GitHub ?ref=branch) so the default
    // pattern keeps it
    assert(canon("http://x.org?utm_campaign=c&ref=r&fbclid=f&gclid=g")
      == Some("http://x.org/?ref=r"))
    // bare tracking key without '=' is dropped too; dup params kept
    // (byte-sorted), empty params from && splits dropped
    assert(canon("http://x.org/p?utm_x&a=2&&a=1") ==
      Some("http://x.org/p?a=1&a=2"))
    // utm_ is anchored: a param NAMED xutm_a (or b=utm_x) survives
    assert(canon("http://x.org/p?xutm_a=1&b=utm_x") ==
      Some("http://x.org/p?b=utm_x&xutm_a=1"))
    // a caller whose crawl treats ref as tracking passes its own list
    def canonRef(u: String): Option[String] = {
      val r = Seq(Option(u)).toDF("u")
        .select(TextFunctions.canonicalUrl(col("u"),
          "^(utm_[^=]*|gclid|fbclid|ref)(=|$)")).collect()(0)
      if (r.isNullAt(0)) None else Some(r.getString(0))
    }
    assert(canonRef("http://x.org/p?ref=r&a=1") == Some("http://x.org/p?a=1"))
    // userinfo is stripped — distinct credentials on the SAME host
    // collapse, distinct HOSTS never do (the r15 false-merge hazard)
    assert(canon("http://u:p@a.com/x") == Some("http://a.com/x"))
    assert(canon("http://u:p@b.com/x") == Some("http://b.com/x"))
    // greedy through the LAST @ (an @ inside userinfo is legal-ish in
    // the wild); port split happens AFTER the strip
    assert(canon("http://u@v:p@Site.COM:8080/x") ==
      Some("http://site.com:8080/x"))
    // root slash is never stripped; fragment-only tail drops clean
    assert(canon("http://x.org/#top") == Some("http://x.org/"))
    // not a URL -> null; null -> null
    assert(canon("no scheme here") == None)
    assert(canon(null) == None)
  }
}
