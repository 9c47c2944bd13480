package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SelectionSpec extends SparkSpec {

  // independent driver-side replica of the engine's md5-prefix bucket
  // (Sampling's 24-bit convention) — NOT the engine expression
  private def bucket(w: String, buckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 6), 16) % buckets
  }

  private val fixture = Seq(
    (1L, "en", "the quick brown fox jumps over the lazy dog"),
    (2L, "en", "the dog barks at the quick fox"),
    (3L, "de", "der schnelle braune fuchs springt sofort weiter"),
    (4L, "de", "the der dog fuchs"), // mixed en/de vocabulary
    (5L, "zh", "   ")) // zero tokens -> must drop out

  // exact DSIR replay on the driver: per-doc sum of c_b * ln(pt_b/pr_b)
  private def driverReplay(buckets: Int,
                           k: Double): Map[Long, (Long, Double)] = {
    val toks = fixture.map { case (id, lang, text) =>
      (id, lang, text.toLowerCase.trim.split("\\s+")
        .filter(_.nonEmpty).toSeq)
    }
    val feats = toks.flatMap { case (id, lang, ws) =>
      ws.map(w => (id, lang, bucket(w, buckets)))
    }
    val nt = feats.count(_._2 == "en").toDouble
    val nr = feats.size.toDouble
    val ct = feats.filter(_._2 == "en").groupBy(_._3)
      .map { case (b, xs) => b -> xs.size }
    val cr = feats.groupBy(_._3).map { case (b, xs) => b -> xs.size }
    toks.filter(_._3.nonEmpty).map { case (id, _, ws) =>
      val byB = ws.map(bucket(_, buckets)).groupBy(identity)
        .map { case (b, xs) => b -> xs.size }
      val w = byB.map { case (b, c) =>
        c * math.log(((ct.getOrElse(b, 0) + k) / (nt + k * buckets)) /
          ((cr(b) + k) / (nr + k * buckets)))
      }.sum
      id -> ((ws.size.toLong, w))
    }.toMap
  }

  private def engine(buckets: Int, k: Double): Map[Long, (Long, Double)] = {
    val s = spark
    import s.implicits._
    val docs = fixture.toDF("doc_id", "lang", "text")
    Selection.dsirWeights(docs, col("lang") === "en", "doc_id", "text",
        buckets, k)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
  }

  test("dsirWeights equals the exact driver replay (incl. collisions)") {
    // buckets=7 forces hash collisions; the engine must agree with the
    // replay under them (collisions SMOOTH the estimate, not break it)
    for (buckets <- Seq(512, 7)) {
      val want = driverReplay(buckets, 0.5)
      val got = engine(buckets, 0.5)
      assert(got.keySet == want.keySet, s"buckets=$buckets")
      for ((id, (n, w)) <- want) {
        assert(got(id)._1 == n, s"n_tokens doc=$id buckets=$buckets")
        // engine output is rounded to 4 decimals; 1e-4 covers the
        // rounding step while any formula error moves weights >> this
        assert(math.abs(got(id)._2 - w) < 1e-4,
          s"weight doc=$id buckets=$buckets got=${got(id)._2} want=$w")
      }
    }
  }

  test("target-like documents outweigh off-target ones") {
    val got = engine(512, 0.5)
    // pure-English docs score above the pure-German one; the mixed doc
    // sits between; the blank doc is absent entirely
    assert(got(1L)._2 > got(3L)._2 && got(2L)._2 > got(3L)._2)
    assert(got(4L)._2 > got(3L)._2 && got(4L)._2 < math.max(got(1L)._2,
      got(2L)._2))
    assert(!got.contains(5L))
    // with target == raw (every doc targeted) all weights are exactly 0
    val s = spark
    import s.implicits._
    val all0 = Selection.dsirWeights(fixture.toDF("doc_id", "lang", "text"),
        lit(true), "doc_id", "text", 512, 0.5)
      .collect().map(_.getDouble(2))
    assert(all0.nonEmpty && all0.forall(_ == 0.0))
  }

  test("perplexityBuckets: terciles follow the LM score, labels ordered") {
    val s = spark
    import s.implicits._
    // reference corpus: repetitive in-domain text; scored docs range
    // from verbatim-in-domain to pure OOV junk — six scored docs so
    // the tercile boundaries (ceil(n/3)=2, ceil(2n/3)=4) split 2/2/2
    // unless rounded scores tie
    val train = Seq(
      (100L, "the cat sat on the mat"),
      (101L, "the dog sat on the rug"),
      (102L, "the cat ran to the dog")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "the cat sat on the mat"),   // verbatim -> best
      (2L, "the dog ran to the cat"),   // in-domain
      (3L, "the cat sat quietly"),      // one OOV
      (4L, "a cat under a tree"),       // mostly OOV transitions
      (5L, "purple xylophone quantum"), // junk
      (6L, "zz qq ww ee rr")).toDF("doc_id", "text") // junk
    val got = Selection.perplexityBuckets(train, score, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getString(4)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // every head score >= every middle score >= every tail score
    def scoresOf(b: String) =
      got.values.collect { case (lp, `b`) => lp }.toSeq
    for (hi <- scoresOf("head"); mid <- scoresOf("middle"))
      assert(hi > mid, s"head $hi must outscore middle $mid: $got")
    for (mid <- scoresOf("middle"); lo <- scoresOf("tail"))
      assert(mid > lo, s"middle $mid must outscore tail $lo: $got")
    // all three buckets are populated and junk lands in the tail
    assert(Set("head", "middle", "tail").forall(b => scoresOf(b).nonEmpty))
    assert(got(1L)._2 == "head" && got(5L)._2 == "tail" &&
      got(6L)._2 == "tail")
  }

  test("trainQualityClassifier: local == distributed, separable corpus " +
      "learned, null labels train nothing but still score") {
    val s = spark
    import s.implicits._
    // separable: positives contain 'excellent prose', negatives
    // 'garbled spam'; shared filler words force real weighting
    val pos = Seq.tabulate(10)(i =>
      (i.toLong, "excellent prose with careful structure and detail",
        Some(true)))
    val neg = Seq.tabulate(10)(i =>
      (100L + i, "garbled spam tokens with careful filler and detail",
        Some(false)))
    val unl = Seq((900L, "excellent prose again",
      None: Option[Boolean]))
    val docs = (pos ++ neg ++ unl).toDF("doc_id", "text", "is_good")
    val (w, b) = Selection.trainQualityClassifier(docs, col("is_good"),
      "doc_id", "text", iters = 6, lr = 0.5, buckets = 64)
    // driver-local twin over the same feature sets
    val rows = (pos ++ neg).map { case (id, text, lab) =>
      (id, if (lab.get) 1.0 else 0.0,
        text.split(" ").map(t => SelectionReference.tokenBucket(t, 64)).toSet)
    }
    val (wl, bl) = SelectionReference.trainQualityClassifierLocal(rows, 6, 0.5, 64)
    assert(w.toSeq == wl.toSeq && b == bl,
      s"distributed != local: bias $b vs $bl")
    // the learned model separates the corpus AND scores the unlabeled
    // doc (which trained nothing) on the positive side
    val scored = Selection.scoreQualityClassifier(docs, "doc_id", "text",
        w, b)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(pos.forall { case (id, _, _) => scored(id)._2 },
      s"positives misclassified: $scored")
    assert(neg.forall { case (id, _, _) => !scored(id)._2 },
      s"negatives misclassified: $scored")
    assert(scored(900L)._2, "unlabeled positive-looking doc must score > 0")
    // determinism: a second training run is bit-identical
    val (w2, b2) = Selection.trainQualityClassifier(docs, col("is_good"),
      "doc_id", "text", iters = 6, lr = 0.5, buckets = 64)
    assert(w2.toSeq == w.toSeq && b2 == b)
  }

  test("doremiWeights: local == distributed; the underserved domain " +
      "gains weight; null sources and train-absent domains drop") {
    val s = spark
    import s.implicits._
    // domain A has a rich vocabulary, B a tiny one: the GLOBAL model's
    // bigger V smooths every score down, and the hit is relatively
    // larger for B (its own V is 4 vs the global 12), so B's excess
    // loss — hence its learned weight — must exceed A's
    val train = Seq(
      (1L, Some("A"), "red fox jumps over lazy dog near old barn"),
      (2L, Some("A"), "old dog jumps near red barn over fox"),
      (3L, Some("B"), "beep boop beep blip"),
      (4L, Some("B"), "boop blip beep boop"),
      (5L, None: Option[String], "noise noise noise"), // null: excluded
      (6L, Some("C"), "ghost domain with no heldout docs"))
      .toDF("doc_id", "source", "text")
    val ho = Seq(
      (10L, Some("A"), "red fox jumps over lazy dog"),
      (11L, Some("A"), "old barn near red fox"),
      (12L, Some("B"), "beep boop blip beep"),
      (13L, Some("B"), "blip boop beep"),
      (14L, None: Option[String], "noise"),
      (15L, Some("Z"), "domain absent from train must drop"))
      .toDF("doc_id", "source", "text")
    val got = Selection.doremiWeights(train, ho, "doc_id", "text",
        "source", rounds = 4, eta = 0.5, smoothMicro = 200000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    assert(got.keySet == Set("A", "B"),
      s"null/train-absent domains must drop: ${got.keySet}")

    // driver-local twin: same tokenization, same add-k bigram scoring,
    // same grids — then the SHARED doremiLoop (one loop, zero drift)
    def toks(t: String) = t.toLowerCase.trim.split("\\s+")
      .filter(_.nonEmpty).toSeq
    def bgs(ws: Seq[String]) =
      ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
    val trRows = Seq(("A", toks("red fox jumps over lazy dog near old barn")),
      ("A", toks("old dog jumps near red barn over fox")),
      ("B", toks("beep boop beep blip")),
      ("B", toks("boop blip beep boop")),
      ("C", toks("ghost domain with no heldout docs")))
    val hoRows = Seq((10L, "A", toks("red fox jumps over lazy dog")),
      (11L, "A", toks("old barn near red fox")),
      (12L, "B", toks("beep boop blip beep")),
      (13L, "B", toks("blip boop beep")))
    def lm(c2: Map[String, Int], c1: Map[String, Int], v: Int,
           doc: Seq[String]): Option[Long] = {
      val gs = bgs(doc)
      if (gs.isEmpty) None
      else {
        val lps = gs.map { g =>
          val w1 = g.substring(0, g.indexOf(' '))
          math.log((c2.getOrElse(g, 0) + 0.5) /
            (c1.getOrElse(w1, 0) + 0.5 * v))
        }
        val avg4 = BigDecimal(lps.sum / lps.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP)
        Some((avg4 * 10000).toLongExact)
      }
    }
    def counts(rows: Seq[(String, Seq[String])]) = (
      rows.flatMap(r => bgs(r._2)).groupBy(identity)
        .map { case (g, xs) => g -> xs.size },
      rows.flatMap(_._2).groupBy(identity)
        .map { case (w, xs) => w -> xs.size })
    val (gc2, gc1) = counts(trRows)
    val perSource = hoRows.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (src, docs) =>
        val (oc2, oc1) = counts(trRows.filter(_._1 == src))
        val scored = docs.flatMap { case (_, _, ws) =>
          for (gi <- lm(gc2, gc1, gc1.size, ws);
               oi <- lm(oc2, oc1, oc1.size, ws)) yield (gi, oi)
        }
        def away(x: Double) = BigDecimal(x)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        (src, scored.size.toLong,
          away((-scored.map(_._1).sum).toDouble / scored.size),
          away((-scored.map(_._2).sum).toDouble / scored.size))
      }
    val learned = Selection.doremiLoop(perSource, 4, 0.5, 200000L)
    perSource.foreach { case (src, n, lg, lo) =>
      val (ex, wm, am) = learned(src)
      assert(got(src) == ((n, lg, lo, ex, wm, am)),
        s"$src: distributed ${got(src)} != local ${(n, lg, lo, ex, wm, am)}")
    }
    // B is the underserved domain: bigger excess, more learned weight
    assert(got("B")._4 > got("A")._4, s"excess: $got")
    assert(got("B")._6 > got("A")._6, s"alpha: $got")
    // weights + smoothing stay a distribution up to rounding dust
    assert(math.abs(got("A")._6 + got("B")._6 - 1000000L) <= 2)
    // determinism: a second run is bit-identical
    val again = Selection.doremiWeights(train, ho, "doc_id", "text",
        "source", rounds = 4, eta = 0.5, smoothMicro = 200000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    assert(again == got)
  }

  test("scoreQualityClassifier plan: weights broadcast, margins are " +
      "long sums") {
    val s = spark
    import s.implicits._
    val docs = Seq.tabulate(20)(i => (i.toLong, "some text tokens here"))
      .toDF("doc_id", "text")
    val scored = Selection.scoreQualityClassifier(docs, "doc_id", "text",
      Array.fill(64)(1000L), 5L)
    val plan = scored.queryExecution.executedPlan.toString
    // the vocab-sized weight table must broadcast — a shuffled join
    // here would shuffle the corpus-sized feature stream against 64
    // rows
    assert(plan.contains("BroadcastHashJoin"),
      s"weights must broadcast:\n$plan")
    // score is the exact integer margin: LongType end to end
    assert(scored.schema("score_micro").dataType ==
      org.apache.spark.sql.types.LongType)
    val got = scored.collect().map(r => (r.getLong(1), r.getBoolean(2)))
    assert(got.forall { case (m, p) => m == 4L * 1000L + 5L && p })
  }

  test("doremiWeights(order): the fused single-plan form equals the " +
      "unfused two-pass scoring (global tables derived from per-source " +
      "tables, shared position stream)") {
    val s = spark
    import s.implicits._
    // rich-vs-poor vocabulary domains at order 3 so every backoff
    // branch and the (N, V) derivation are exercised; C has train but
    // no heldout docs, Z is heldout-only (must drop), nulls excluded
    val train = Seq(
      (1L, Some("A"), "red fox jumps over lazy dog near old barn"),
      (2L, Some("A"), "old dog jumps near red barn over fox"),
      (3L, Some("B"), "beep boop beep blip beep boop"),
      (4L, Some("B"), "boop blip beep boop blip"),
      (5L, None: Option[String], "noise noise noise"),
      (6L, Some("C"), "ghost domain with no heldout docs"))
      .toDF("doc_id", "source", "text")
    val ho = Seq(
      (10L, Some("A"), "red fox jumps over lazy dog"),
      (11L, Some("A"), "old barn near red fox"),
      (12L, Some("B"), "beep boop blip beep"),
      (13L, Some("B"), "blip boop beep"),
      (14L, None: Option[String], "noise"),
      (15L, Some("Z"), "domain absent from train must drop"))
      .toDF("doc_id", "source", "text")
    val got = Selection.doremiWeights(train, ho, "doc_id", "text",
      "source", order = 3, alpha = 0.4, rounds = 4, eta = 0.5,
      smoothMicro = 200000L, k = 0.5).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // the UNFUSED reference: the two public scoring entry points the
    // pre-fusion implementation called, aggregated the same way
    val tr = train.where(col("source").isNotNull)
    val hnn = ho.where(col("source").isNotNull)
    val g = CorpusStats.ngramLogProbAgainst(tr, hnn, "doc_id", "text",
        3, 0.4, 0.5)
      .select(col("doc"), round(col("avg_lp") * 10000, 0)
        .cast("long").as("gi"))
    val o = CorpusStatsReference.ngramLogProbAgainstBySource(tr, hnn, "doc_id",
        "text", "source", 3, 0.4, 0.5)
      .select(col("doc"), round(col("avg_lp") * 10000, 0)
        .cast("long").as("oi"))
    def away(x: Double) = BigDecimal(x)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val perSource = hnn
      .select(col("doc_id").as("doc"), col("source").as("src"))
      .join(g, "doc").join(o, "doc")
      .groupBy("src").agg(count(lit(1)).as("n"),
        sum("gi").as("sg"), sum("oi").as("so"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        away((-r.getLong(2)).toDouble / r.getLong(1)),
        away((-r.getLong(3)).toDouble / r.getLong(1))))
      .toSeq.sortBy(_._1)
    val learned = Selection.doremiLoop(perSource, 4, 0.5, 200000L)
    val expected = perSource.map { case (src, n, lg, lo) =>
      val (ex, wm, am) = learned(src)
      src -> ((n, lg, lo, ex, wm, am))
    }.toMap
    assert(got == expected,
      s"fused $got != unfused reference $expected")
    assert(got.keySet == Set("A", "B"),
      s"null/train-absent/heldout-only domains must drop: ${got.keySet}")
  }
}
