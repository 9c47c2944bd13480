package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {

  private def mkDocs(rows: Seq[(Long, String, Long)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "source", "n_tok")
  }

  private def draw(df: org.apache.spark.sql.DataFrame,
                   budgets: Map[String, Long], salt: String = "s1") =
    Sampling.byTokenBudget(df, "doc_id", "source", "n_tok", budgets, salt)
      .select("doc_id", "source", "__cum")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))

  private val rnd = new scala.util.Random(7)
  private val corpus = (0L until 200L).map(i =>
    (i * 13 + 5, s"src${i % 3}", 10L + rnd.nextInt(90)))

  test("budget respected, draw maximal, deterministic, portable-hash ordered") {
    val budgets = Map("src0" -> 800L, "src1" -> 1500L)
    val df = mkDocs(corpus)
    val got = draw(df, budgets)
    // determinism
    assert(got.toSeq == draw(df, budgets).toSeq)
    // reference: driver-side salted-md5 order + strict prefix sum
    def md5h(salt: String, id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest((salt + id.toString).getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    val want = corpus.filter(c => budgets.contains(c._2))
      .groupBy(_._2).toSeq.flatMap { case (src, ds) =>
        var cum = 0L
        ds.sortBy(d => (md5h("s1", d._1), d._1)).flatMap { d =>
          cum += d._3
          if (cum <= budgets(src)) Some((d._1, src, cum)) else None
        }
      }.toSet
    assert(got.toSet == want)
    // budget respected per stratum and nothing from unbudgeted strata
    val bySrc = got.groupBy(_._2)
    assert(!bySrc.contains("src2"))
    bySrc.foreach { case (src, ds) =>
      assert(ds.map(_._3).max <= budgets(src))
    }
  }

  test("appends only advance the frontier: kept(C∪D) ∩ C ⊆ kept(C)") {
    val budgets = Map("src0" -> 600L, "src1" -> 900L, "src2" -> 400L)
    val appended = (1000L until 1060L).map(i =>
      (i * 7 + 3, s"src${i % 3}", 10L + rnd.nextInt(90)))
    val keptC = draw(mkDocs(corpus), budgets).map(_._1).toSet
    val keptCD = draw(mkDocs(corpus ++ appended), budgets).map(_._1).toSet
    val cIds = corpus.map(_._1).toSet
    assert((keptCD & cIds).subsetOf(keptC))
    // and the append did change the frontier somewhere (non-vacuous)
    assert(keptCD != keptC)
  }

  test("different salts draw different prefixes") {
    val budgets = Map("src0" -> 500L)
    val a = draw(mkDocs(corpus), budgets, "saltA").map(_._1).toSet
    val b = draw(mkDocs(corpus), budgets, "saltB").map(_._1).toSet
    assert(a != b)
  }

  // ---- byWeight (deterministic fractional upsampling) ----

  private def md5h(salt: String, id: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest((salt + id.toString).getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
  }

  private def copies(df: org.apache.spark.sql.DataFrame,
                     weights: Map[String, Double], salt: String = "w1") =
    Sampling.byWeight(df, "doc_id", "source", weights, salt)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  test("byWeight copy counts match the driver-side hash reference exactly") {
    val weights = Map("src0" -> 2.25, "src1" -> 0.5, "src2" -> 1.0)
    val got = copies(mkDocs(corpus), weights)
    val want = corpus.flatMap { case (id, src, _) =>
      weights.get(src).map { w =>
        val base = math.floor(w).toLong
        val extra =
          if (md5h("w1", id) % 1000000L < math.round((w - base) * 1000000L)) 1L
          else 0L
        id -> (base + extra)
      }
    }.filter(_._2 > 0L).toMap
    assert(got == want)
    // the fractional draw is non-degenerate at both margins
    val src0 = corpus.filter(_._2 == "src0").map(_._1)
    assert(src0.exists(id => got(id) == 2L) && src0.exists(id => got(id) == 3L))
  }

  test("byAlphaMicro: learned shares convert to current-share-relative " +
      "weights on the 6-dp grid; absent strata refused") {
    val docs = mkDocs(corpus)
    val counts = corpus.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = counts.values.sum
    // uniform target shares over the 3 sources
    val alpha = counts.keys.map(_ -> 333333L).toMap
    val got = Sampling.byAlphaMicro(docs, "doc_id", "source", alpha, "w1")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // reference: the same grid conversion + the byWeight draw
    val w = counts.map { case (src, nd) =>
      src -> BigDecimal(333333L.toDouble / 1000000.0 * n / nd)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
    val want = copies(docs, w)
    assert(got == want)
    // a stratum missing from the shares must refuse, not silently drop
    val e = intercept[IllegalArgumentException] {
      Sampling.byAlphaMicro(docs, "doc_id", "source",
        alpha - counts.keys.head, "w1").collect()
    }
    assert(e.getMessage.contains("absent from alphaMicro"))
    // NULL strata would vanish in byWeight's weights join — refused
    // too (review finding: the silent drop this operator exists to
    // prevent)
    val withNull = docs.select(col("doc_id"),
      when(col("doc_id") % 10 === 0, lit(null: String))
        .otherwise(col("source")).as("source"))
    val e2 = intercept[IllegalArgumentException] {
      Sampling.byAlphaMicro(withNull, "doc_id", "source", alpha, "w1")
    }
    assert(e2.getMessage.contains("NULL"))
  }

  test("byWeight: every __rep ordinal 0..n-1 is present exactly once") {
    val out = Sampling.byWeight(mkDocs(corpus), "doc_id", "source",
        Map("src0" -> 3.0), "w1")
      .select("doc_id", "__rep")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq)
    assert(byDoc.values.forall(_ == Seq(0L, 1L, 2L)))
  }

  test("byWeight is invariant under partition layout and corpus appends") {
    val weights = Map("src0" -> 1.75, "src1" -> 0.4)
    val base = copies(mkDocs(corpus), weights)
    assert(copies(mkDocs(corpus).repartition(7), weights) == base)
    // appending docs never changes an existing doc's copy count
    val appended = (1000L until 1030L).map(i =>
      (i * 7 + 3, s"src${i % 3}", 10L))
    val grown = copies(mkDocs(corpus ++ appended), weights)
    assert(base.forall { case (id, n) => grown.get(id).contains(n) })
  }

  test("packSequences: offsets are the exact concat layout, seq = offset/budget") {
    val df = mkDocs(corpus)
    val got = Sampling.packSequences(df, "doc_id", "source", "n_tok",
        100L, "p1")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // reference: per stratum, md5-hash order, running offsets
    val byStratum = got.groupBy(_._2)
    byStratum.foreach { case (_, ds) =>
      val sorted = ds.sortBy(d => (md5h("p1", d._1), d._1))
      var off = 0L
      sorted.foreach { case (id, _, nTok, offset, seq) =>
        assert(offset == off, s"doc $id offset")
        assert(seq == off / 100L, s"doc $id seq")
        off += nTok
      }
    }
    // deterministic + partition-invariant
    val again = Sampling.packSequences(df.repartition(7), "doc_id",
        "source", "n_tok", 100L, "p1")
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    assert(again == got.map(t => (t._1, t._4, t._5)).toSet)
  }

  test("packSequences: appends to one stratum never move another's docs") {
    val base = Sampling.packSequences(mkDocs(corpus), "doc_id", "source",
        "n_tok", 100L, "p1")
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    // append docs only to src0
    val appended = (1000L until 1030L).map(i => (i * 7 + 3, "src0", 10L))
    val grown = Sampling.packSequences(mkDocs(corpus ++ appended), "doc_id",
        "source", "n_tok", 100L, "p1")
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    val untouched = corpus.filter(_._2 != "src0").map(_._1)
    assert(untouched.nonEmpty &&
      untouched.forall(id => grown(id) == base(id)))
  }

  test("explodePackedSlices: slices cover every sequence exactly") {
    // include docs longer than the budget (span 2+ cuts) and a
    // zero-token doc (must emit nothing)
    val docs = corpus ++ Seq((9001L, "src0", 250L), (9002L, "src1", 0L))
    val budget = 100L
    val slices = Sampling.explodePackedSlices(mkDocs(docs), "doc_id",
        "source", "n_tok", budget, "p1")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val nTok = docs.map(d => d._1 -> d._3).toMap
    // zero-token doc emits no slice
    assert(!slices.exists(_._3 == 9002L))
    // per-doc: slice lengths sum to n_tok, starts tile [0, n_tok)
    slices.groupBy(_._3).foreach { case (id, ss) =>
      assert(ss.map(_._5).sum == nTok(id), s"doc $id slice-len sum")
      val tiled = ss.sortBy(_._2)
      assert(tiled.head._4 == 0L, s"doc $id first slice start")
      tiled.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._2 == a._2 + 1, s"doc $id non-adjacent seqs")
          assert(b._4 == a._4 + a._5, s"doc $id slice gap/overlap")
        case _ =>
      }
      assert(ss.forall(s => s._5 > 0), s"doc $id empty slice")
    }
    // per-(stratum, seq): lengths sum to budget, except the tail seq
    slices.groupBy(s => (s._1, s._2)).foreach { case ((src, seq), ss) =>
      val tail = slices.filter(_._1 == src).map(_._2).max
      val total = ss.map(_._5).sum
      if (seq < tail) assert(total == budget, s"($src,$seq) sum $total")
      else assert(total <= budget && total > 0, s"($src,$seq) tail $total")
    }
    // stratum token conservation: all slices of a stratum sum to its
    // corpus token count
    slices.groupBy(_._1).foreach { case (src, ss) =>
      assert(ss.map(_._5).sum == docs.filter(_._2 == src).map(_._3).sum)
    }
  }

  test("byWeight rejects non-finite and absurd weights loudly") {
    val df = mkDocs(corpus)
    for (bad <- Seq(Double.PositiveInfinity, Double.NaN, -0.5, 1e7))
      intercept[IllegalArgumentException] {
        Sampling.byWeight(df, "doc_id", "source", Map("src0" -> bad))
      }
  }

  test("byWeight: weight 0 and absent strata drop; sub-1 weights thin") {
    val got = Sampling.byWeight(mkDocs(corpus), "doc_id", "source",
        Map("src0" -> 0.0, "src1" -> 0.5), "w1")
      .select("source").distinct().collect().map(_.getString(0)).toSet
    assert(got == Set("src1"))
    val n1 = copies(mkDocs(corpus), Map("src1" -> 0.5)).size
    val total1 = corpus.count(_._2 == "src1")
    assert(n1 > 0 && n1 < total1)
  }

  test("stratifiedSample: exact n per stratum, hash-minimal, append-stable") {
    val df = mkDocs(corpus)
    val n = 5
    val got = Sampling.stratifiedSample(df, "doc_id", "source", n, "s1")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // exact n per stratum (every test stratum has > n rows)
    got.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.length == n, s"$src drew ${rows.length} rows, wanted $n") }
    // the draw is exactly the n smallest (hash, id) keys per stratum —
    // the driver-side reference replays orderHash via the same md5
    def h(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(("s1" + id).getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString, 16)
    corpus.groupBy(_._2).foreach { case (src, rows) =>
      val want = rows.map(_._1).sortBy(id => (h(id), id)).take(n).toSet
      assert(got.filter(_._2 == src).map(_._1).toSet == want,
        s"$src drew a different set than the hash order prescribes")
    }
    // append stability: adding docs to the stratum can only REPLACE
    // members (new ids with smaller hashes), never reorder survivors —
    // kept(C ∪ D) ∩ C ⊆ kept(C)
    val appended = corpus ++ Seq((900L, "src0", 10L), (901L, "src0", 10L))
    val got2 = Sampling.stratifiedSample(mkDocs(appended), "doc_id",
        "source", n, "s1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val keptOld = got2.filter(t => corpus.exists(_._1 == t._1))
    assert(keptOld.subsetOf(got.toSet),
      "append reshuffled previously-drawn members")
    // plan property: the row_number <= n filter becomes a pre-shuffle
    // bounded top-n (WindowGroupLimit) — the 100 TB shape where a
    // skewed stratum costs n rows per task, not a stratum sort
    val plan = Sampling.stratifiedSample(df, "doc_id", "source", n, "s1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"row_number<=n not planner-limited:\n$plan")
  }

  test("capPerStratum: top-n by score per stratum, ties by id, planner-limited") {
    val s = spark
    import s.implicits._
    // scores with deliberate ties: score = id % 4, so rank order within
    // a stratum is (score desc, id asc) with multi-way ties
    val rows = (0L until 40L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", (i % 4).toDouble))
    val df = rows.toDF("doc_id", "source", "score")
    val got = Sampling.capPerStratum(df, "doc_id", "source", "score", 7)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getInt(3)))
    // driver-side reference: sort by (score desc, id asc), take 7
    rows.groupBy(_._2).foreach { case (src, rs) =>
      val want = rs.sortBy(t => (-t._3, t._1)).take(7)
        .zipWithIndex.map { case ((id, _, sc), i) => (id, sc, i + 1) }
      val g = got.filter(_._2 == src).sortBy(_._4)
        .map(t => (t._1, t._3, t._4)).toSeq
      assert(g == want, s"$src kept $g, wanted $want")
    }
    // a stratum smaller than n survives whole
    val tiny = Seq((1L, "x", 5.0), (2L, "x", 3.0)).toDF("doc_id", "source", "score")
    assert(Sampling.capPerStratum(tiny, "doc_id", "source", "score", 10)
      .count() == 2)
    // plan property: same pre-shuffle bounded top-n as stratifiedSample
    val plan = Sampling.capPerStratum(df, "doc_id", "source", "score", 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"row_number<=n not planner-limited:\n$plan")
  }

  test("weightedSample matches a driver-side A-Res replay exactly") {
    val s = spark
    import s.implicits._
    val df = corpus.map { case (id, src, w) => (id, src, w) }
      .toDF("doc_id", "source", "w")
    val got = Sampling.weightedSample(df, "doc_id", "w", 30, salt = "t1")
      .collect().map(_.getLong(0)).toSet
    val want = corpus.map { case (id, _, w) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"t1$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val u = (java.lang.Long.parseLong(hex.take(12), 16) + 0.5) / 281474976710656.0
      (math.log(u) / w, id)
    }.sortBy { case (k, id) => (-k, id) }.take(30).map(_._2).toSet
    assert(got == want)
  }

  test("weightedSample favors heavy rows and excludes w <= 0") {
    val s = spark
    import s.implicits._
    val df = ((0L until 50L).map((_, 1000L)) ++
      (50L until 1000L).map((_, 1L)) ++ Seq((9999L, 0L), (9998L, -5L)))
      .toDF("doc_id", "w")
    val got = Sampling.weightedSample(df, "doc_id", "w", 60)
      .collect().map(_.getLong(0)).toSet
    // all 50 heavy rows should be drawn (each is 1000x likelier than a
    // light row; P[missing any] is astronomically small for this seed)
    assert((0L until 50L).toSet.subsetOf(got), "heavy rows not favored")
    assert(!got.contains(9999L) && !got.contains(9998L))
  }

  test("weightedSample is partition-invariant and plans a bounded top-k") {
    val s = spark
    import s.implicits._
    val df = corpus.map { case (id, src, w) => (id, src, w) }
      .toDF("doc_id", "source", "w")
    val a = Sampling.weightedSample(df.repartition(7), "doc_id", "w", 25)
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.weightedSample(df.coalesce(1), "doc_id", "w", 25)
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    val plan = Sampling.weightedSample(df, "doc_id", "w", 25)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k not heap-bounded:\n$plan")
  }

  test("lengthBuckets: quartile tiling, waste arithmetic, degenerate input") {
    val s = spark
    import s.implicits._
    val df = (1L to 100L).map(i => (i, i)).toDF("doc_id", "len")
    val got = Sampling.lengthBuckets(df, "doc_id", "len")
      .collect().sortBy(_.getLong(0))
    // 1..100 with exact quartiles 25.75/50.5/75.25: buckets of 25 each
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 25L), (1L, 25L), (2L, 25L), (3L, 25L)))
    // tiling: bucket ranges are disjoint and ordered
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) < b.getLong(2), "bucket ranges overlap")
    case _ => }
    // waste = max*count - sum, and bucketing beats one big bucket
    got.foreach(r => assert(r.getLong(5) ==
      r.getLong(3) * r.getLong(1) - r.getLong(4)))
    val bucketedWaste = got.map(_.getLong(5)).sum
    val singleWaste = 100L * 100L - (1L to 100L).sum
    assert(bucketedWaste < singleWaste / 3,
      s"bucketing should slash padding: $bucketedWaste vs $singleWaste")
    // all-equal lengths: one bucket, zero waste
    val flat = Sampling.lengthBuckets(
      (1L to 10L).map((_, 7L)).toDF("doc_id", "len"), "doc_id", "len")
      .collect()
    assert(flat.length == 1 && flat.head.getLong(5) == 0L)
  }

  test("lengthBuckets: duplicated boundary values never split (discrete" +
      " boundaries are flip-immune)") {
    val s = spark
    import s.implicits._
    // n = 12, thresholds ceil(q*12) = 3/6/9 -> discrete boundaries are
    // DATA values 3, 4, 9. Value 4 is duplicated 4x and IS the 0.5
    // boundary — the interpolated-percentile predecessor put such ties
    // at the mercy of 1-ulp cross-engine interpolation differences
    // (the r11 driver red cell: boundary 419.0 with 2 docs on it);
    // with discrete boundaries the comparison is integer > integer, so
    // every duplicate lands in ONE bucket, always the lower one.
    val lens = Seq(1L, 2L, 3L, 4L, 4L, 4L, 4L, 8L, 9L, 10L, 11L, 12L)
    val df = lens.zipWithIndex.map { case (l, i) => (i.toLong, l) }
      .toDF("doc_id", "len")
    val got = Sampling.lengthBuckets(df, "doc_id", "len")
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, 3L, 1L, 3L),   // v <= 3
      (1L, 4L, 4L, 4L),   // all four 4s together, 3 < v <= 4
      (2L, 2L, 8L, 9L),   // 4 < v <= 9
      (3L, 3L, 10L, 12L)  // v > 9
    ), got.mkString(", "))
    // the general invariant behind flip-immunity: bucket ranges can
    // never interleave a value — equal lengths share a bucket, so
    // consecutive [min_len, max_len] ranges are strictly disjoint
    got.sliding(2).foreach {
      case Array(a, b) => assert(a._4 < b._3, s"ranges overlap: $a $b")
      case _ =>
    }
  }

  test("temperatureSample: alpha flattens the mixture, targets exact," +
      " draw matches stratifiedSample") {
    val s = spark
    import s.implicits._
    // head stratum 400 rows, tail stratum 25
    val df = ((1L to 400L).map(i => (i, "head")) ++
      (401L to 425L).map(i => (i, "tail"))).toDF("doc_id", "src")
    val got = Sampling.temperatureSample(df, "doc_id", "src",
      rate = 2.0, alpha = 0.5, salt = "t")
      .collect().map(r => (r.getString(1), r.getLong(0)))
    val bySrc = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // targets: floor(2*sqrt(400)) = 40; floor(2*sqrt(25)) = 10
    assert(bySrc("head").size == 40 && bySrc("tail").size == 10)
    // flattening: the tail keeps 40% of itself, the head 10%
    assert(bySrc("tail").size.toDouble / 25 >
      bySrc("head").size.toDouble / 400)
    // the draw IS the stratifiedSample draw at the same n and salt
    val strat = Sampling.stratifiedSample(
        df.filter($"src" === "head"), "doc_id", "src", 40, salt = "t")
      .collect().map(_.getLong(0)).toSet
    assert(bySrc("head") == strat)
    // alpha = 1 keeps a proportional fraction; rate capping at n
    val prop = Sampling.temperatureSample(df, "doc_id", "src",
      rate = 0.1, alpha = 1.0, salt = "t")
      .collect().groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(prop == Map("head" -> 40, "tail" -> 2))
    val capped = Sampling.temperatureSample(df, "doc_id", "src",
      rate = 1000.0, alpha = 0.5, salt = "t")
    assert(capped.count() == 425L)
    // alpha = 0: equal allocation of floor(rate) per stratum
    val eq = Sampling.temperatureSample(df, "doc_id", "src",
      rate = 7.0, alpha = 0.0, salt = "t")
      .collect().groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(eq == Map("head" -> 7, "tail" -> 7))
    // a null stratum is its own stratum, never silently dropped
    val withNull = df.unionByName(
      (900L to 915L).map(i => (i, null.asInstanceOf[String]))
        .toDF("doc_id", "src"))
    val nullKept = Sampling.temperatureSample(withNull, "doc_id", "src",
        rate = 2.0, alpha = 0.5, salt = "t")
      .collect().filter(_.isNullAt(1))
    // 16 null-stratum docs -> floor(2*4) = 8 kept
    assert(nullKept.length == 8, s"null stratum kept ${nullKept.length}")
  }

  test("solveTemperatureRate: budget met within one doc per uncapped " +
      "stratum, and the solved draw respects it") {
    val s = spark
    import s.implicits._
    val counts = Map("a" -> 400L, "b" -> 25L, "c" -> 10000L)
    def total(r: Double, alpha: Double): Long = counts.values.map { n =>
      math.min(n, math.floor(r * math.pow(n.toDouble, alpha)).toLong)
    }.sum
    Seq(0.0, 0.5, 1.0).foreach { a =>
      Seq(50L, 300L, 5000L).foreach { budget =>
        val r = Sampling.solveTemperatureRate(counts, a, budget)
        val t = total(r, a)
        assert(t <= budget, s"alpha=$a budget=$budget: total $t over")
        assert(t >= budget - counts.size,
          s"alpha=$a budget=$budget: total $t leaves > |strata| unspent")
      }
    }
    // budget past the corpus: everything kept
    val rAll = Sampling.solveTemperatureRate(counts, 0.5, 100000L)
    assert(total(rAll, 0.5) == counts.values.sum)
    // end-to-end: the solved rate drives the distributed draw under
    // budget
    val df = ((1L to 400L).map(i => (i, "a")) ++
      (401L to 425L).map(i => (i, "b"))).toDF("doc_id", "src")
    val r = Sampling.solveTemperatureRate(
      Map("a" -> 400L, "b" -> 25L), 0.5, 60L)
    val kept = Sampling.temperatureSample(df, "doc_id", "src", r, 0.5)
      .count()
    assert(kept <= 60L && kept >= 58L, s"kept $kept of budget 60")
  }

  test("property: discreteBounds boundaries are data values at exact " +
      "ceil(q*n) ranks, on random heavy-tie corpora") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    (1 to 4).foreach { round =>
      // heavy ties: values drawn from a small range so boundaries land
      // ON duplicated values constantly (the r11 failure surface)
      val vals = Seq.fill(50 + rnd.nextInt(200))(
        (10 + rnd.nextInt(20)).toLong)
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val qs = Seq(0.1, 0.25, 0.5, 0.9)
      val row = Sampling.discreteBounds(df, "v", qs).collect().head
      val sorted = vals.sorted
      qs.zipWithIndex.foreach { case (q, i) =>
        val b = row.getLong(i)
        // the percentile_disc reference: element at rank ceil(q*n)
        val want = sorted(math.ceil(q * vals.length).toInt - 1)
        assert(b == want, s"round $round q=$q: $b != $want")
        assert(vals.contains(b), s"boundary $b must be a data value")
      }
    }
  }

  test("weightedSamplePerStratum: k per stratum, same keys, group-limited") {
    val s = spark
    import s.implicits._
    val df = corpus.map { case (id, src, w) => (id, src, w) }
      .toDF("doc_id", "source", "w")
    val got = Sampling.weightedSamplePerStratum(
        df, "doc_id", "source", "w", 10, salt = "t1")
      .collect().map(r => (r.getString(1), r.getLong(0)))
    assert(got.groupBy(_._1).forall(_._2.length == 10))
    // within each stratum the draw equals the global sampler restricted
    // to that stratum — same key, same membership
    corpus.map(_._2).distinct.foreach { src =>
      val sub = Sampling.weightedSample(
          df.filter($"source" === src), "doc_id", "w", 10, salt = "t1")
        .collect().map(_.getLong(0)).toSet
      assert(got.filter(_._1 == src).map(_._2).toSet == sub, src)
    }
    val plan = Sampling.weightedSamplePerStratum(
        df, "doc_id", "source", "w", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"row_number<=k not planner-limited:\n$plan")
  }

  test("shards: stable, balanced; manifest totals exact and order-invariant") {
    val s = spark
    import s.implicits._
    val df = (0L until 400L).map(i => (i, 10L + i % 7)).toDF("doc_id", "n")
    val a1 = Sampling.withShard(df, "doc_id", 8)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val a2 = Sampling.withShard(df, "doc_id", 8)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(a1 == a2, "assignment must be deterministic")
    // append stability: the grown corpus assigns every original doc
    // to the SAME shard (pure function of id — no rebalancing)
    val grown = (0L until 600L).map(i => (i, 10L + i % 7)).toDF("doc_id", "n")
    val a3 = Sampling.withShard(grown, "doc_id", 8)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(a1.forall { case (id, sh) => a3(id) == sh })
    // salted-hash balance: no empty shard, max/min within a loose bound
    val sizes = a1.values.groupBy(identity).map(_._2.size)
    assert(sizes.size == 8 && sizes.min > 20, s"unbalanced: $sizes")
    // manifest totals == corpus totals; checksum is order-invariant
    // (reversed input, same manifest)
    def mrows(m: org.apache.spark.sql.DataFrame) =
      m.orderBy("shard").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val m1 = mrows(Sampling.shardManifest(df, "doc_id", "n", 8))
    assert(m1.map(_._2).sum == 400L && m1.map(_._3).sum ==
      (0L until 400L).map(i => 10L + i % 7).sum)
    val m2 = mrows(Sampling.shardManifest(df.orderBy(col("doc_id").desc),
      "doc_id", "n", 8))
    assert(m1 == m2, "manifest must be order-invariant")
  }

  test("fimSplit: PSM reassembly reconstructs the original exactly") {
    val s = spark
    import s.implicits._
    val docs = (0L to 80L).map(i => (i, s"doc-$i-" + ("abcdef" * 6)))
      .toDF("doc_id", "text")
    val out = Sampling.fimSplit(docs, "doc_id", "text", pct = 60).collect()
    assert(out.length == 81)
    val applied = out.filter(_.getAs[Boolean]("fim_applied"))
    // 60% selection is hash-driven: nontrivial both ways
    assert(applied.length > 20 && applied.length < 70)
    applied.foreach { r =>
      val t = r.getAs[String]("text")
      val f = r.getAs[String]("fim_text")
      val (np, nm, ns) = (r.getAs[Long]("n_prefix"),
        r.getAs[Long]("n_middle"), r.getAs[Long]("n_suffix"))
      // prefix/suffix never empty, cuts interior, lengths partition n
      assert(np >= 1 && ns >= 1 && nm >= 0 && np + nm + ns == t.length)
      // parse <PRE>p<SUF>s<MID>m and restitch p+m+s == original
      val m1 = "(?s)^<PRE>(.*)<SUF>(.*)<MID>(.*)$".r
      f match {
        case m1(p, sx, mid) =>
          assert(p.length == np && sx.length == ns && mid.length == nm)
          assert(p + mid + sx == t, s"restitch failed for ${r}")
        case _ => fail(s"bad PSM shape: $f")
      }
    }
    // non-selected rows pass through byte-identical with NULL lengths
    out.filter(!_.getAs[Boolean]("fim_applied")).foreach { r =>
      assert(r.getAs[String]("fim_text") == r.getAs[String]("text"))
      assert(r.isNullAt(r.fieldIndex("n_prefix")))
    }
  }

  test("fimSplit: determinism, salts, degenerate and null docs") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "ab"), (2L, "x"), (3L, null.asInstanceOf[String]),
      (4L, "")).toDF("doc_id", "text")
    val a = Sampling.fimSplit(docs, "doc_id", "text", pct = 100).collect()
      .map(r => r.getLong(0) -> r).toMap
    // n=2: the only interior cut is 1|1 -> middle empty, both cuts = 1
    assert(a(1L).getAs[Boolean]("fim_applied"))
    assert(a(1L).getAs[String]("fim_text") == "<PRE>a<SUF>b<MID>")
    // single char / null / empty: pass through even at pct=100
    Seq(2L, 3L, 4L).foreach(i =>
      assert(!a(i).getAs[Boolean]("fim_applied"), s"doc $i"))
    assert(a(3L).isNullAt(a(3L).fieldIndex("fim_text")))
    assert(a(4L).getAs[String]("fim_text") == "")
    // pct=0 applies nowhere; same salt same draw, new salt new draw
    val many = (0L to 200L).map((_, "abcdefghij")).toDF("doc_id", "text")
    assert(Sampling.fimSplit(many, "doc_id", "text", pct = 0)
      .where(col("fim_applied")).count() == 0)
    def keys(salt: String) = Sampling
      .fimSplit(many, "doc_id", "text", pct = 50, salt = salt)
      .where(col("fim_applied")).select("doc_id").as[Long].collect().toSet
    assert(keys("fim") == keys("fim"))
    assert(keys("fim") != keys("other"))
  }
}
