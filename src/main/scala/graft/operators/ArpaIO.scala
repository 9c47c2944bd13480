package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A parsed ARPA n-gram model: per order (index j-1), grams in FILE
  * order as (gram, log10 prob, log10 backoff weight). Backoff is 0.0
  * where the file omitted it (the ARPA convention for a gram never
  * used as a context) and is never written for the highest order.
  * Driver-local by contract — an n-gram MODEL is a shipped artifact
  * (CCNet distributes a pretrained 5-gram KenLM; Wenzek et al., LREC
  * 2020), bounded like a tokenizer vocabulary, never a distributed
  * frame; corpus-sized counts stay in [[NgramIndex]]. */
case class ArpaModel(order: Int,
                     grams: IndexedSeq[Vector[(String, Double, Double)]]) {
  require(order >= 1 && grams.length == order,
    s"grams must have one section per order 1..$order")
}

/** ARPA text-format interchange for the n-gram LM family — the model
  * side of what [[VocabIO]] is to tokenizers, so the engine's
  * count-derived scores interoperate with the standard n-gram tooling
  * (KenLM/SRILM both read and write ARPA):
  *
  *  - '''export''' ([[ArpaIO.toArpa]]): serialize the engine's
  *    stupid-backoff model — per-order MLE conditional probabilities
  *    `c(h w)/c(h)` with the constant per-level backoff `alpha`, and
  *    the add-k unigram floor over (N, V) including an `<unk>` entry —
  *    as a valid ARPA file. Stupid backoff is NOT a normalized
  *    distribution (Brants et al. 2007 say so themselves); the export
  *    is the standard serialization OF that model, consumable by any
  *    ARPA reader, not a Kneser-Ney re-estimate.
  *  - '''import''' ([[ArpaIO.fromArpa]]): parse an ARPA file — e.g. a
  *    real pretrained KenLM artifact — into [[ArpaModel]].
  *  - '''score''' ([[ArpaIO.scoreAgainst]]): score a corpus with an
  *    imported model under the standard ARPA backoff-walk semantics.
  *
  * Round-trips are byte-stable for canonically rendered files
  * (spec-pinned): [[render]] writes sections in order, entries in the
  * model's stored order, tab-separated fields, and every double as
  * fixed 6-decimal text — export → import → re-export reproduces the
  * bytes, and all engine-produced values sit on the round-6 grid (the
  * engine-wide cross-engine quantization contract). A foreign file
  * round-trips STRUCTURALLY (import → export → import is identity);
  * its float spellings and field spacing are canonicalized.
  *
  * Loud-refusal boundary discipline (the [[VocabIO]] template): NaN or
  * infinite scores, duplicate grams, section counts that disagree with
  * the `\data\` header, missing orders, and a missing `<unk>` at
  * scoring time are all rejected with a message, never silently
  * repaired.
  *
  * Reference scope: the reference engine has no model interchange
  * (its aggregations are windowed min/max/sum/avg/count,
  * /root/reference/functions); this is part of the training-data
  * extension, the artifact boundary of [[CorpusStats]]'s LM family. */
object ArpaIO {

  /** Round-6 quantization — ONE definition engine-wide:
    * [[Subword.round6]] (the unigram trainer's grid), re-exported here
    * for SparkEntry's oracle generator so the two sides can never
    * embed different grid conventions. */
  private[graft] def round6(d: Double): Double = Subword.round6(d)

  /** Fixed 6-decimal rendering — the canonical float spelling. Every
    * engine-produced value is round-6 quantized first, so the decimal
    * parses back to the identical double (nearest-double of a 6-dp
    * decimal) and re-renders to the identical bytes. */
  private def fmt(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))

  val Unk = "<unk>"

  /** Serialize the engine's count-derived stupid-backoff model over
    * `train` as ARPA text. Unigrams carry the add-k floor
    * `(c+k)/(N+kV)` (plus the `<unk>` entry at `k/(N+kV)`, so an
    * importer reproduces the engine's OOV handling); higher orders
    * carry the MLE conditional `c(h w)/c(h)`; every gram below the
    * top order carries the constant backoff `log10(alpha)`. All
    * log10 values are round-6 quantized (the cross-engine grid).
    * Grams render in lexicographic order — canonical, so identical
    * corpora produce identical bytes on any cluster.
    *
    * Driver-local by contract: refuses (loudly) a model larger than
    * `maxGrams` total entries — the same driver-sized-artifact bound
    * as [[VocabIO]]. A corpus whose gram inventory exceeds it should
    * ship counts via [[NgramIndex]], not ARPA text. */
  def toArpa(train: DataFrame, textCol: String, order: Int,
             alpha: Double = 0.4, k: Double = 0.5,
             maxGrams: Long = 2000000L): String = {
    require(order >= 1 && order <= 8,
      s"order must be in 1..8, got $order")
    require(alpha > 0.0 && alpha <= 1.0,
      s"backoff alpha must be in (0, 1], got $alpha")
    require(k > 0.0, s"smoothing k must be positive, got $k")
    // ONE tokenize+count pass for ALL orders (the r19 unified
    // (j, g, c) frame, raw string keys — the export needs gram TEXT,
    // not digests), collected in ONE bounded job: the model is
    // driver-local by contract, so the MLE denominator c(h) is a
    // driver-side map lookup over the (j-1)-gram slice instead of a
    // distributed prefix join, and the per-order collect jobs the
    // previous form paid (one scan + one action per order) collapse to
    // a single scan + single action. The size guard rides IN the
    // collect: limit(maxGrams+1) bounds the driver transfer before any
    // row lands — the total gram inventory is exactly what the old
    // cumulative per-order budget bounded, so the refusal condition is
    // unchanged. A prefix of an observed j-gram is itself an observed
    // (j-1)-gram, so the map lookup totals like the join it replaces
    // (asserted below).
    val allRows = CorpusStats
      .ngramCountsUnified(train, textCol, order, None, digest = false)
      .limit(math.min(maxGrams, Int.MaxValue - 2).toInt + 1)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // this bound check must precede ANY use of the per-order slices:
    // past the bound, the limit keeps an arbitrary cross-order subset
    // of the rows, so a slice (the unigram Unk check below included)
    // would read a truncated order
    require(allRows.length <= maxGrams,
      s"the gram inventory pushes the model past the " +
        s"driver-local ARPA bound $maxGrams — ship corpus-scale " +
        "counts via NgramIndex, not ARPA text")
    val byOrder = allRows.groupBy(_._1)
    def slice(j: Int): Array[(String, Long)] =
      byOrder.getOrElse(j, Array.empty).map { case (_, g, c) => (g, c) }
    val uni = slice(1)
    require(!uni.exists(_._1 == Unk),
      s"train corpus contains a literal '$Unk' token — it would " +
        "collide with the OOV entry; filter or rename it upstream")
    val n = uni.map(_._2).sum
    val v = uni.length.toLong
    val denom = n + k * v
    val lb = round6(math.log10(alpha))
    val g1 = (uni.map { case (w, c) =>
      (w, round6(math.log10((c + k) / denom)), lb)
    } :+ ((Unk, round6(math.log10(k / denom)), lb)))
      .sortBy(_._1).toVector
    var prev: Map[String, Long] = uni.toMap
    val higher = (2 to order).map { j =>
      val cur = slice(j)
      val sec = cur.map { case (g, c) =>
        val cut = g.lastIndexOf(' ')
        val pc = prev.getOrElse(g.substring(0, cut),
          throw new IllegalStateException(
            s"observed $j-gram '$g' has an unobserved prefix — " +
              "count tables disagree"))
        (g, round6(math.log10(c.toDouble / pc.toDouble)),
          if (j == order) 0.0 else lb)
      }.sortBy(_._1).toVector
      prev = cur.toMap
      sec
    }
    render(ArpaModel(order, g1 +: higher.toIndexedSeq))
  }

  /** Render a model as canonical ARPA text (see the byte-stability
    * contract above). */
  def render(model: ArpaModel): String = {
    val sb = new StringBuilder
    sb.append("\\data\\\n")
    (1 to model.order).foreach(j =>
      sb.append(s"ngram $j=${model.grams(j - 1).length}\n"))
    (1 to model.order).foreach { j =>
      sb.append(s"\n\\$j-grams:\n")
      model.grams(j - 1).foreach { case (g, lp, bo) =>
        require(!lp.isNaN && !lp.isInfinite && !bo.isNaN &&
          !bo.isInfinite, s"non-finite score on '$g' — refusing to " +
          "export a model no ARPA reader can consume")
        require(g.split(" ", -1).count(_.nonEmpty) == j &&
          !g.contains("\t") && !g.contains("\n"),
          s"'$g' is not a $j-gram of space-joined, tab/newline-free " +
            "tokens")
        if (j == model.order) sb.append(s"${fmt(lp)}\t$g\n")
        else sb.append(s"${fmt(lp)}\t$g\t${fmt(bo)}\n")
      }
    }
    sb.append("\n\\end\\\n")
    sb.toString
  }

  /** Parse ARPA text into [[ArpaModel]]. Strict at the boundary:
    * `\data\` header counts must match section row counts, orders
    * must be contiguous 1..max, grams must be unique per order,
    * scores must be finite, fields are tab-separated (grams contain
    * spaces, so tab IS the field separator — the form KenLM/SRILM
    * write). A missing backoff field reads as 0.0 (the ARPA
    * convention); a backoff on the highest order is refused. CRLF
    * input is accepted (the [[VocabIO]] .vocab discipline). */
  def fromArpa(text: String): ArpaModel = {
    val lines = text.split("\n", -1).map(_.stripSuffix("\r"))
    val start = lines.indexWhere(_.trim == "\\data\\")
    require(start >= 0, "no \\data\\ header")
    var i = start + 1
    val declared = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val NgramRe = """ngram\s+(\d+)\s*=\s*(\d+)""".r
    while (i < lines.length && lines(i).trim.nonEmpty) {
      lines(i).trim match {
        case NgramRe(j, c) => declared += ((j.toInt, c.toLong))
        case other => throw new IllegalArgumentException(
          s"unexpected line in \\data\\ section: '$other'")
      }
      i += 1
    }
    require(declared.nonEmpty, "empty \\data\\ section")
    val order = declared.length
    require(declared.map(_._1).toSeq == (1 to order),
      s"ngram orders must be contiguous 1..$order, got " +
        declared.map(_._1).mkString(","))
    def parseD(s: String, what: String): Double = {
      val d = try s.toDouble catch {
        case _: NumberFormatException => throw new
            IllegalArgumentException(s"unparseable $what: '$s'")
      }
      require(!d.isNaN && !d.isInfinite, s"non-finite $what: '$s'")
      d
    }
    val sections = (1 to order).map { j =>
      while (i < lines.length && lines(i).trim.isEmpty) i += 1
      require(i < lines.length && lines(i).trim == s"\\$j-grams:",
        s"expected \\$j-grams: section, got " +
          (if (i < lines.length) s"'${lines(i)}'" else "end of file"))
      i += 1
      val rows = Vector.newBuilder[(String, Double, Double)]
      var m = 0L
      while (i < lines.length && lines(i).trim.nonEmpty) {
        val f = lines(i).split("\t", -1)
        require(f.length == 2 || f.length == 3,
          s"entry is not 'logp<TAB>gram[<TAB>logb]': '${lines(i)}'")
        require(f.length == 2 || j < order,
          s"backoff weight on a top-order gram: '${lines(i)}'")
        val gram = f(1)
        require(gram.split(" ", -1).count(_.nonEmpty) == j,
          s"'$gram' in the $j-grams section is not a $j-gram")
        rows += ((gram, parseD(f(0), s"log-prob for '$gram'"),
          if (f.length == 3) parseD(f(2), s"backoff for '$gram'")
          else 0.0))
        m += 1; i += 1
      }
      require(m == declared(j - 1)._2,
        s"\\data\\ declares ${declared(j - 1)._2} $j-grams, section " +
          s"has $m")
      rows.result()
    }
    while (i < lines.length && lines(i).trim.isEmpty) i += 1
    require(i < lines.length && lines(i).trim == "\\end\\",
      "missing \\end\\ terminator")
    sections.zipWithIndex.foreach { case (sec, j0) =>
      require(sec.map(_._1).distinct.length == sec.length,
        s"duplicate gram in the ${j0 + 1}-grams section")
    }
    ArpaModel(order, sections.toIndexedSeq)
  }

  /** md5 digest of a gram, driver-side — MUST byte-match
    * [[CorpusStats.gramPositions]]' keys; both sides now go through
    * the SAME [[graft.expressions.Md5Kernel.md5Digest16]] kernel, so
    * the match holds by construction (and a model-sized map doesn't
    * pay a fresh MessageDigest per gram — review finding). */
  private def dig(g: String): Array[Byte] =
    graft.expressions.Md5Kernel.md5Digest16(
      org.apache.spark.unsafe.types.UTF8String.fromString(g))

  /** Score a corpus with an imported ARPA model under the standard
    * backoff-walk semantics: each token scores at its longest
    * available history m = min(position, order);
    *
    * {{{ s(w | h) = logp(h w)                      if h w in the model
    *              = logb(h) + s(w | shorter h)      otherwise }}}
    *
    * with logb(h) = 0 when h is absent, and an absent unigram scoring
    * as `<unk>` (required in the model — KenLM's own contract; refused
    * loudly otherwise). No sentence-boundary `<s>`/`</s>` augmentation:
    * the engine scores documents, not sentences, exactly as
    * [[CorpusStats.ngramLogProbAgainst]] does (a documented divergence
    * from KenLM's sentence convention; a literal `<unk>` token in text
    * matches the model's entry, as in KenLM's vocabulary mapping).
    *
    * Plan shape: the model is driver-local by [[ArpaModel]]'s
    * contract, so each order's (16-byte digest, logp, logb) table
    * BROADCASTS — the corpus-sized side never shuffles for the model.
    * The position stream is [[CorpusStats.gramPositions]] (one
    * doc-keyed window builds all gram digests); context backoffs come
    * from lag(logb_j) over the same window — the count-scorer's
    * lag(c_j) trick, so no extra corpus joins. Adding a coalesced-to-
    * zero backoff term is EXACT in IEEE arithmetic, so the fixed
    * left-associated chain is engine-reproducible (the DuckDB oracle
    * replays it term by term).
    *
    * Output per doc: (doc, n_tokens, n_oov, n_backed, avg_lp10) —
    * avg_lp10 is the round-4 mean LOG10 prob (ARPA's native unit,
    * kept rather than converted to nats so scores compare directly
    * against KenLM's own output). */
  def scoreAgainst(spark: SparkSession, model: ArpaModel,
                   score: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val order = model.order
    val unkLp = model.grams(0).collectFirst {
      case (Unk, lp, _) => lp
    }.getOrElse(throw new IllegalArgumentException(
      "model has no <unk> unigram — scoring needs an OOV floor " +
        "(KenLM models always carry one); refusing to guess"))
    import spark.implicits._
    val tables = (1 to order).map { j =>
      model.grams(j - 1)
        .map { case (g, lp, bo) => (dig(g), lp, bo) }
        .toDF(s"g$j", s"lp$j", s"lb$j")
    }
    val pos = CorpusStats.gramPositions(score, idCol, textCol, order,
      None)
    val joined = tables.zipWithIndex.foldLeft(pos) { case (df, (t, i)) =>
      df.join(broadcast(t), Seq(s"g${i + 1}"), "left_outer")
    }
    val w = Window.partitionBy("doc").orderBy("p")
    // context backoff: the weight of the j-gram ending at p-1 (absent
    // context => 0, the ARPA convention)
    val withB = joined.select(
      Seq(col("doc"), col("p")) ++
        (1 to order).map(j => col(s"lp$j")) ++
        (1 until order).map(j =>
          coalesce(lag(col(s"lb$j"), 1).over(w), lit(0.0)).as(s"b$j")): _*)
    // cumulative backoff from level j: terms at/above the available
    // history m are 0 by the lag-NULL coalesce, and adding 0.0 is
    // exact, so one fixed chain serves every row
    def cb(j: Int) = (j until order).map(i => col(s"b$i"))
      .reduceLeft(_ + _)
    val base =
      when(col("lp1").isNotNull,
        (if (order == 1) col("lp1") else cb(1) + col("lp1")))
        .otherwise(
          if (order == 1) lit(unkLp) else cb(1) + lit(unkLp))
    val s = (2 to order).foldLeft(base) { (acc, j) =>
      when(col(s"lp$j").isNotNull,
        if (j == order) col(s"lp$j") else cb(j) + col(s"lp$j"))
        .otherwise(acc)
    }
    val fullA = (2 until order).foldLeft(
      when(col("p") >= order, col(s"lp$order"))) { (acc, j) =>
      acc.when(col("p") === j, col(s"lp$j"))
    }
    // an order-1 model has no history to back off from — every token
    // is already at its full (empty) context
    val backed =
      if (order == 1) lit(0L)
      else when(col("p") >= 2 && fullA.isNull, 1L).otherwise(0L)
    withB
      .select(col("doc"),
        when(col("lp1").isNull, 1L).otherwise(0L).as("__oov"),
        backed.as("__backed"),
        s.as("__lp"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_tokens"), sum("__oov").as("n_oov"),
        sum("__backed").as("n_backed"),
        round(avg(col("__lp")), 4).as("avg_lp10"))
  }
}
