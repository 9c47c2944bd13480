package graft.operators

/** Driver-local twins of the subword trainers, kept as the specs'
  * reference: each computes what a distributed trainer computes, over
  * an explicit collection, so a spec can check the trainer against it. */
object SubwordReference {

  /** Driver-local twin of [[Subword.trainUnigram]] over an explicit
    * `(distinct word, count)` frame: seeds and singles mined by direct
    * counting, E-steps run word by word, and the same
    * [[Subword.unigramEmCore]] loop — so the two differ only in where
    * the per-word DP runs. */
  def trainUnigramLocal(words: Seq[(String, Long)],
      seedSize: Int, targetMulti: Int, minN: Int, maxN: Int,
      emRounds: Int, unkScore: Double,
      soft: Boolean = false): Seq[(String, Double)] = {
    val cnt = collection.mutable.HashMap.empty[String, Long]
    val scnt = collection.mutable.HashMap.empty[String, Long]
    for ((w, c) <- words) {
      val cs = Subword.charSeg(w)
      var i = 0
      while (i < cs.length) {
        scnt.updateWith(cs(i))(o => Some(o.getOrElse(0L) + c))
        var n = minN
        while (n <= maxN && i + n <= cs.length) {
          val p = cs.slice(i, i + n).mkString
          cnt.updateWith(p)(o => Some(o.getOrElse(0L) + c))
          n += 1
        }
        i += 1
      }
    }
    val seeds = cnt.toSeq.sortWith((a, b) => a._2 > b._2 ||
        (a._2 == b._2 && Subword.utf8Compare(a._1, b._1) < 0))
      .take(seedSize)
    val singles = scnt.toSeq
      .sortWith((a, b) => Subword.utf8Compare(a._1, b._1) < 0)
    def eStep(scores: Map[String, Double]): Map[String, Long] = {
      val maxLen = scores.keys.map(p => p.codePointCount(0, p.length)).max
      val m = collection.mutable.HashMap.empty[String, Long]
      for ((w, c) <- words) {
        val (ps, _, _) = Subword.viterbiWord(w, scores, maxLen, unkScore)
        ps.foreach(p => m.updateWith(p)(o => Some(o.getOrElse(0L) + c)))
      }
      m.toMap
    }
    def eStepSoft(scores: Map[String, Double]): Map[String, Long] = {
      val maxLen = scores.keys.map(p => p.codePointCount(0, p.length)).max
      val m = collection.mutable.HashMap.empty[String, Long]
      for ((w, c) <- words)
        Subword.softWordCounts(w, scores, maxLen, unkScore).foreach {
          case (p, micro) =>
            m.updateWith(p)(o => Some(o.getOrElse(0L) + c * micro))
        }
      m.toMap
    }
    if (soft)
      Subword.unigramEmCore(seeds, singles, targetMulti, emRounds,
        eStepSoft, unit = 1000000L)
    else Subword.unigramEmCore(seeds, singles, targetMulti, emRounds, eStep)
  }
}
