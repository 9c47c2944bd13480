package graft.operators

/** Driver-local twins of the selection trainers, kept as the specs'
  * reference: each computes what a distributed trainer computes, over
  * an explicit collection, so a spec can check the trainer against it. */
object SelectionReference {

  /** Driver-local twin of [[Selection.trainQualityClassifier]] — the
    * same integer-quantized GD over an explicit (doc, y, bucketSet)
    * frame; SelectionSpec pins local == distributed. */
  def trainQualityClassifierLocal(
      rows: Seq[(Long, Double, Set[Long])], iters: Int, lr: Double,
      buckets: Int): (Array[Long], Long) = {
    val n = rows.length
    require(n > 0, "no labeled documents")
    val w = Array.fill(buckets)(0L)
    var bias = 0L
    var it = 0
    while (it < iters) {
      val grads = Array.fill(buckets)(0L)
      var gBias = 0L
      for ((_, y, bs) <- rows) {
        var mg = bias
        bs.foreach(b => mg += w(b.toInt))
        val pMicro = BigDecimal(1e6 / (1.0 + math.exp(-mg.toDouble / 1e6)))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        val r = y.toLong * 1000000L - pMicro
        bs.foreach(b => grads(b.toInt) += r)
        gBias += r
      }
      var b = 0
      while (b < buckets) {
        w(b) += Selection.roundAway(lr * grads(b) / n)
        b += 1
      }
      bias += Selection.roundAway(lr * gBias / n)
      it += 1
    }
    (w, bias)
  }

  /** Hashed bucket of one token — the md5-prefix convention, for
    * driver-local feature construction. */
  def tokenBucket(w: String, buckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.take(3).map(b => f"$b%02x").mkString // first 6 hex chars
    java.lang.Long.parseLong(hex, 16) % buckets
  }
}
