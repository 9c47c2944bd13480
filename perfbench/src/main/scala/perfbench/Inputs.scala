package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every input of every workload is a pure
  * function of `--seed`; the engine sees only the generated rows. */
object Inputs {

  /** Zipf(s) over ranks 1..n, sampled by inverse cdf. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(rng: java.util.SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      (if (i >= 0) i else -i - 1) min (n - 1)
    }
  }

  val Users = 10000
  val UserSkew = 1.1

  /** One keyed event: a user drawn from a Zipf distribution over
    * [[Users]] users, and a small integer value that is 0 about a tenth
    * of the time. */
  final case class Event(user: String, value: Double)

  final class EventGen(seed: Long) {
    private val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    private val zipf = new Zipf(Users, UserSkew)
    def next(): Event = {
      val u = zipf.sample(rng)
      val v = if (rng.nextInt(10) == 0) 0.0 else (1 + rng.nextInt(100)).toDouble
      Event(s"u$u", v)
    }
  }

  /** The backfill event table: `n` events with `__seq` 0..n-1, a user
    * key with a power-law skew over [[Users]] users, a value that is 0
    * about a tenth of the time, and an event time 10 ms apart with
    * jitter. Generated in parallel from hashes of (seed, seq). */
  def backfillTable(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    def u(salt: Int) = (pmod(xxhash64(col("id"), lit(seed), lit(salt)),
      lit(1L << 40)).cast("double") / (1L << 40).toDouble)
    spark.range(n)
      .select(
        col("id").as("__seq"),
        concat(lit("u"), floor(exp(u(1) * math.log(Users.toDouble)))
          .cast("long").cast("string")).as("user"),
        when(u(2) < 0.1, lit(0.0))
          .otherwise(floor(u(3) * 100) + 1).as("value"),
        timestamp_millis(lit(1700000000000L) + col("id") * 10 +
          floor(u(4) * 10).cast("long")).as("__ts"))
  }

  /** A document corpus: Zipf vocabulary with stopwords of four
    * languages, a long tail of lengths, and injected exact duplicates,
    * near duplicates (a few words changed) and contained passages (a
    * slice of an earlier document). Returns (id, text) rows. */
  def corpus(n: Int, seed: Long): Seq[(Long, String)] = {
    val rng = new java.util.SplittableRandom(seed * 0x2545F4914F6CDD1DL + 7)
    val syll = Seq("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "dra",
      "gon", "li", "sa", "tu", "bem", "or", "qui", "zel", "fa", "nu")
    val words = (0 until 20000).map { i =>
      val k = 1 + (i % 3) + (i / 7919)
      (0 to k).map(j => syll((i * 31 + j * 17 + j * i) % syll.size)).mkString + (i % 97)
    }
    val stop = Map(
      "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
      "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "auf"),
      "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans", "pour", "pas"),
      "es" -> Seq("el", "y", "los", "que", "del", "las", "por", "una", "con", "para"))
    val langs = stop.keys.toIndexedSeq.sorted
    val zipf = new Zipf(words.size, 1.05)
    val docs = new scala.collection.mutable.ArrayBuffer[String](n)
    def fresh(): String = {
      val len = math.exp(math.log(120) + 0.9 * gaussian()).toInt max 8 min 3000
      val sw = stop(langs(rng.nextInt(langs.size)))
      val sb = new StringBuilder
      var i = 0
      while (i < len) {
        if (i > 0) sb.append(if (i % 20 == 0) '\n' else ' ')
        sb.append(if (rng.nextInt(3) == 0) sw(rng.nextInt(sw.size))
                  else words(zipf.sample(rng)))
        if (rng.nextInt(12) == 0) sb.append(if (rng.nextBoolean()) "." else ",")
        i += 1
      }
      sb.toString
    }
    def gaussian(): Double = {
      val a = rng.nextDouble() max 1e-12
      math.sqrt(-2 * math.log(a)) * math.cos(2 * math.Pi * rng.nextDouble())
    }
    while (docs.size < n) {
      val r = rng.nextInt(100)
      val text =
        if (docs.size < 50 || r >= 13) fresh()
        else {
          val src = docs(rng.nextInt(docs.size))
          if (r < 5) src                                    // exact duplicate
          else if (r < 10) {                                // near duplicate
            val t = src.split(" ")
            (0 until (t.length / 25 max 1)).foreach(_ =>
              t(rng.nextInt(t.length)) = words(zipf.sample(rng)))
            t.mkString(" ")
          } else {                                          // contained slice
            val t = src.split(" ")
            val k = (t.length * 0.7).toInt max 1
            val from = rng.nextInt(t.length - k + 1)
            t.slice(from, from + k).mkString(" ")
          }
        }
      docs += text
    }
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
  }
}
