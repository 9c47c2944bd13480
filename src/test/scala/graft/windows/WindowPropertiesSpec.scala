package graft.windows

import graft.SparkSpec

/** Property-style parity (SURVEY §5d): window semantics hold for MANY
  * randomized input streams, not just the reference's fixture vectors.
  * Cases are generated from a fixed seed so failures reproduce. */
class WindowPropertiesSpec extends SparkSpec {

  private def cases[A](n: Int)(gen: scala.util.Random => A)
                      (body: A => Unit): Unit = {
    val rnd = new scala.util.Random(20260812L)
    (1 to n).foreach { i =>
      val c = gen(rnd)
      try body(c)
      catch {
        case e: Throwable =>
          throw new AssertionError(s"case #$i failed for input $c", e)
      }
    }
  }

  private def keyed(values: Seq[Double]) = {
    val s = spark
    import s.implicits._
    values.zipWithIndex.map { case (v, i) => ("k", (i + 1).toLong, v) }
      .toDF("key", "seq", "value")
  }

  test("property: tumbling sum emissions == grouped chunk sums") {
    cases(8) { r =>
      (List.fill(r.nextInt(40))(r.nextDouble() * 200 - 100), 1 + r.nextInt(7))
    } { case (values, size) =>
      val got = CountWindows.tumblingBatch(keyed(values), "key", "seq",
          "value", size, "sum")
        .orderBy("window_id").collect().map(_.getAs[Double]("result")).toSeq
      val expected = values.grouped(size).filter(_.length == size)
        .map(_.sum).toSeq
      assert(got.length == expected.length)
      assert(got.zip(expected).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    }
  }

  test("property: sliding emissions at max(size,res) cadence, ring content") {
    val s = spark
    import s.implicits._
    implicit val ss: org.apache.spark.sql.SparkSession = s
    val split = new scala.util.Random(20261019L)
    cases(8) { r =>
      (List.fill(r.nextInt(40))(r.nextDouble() * 200 - 100),
        1 + r.nextInt(6), 1 + r.nextInt(9))
    } { case (values, size, res) =>
      val got = CountWindows.slidingBatch(keyed(values), "key", "seq",
          "value", size, res, "max")
        .orderBy("emit_at").collect()
        .map(r => (r.getAs[Int]("emit_at"), r.getAs[Double]("result"))).toSeq
      def expectedAt(res: Int): Seq[(Int, Double)] = {
        val firstEmit = math.max(size, res)
        values.indices
          .filter(i => i >= firstEmit - 1 && (i - (firstEmit - 1)) % res == 0)
          .map(i => (i, values.slice(math.max(0, i - size + 1), i + 1).max))
      }
      val expected = expectedAt(res)
      assert(got == expected)
      // the streaming operator at the same (size, res)
      val samples = values.zipWithIndex.map { case (v, i) => (i + 1L, v) }
      val stream = CountWindows.countStream(samples.map { case (q, v) =>
          CountWindows.KeyedSample("k", q, v) }.toDS(), size, res, "max")
        .collect().map(e => ((e.emitAtSeq - 1).toInt, e.result))
        .sortBy(_._1).toSeq
      assert(stream == expected)
      // the fold over random shuffled micro-batches, state carried
      // between them, emits what one batch does, at this cadence and at
      // the tumbling one (res == size), where the ring never holds a
      // full window between batches
      def foldBatches(res: Int): Seq[(Int, Double)] = {
        var st = CountWindows.CountState(Vector.empty[Double], 0L, -1L)
        val out = Seq.newBuilder[(Int, Double)]
        var rest = samples
        while (rest.nonEmpty) {
          val (batch, tail) = rest.splitAt(1 + split.nextInt(rest.length))
          val (next, emits) =
            CountWindows.countFold(split.shuffle(batch), st, size, res)
          if (res == size)
            assert(next.ring.length < size, s"ring after a batch: $next")
          out ++= emits.map { case (q, ring) => ((q - 1).toInt, ring.max) }
          st = next
          rest = tail
        }
        out.result()
      }
      assert(foldBatches(res) == expected)
      assert(foldBatches(size) == expectedAt(size))
    }
  }

  test("property: keyed tumbling stream == driver-side per-name chunk agg") {
    val s = spark
    import s.implicits._
    implicit val ss: org.apache.spark.sql.SparkSession = s
    cases(5) { r =>
      val names = Seq("a", "b", "c")
      (List.fill(2 + r.nextInt(25))(
        (names(r.nextInt(names.length)), r.nextDouble() * 100)),
        1 + r.nextInt(5))
    } { case (samples, size) =>
      val ds = samples.zipWithIndex.map { case ((n, v), i) =>
        CountWindows.KeyedNamedSample("k", i + 1L, n, v) }.toDS()
      val got = CountWindows.keyedCountStream(ds, size, "sum")
        .collect().map(e => (e.emitAtSeq, e.result)).sortBy(_._1).toSeq
      // reference semantics: window closes on the size-th sample of the
      // GROUP (names mixed); emission = per-name sums of that chunk
      val expected = samples.grouped(size).zipWithIndex
        .filter(_._1.length == size)
        .map { case (chunk, w) =>
          ((w + 1L) * size,
            chunk.groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).sum })
        }.toSeq
      assert(got.length == expected.length)
      got.zip(expected).foreach { case ((s1, m1), (s2, m2)) =>
        assert(s1 == s2)
        assert(m1.keySet == m2.keySet)
        m1.foreach { case (k, v) => assert(math.abs(v - m2(k)) < 1e-9) }
      }
    }
  }

  test("property: streaming tumbling operator == reference chunk avg") {
    val s = spark
    import s.implicits._
    implicit val ss: org.apache.spark.sql.SparkSession = s
    cases(5) { r =>
      (List.fill(r.nextInt(30))(r.nextDouble() * 200 - 100), 1 + r.nextInt(5))
    } { case (values, size) =>
      val ds = values.zipWithIndex
        .map { case (v, i) => CountWindows.KeyedSample("k", i + 1L, v) }
        .toDS()
      val stream = CountWindows.countStream(ds, size, size, "avg")
        .collect().map(e => (e.emitAtSeq, e.result)).sortBy(_._1).toSeq
      val expected = values.grouped(size).zipWithIndex
        .filter(_._1.length == size)
        .map { case (chunk, w) => ((w + 1L) * size, chunk.sum / size) }.toSeq
      assert(stream.length == expected.length)
      assert(stream.zip(expected).forall { case ((s1, r1), (s2, r2)) =>
        s1 == s2 && math.abs(r1 - r2) < 1e-9 })
    }
  }
}
