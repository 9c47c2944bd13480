package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The driver-side ingress layer: HTTP round trips without the
  * delayed-ACK stall, and one input partition per core per micro-batch
  * however many pushes or requests fed it. */
class IngressSpec extends SparkSpec {

  /** POST `json` to /ingest on a keep-alive connection and read the
    * whole reply, so the connection goes back to the JDK's pool. */
  private def post(port: Int, json: String): Int = {
    val c = new java.net.URL(s"http://127.0.0.1:$port/ingest")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod("POST"); c.setDoOutput(true)
    c.getOutputStream.write(json.getBytes("UTF-8"))
    val code = c.getResponseCode
    val in = c.getInputStream
    in.readAllBytes(); in.close()
    code
  }

  /** Run `df` to a foreachBatch sink until all available input is
    * processed; returns (input partitions, rows) of each non-empty
    * batch. */
  private def drain(df: DataFrame, cols: String*): Seq[(Int, Seq[String])] = {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Seq[String])]()
    val q = df.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.select(cols.map(col): _*)
          .collect().map(_.mkString("|")).toSeq
        if (rows.nonEmpty) batches.add((batch.rdd.getNumPartitions, rows))
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    batches.toArray(Array.empty[(Int, Seq[String])]).toSeq
  }

  test("REST ingest answers keep-alive clients without the 40 ms stall") {
    implicit val s: SparkSession = spark
    val ingest = new RestIngest(0)
    val port = ingest.start()
    try {
      (0 until 5).foreach(i => assert(post(port, s"""{"v": $i}""") == 200))
      val clients = 4
      val perClient = 50
      val rtts = Array.ofDim[Double](clients, perClient)
      val threads = (0 until clients).map { c =>
        val t = new Thread(() => (0 until perClient).foreach { i =>
          val t0 = System.nanoTime()
          require(post(port, s"""{"v": ${c * perClient + i}}""") == 200)
          rtts(c)(i) = (System.nanoTime() - t0) / 1e6
        })
        t.start(); t
      }
      threads.foreach(_.join(60000))
      val all = rtts.flatten.sorted
      val median = all(all.length / 2)
      assert(median < 15.0, f"median round trip $median%.1f ms")
    } finally ingest.stop()
  }

  test("20 pushes and 20 POSTs drain in one batch of at most one partition per core") {
    implicit val s: SparkSession = spark
    val cores = spark.sparkContext.defaultParallelism
    Channels.reset()
    try {
      val chSchema = StructType(Seq(StructField("n", IntegerType)))
      val sub = Channels.subscribe("ingress_parts", chSchema)
      (0 until 20).foreach(i => Channels.push("ingress_parts", Seq(s"""{"n": $i}""")))
      val chBatches = drain(sub, "n")
      assert(chBatches.size == 1, s"channel batches: $chBatches")
      assert(chBatches.head._1 <= cores, s"${chBatches.head._1} partitions > $cores cores")
      assert(chBatches.head._2.sortBy(_.toInt) == (0 until 20).map(_.toString))
    } finally Channels.reset()

    val ingest = new RestIngest(0)
    val port = ingest.start()
    try {
      val schema = StructType(Seq(StructField("v", IntegerType)))
      (0 until 20).foreach(i => assert(post(port, s"""{"v": ${100 + i}}""") == 200))
      val restBatches = drain(ingest.toDF(schema), "__seq", "v")
      assert(restBatches.size == 1, s"REST batches: $restBatches")
      assert(restBatches.head._1 <= cores, s"${restBatches.head._1} partitions > $cores cores")
      // each request arrives exactly once, under its own arrival number
      val rows = restBatches.head._2.map(_.split('|')).map(a => (a(0).toLong, a(1).toInt))
      assert(rows.sorted == (0 until 20).map(i => (i.toLong, 100 + i)))
    } finally ingest.stop()
  }
}
