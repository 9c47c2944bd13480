package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ChunkIndex, Chunking}

/** Deterministic chunked replay of [[Chunking.chunkVerdictStream]] —
  * the at-ingest novelty scorer driven through a real file-source
  * stream, chunk by chunk, and returned as a batch frame (the same
  * [[ReplayHarness]] contract as the sessionization and watermark
  * gates). The query is fully stateless (row-local CDC kernel +
  * stream-static index join), so the replay result equals the batch
  * run of the same verdicts regardless of chunking — which is exactly
  * what the gate's oracle checks. */
object StreamingNovelty {

  /** Stage `docs` by `chunk`, stream them through the verdict query
    * against `idx`, return every emitted verdict row. */
  def verdictReplay(docs: DataFrame, idCol: String, textCol: String,
                    idx: ChunkIndex, chunk: Column, nChunks: Int)
                   (implicit spark: SparkSession): DataFrame =
    ReplayHarness.replayToBatch(spark, docs,
      Seq(col(idCol).as("id"), col(textCol).as("text")),
      chunk, nChunks, 4, "graft_cn_")(
      stream => Chunking.chunkVerdictStream(stream, "id", "text", idx))
}
