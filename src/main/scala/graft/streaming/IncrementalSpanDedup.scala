package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.llm.SpanDedup

/** Continuous substring dedup: each micro-batch of documents is scrubbed
  * against the window-hash store accumulated from every prior batch, then
  * contributes its own new hashes — the streaming form of
  * [[graft.llm.SpanDedup.incrementalScrub]], so a crawl pipeline removes
  * repeated spans (license boilerplate, quoted headers) the moment the
  * second copy arrives, without ever re-hashing historical text.
  *
  * Same batchId-tagged delta discipline as [[IncrementalDedup]]: the
  * store view for batch N is strictly `spans_<id < N>`, so an
  * at-least-once replay sees the same prior state it saw the first time
  * and overwrites exactly its own outputs — net state is identical
  * however many times Spark re-delivers the batch.
  */
object IncrementalSpanDedup {

  /** foreachBatch body. Writes `dir/scrubbed_<batchId>` (the batch with
    * repeated spans removed) and `dir/spans_<batchId>` (window hashes
    * first seen in this batch).
    */
  def processBatch(batch: DataFrame, batchId: Long, dir: String,
      idCol: String, textCol: String, k: Int = 8): Unit = {
    val spark = batch.sparkSession
    val prior = IncrementalDedup.priorBatchDirs(spark, dir, "spans_", batchId)
    val store =
      if (prior.isEmpty) spark.range(0).selectExpr("id AS h").filter("false")
      else spark.read.parquet(prior: _*)
    val (scrubbed, newHashes) =
      SpanDedup.incrementalScrub(batch, store, idCol, textCol, k)
    scrubbed.write.mode("overwrite").parquet(s"$dir/scrubbed_$batchId")
    newHashes.write.mode("overwrite").parquet(s"$dir/spans_$batchId")
  }

  /** Scrubbed documents across every processed batch; empty (with the
    * scrub schema) when no batch has committed yet.
    */
  def scrubbedSoFar(spark: SparkSession, dir: String): DataFrame =
    IncrementalDedup.readAllBatches(spark, dir, "scrubbed_",
      StructType(Seq(StructField("doc_id", LongType), StructField("n_kept", LongType),
        StructField("n_removed", LongType), StructField("text_scrubbed", StringType))))
}
