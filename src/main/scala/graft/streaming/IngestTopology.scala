package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The crawler topology (E1/E2, SURVEY.md §3) as two chained micro-batch
  * streaming stages over file queues — no network anywhere: the Riot HTTP
  * API is modeled as lookup tables ("api tables") joined against the id
  * stream, preserving the reference's error→null tolerance (a missing api
  * row ≙ a failed fetch).
  *
  *   stage 1 (≙ tasks.get_match_id_list): user-id queue → dedup(TTL) →
  *     join user→match-ids api table → explode → match-id queue.
  *   stage 2 (≙ tasks.get_match_info): match-id queue → dedup(permanent) →
  *     full-outer join of detail + timeline api tables (keep row if EITHER
  *     side fetched, `tasks.py:112-115`) → ARAM gate (`tasks.py:136-139`)
  *     → struct-nest timeline (`tasks.py:141-143`) → upsert sink; and the
  *     self-feeding loop: participants re-enqueued to the user-id queue
  *     BEFORE the ARAM gate (preserving the reference's ordering quirk —
  *     non-ARAM participants still enter the frontier).
  *
  * Rate limiting ≙ `maxFilesPerTrigger` (the ≤2000-ids drain cap,
  * `tasks.py:45-52`) + processing-time trigger (Celery beat's 120 s
  * cadence, `celery_app.py:41-50`).
  */
object IngestTopology {

  val idSchema: StructType = StructType(Seq(StructField("id", StringType),
    StructField("ts", TimestampType)))

  /** Stage 1: user-id file queue → match-id file queue. */
  def userToMatchIds(spark: SparkSession, userQueueDir: String, matchQueueDir: String,
      userMatches: DataFrame, checkpointDir: String, ttl: String = "6 hours",
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val users = spark.readStream.schema(idSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).json(userQueueDir)
    val deduped = DedupQueue.dedupWithTtl(users, Seq("id"), "ts", ttl)
    val matchIds = deduped
      .join(userMatches.withColumnRenamed("user_id", "id"), Seq("id"), "left")
      .select(explode_outer(col("match_ids")).as("id"), col("ts"))
      .filter(col("id").isNotNull)
    matchIds.writeStream
      .option("checkpointLocation", s"$checkpointDir/stage1")
      .trigger(Trigger.AvailableNow())
      .format("json").start(matchQueueDir)
  }

  /** Stage 2: match-id queue → merged ARAM match docs (upsert sink) +
    * participants re-enqueued as users.
    */
  def matchIdsToDocs(spark: SparkSession, matchQueueDir: String, userQueueDir: String,
      details: DataFrame, timelines: DataFrame, sinkDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val ids = spark.readStream.schema(idSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).json(matchQueueDir)
    val deduped = DedupQueue.dedupPermanent(ids, Seq("id"))

    deduped.writeStream
      .option("checkpointLocation", s"$checkpointDir/stage2")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // J4: full-outer merge; keep the row if either fetch succeeded.
        val merged = batch.select(col("id"), col("ts"))
          .join(details.withColumnRenamed("match_id", "id"), Seq("id"), "left")
          .join(timelines.withColumnRenamed("match_id", "id"), Seq("id"), "left")
          .filter(col("detail").isNotNull || col("timeline").isNotNull)
        // self-feeding loop: participants -> user queue (before ARAM gate,
        // matching the reference's enqueue-then-filter order).
        val participants = merged
          .select(explode_outer(col("detail.metadata.participants")).as("id"), col("ts"))
          .filter(col("id").isNotNull)
        if (!participants.isEmpty) {
          participants.write.mode("append").json(userQueueDir)
        }
        // ARAM gate + nest timeline + idempotent upsert by match id.
        val aram = merged
          .filter(col("detail.info.gameMode") === "ARAM")
          .select(col("id").as("match_id"), col("detail"), col("timeline"), col("ts"))
        UpsertSink.writeDelta(aram, batchId, sinkDir)
        ()
      }.start()
  }
}
