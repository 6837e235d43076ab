package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Checkpoint recovery + backpressure: the at-least-once → effectively-
  * exactly-once story (SURVEY.md §2.10). Dedup state must survive a query
  * restart (checkpointed state store), and the drain cap must split a
  * backlog into bounded micro-batches.
  */
class RecoverySpec extends SparkSpec {
  import spark.implicits._

  private def writeIds(dir: String, ids: Seq[String]): Unit =
    ids.toDF("id").withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .coalesce(1).write.mode("append").json(dir)

  test("dedup state survives restart: duplicate ids across a stop/start are not re-emitted") {
    val base = Files.createTempDirectory("recov").toString
    val src = s"$base/src"; val ckpt = s"$base/ckpt"; val sink = s"$base/sink"

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(IngestTopology.idSchema).json(src)
      val q = DedupQueue.dedupPermanent(stream, Seq("id"))
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          UpsertSink.writeDelta(batch.select("id", "ts"), batchId, sink)
        }.start()
      q.awaitTermination()
    }

    writeIds(src, Seq("a", "b"))
    runOnce()
    writeIds(src, Seq("b", "c", "a", "d")) // b, a already seen before restart
    runOnce()

    // the listed dirs, not a glob: Spark warns with a stack trace when a
    // glob path has no _spark_metadata log
    val deltas = new java.io.File(sink).listFiles()
      .filter(_.getName.startsWith("delta_")).map(_.getPath)
    val emitted = spark.read.parquet(deltas.toSeq: _*).select("id")
      .collect().map(_.getString(0)).sorted
    assert(emitted.toSeq === Seq("a", "b", "c", "d"), s"got ${emitted.mkString(",")}")
  }

  test("O4 drain cap: a backlog is processed as multiple bounded micro-batches") {
    val base = Files.createTempDirectory("drain").toString
    val src = s"$base/src"; val ckpt = s"$base/ckpt"
    (1 to 4).foreach(i => writeIds(src, Seq(s"id$i"))) // 4 separate files
    val batches = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val stream = spark.readStream.schema(IngestTopology.idSchema)
      .option("maxFilesPerTrigger", 1).json(src)
    val q = stream.writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batches.put(batchId, batch.count()); ()
      }.start()
    q.awaitTermination()
    assert(batches.size === 4, s"got $batches")   // one file per trigger
    assert(batches.values.forall(_ == 1L))
  }
}
