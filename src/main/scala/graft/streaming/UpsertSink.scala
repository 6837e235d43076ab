package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.Dedup

/** Idempotent key-based upsert sink — the reference's
  * `replace_one({_id}, doc, upsert=True)` Mongo writes
  * (`extractor/riot/db/mongodb.py:27-107`): at-least-once delivery +
  * last-write-wins by key = effectively-exactly-once contents.
  *
  * Log-structured design: each micro-batch appends a parquet delta under
  * `dir/delta_<epoch>/`; readers (and the periodic compactor) resolve the
  * current state with a last-write-wins window over (key, version). This is
  * the scalable shape — appends are cheap and parallel, conflict resolution
  * is one shuffle at read/compact time, and replaying a batch (Spark's
  * at-least-once `foreachBatch` contract) is harmless because the same
  * (key, version) rows resolve identically.
  */
object UpsertSink {

  /** foreachBatch body: append the batch as a delta, tagged with batchId so
    * replays overwrite their own delta deterministically.
    */
  def writeDelta(batch: DataFrame, batchId: Long, dir: String): Unit =
    batch.write.mode("overwrite").parquet(s"$dir/delta_$batchId")

  /** Resolve current state: newest row per key across all deltas. Reads
    * the listed delta dirs, not a `delta_*` glob: Spark probes a glob path
    * literally for a `_spark_metadata` log and warns with a stack trace
    * when it is missing.
    */
  def readCurrent(spark: SparkSession, dir: String, keyCols: Seq[String],
      versionCols: Seq[String]): DataFrame = {
    val (_, deltas) = listDeltas(spark, dir)
    require(deltas.nonEmpty, s"no delta_* dirs under $dir")
    val all = spark.read.parquet(deltas.map(_.toString).toSeq: _*)
    Dedup.lastWriteWins(all, keyCols, versionCols.map(col(_).desc))
  }

  /** The dir's OWN filesystem (never `FileSystem.get`'s default — the
    * state dir may live on s3a/hdfs while the default FS is local), plus
    * the delta entries under it.
    */
  private def listDeltas(spark: SparkSession, dir: String)
      : (org.apache.hadoop.fs.FileSystem, Array[org.apache.hadoop.fs.Path]) = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.listStatus(base).map(_.getPath).filter(_.getName.startsWith("delta_")))
  }

  /** Compact deltas into a single resolved snapshot (run periodically;
    * readers between compactions pay one window over the delta tail).
    *
    * Safe concurrent with the streaming writer and across crashes:
    *  - the input set is SNAPSHOT once up front; deltas appended after the
    *    listing are neither read nor deleted by this round;
    *  - the snapshot is renamed into place BEFORE its inputs are deleted —
    *    a crash at any point leaves either the inputs, or the snapshot plus
    *    some inputs, both of which LWW-resolve to the same state
    *    (compaction is idempotent under last-write-wins);
    *  - the output is `delta_compacted_<tag>` with a strictly increasing
    *    tag (max trailing number over all inputs, plus one), so it can
    *    never collide with a `delta_<batchId>` from a restarted query
    *    replaying old batch ids, nor with a previous compaction's output.
    */
  def compact(spark: SparkSession, dir: String, keyCols: Seq[String],
      versionCols: Seq[String]): Unit = {
    val (fs, inputs) = listDeltas(spark, dir)
    // nothing new since the last compaction → no-op
    if (!inputs.exists(_.getName.matches("delta_\\d+"))) return
    val tag = inputs.flatMap(p => "\\d+$".r.findFirstIn(p.getName))
      .map(_.toLong).max + 1
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/compacted_tmp")
    val out = new org.apache.hadoop.fs.Path(s"$dir/delta_compacted_$tag")
    Dedup.lastWriteWins(spark.read.parquet(inputs.map(_.toString).toSeq: _*),
        keyCols, versionCols.map(col(_).desc))
      .write.mode("overwrite").parquet(tmp.toString)
    // the snapshot must be live before any input dies: a false return
    // (dest exists from a racing compactor, tmp missing, S3A refusal)
    // followed by the deletes would silently lose the state
    require(fs.rename(tmp, out), s"compaction rename $tmp -> $out failed; inputs left intact")
    inputs.foreach(p => fs.delete(p, true))
  }
}
