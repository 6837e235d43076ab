package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.llm.MinHashDedup

/** Continuous corpus dedup: each micro-batch of crawled documents is
  * near-dup-checked against every prior batch via the persisted MinHash
  * signature store, then contributes its own signatures — the streaming
  * form of [[graft.llm.MinHashDedup.incrementalNearDuplicates]], so a
  * crawl pipeline never rebuilds corpus-wide state.
  *
  * Both outputs are batchId-tagged directories (the [[UpsertSink]] delta
  * discipline): the store view for batch N is strictly `sigs_<id < N>`,
  * so an at-least-once replay sees the same prior state it saw the first
  * time (its own and any later directories are ignored) and overwrites
  * exactly its own outputs — net state is identical however many times
  * Spark re-delivers the batch. Note batch ids restart when a query gets
  * a fresh checkpoint; point it at a fresh output dir too.
  */
object IncrementalDedup {

  /** The `<prefix><batchId>` output directories under `dir` (none when
    * `dir` does not exist yet).
    */
  private def batchDirs(spark: SparkSession, dir: String,
      prefix: String): Seq[Path] = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Seq.empty
    else fs.globStatus(new Path(dir, s"$prefix*")).toSeq.map(_.getPath)
  }

  /** The [[batchDirs]] of batches before `batchId`: a replay's view of
    * the store.
    */
  private[streaming] def priorBatchDirs(spark: SparkSession, dir: String,
      prefix: String, batchId: Long): Seq[String] =
    batchDirs(spark, dir, prefix)
      .filter(p => p.getName.stripPrefix(prefix).toLongOption.exists(_ < batchId))
      .map(_.toString)

  /** Every committed `<prefix>*` output under `dir` read as one table, or
    * an empty one with `schema` when no batch has committed yet.
    */
  private[streaming] def readAllBatches(spark: SparkSession, dir: String,
      prefix: String, schema: StructType): DataFrame = {
    val dirs = batchDirs(spark, dir, prefix).map(_.toString)
    if (dirs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.parquet(dirs: _*)
  }

  /** foreachBatch body. Writes `dir/pairs_<batchId>` (near-dup pairs with
    * at least one side in this batch) and `dir/sigs_<batchId>` (this
    * batch's signature rows). The batch is shingled exactly once — the
    * persisted signature table is the same one pair generation consumes.
    */
  def processBatch(batch: DataFrame, batchId: Long, dir: String,
      idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 12, numBands: Int = 4,
      threshold: Double = 0.5): Unit = {
    val spark = batch.sparkSession
    val sigs = MinHashDedup.signatures(batch, idCol, textCol, k, numHashes)
    val prior = priorBatchDirs(spark, dir, "sigs_", batchId)
    val pairs =
      if (prior.isEmpty)
        MinHashDedup.pairsFromSignatures(sigs, idCol, numHashes, numBands, threshold)
      else
        MinHashDedup.incrementalPairsFromSigs(sigs, spark.read.parquet(prior: _*),
          idCol, numHashes, numBands, threshold)
    pairs.write.mode("overwrite").parquet(s"$dir/pairs_$batchId")
    sigs.write.mode("overwrite").parquet(s"$dir/sigs_$batchId")
  }

  /** All near-dup pairs discovered so far, across every processed batch;
    * empty (with the pair schema) when no batch has committed yet.
    */
  def pairsSoFar(spark: SparkSession, dir: String): DataFrame =
    readAllBatches(spark, dir, "pairs_",
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType),
        StructField("jaccard", DoubleType))))
}
