package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning,
  SinglePartition}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec}
import org.apache.spark.sql.graft.Bridge

/** Eagerly materialize a DataFrame and cut its lineage, telling the
  * planner how the stored rows are laid out and how big they are.
  *
  * `localCheckpoint(eager = true)` alone stores the rows but, with AQE on,
  * declares `UnknownPartitioning(0)`: `Dataset.checkpoint` reads the
  * partitioning of the `AdaptiveSparkPlanExec` wrapper, not of the final
  * plan that produced the rows. It also carries the optimizer's size
  * estimate, which after a few joins can be off by many orders of
  * magnitude. So a loop that checkpoints a table and joins or groups it
  * on the same key next round exchanges rows it just laid out, and two
  * 1-partition tables still get shuffled, because `EnsureRequirements`
  * trusts a single partition only up to `spark.sql.maxSinglePartitionBytes`
  * of estimated size.
  *
  * Here the checkpoint's `LogicalRDD` is rebuilt around the same stored
  * RDD with
  *  - partitioning read from the plan that actually ran (the final
  *    adaptive plan; with AQE off, the plan itself): `SinglePartition`
  *    when the RDD has one partition; else that plan's
  *    `HashPartitioning` when it has the RDD's partition count and no
  *    shuffle read in the plan coalesced or split partitions; else
  *    Spark's own declaration;
  *  - statistics = the bytes the block managers hold for the RDD
  *    (memory plus disk), not the estimate.
  *
  * Rows, order within partitions and lineage cut are the checkpoint's;
  * only what the planner is told changes.
  */
object Materialize {

  def apply(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val stored = ds.localCheckpoint(eager = true).asInstanceOf[classic.Dataset[_]]
    val rel = stored.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val ran = ds.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val stats = Statistics(sizeInBytes = BigInt(Bridge.storedBytes(rel.rdd)))
    Bridge.ofRows(stored.sparkSession,
      LogicalRDD(rel.output, rel.rdd, declared(ran, rel), rel.outputOrdering,
        rel.isStreaming)(stored.sparkSession, Some(stats), Some(rel.constraints)))
  }

  private def declared(ran: SparkPlan, rel: LogicalRDD): Partitioning = {
    val n = rel.rdd.getNumPartitions
    val resized = ran.exists {
      case r: AQEShuffleReadExec => r.hasCoalescedPartition || r.hasSkewedPartition
      case _ => false
    }
    ran.outputPartitioning match {
      case _ if n == 1 => SinglePartition
      case h: HashPartitioning if h.numPartitions == n && !resized &&
          h.references.subsetOf(rel.outputSet) => h
      case _ => rel.outputPartitioning
    }
  }
}
