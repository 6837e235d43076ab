package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Package-access bridge: Spark 4 hides the Column ⇄ Expression conversions
  * behind `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`),
  * so custom Catalyst expressions need a shim inside the sql package tree
  * to surface as user-facing `Column`s. Also exposes temp-function
  * registration for SQL-callable custom expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame over a custom LogicalPlan (Dataset.ofRows is
    * private[sql]) — the entry point for whole-operator plan nodes like
    * [[graft.plans.AsOfJoinPlan]].
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame (queryExecution is
    * classic-only in Spark 4).
    */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Bytes the block managers hold for `rdd`'s cached partitions, memory
    * plus disk. Read from the block manager master, which every task
    * updates before it finishes; `SparkContext.getRDDStorageInfo` reads
    * the same numbers from the status store, which the listener bus fills
    * asynchronously, so right after a job it can lag.
    */
  def storedBytes(rdd: org.apache.spark.rdd.RDD[_]): Long = {
    val id = rdd.id
    rdd.sparkContext.env.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks.iterator)
      .collect { case (org.apache.spark.storage.RDDBlockId(`id`, _), s) =>
        s.memSize + s.diskSize }
      .sum
  }

  def registerTempFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
