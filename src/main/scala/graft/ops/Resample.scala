package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization: per-key daily grid expansion + forward fill.
  * The feature-pipeline primitive the reference's per-minute rate features
  * imply but never need (`transformer/ranking/feature_factory.py:49-50`
  * divides by duration instead of resampling) — with real longitudinal
  * data, training features want one row per (entity, day) with gaps carried
  * forward.
  *
  * Scale shape: the grid is generated per key with `sequence()` + `explode`
  * (narrow — no join against a global calendar table), the observation join
  * is key-partitioned, and the fill is a per-key ordered window. Nothing
  * global: wall-clock scales with Σ per-key span, parallel across keys.
  */
object Resample {

  /** Expand each key's [min(dayCol), max(dayCol)] span to one row per day
    * and forward-fill `valueCols` (last non-null wins; days before a key's
    * first observation stay null). `df` must have at most one row per
    * (keys, dayCol) — pre-aggregate to daily grain first.
    */
  def dailyGridFfill(df: DataFrame, keys: Seq[String], dayCol: String,
      valueCols: Seq[String]): DataFrame = {
    val joined = dailyGrid(df, keys, dayCol)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(dayCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valueCols.foldLeft(joined) { (acc, c) =>
      acc.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Every day of each key's [min(dayCol), max(dayCol)] span, left-joined
    * to `df`'s row for that day: the grid both resample modes fill.
    */
  private def dailyGrid(df: DataFrame, keys: Seq[String], dayCol: String): DataFrame = {
    val span = df.groupBy(keys.map(col): _*)
      .agg(min(col(dayCol)).as("__d0"), max(col(dayCol)).as("__d1"))
    val grid = span.select(
      keys.map(col) :+
        explode(sequence(col("__d0"), col("__d1"), expr("interval 1 day"))).as(dayCol): _*)
    grid.join(df, keys :+ dayCol, "left")
  }

  /** Same per-key daily grid, but gaps LINEARLY INTERPOLATED between the
    * surrounding observations instead of carried forward — the resample
    * mode for level-like series (balances, scores) where a step function
    * biases everything after a gap low. Observed days keep their exact
    * value; days before the first or after the last observation stay
    * null (no extrapolation). Adds `<valueCol>_interp` (double) next to
    * the raw column.
    *
    * Scale shape: identical to [[dailyGridFfill]] plus one
    * backward-looking and one forward-looking frame over the SAME
    * per-key ordering — one exchange, one sort, both frames computed on
    * it. The interpolation itself is a narrow all-double expression with
    * a fixed operand order the DuckDB oracle mirrors textually.
    */
  def dailyGridInterp(df: DataFrame, keys: Seq[String], dayCol: String,
      valueCol: String): DataFrame = {
    val joined = dailyGrid(df, keys, dayCol)
    val wPrev = Window.partitionBy(keys.map(col): _*).orderBy(col(dayCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(keys.map(col): _*).orderBy(col(dayCol).asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col(valueCol).isNotNull, col(dayCol))
    joined
      .withColumn("__pv", last(col(valueCol), ignoreNulls = true).over(wPrev))
      .withColumn("__pd", last(obsDay, ignoreNulls = true).over(wPrev))
      .withColumn("__nv", first(col(valueCol), ignoreNulls = true).over(wNext))
      .withColumn("__nd", first(obsDay, ignoreNulls = true).over(wNext))
      .withColumn(s"${valueCol}_interp",
        when(col(valueCol).isNotNull, col(valueCol).cast("double"))
          .when(col("__pv").isNull || col("__nv").isNull,
            lit(null).cast("double"))
          .otherwise(col("__pv").cast("double") +
            (col("__nv") - col("__pv")).cast("double") *
              (datediff(col(dayCol), col("__pd")).cast("double") /
                datediff(col("__nd"), col("__pd")).cast("double"))))
      .drop("__pv", "__pd", "__nv", "__nd")
  }
}
