package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Single-split decision stumps — the threshold form of feature screening.
  * [[Distribution.infoGain]] ranks CATEGORICAL features by entropy;
  * a numeric feature needs the complementary question: "what is the best
  * single threshold, and how much Gini impurity does it remove?" — the
  * inner loop of every tree/GBDT fitter and the standard univariate screen
  * for "is this raw signal worth a feature column". The reference leans on
  * sklearn's tree internals (`transformer/ranking/modeling.py`); at 100 TB
  * the exhaustive threshold scan must be a cumulative window over the
  * distinct-value collapse, never a per-candidate pass.
  *
  * For feature x with binary label y, candidate thresholds are the distinct
  * values v (split: left = x ≤ v); with exact left counts (n_l, pos_l) from
  * one cumulative sum and parent counts (n, pos):
  *   gini(p, n) = 1 − (p/n)² − ((n−p)/n)²
  *   gain(v)    = gini_parent − [n_l/n · gini_left + n_r/n · gini_right]
  *
  * The winner is deterministic: gain quantized to a 1e-12 long grid (the
  * [[graft.llm.Pca]] discipline — IEEE gains are bit-identical cross-engine
  * here, the grid just makes the ORDER a pure integer comparison), ties
  * broken by smallest threshold. Degenerate right-empty candidates
  * (cum = n) are excluded rather than guarded NaN.
  *
  * Scale shape: all F features stream through ONE stacked
  * (feature, value) count shuffle (the [[Distribution.infoGain]] stacking);
  * one cumulative window per feature over its DISTINCT values; the argmax
  * is a ≤|candidates| window rank — nothing collected, no per-threshold
  * jobs.
  */
object Stump {

  /** Best Gini split per feature: (feature, n, n_pos, threshold, gain,
    * gini_parent) — raw doubles, callers `qround`.
    */
  def giniStump(df: DataFrame, features: Seq[(String, Column)],
      labelCol: Column): DataFrame = {
    val stacked = Distribution.stackFeatures(df,
      features.map { case (n, c) => n -> c.cast("long") }, labelCol.cast("boolean"))
      .withColumnRenamed("x", "v")
    val cells = stacked.groupBy("f", "v")
      .agg(count(lit(1)).as("c"),
        sum(when(col("y"), 1L).otherwise(0L)).as("p"))
    val cum = Window.partitionBy("f").orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("f")
    val scanned = cells
      .withColumn("nl", sum(col("c")).over(cum))
      .withColumn("pl", sum(col("p")).over(cum))
      .withColumn("n", sum(col("c")).over(tot))
      .withColumn("np", sum(col("p")).over(tot))
      .filter(col("nl") < col("n")) // right side must be non-empty
    def gini(p: Column, n: Column): Column = {
      val pr = p.cast("double") / n
      lit(1.0) - pr * pr - (lit(1.0) - pr) * (lit(1.0) - pr)
    }
    val nr = col("n") - col("nl")
    val pr = col("np") - col("pl")
    val gain = gini(col("np"), col("n")) -
      (col("nl").cast("double") / col("n")) * gini(col("pl"), col("nl")) -
      (nr.cast("double") / col("n")) * gini(pr, nr)
    val graded = scanned
      .withColumn("gain", gain)
      .withColumn("gg", floor(col("gain") * 1e12 + 0.5).cast("long"))
    val pick = Window.partitionBy("f")
      .orderBy(col("gg").desc, col("v").asc)
    graded
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("f").as("feature"), col("n"), col("np").as("n_pos"),
        col("v").as("threshold"), col("gain"),
        gini(col("np"), col("n")).as("gini_parent"))
  }
}
