package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multivariate z-score outlier detection with a diagonal covariance
  * ("Mahalanobis-lite") — the multi-feature sibling of the univariate
  * robust gates already in the library (grouped MAD, winsorize): a row
  * is anomalous when its JOINT deviation across k features is large,
  *   score = Σ_j ((x_j − μ_j) / σ_j)²,
  * even if no single feature trips its own gate. The screening pass
  * before expensive per-row inspection — chi-square-distributed under
  * normality, so thresholds transfer across feature sets of the same k.
  *
  * Exactness: callers pass INTEGRAL feature columns (the repo's
  * quantize-upstream idiom), so per-group Σx and Σx² are exact longs
  * from ONE map-side-combined aggregate; μ, σ² = (Σx² − Σx·Σx/n)/(n−1)
  * and every z are fixed IEEE expressions of exact operands, mirrored
  * textually by the oracles. A feature with σ = 0 (or a group with
  * n < 2) contributes 0 to the score — a constant column certifies
  * nothing — rather than NaN-poisoning the row.
  *
  * Scale shape: one moments aggregate to |groups|·k numbers, joined
  * back (AQE broadcasts the taxonomy-sized stats) into a narrow scoring
  * projection. Nothing is collected; no window.
  */
object Outliers {

  /** Returns `df` + `score` (and per-feature stats left out — the stats
    * join is internal). Null group rows are excluded; a null feature
    * value contributes 0 to that row's score (scored on the features it
    * has).
    */
  def zScoreMulti(df: DataFrame, groupCol: String,
                  valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty)
    val aggs = valueCols.flatMap { c =>
      val v = col(c).cast("long")
      Seq(sum(v).as(s"__sx_$c"), sum(v * v).as(s"__sx2_$c"),
        count(v).as(s"__n_$c"))
    }
    val stats = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
    val scored = df.filter(col(groupCol).isNotNull).join(stats, Seq(groupCol))
    val score = valueCols.map { c =>
      val n = col(s"__n_$c")
      val mu = col(s"__sx_$c").cast("double") / n
      val varr = (col(s"__sx2_$c").cast("double") -
        col(s"__sx_$c").cast("double") * col(s"__sx_$c") / n) / (n - 1)
      val z = (col(c).cast("double") - mu) / sqrt(varr)
      when(n >= 2 && varr > 0 && col(c).isNotNull, z * z).otherwise(lit(0.0))
    }.reduce(_ + _)
    scored.withColumn("score", score)
      .drop(valueCols.flatMap(c =>
        Seq(s"__sx_$c", s"__sx2_$c", s"__n_$c")): _*)
  }

  /** Full-covariance Mahalanobis distance for a feature PAIR — the
    * correlation-aware upgrade of [[zScoreMulti]]'s diagonal form: two
    * features that move together (chars and tokens, spend and visits)
    * make the diagonal score blind along the correlation axis, which is
    * exactly where the interesting outliers live (long doc with too FEW
    * tokens). The 2×2 inverse is closed-form, so the score stays one
    * narrow codegen projection:
    *
    *   d²(x,y) = [ (x−μx)²σyy − 2(x−μx)(y−μy)σxy + (y−μy)²σxx ] / det,
    *   det = σxx·σyy − σxy²          (population covariances)
    *
    * Exactness: integral features; per-group moments are exact
    * decimal-widened sums from ONE aggregate; μ/σ/det and each row's d²
    * are fixed IEEE expressions of them. Rows in groups with det ≤ 0
    * (degenerate or perfectly collinear covariance) get NULL d² — there
    * is no direction left to be an outlier in.
    *
    * Scale shape: one moment aggregate to |groups| rows, broadcast back
    * under a narrow projection — the [[zScoreMulti]] shape; listwise on
    * the pair (both features non-null).
    */
  def mahalanobis2(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val dec   = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val x = col(xCol).cast("long"); val y = col(yCol).cast("long")
    val base = df.filter(col(groupCol).isNotNull && x.isNotNull && y.isNotNull)
    val stats = base.groupBy(col(groupCol)).agg(
      count(lit(1)).as("__n"),
      sum(x).as("__sx"), sum(y).as("__sy"),
      sum((x.cast(dec19) * x.cast(dec19)).cast(dec)).as("__sxx"),
      sum((y.cast(dec19) * y.cast(dec19)).cast(dec)).as("__syy"),
      sum((x.cast(dec19) * y.cast(dec19)).cast(dec)).as("__sxy"))
    val n = col("__n").cast("double")
    val mx = col("__sx").cast("double") / n
    val my = col("__sy").cast("double") / n
    val vxx = col("__sxx").cast("double") / n - mx * mx
    val vyy = col("__syy").cast("double") / n - my * my
    val vxy = col("__sxy").cast("double") / n - mx * my
    val det = vxx * vyy - vxy * vxy
    val dx = x.cast("double") - mx
    val dy = y.cast("double") - my
    val d2 = (dx * dx * vyy - lit(2.0) * dx * dy * vxy + dy * dy * vxx) / det
    base.join(stats, Seq(groupCol))
      .withColumn("d2", when(col("__n") > 2 && det > 0, d2))
      .drop("__n", "__sx", "__sy", "__sxx", "__syy", "__sxy")
  }

  /** Tukey IQR fences per group — the nonparametric outlier screen that
    * complements [[zScoreMulti]] (z assumes moments a whale already
    * bent; fences come from order statistics the whale can't move):
    *
    *   lo = Q1 − 1.5·IQR,   hi = Q3 + 1.5·IQR,   IQR = Q3 − Q1
    *
    * Quartiles are the LOWER order statistics at ⌈n/4⌉ and ⌈3n/4⌉ —
    * actual data values (the [[RankTests.brownForsythe]] median
    * discipline), engine-replayable where interpolated quantiles are
    * not. Output one row per group: (group, n, q1, q3, iqr, lo_fence,
    * hi_fence, n_below, n_above).
    *
    * Exactness: quartiles and counts are exact integer comparisons over
    * the distinct-value collapse; fences are fixed IEEE expressions of
    * exact longs.
    *
    * Scale shape: one map-side-combined (group, value) collapse; ONE
    * cumulative window over the distinct-value partition locates both
    * quartiles; the outlier counts re-aggregate the SAME collapsed
    * table against the broadcast fences. Nothing is collected.
    */
  def iqrFences(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val cells = RankTests.groupValueCounts(df, groupCol, valueCol)
    val qs = RankTests.withGroupCum(cells)
      .groupBy("g")
      .agg(max(col("n")).as("n"),
        // lower order statistics at ⌈n/4⌉ / ⌈3n/4⌉: ceil of exact
        // long division, Spark's `/` on longs is DOUBLE division
        min(when(col("cc") >= ceil(col("n").cast("double") / 4).cast("long"),
          col("v"))).as("q1"),
        min(when(col("cc") >=
          ceil(col("n").cast("double") * 3 / 4).cast("long"),
          col("v"))).as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
      .withColumn("lo_fence",
        col("q1").cast("double") - lit(1.5) * col("iqr"))
      .withColumn("hi_fence",
        col("q3").cast("double") + lit(1.5) * col("iqr"))
    cells.join(qs, "g")
      .groupBy(col("g").as(groupCol))
      .agg(max(col("n")).as("n"), max(col("q1")).as("q1"),
        max(col("q3")).as("q3"), max(col("iqr")).as("iqr"),
        max(col("lo_fence")).as("lo_fence"),
        max(col("hi_fence")).as("hi_fence"),
        sum(when(col("v").cast("double") < col("lo_fence"), col("c"))
          .otherwise(0L)).as("n_below"),
        sum(when(col("v").cast("double") > col("hi_fence"), col("c"))
          .otherwise(0L)).as("n_above"))
  }
}
