package graft.aram

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}
import scala.jdk.CollectionConverters._

/** Fit/apply preprocessing — the reference's `FeatureFactory` state
  * (`clip_values`, `champion_encoder`, `RobustScaler` — `transformer/
  * ranking/feature_factory.py:17-20,229-313`) re-expressed as the Spark
  * collect-stats-then-broadcast pattern:
  *
  *  - fit = one tiny aggregate (a single row of percentiles, or a distinct
  *    dimension table) collected to the driver;
  *  - apply = pure Column expressions built from those literals (or a
  *    broadcast join for the dimension), so the transform stays codegen'd
  *    and shuffle-free at any scale.
  *
  * The train/apply asymmetry (statistics learned on train only, reused on
  * test) is part of the semantics — each operator is an explicit
  * fit-then-apply pair with a serializable model in between (persistable as
  * a parquet/JSON side table, the S6 surface).
  */
object Preprocess {

  // ---------------------------------------------------------------- P6 ----

  /** Derived features (`feature_factory.py:198-227`): aggression and
    * survival indices, weighted team contribution, combat efficiency with
    * the `replace(0,1)` divide guard.
    */
  def derivedFeatures(df: DataFrame): DataFrame = df
    .withColumn("aggression_index",
      (col("kills") + col("assists") * 0.5) / col("game_duration"))
    .withColumn("survival_index",
      col("longest_time_alive") / (col("game_duration") * 60))
    .withColumn("team_contribution",
      col("kill_participation") * 0.4 + col("total_damage_share") * 0.4 +
        (lit(1) - col("death_share")) * 0.2)
    .withColumn("combat_efficiency",
      col("damage_per_min") /
        when(col("damage_taken_per_min") === 0, 1.0).otherwise(col("damage_taken_per_min")))

  // ---------------------------------------------------------------- P7 ----

  /** Fitted 1%/99% clip bounds per column (`feature_factory.py:229-238`).
    * A null or NaN passes through unchanged, as pandas `clip` keeps NaN:
    * `greatest` skips nulls and orders NaN above every value, so without
    * the guard a null would come out as the lower bound and a NaN as the
    * upper one. The percentile fits skip both, so the scaler fitted over
    * the clipped table skips them too.
    */
  final case class ClipModel(bounds: Map[String, (Double, Double)]) {
    def apply(df: DataFrame): DataFrame =
      bounds.foldLeft(df) { case (acc, (c, (lo, hi))) =>
        acc.withColumn(c, when(col(c).isNull || isnan(col(c)), col(c))
          .otherwise(least(greatest(col(c), lit(lo)), lit(hi))))
      }
  }

  /** Fit exact (interpolated) percentile bounds on the train set only.
    * Exact, not approx: pandas `quantile` interpolates linearly and the
    * DuckDB oracle (`quantile_cont`) agrees; `percentile_approx` does not.
    * Sort-based (see [[graft.ops.Aggregates.sortedPercentilesMulti]]) — the
    * `Percentile` hash-map aggregate is the bottleneck on
    * wide-cardinality doubles.
    */
  def fitClip(train: DataFrame, cols: Seq[String], lo: Double = 0.01, hi: Double = 0.99): ClipModel =
    ClipModel(graft.ops.Aggregates.sortedPercentilesMulti(train, cols, Seq(lo, hi))
      .map { case (c, Seq(l, h)) => c -> (l, h) })

  /** [[fitClip]] and [[fitRobustScaler]] over the clipped table, from ONE
    * range sort: the same bounds and (median, IQR) bits as
    * `fitRobustScaler(clipModel(train), scaleCols)` after
    * `fitClip(train, clipCols)`, at one sort instead of two.
    *
    * One [[graft.ops.Aggregates.sortedOrderStats]] call takes the order
    * statistics at p ∈ {0.01, 0.99, 0.25, 0.5, 0.75} of every column. Clip
    * bounds interpolate the first two. The clip is monotone, so the sorted
    * clipped column is the clipped sorted column: a clipped column's
    * scaler quantiles interpolate its order statistics after clipping them
    * with [[ClipModel.apply]]'s semantics ([[clipValue]]). The clip keeps
    * nulls and NaNs, and the sort skips them, so both paths count the same
    * values.
    */
  private[aram] def fitClipAndScaler(train: DataFrame, clipCols: Seq[String],
      scaleCols: Seq[String]): (ClipModel, RobustScalerModel) = {
    val stats = graft.ops.Aggregates.sortedOrderStats(train,
      (scaleCols ++ clipCols).distinct, Seq(0.01, 0.99, 0.25, 0.5, 0.75))
    val clip = ClipModel(clipCols.map { c =>
      val Seq(l, h) = stats(c).take(2).map(_.interpolated)
      c -> (l, h)
    }.toMap)
    val scaler = RobustScalerModel(scaleCols.map { c =>
      val Seq(q25, q50, q75) = stats(c).drop(2).map { s =>
        clip.bounds.get(c).fold(s) { case (l, h) =>
          s.copy(vLo = clipValue(s.vLo, l, h), vHi = clipValue(s.vHi, l, h))
        }.interpolated
      }
      c -> (q50, q75 - q25)
    }.toMap)
    (clip, scaler)
  }

  /** [[ClipModel.apply]] on one order statistic (never null or NaN), with
    * Spark's `greatest` / `least` semantics rather than `math.max` /
    * `math.min`: −0.0 equals 0.0, and a tie keeps the first argument, the
    * value itself, so a −0.0 beside a 0.0 bound stays −0.0.
    */
  private def clipValue(v: Double, lo: Double, hi: Double): Double = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    val g = if (compareDoubles(lo, v) > 0) lo else v
    if (compareDoubles(hi, g) < 0) hi else g
  }

  /** [[fitClip]] on a quantized value GRID — the cheap fit path for
    * continuous columns at scale. Values quantize to an integer grid
    * first (`floor(x·gridScale + 0.5)`, the repo's cross-engine half-up
    * idiom), the corpus collapses to distinct (column, grid-value) counts
    * in ONE map-side-combined aggregate, and interpolated
    * `quantile_cont` bounds are read from one bounded cumulative window
    * over that collapsed table ([[graft.ops.Aggregates
    * .groupedQuantilesCont]]) — per-column work is proportional to the
    * DISTINCT grid values (bounded by value-range × gridScale), not the
    * row count, where the exact path ([[fitClip]]) range-sorts every row.
    * Bounds are exact quantiles of the quantized values (÷ gridScale):
    * off by at most half a grid step from the raw-value quantile —
    * immaterial for clip bounds, whose job is robustness, not precision.
    */
  def fitClipGrid(train: DataFrame, cols: Seq[String], lo: Double = 0.01,
                  hi: Double = 0.99, gridScale: Long = 100L): ClipModel =
    ClipModel(gridQuantiles(train, cols, Seq(lo -> "qlo", hi -> "qhi"), gridScale)
      .map { case (c, Seq(l, h)) => c -> (l, h) })

  /** [[fitRobustScaler]] on the same quantized grid as [[fitClipGrid]] —
    * median/IQR read from the distinct-grid-value collapse instead of a
    * full sort of the train set.
    */
  def fitRobustScalerGrid(train: DataFrame, cols: Seq[String],
                          gridScale: Long = 100L): RobustScalerModel =
    RobustScalerModel(
      gridQuantiles(train, cols,
        Seq(0.25 -> "q25", 0.5 -> "q50", 0.75 -> "q75"), gridScale)
        .map { case (c, Seq(q25, q50, q75)) => c -> (q50, q75 - q25) })

  /** Quantile normalization against a reference distribution — map
    * `valueCol` so its empirical distribution matches `reference`'s
    * (microarray-style normalization, the distribution-matching transform
    * for mixing feature sources): each value goes to the reference
    * quantile at its own mid-rank percentile. The reference quantile
    * function is fitted as a (k+1)-point interpolated grid (one
    * [[graft.ops.Aggregates.sortedPercentilesMulti]] pass — exact
    * `quantile_cont` semantics) and applied as a broadcast array literal,
    * so the transform itself is a pure codegen expression.
    *
    * Percentiles use the mid-rank of each tied value block:
    * p = (C_prev + (c+1)/2 − 1)/(n − 1) — deterministic, engine-exact
    * (integer rank arithmetic, one float expression mirrored by the
    * oracle). A single-value input maps to the reference median (p=0.5).
    *
    * Scale shape: the input collapses to distinct (value, count) cells in
    * one map-side-combined aggregate; ONE cumulative window over that
    * collapsed table (bounded by the distinct-value cardinality — the
    * caller's quantization grain is the knob, as in [[fitClipGrid]]);
    * the mapping joins back on the value key. Returns `df` + `qn`.
    */
  def quantileNormalizeGrid(df: DataFrame, valueCol: String,
                            reference: DataFrame, refCol: String,
                            k: Int = 100): DataFrame = {
    require(k >= 2, s"grid size must be >= 2, got $k")
    val ps = (0 to k).map(_.toDouble / k)
    val grid = graft.ops.Aggregates
      .sortedPercentilesMulti(reference, Seq(refCol), ps)(refCol)
    val gridArr = array(grid.map(lit): _*)
    import org.apache.spark.sql.expressions.Window
    val dv = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val wOrd = Window.orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mapped = dv
      .withColumn("__cw", sum(col("__c")).over(wOrd))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy()))
      .withColumn("__p",
        when(col("__n") === 1, lit(0.5))
          .otherwise(((col("__cw") - col("__c")) + (col("__c") + 1) / 2.0 - 1.0) /
            (col("__n") - 1)))
      .withColumn("__h", col("__p") * k)
      .withColumn("qn",
        element_at(gridArr, floor(col("__h")).cast("int") + 1) +
          (col("__h") - floor(col("__h"))) *
            (element_at(gridArr, ceil(col("__h")).cast("int") + 1) -
              element_at(gridArr, floor(col("__h")).cast("int") + 1)))
      .select(col("__v"), col("qn"))
    // LEFT join: rows with a null value column have no quantile position,
    // so they pass through with qn = null (the imputation decision is the
    // caller's) — an inner join here silently dropped them, shrinking the
    // output row count whenever the feature had missing values.
    df.join(mapped, col(valueCol).cast("long") === col("__v"), "left")
      .drop("__v")
  }

  /** Shared grid-quantile fit: melt `cols` to (name, grid-value) rows in
    * one scan, then one [[graft.ops.Aggregates.groupedQuantilesCont]]
    * pass with `name` as the group — |cols|·|ps| numbers back to the
    * driver (a fit-stats collect, the sanctioned pattern).
    */
  private def gridQuantiles(train: DataFrame, cols: Seq[String],
      ps: Seq[(Double, String)], gridScale: Long): Map[String, Seq[Double]] = {
    val stackExpr = cols
      .map(c => s"'$c', cast(floor($c * $gridScale + 0.5) as bigint)")
      .mkString(", ")
    val melted = train
      .selectExpr(s"stack(${cols.size}, $stackExpr) as (name, gv)")
      .na.drop(Seq("gv"))
    graft.ops.Aggregates.groupedQuantilesCont(melted, "name", "gv", ps)
      .collect()
      .map(r => r.getString(0) ->
        ps.map { case (_, n) => r.getAs[Double](n) / gridScale }.toSeq)
      .toMap
  }

  // ---------------------------------------------------------------- P8 ----

  /** Learned champion → dense-id dimension (`feature_factory.py:243-265`).
    * The reference's id order is pandas `unique()` (input order) — not
    * reproducible in a distributed engine, so ids are assigned in sorted
    * key order (deterministic; documented deviation, SURVEY.md §7.3).
    * Misses map to -1 via broadcast LEFT OUTER join + coalesce, never
    * dropping rows.
    */
  final case class EncoderModel(dim: DataFrame, keyCol: String, idCol: String) {
    def apply(df: DataFrame): DataFrame =
      df.join(broadcast(dim), Seq(keyCol), "left")
        .withColumn(idCol, coalesce(col(idCol), lit(-1L)))
  }

  def fitEncoder(train: DataFrame, keyCol: String, idCol: String = "champion_id"): EncoderModel = {
    // dense ids in sorted key order. [[EncoderModel.apply]] broadcasts the
    // dimension, so it has to fit on the driver anyway: the distinct keys
    // are coalesced into one partition and sorted there in Spark's ordering
    // (nulls first, strings by UTF-8 bytes), and the driver numbers them.
    // No range sort, no `zipWithIndex` job; the dimension is a local table.
    val keys = train.select(col(keyCol)).distinct().coalesce(1).sortWithinPartitions(col(keyCol))
    val rows = keys.collect().toSeq.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i.toLong) }
    val schema = keys.schema.add(StructField(idCol, LongType, nullable = false))
    EncoderModel(train.sparkSession.createDataFrame(rows.asJava, schema), keyCol, idCol)
  }

  // ---------------------------------------------------------------- P9 ----

  /** Fitted robust-scaling statistics: per-column (median, IQR), sklearn
    * `RobustScaler` semantics (`feature_factory.py:290-313`): centre on the
    * median, scale by q75 − q25; zero IQR degrades to divide-by-1.
    */
  final case class RobustScalerModel(stats: Map[String, (Double, Double)]) {
    def apply(df: DataFrame): DataFrame =
      stats.foldLeft(df) { case (acc, (c, (median, iqr))) =>
        val denom = if (iqr == 0.0) 1.0 else iqr
        acc.withColumn(c, (col(c) - lit(median)) / lit(denom))
      }
  }

  def fitRobustScaler(train: DataFrame, cols: Seq[String]): RobustScalerModel =
    RobustScalerModel(
      graft.ops.Aggregates.sortedPercentilesMulti(train, cols, Seq(0.25, 0.5, 0.75))
        .map { case (c, Seq(q25, q50, q75)) => c -> (q50, q75 - q25) })

  // ---------------------------------------------------------------- J2 ----

  /** Leak-safe group split (`feature_factory.py:268-287`): split on DISTINCT
    * match ids, then semi-join rows back — no match id ever lands in both
    * sides. Seeded `randomSplit` on the key table keeps the split
    * reproducible for a fixed seed; exact memberships differ from sklearn's
    * (documented deviation — golden tests assert proportions and
    * disjointness, not memberships).
    *
    * Materialization point: `df` is checkpointed once, eagerly, and the key
    * table and both semi-joins read that checkpoint. Without it each of
    * them (and every consumer of `train`/`test` downstream — the fit
    * aggregates, transform, ranking) would re-plan and re-run `df`'s whole
    * lineage, which for the ARAM pipeline is the nested match read plus
    * explode and two windows.
    */
  def splitByGroup(df: DataFrame, groupCol: String, testFraction: Double = 0.2,
      seed: Long = 42L): (DataFrame, DataFrame) = {
    val input = df.localCheckpoint(eager = true)
    // No broadcast hint on the key tables: distinct group keys over a fact
    // table are scale-proportional (billions of match ids at 100 TB), and a
    // forced hint would driver-collect them. AQE still picks broadcast-hash
    // when the key side is genuinely small.
    // The keys are pinned by a lazy local checkpoint, not `cache()`, so no
    // CacheManager entry outlives the call. The explicit partition count
    // stops AQE coalescing the key table, which would change the memberships
    // of the seeded split: it samples each partition on its own.
    val partitions = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val keys = input.select(col(groupCol)).repartition(partitions, col(groupCol)).distinct()
      .localCheckpoint(eager = false)
    val Array(trainKeys, testKeys) =
      keys.randomSplit(Array(1.0 - testFraction, testFraction), seed)
    (input.join(trainKeys, Seq(groupCol), "left_semi"),
      input.join(testKeys, Seq(groupCol), "left_semi"))
  }

  /** Deterministic hash-based alternative to [[splitByGroup]] for cases
    * where the split must be identical across engines and runs (the CV-fold
    * primitive, SURVEY.md §2.9): fold = xxhash64(group) mod k.
    */
  def hashFold(df: DataFrame, groupCol: String, k: Int, as: String = "fold"): DataFrame =
    df.withColumn(as, pmod(xxhash64(col(groupCol)), lit(k.toLong)))

  // ---------------------------------------------------------------- E3 ----

  /** The 23-column model-feature projection (`feature_factory.py:165-188`).*/
  val modelFeatureCols: Seq[String] = Seq(
    "champion_id", "kda", "kills", "deaths", "assists",
    "damage_per_min", "damage_taken_per_min", "damage_mitigated_per_min",
    "total_damage_share", "gold_per_min", "cs_per_min", "gold_efficiency",
    "cc_time", "heal_shield_given", "kill_participation", "death_share",
    "longest_time_alive", "skill_shots_hit", "skill_shots_dodged",
    "aggression_index", "survival_index", "team_contribution", "combat_efficiency")
}
