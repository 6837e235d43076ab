package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY.md §2.3).
  *
  * Design rules for scale:
  *  - hash aggregation with map-side partial combine is what `groupBy.agg`
  *    lowers to — never collect-and-loop;
  *  - exact `percentile` only where the semantics demand it (the reference's
  *    fit-side statistics — clip bounds `feature_factory.py:232-233`, robust
  *    scaling `:290-313` — are tiny one-row results computed once, then
  *    broadcast); sketches (`approx_count_distinct`, `percentile_approx`)
  *    are the scale path for per-group cardinality over 100 TB, offered
  *    alongside the exact forms;
  *  - metrics (MSE/RMSE/MAE, rank accuracy) are single-pass aggregates over
  *    arithmetic columns, no intermediate materialization.
  */
object Aggregates {

  /** A4 — exact percentiles of one column, as one row of named columns.
    * Exact (not approx) to match pandas'/DuckDB's linear interpolation —
    * `transformer/ranking/feature_factory.py:232-233`.
    *
    * Computed via the range-partitioned sort ([[sortedPercentilesMulti]]),
    * NOT the `Percentile` aggregate: on a wide-cardinality double column
    * the aggregate's value→count hash map is a driver/executor memory
    * cliff, while the sort path holds at any scale. Identical
    * interpolation semantics (pinned in PropertiesSpec).
    */
  def percentiles(df: DataFrame, valueCol: String, ps: Seq[(Double, String)]): DataFrame = {
    val vals = sortedPercentilesMulti(df, Seq(valueCol), ps.map(_._1))(valueCol)
    val sels = ps.zip(vals).map { case ((_, name), v) => lit(v).as(name) }
    df.sparkSession.range(1).select(sels: _*)
  }

  /** Exact interpolated percentiles via DISTRIBUTED SORT + positional
    * lookup — same linear-interpolation semantics as `percentile` /
    * pandas `quantile` / DuckDB `quantile_cont` (value = v⌊q⌋ + frac·(v⌈q⌉
    * − v⌊q⌋) at q = p·(n−1)), but computed with a range-partitioned sort
    * and an index filter instead of the `Percentile` aggregate's
    * value→count hash map. On wide-cardinality doubles the hash map is
    * the bottleneck (every distinct value is an entry merged on the
    * driver); a sort is the shape that scales — at 100 TB this is the
    * only viable exact path.
    *
    * The sort and both lookups live in [[sortedOrderStats]], which returns
    * the two order statistics behind each (column, p); this function only
    * interpolates between them ([[OrderStat.interpolated]]). A caller that
    * needs the percentiles of a monotone transform of a column (a clip)
    * maps the two values first and interpolates after, from the same sort.
    */
  def sortedPercentilesMulti(df: DataFrame, cols: Seq[String],
      ps: Seq[Double]): Map[String, Seq[Double]] = {
    val stats = sortedOrderStats(df, cols, ps)
    cols.map(c => c -> stats(c).map(_.interpolated)).toMap
  }

  /** The order statistics behind percentile `p` of a column with `n`
    * values other than null and NaN: `q = p·(n−1)`, its ranks `lo = ⌊q⌋`
    * and `hi = ⌈q⌉` (0-based, in Spark's double ordering, where
    * −0.0 = 0.0), and the values at those ranks.
    */
  private[graft] final case class OrderStat(q: Double, lo: Long, hi: Long, vLo: Double, vHi: Double) {
    /** Linear interpolation between the two ranks (`quantile_cont`). */
    def interpolated: Double = if (lo == hi) vLo else vLo + (q - lo) * (vHi - vLo)
  }

  /** The order-statistics core of [[sortedPercentilesMulti]]: for each
    * column, one [[OrderStat]] per entry of `ps`, in `ps` order.
    *
    * ONE scan and ONE shuffle for any number of columns, with parallelism
    * independent of the column count. Columns are melted to (name, value)
    * rows (`stack`; `na.drop` skips nulls and NaNs) and RANGE-partitioned
    * on (name, value) — each column's sort spreads over many partitions
    * instead of one reducer per column (a per-name window would cap
    * parallelism at |cols|, which dies at scale when fitting 2-3 columns
    * over billions of rows). Two cheap passes over the sorted,
    * locally-checkpointed pairs: (1) per-partition per-name counts
    * (≤ P·|cols| numbers to the driver) give every partition its global
    * starting offset per name; (2) each partition emits only the rows whose
    * global per-name index is a percentile boundary.
    */
  private[graft] def sortedOrderStats(df: DataFrame, cols: Seq[String],
      ps: Seq[Double]): Map[String, Seq[OrderStat]] = {
    val spark = df.sparkSession
    val stackExpr = cols.map(c => s"'$c', cast($c as double)").mkString(", ")
    val melted = df.selectExpr(s"stack(${cols.size}, $stackExpr) as (name, value)")
      .na.drop(Seq("value"))
    val numParts = spark.sessionState.conf.numShufflePartitions
    val sorted = melted
      .repartitionByRange(numParts, col("name"), col("value"))
      .sortWithinPartitions(col("name"), col("value"))
      .localCheckpoint(false) // consumed by both passes; (name, value) pairs only
    // pass 1: per-partition per-name counts → totals + global start offsets
    val partCounts: Array[(Int, Map[String, Long])] = sorted.rdd
      .mapPartitionsWithIndex { case (pi, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        it.foreach { r =>
          val k = r.getString(0); m.update(k, m.getOrElse(k, 0L) + 1L)
        }
        Iterator.single(pi -> m.toMap)
      }.collect().sortBy(_._1)
    val totals: Map[String, Long] = partCounts.flatMap(_._2)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    val offsets: Map[(Int, String), Long] = {
      val running = scala.collection.mutable.Map.empty[String, Long]
      partCounts.flatMap { case (pi, m) =>
        m.map { case (name, c) =>
          val start = running.getOrElse(name, 0L)
          running.update(name, start + c)
          (pi, name) -> start
        }
      }.toMap
    }
    val targets: Map[String, Set[Long]] = cols.map { c =>
      val n = totals.getOrElse(c, 0L)
      require(n > 0, s"sortedPercentilesMulti on empty column $c")
      c -> ps.flatMap { p =>
        val q = p * (n - 1); Seq(math.floor(q).toLong, math.ceil(q).toLong)
      }.toSet
    }.toMap
    // pass 2: emit only the boundary rows (range partitioning orders a
    // name's rows across partitions, so offset + local position = global
    // 0-based index within the name)
    val bc = spark.sparkContext.broadcast((targets, offsets))
    val vals: Map[(String, Long), Double] = sorted.rdd
      .mapPartitionsWithIndex { case (pi, it) =>
        val (tg, off) = bc.value
        val pos = scala.collection.mutable.Map.empty[String, Long]
        it.flatMap { r =>
          val name = r.getString(0)
          val i = pos.getOrElse(name, off.getOrElse((pi, name), 0L))
          pos.update(name, i + 1L)
          if (tg.get(name).exists(_.contains(i))) Iterator.single((name, i) -> r.getDouble(1))
          else Iterator.empty
        }
      }.collect().toMap
    try {
      cols.map { c =>
        val n = totals(c)
        c -> ps.map { p =>
          val q = p * (n - 1)
          val lo = math.floor(q).toLong; val hi = math.ceil(q).toLong
          OrderStat(q, lo, hi, vals((c, lo)), vals((c, hi)))
        }
      }.toMap
    } finally { bc.destroy(); () }
  }

  /** A3 — exact + approximate distinct-count per group. Exact for oracle
    * parity; HLL for the 100 TB path (`rsd` = relative standard deviation).
    */
  def distinctCount(df: DataFrame, groupCols: Seq[String], keyCol: String, approx: Boolean = false, rsd: Double = 0.05): DataFrame = {
    val agg = if (approx) approx_count_distinct(col(keyCol), rsd) else countDistinct(col(keyCol))
    df.groupBy(groupCols.map(col): _*).agg(agg.as(s"n_$keyCol"))
  }

  /** A6 — regression error metrics between a prediction and a label column:
    * MSE, RMSE, MAE in one pass (`test_modeling.py:81-86`).
    */
  def errorMetrics(df: DataFrame, pred: String, label: String): DataFrame = {
    val err = col(pred) - col(label)
    df.agg(
      avg(err * err).as("mse"),
      sqrt(avg(err * err)).as("rmse"),
      avg(abs(err)).as("mae")
    )
  }

  /** A8 — rank-accuracy report: mean + median absolute rank error, share of
    * exact / ≤1 / ≤2 matches (`test_modeling.py:118-123`).
    */
  def rankAccuracy(df: DataFrame, rankCol: String, predRankCol: String): DataFrame = {
    val d = abs(col(rankCol) - col(predRankCol))
    df.agg(
      avg(d).as("mean_rank_err"),
      expr(s"percentile(abs($rankCol - $predRankCol), 0.5)").as("median_rank_err"),
      avg(when(d === 0, 1.0).otherwise(0.0)).as("exact_acc"),
      avg(when(d <= 1, 1.0).otherwise(0.0)).as("within1_acc"),
      avg(when(d <= 2, 1.0).otherwise(0.0)).as("within2_acc")
    )
  }

  /** P10 — per-column null-count diagnostics (`test_labeling.py:91-97`).
    * One pass over the data, one output row.
    */
  def nullDiagnostics(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Weighted LOWER median per group: the smallest value v whose
    * cumulative weight (over all rows with value ≤ v) reaches half the
    * group's total weight — the weighted generalization of the reference's
    * median-based robust statistics. Returns (group, wmedian, total_w).
    *
    * Exactness: callers pass INTEGER value and weight columns (the repo's
    * fixed-point idiom); tied values are collapsed into one (group, value,
    * Σweight) row BEFORE the cumulative window, so the crossing point is a
    * pure integer comparison — order-free under any partitioning and
    * engine. Non-positive / null weights are dropped (a zero-weight value
    * must not become the median of an otherwise empty group).
    *
    * Scale shape: one map-side-combined aggregate collapses ties (the
    * window's partition size is the group's DISTINCT-value count, not its
    * row count), then one window pass per group partition — no global
    * sort, no driver collection.
    */
  /** Gini concentration index per group over a non-negative integral
    * value column — "how dominated is this segment by its largest
    * members": 0 = perfectly even, →1 = all mass on one row. The
    * data-curation lens: token mass per source, spend per user.
    *
    * Computed by the tie-averaged rank identity
    *   G = Σ_i (2·R_i − n − 1)·x_i / (n·Σx)
    * (≡ mean-absolute-difference / 2μ; ties take the average rank, which
    * keeps the identity exact). Rows collapse to distinct (group, value)
    * counts first, so with C_prev = rows strictly below v and c tied rows,
    * the tied block contributes v·c·(2·C_prev + c − n) — ALL integer
    * arithmetic; the single final division is the only rounding site.
    * Contract: Σ|v|·n per group must stay inside long range (quantized
    * fixed-point values; at wider scales move the three factors to
    * decimal).
    *
    * Scale shape: the raw table shrinks to distinct (group, value) rows in
    * one map-side-combined aggregate; the cumulative window runs over that
    * collapsed table (partition size = the group's distinct-value count,
    * not its row count — the [[weightedMedian]] shape) sharing one
    * exchange with the unordered totals window.
    */
  /** Pareto coverage ("how many keys carry `target` of the mass") — the
    * actionable companion to [[giniConcentration]]: keys ranked by
    * integral mass descending (key ascending tie-break, engine-stable),
    * cumulative share, and an `in_top` flag marking the minimal prefix
    * reaching the target ("the 12 sources that are 80% of the corpus" —
    * the curation / quota / dedup-priority readout). Integer mass sums;
    * the two share divisions are the only float sites.
    *
    * Scale shape: one map-side-combined key aggregate to |keys| rows,
    * then one |keys|-row window (taxonomy-bounded single partition — the
    * [[giniConcentration]] caveat; key cardinality is the knob).
    */
  def paretoCoverage(df: DataFrame, keyCol: String, massCol: String,
                     target: Double): DataFrame = {
    require(target > 0 && target <= 1, s"target must be in (0,1]: $target")
    val agg = df.filter(col(keyCol).isNotNull && col(massCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sum(col(massCol).cast("long")).as("mass"))
    val wOrd = Window.orderBy(col("mass").desc, col(keyCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    agg
      .withColumn("total", sum(col("mass")).over(wAll))
      .withColumn("cum_mass", sum(col("mass")).over(wOrd))
      .select(col(keyCol),
        col("mass"),
        (col("mass").cast("double") / col("total")).as("share"),
        (col("cum_mass").cast("double") / col("total")).as("cum_share"),
        // in the top set while the PREVIOUS prefix hadn't reached target:
        // integer comparison (cum − mass < target·total needs care with
        // float target·total — keep the float compare textually mirrored)
        ((col("cum_mass") - col("mass")).cast("double") / col("total") <
          target).as("in_top"))
  }

  def giniConcentration(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull &&
        col(valueCol) >= 0)
      .select(col(groupCol).as("g"), col(valueCol).cast("long").as("v"))
    val dv = base.groupBy("g", "v").agg(count(lit(1)).as("c"))
    val wOrd = Window.partitionBy("g").orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy("g")
    dv
      .withColumn("cp", coalesce(sum(col("c")).over(wOrd), lit(0L)))
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("mass", sum(col("v") * col("c")).over(wAll))
      .groupBy(col("g").as(groupCol))
      .agg(max(col("n")).as("n_rows"),
        when(max(col("mass")) > 0,
          sum(col("v") * col("c") * (lit(2L) * col("cp") + col("c") - col("n")))
            .cast("double") /
            (max(col("n")).cast("double") * max(col("mass"))))
          .as("gini"))
  }

  /** Concentration indices per segment over UNIT totals (user revenue,
    * domain token mass, shard sizes) — the two standard one-number
    * companions to [[giniConcentration]]:
    *
    *   HHI      = Σᵢ (vᵢ/V)²                (Herfindahl–Hirschman;
    *              1/n = perfectly even, 1 = one unit owns everything)
    *   Atkinson = 1 − geomean(vᵢ)/mean(vᵢ)  (ε = 1 form; 0 = even,
    *              → 1 as mass concentrates; computed over the POSITIVE
    *              units — with any zero the ε=1 index is degenerately 1 —
    *              and n_units vs n_pos exposes the zero-mass share)
    *
    * Exactness: per-unit totals are exact longs; Σv and Σv² widen to
    * decimal(38,0); each ln(vᵢ) lands on the 1e-9 long grid BEFORE the
    * cross-unit sum (no double reassociation), so HHI and Atkinson are
    * single fixed IEEE readouts (callers qround).
    *
    * Scale shape: one (segment, unit) collapse — the only corpus-mass
    * shuffle — then a ≤|segments| moment aggregate. Nothing collected.
    */
  def concentrationIndex(df: DataFrame, segCol: String, unitCol: String,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val units = df
      .filter(col(segCol).isNotNull && col(unitCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(segCol).as("g"), col(unitCol).as("u"))
      .agg(sum(col(valueCol).cast("long")).as("v"))
      .filter(col("v") >= 0)
    val agg = units.groupBy(col("g"))
      .agg(count(lit(1)).as("n_units"),
        count_if(col("v") > 0).as("n_pos"),
        sum(col("v").cast(dec)).as("sv"),
        sum((col("v").cast(dec19) * col("v").cast(dec19)).cast(dec)).as("sv2"),
        sum(when(col("v") > 0,
          floor(log(col("v").cast("double")) * 1e9 + 0.5).cast("long"))
          .otherwise(0L).cast(dec)).as("slng"))
    val nd = col("n_pos").cast("double")
    val mean = col("sv").cast("double") / nd
    val geo = exp(col("slng").cast("double") / (nd * 1e9))
    agg.select(col("g").as(segCol), col("n_units"), col("n_pos"),
      when(col("sv") > 0,
        col("sv2").cast("double") /
          (col("sv").cast("double") * col("sv").cast("double"))).as("hhi"),
      when(col("n_pos") > 0 && col("sv") > 0 && mean > 0,
        lit(1.0) - geo / mean).as("atkinson"))
  }

  /** Exact LOWER per-group quantiles at arbitrary probabilities — the
    * grouped sibling of [[sortedPercentilesMulti]] (that one is global;
    * `percentile(...)` per group is the driver-map cliff this avoids).
    * For each p: the smallest v whose cumulative count reaches ⌈p·n⌉ —
    * `quantile_disc` semantics, pure integer comparisons, so results are
    * bit-identical cross-engine with no interpolation float math.
    *
    * Scale shape: rows collapse to distinct (group, value) counts
    * (map-side combined), ONE cumulative window over that collapsed table
    * (partition size = distinct values per group), then a conditional-min
    * aggregate per quantile — the [[weightedMedian]] machinery generalized
    * to a probability vector.
    */
  def groupedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[(Double, String)]): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (p, _) => p > 0 && p <= 1 })
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).cast("long").as("v"))
    val dv = base.groupBy("g", "v").agg(count(lit(1)).as("c"))
    val wOrd = Window.partitionBy("g").orderBy(col("v").asc)
    val wAll = Window.partitionBy("g")
    val cum = dv
      .withColumn("cw", sum(col("c")).over(wOrd))
      .withColumn("n", sum(col("c")).over(wAll))
    // ⌈p·n⌉ without float-boundary risk: ceil of a correctly-rounded
    // double p·n is stable cross-engine for the modest n the caller's
    // group sizes imply; the comparison itself is integer
    val aggs = ps.map { case (p, name) =>
      min(when(col("cw") >= ceil(col("n") * lit(p)), col("v"))).as(name)
    }
    cum.groupBy(col("g").as(groupCol))
      .agg(max(col("n")).as("n_rows"), aggs: _*)
  }

  /** Exact linearly-INTERPOLATED per-group quantiles (`quantile_cont` /
    * pandas semantics: value = v⌊h⌋ + (h−⌊h⌋)·(v⌈h⌉ − v⌊h⌋) at
    * h = p·(n−1)) over an integral value column — the continuous sibling
    * of [[groupedQuantiles]], replacing per-group `percentile(...)`
    * windows/aggregates whose value→count hash map buffers an entire
    * group in one aggregation buffer (the 100 TB cliff when groups are
    * corpus-mass sized).
    *
    * Scale shape: identical to [[groupedQuantiles]] — the corpus collapses
    * to distinct (group, value) counts in one map-side-combined aggregate;
    * ONE cumulative window over that collapsed table (partition size = the
    * group's DISTINCT-value count, never its row count); then a
    * conditional-min aggregate pair per quantile. All rank arithmetic is
    * integer; the interpolation is the single float site, and for
    * fixed-point inputs at p with a terminating binary fraction (e.g.
    * medians of cents) the result is exact.
    */
  def groupedQuantilesCont(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[(Double, String)]): DataFrame = {
    val base = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    groupedQuantilesContWeighted(base, "g", "v", "c", ps)
      .withColumnRenamed("g", groupCol)
  }

  /** [[groupedQuantilesCont]] over an ALREADY-COLLAPSED (group, value,
    * weight) table — weights are occurrence counts, so quantiles are taken
    * over the virtual expansion without materializing it. Lets a caller
    * reuse one distinct-value collapse for several quantile passes (e.g.
    * median, then median-absolute-deviation over re-keyed deviations).
    */
  def groupedQuantilesContWeighted(dv: DataFrame, groupCol: String,
      valueCol: String, weightCol: String, ps: Seq[(Double, String)]): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (p, _) => p >= 0 && p <= 1 })
    val wOrd = Window.partitionBy(col(groupCol)).orderBy(col(valueCol).asc)
    val wAll = Window.partitionBy(col(groupCol))
    val cum = dv
      .filter(col(valueCol).isNotNull && col(weightCol) > 0)
      .withColumn("qc_cw", sum(col(weightCol)).over(wOrd))
      .withColumn("qc_n", sum(col(weightCol)).over(wAll))
    // h = p·(n−1); 0-based index i holds the first v with cw > i. floor on
    // a correctly-rounded double is cross-engine stable for n < 2^52.
    val aggs = ps.flatMap { case (p, name) =>
      val h = (col("qc_n") - 1).cast("double") * lit(p)
      Seq(
        min(when(col("qc_cw") > floor(h).cast("long"), col(valueCol))).as(s"qc_lo_$name"),
        min(when(col("qc_cw") > ceil(h).cast("long"), col(valueCol))).as(s"qc_hi_$name"))
    }
    val agged = cum.groupBy(col(groupCol))
      .agg(max(col("qc_n")).as("n_rows"), aggs: _*)
    val outs = ps.map { case (p, name) =>
      val h = (col("n_rows") - 1).cast("double") * lit(p)
      val lo = col(s"qc_lo_$name").cast("double")
      val hi = col(s"qc_hi_$name").cast("double")
      (lo + (h - floor(h)) * (hi - lo)).as(name)
    }
    agged.select(col(groupCol) +: col("n_rows") +: outs: _*)
  }

  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .groupBy(col(groupCol), col(valueCol).as("v"))
      .agg(sum(col(weightCol)).as("w"))
    val cum = Window.partitionBy(groupCol).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(groupCol)
    g.withColumn("cw", sum(col("w")).over(cum))
      .withColumn("tw", sum(col("w")).over(tot))
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy(col(groupCol))
      .agg(min(col("v")).as("wmedian"), min(col("tw")).as("total_w"))
  }

  /** Trimmed and winsorized means per group — the robust location
    * estimates a heavy-tailed metric needs (one whale order bends the
    * plain mean; the α-trimmed mean drops ⌊n·α⌋ rows from EACH tail, the
    * winsorized mean clamps them to the surviving extremes instead, the
    * Tukey prescription when tail MASS matters but tail VALUES are
    * noise).
    *
    * Exactness: INTEGRAL values (cents). Rows collapse to distinct
    * (group, v) counts; with cumulative count c and previous cumulative
    * c₀ per value, the trimmed multiplicity is
    * max(0, min(c, n−k) − max(c₀, k)) — pure integer algebra, as are the
    * boundary values v_lo = min{v : c > k} and v_hi = min{v : c ≥ n−k}
    * and all three sums (widened to decimal(38,0): Σ|v|·n at 100 TB
    * passes 2⁶³ where a long would wrap silently). One IEEE division per
    * mean at readout.
    *
    * Scale shape: one map-side-combined (group, v) collapse, then ONE
    * cumulative window whose partition size is the group's DISTINCT
    * value count (the [[weightedMedian]] shape), shared by the totals
    * frame; a ≤|groups| aggregate ends it. Never a per-row rank.
    */
  def robustMeans(df: DataFrame, groupCol: String, valueCol: String,
      alpha: Double): DataFrame = {
    require(alpha >= 0 && alpha < 0.5, s"alpha must be in [0, 0.5): $alpha")
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = df
      .filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    val cum = Window.partitionBy(groupCol).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(groupCol)
    val w = g
      .withColumn("cc", sum(col("c")).over(cum))
      .withColumn("n", sum(col("c")).over(tot))
      .withColumn("k", floor(col("n").cast("double") * alpha).cast("long"))
      .withColumn("c0", col("cc") - col("c"))
      .withColumn("m", greatest(lit(0L),
        least(col("cc"), col("n") - col("k")) -
          greatest(col("c0"), col("k"))))
    // widen BEFORE forming products — the anovaF discipline: a long v·c
    // wraps silently at corpus scale while the HUGEINT-promoting oracle
    // doesn't
    val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val vd = col("v").cast(dec19)
    w.groupBy(col(groupCol))
      .agg(
        max(col("n")).as("n"), max(col("k")).as("k"),
        sum((vd * col("c")).cast(dec)).as("s_all"),
        sum((vd * col("m")).cast(dec)).as("s_trim"),
        min(when(col("cc") > col("k"), col("v"))).as("v_lo"),
        min(when(col("cc") >= col("n") - col("k"), col("v"))).as("v_hi"))
      .select(col(groupCol), col("n"), col("k"),
        (col("s_all").cast("double") / col("n")).as("mean"),
        when(col("n") > col("k") * 2,
          col("s_trim").cast("double") / (col("n") - col("k") * 2))
          .as("trimmed_mean"),
        col("v_lo"), col("v_hi"),
        when(col("n") > col("k") * 2,
          (col("s_trim") + (col("k").cast(dec19) * col("v_lo")).cast(dec) +
            (col("k").cast(dec19) * col("v_hi")).cast(dec)).cast("double") /
            col("n"))
          .as("winsor_mean"))
  }

  /** Empirical-Bayes smoothed group rates — the shrinkage that makes a
    * small-sample leaderboard honest: the raw rate ranks a 1-for-1
    * entity at 100% above a 90-for-100 one; shrinking every group
    * toward the GLOBAL rate with prior strength `s` pseudo-counts
    *
    *   smoothed_j = (pos_j + p̄·s) / (n_j + s)
    *
    * (a Beta(p̄·s, (1−p̄)·s) prior) ranks by evidence instead. The
    * standard fix for CTR ranking, seller scores, per-domain quality
    * rates — anywhere groups have wildly different n.
    *
    * Exactness: group and global counts exact from ONE aggregate +
    * 1-row broadcast; each smoothed rate is a fixed IEEE expression.
    *
    * Scale shape: one map-side-combined group aggregate; nothing else
    * moves.
    */
  def smoothedRates(df: DataFrame, groupCol: String, labelCol: Column,
      strength: Double): DataFrame = {
    require(strength > 0, s"prior strength must be positive: $strength")
    val y = labelCol.cast("boolean")
    val g = df.filter(col(groupCol).isNotNull && y.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(y, 1L).otherwise(0L)).as("pos"))
      .localCheckpoint(false) // global totals + the readout share it
    val tot = g.agg(sum(col("n")).as("tn"), sum(col("pos")).as("tp"))
    val pbar = col("tp").cast("double") / col("tn")
    g.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n"), col("pos"),
        (col("pos").cast("double") / col("n")).as("raw_rate"),
        ((col("pos") + pbar * strength) / (col("n") + strength))
          .as("smoothed_rate"))
  }
}
