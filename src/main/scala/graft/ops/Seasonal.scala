package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Additive seasonal decomposition of a per-group daily series into
  * trend + day-of-week seasonal + residual — the classical-decomposition
  * first pass (Kendall & Stuart's moving-average form; the STL ancestor)
  * every metrics pipeline runs before anomaly detection: a Monday dip is
  * seasonality, not an incident, and CUSUM/changepoint monitors
  * ([[Changepoint]]) fire far cleaner on the residual than on the raw
  * series.
  *
  *   trend(t)    = centered 7-day moving average of x
  *   seasonal(d) = mean over the series of (x − trend) at day-of-week d
  *   residual(t) = x(t) − trend(t) − seasonal(dow(t))
  *
  * Determinism contract (the fixed-point idiom): `valueCol` must be
  * integral. Every aggregate moment is then exact — the 7-day window sum
  * `w7` is a long, the detrended value is scaled by 7 to stay integral
  * (`det7 = 7·x − w7`), and the seasonal means are single divisions of
  * long sums — so both engines feed identical operands to the same IEEE
  * expressions and the hash matches bit-for-bit. Trend/residual are null
  * at series edges (incomplete 7-day windows), seasonal is null for
  * groups too short for any complete window; day-of-week is ISO
  * (Mon=1..Sun=7) on both engines.
  *
  * Scale shape: the input is ALREADY day-grain (one row per group × day —
  * the corpus-mass daily aggregate happens upstream), so everything here
  * moves series-sized rows: ONE window exchange on the group key for the
  * moving sum, one bounded aggregate to |groups|·7 seasonal cells, and
  * the seasonal table joins back hint-free (AQE broadcasts it — it is
  * taxonomy-bounded). Nothing is collected.
  */
object Seasonal {

  /** df: one row per (group, day) with integral `valueCol`. Returns every
    * input row with `trend`, `seasonal`, `residual` (doubles; callers
    * qround). Null group/day/value rows are excluded.
    */
  def weekdayDecompose(df: DataFrame, groupCol: String, dayCol: String,
                       valueCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    val series = df
      .filter(col(groupCol).isNotNull && col(dayCol).isNotNull && x.isNotNull)
      .select(col(groupCol), col(dayCol), x.as("__x"),
        (weekday(col(dayCol)) + 1).cast("long").as("__dow"), // ISO Mon=1..Sun=7
        // integer day index: the RANGE frame below is a true centered
        // 7-CALENDAR-day window — gaps in the series shrink it (n7 < 7 →
        // null trend via the gate), where a ROWS frame would silently
        // stretch across missing days and misalign the detrending
        datediff(col(dayCol), to_date(lit("1970-01-01"))).cast("long").as("__di"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__di").asc)
      .rangeBetween(-3, 3)
    val t = series
      .withColumn("__w7", sum(col("__x")).over(w))
      .withColumn("__n7", count(col("__x")).over(w))
      // detrended, scaled by 7 so it stays an exact long: 7x − Σ₇x
      .withColumn("__det7",
        when(col("__n7") === 7, col("__x") * 7 - col("__w7")))
    val season = t.filter(col("__det7").isNotNull)
      .groupBy(col(groupCol), col("__dow"))
      .agg(sum(col("__det7")).as("__sd"), count(lit(1)).as("__nd"))
    t.join(season, Seq(groupCol, "__dow"), "left")
      .select(col(groupCol), col(dayCol), col("__x").as(valueCol),
        when(col("__n7") === 7, col("__w7").cast("double") / 7).as("trend"),
        // fixed operand order, mirrored by the oracle: Σdet7 / (7·n)
        (col("__sd").cast("double") / (col("__nd") * 7)).as("seasonal"),
        (col("__det7").cast("double") / 7 -
          col("__sd").cast("double") / (col("__nd") * 7)).as("residual"))
  }

  private val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
  private def dec(c: Column) = c.cast(org.apache.spark.sql.types.DecimalType(19, 0))

  /** The (g, t, x) points of a series with non-null group, time and value
    * (time and value as longs), and per group the count `n`, sum `s` and
    * decimal(38,0) square sum `sxx`: what [[acf]] and [[saxSymbols]] read.
    */
  private def seriesMoments(df: DataFrame, groupCol: String, timeCol: String,
      valueCol: String): (DataFrame, DataFrame) = {
    val pts = df
      .filter(col(groupCol).isNotNull && col(timeCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(timeCol).cast("long").as("t"),
        col(valueCol).cast("long").as("x"))
    val moments = pts.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum((dec(col("x")) * dec(col("x"))).cast(Dec)).as("sxx"))
    (pts, moments)
  }

  /** Sample autocorrelation function per group at lags 1..`maxLag` over
    * an integer-time series — the periodicity/persistence audit that
    * decides the seasonal window [[weekdayDecompose]] assumes (a weekly
    * cycle shows as an ACF spike at lag 7) and flags non-i.i.d. metrics
    * before drift tests that assume independence.
    *
    *   r_k = Σ_{t,t+k observed} (x_t − x̄)(x_{t+k} − x̄) / Σ_t (x_t − x̄)²
    *
    * Lag is in TIME units, not row offsets: pairs come from a (g, t+k)
    * equi-join, so series gaps drop pairs instead of silently
    * misaligning them (the [[weekdayDecompose]] RANGE-frame discipline).
    *
    * Exactness: multiply through by n² — with S = Σx, both sides become
    * pure integer forms, n²·num_k = n²·Σx_t·x_{t+k} − n·S·(Σ_k x_t +
    * Σ_k x_{t+k}) + m_k·S², n²·den = n·(n·Σx² − S²) — accumulated in
    * decimal(38,0) (order-free, matches DuckDB's int128 sums
    * bit-for-bit); r_k is ONE division of those exact operands.
    *
    * Scale shape: one moment aggregate per group (map-side combined) +
    * one group-keyed band self-join (each row matches ≤ maxLag partners
    * inside its group's partition — Θ(n·maxLag), never n²), one (g, k)
    * aggregate, one broadcast-sized join of |groups| moment rows.
    * Bounded-series contract: per-group series length is calendar-bounded
    * (days, hours), never corpus-sized.
    */
  def acf(df: DataFrame, groupCol: String, timeCol: String,
          valueCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val (pts, moments) = seriesMoments(df, groupCol, timeCol, valueCol)
    val a = pts.as("a"); val b = pts.as("b")
    val pairs = a.join(b,
        col("a.g") === col("b.g") &&
          col("b.t") - col("a.t") >= 1 && col("b.t") - col("a.t") <= maxLag)
      .groupBy(col("a.g").as("g"), (col("b.t") - col("a.t")).as("k"))
      .agg(count(lit(1)).as("m"),
        sum((dec(col("a.x")) * dec(col("b.x"))).cast(Dec)).as("sab"),
        sum(col("a.x")).as("sa"), sum(col("b.x")).as("sb"))
    val nD = col("n").cast(Dec); val sD = col("s").cast(Dec)
    val num = (nD * nD * col("sab") - nD * sD * (col("sa") + col("sb")) +
      col("m") * sD * sD).cast(Dec)
    val den = (nD * (nD * col("sxx") - sD * sD)).cast(Dec)
    pairs.join(moments, Seq("g"))
      .select(col("g"), col("k"), col("m").as("n_pairs"),
        when(den.cast("double") > 0,
          num.cast("double") / den.cast("double")).as("acf"))
  }

  /** Cross-correlation function — lead/lag Pearson between two aligned
    * series (x_t vs y_{t+k} for k ∈ [−maxLag, maxLag]): does series x
    * LEAD series y (peak at positive k), lag it, or move independently?
    * The lead-lag screen behind "do clicks predict purchases N days
    * out" — [[acf]]'s two-series sibling, computed pairwise-complete
    * (each lag's correlation uses exactly its m overlapping pairs, the
    * right convention for gappy calendars).
    *
    * Exactness: INTEGRAL x and y; each lag's five moments (m, Σx, Σy,
    * Σxy, Σxx, Σyy over the PAIRED rows) are exact decimal-widened
    * sums from one banded join; the correlation is one fixed IEEE
    * expression of them (null where a side degenerates).
    *
    * Scale shape: the input is expected at series grain (day-level
    * aggregates — corpus mass was collapsed upstream); the banded
    * equi-join on the group key with |Δt| ≤ maxLag replicates each row
    * ≤ 2·maxLag+1 times — Θ(n·maxLag), never n².
    */
  def xcf(df: DataFrame, groupCol: String, timeCol: String,
          xCol: String, yCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val pts = df
      .filter(col(groupCol).isNotNull && col(timeCol).isNotNull &&
        col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("g"), col(timeCol).cast("long").as("t"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
    val a = pts.select(col("g"), col("t"), col("x"))
    val b = pts.select(col("g").as("g2"), col("t").as("t2"), col("y"))
    val pairs = a.join(b,
        col("g") === col("g2") &&
          col("t2") - col("t") >= -maxLag && col("t2") - col("t") <= maxLag)
      .groupBy(col("g"), (col("t2") - col("t")).as("k"))
      .agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((dec(col("x")) * dec(col("y"))).cast(Dec)).as("sxy"),
        sum((dec(col("x")) * dec(col("x"))).cast(Dec)).as("sxx"),
        sum((dec(col("y")) * dec(col("y"))).cast(Dec)).as("syy"))
    val mD = col("m").cast(Dec)
    val num = (mD * col("sxy") -
      col("sx").cast(Dec) * col("sy").cast(Dec)).cast(Dec)
    val denX = (mD * col("sxx") -
      col("sx").cast(Dec) * col("sx").cast(Dec)).cast(Dec)
    val denY = (mD * col("syy") -
      col("sy").cast(Dec) * col("sy").cast(Dec)).cast(Dec)
    pairs.select(col("g"), col("k"), col("m").as("n_pairs"),
      when(denX.cast("double") > 0 && denY.cast("double") > 0,
        num.cast("double") /
          sqrt(denX.cast("double") * denY.cast("double"))).as("xcf"))
  }

  /** MASE — mean absolute scaled error (Hyndman & Koehler 2006) of the
    * seasonal-naive forecast x̂_t = x_{t−season}, scaled by the one-step
    * naive's in-sample MAE. The scale-free forecast-skill audit every
    * monitoring series needs before anyone trusts a "forecast" column:
    * MASE < 1 ⇒ the seasonal pattern genuinely predicts (beats persistence);
    * MASE ≥ 1 ⇒ the series has no usable seasonality at that period.
    *
    * Gap-correct: both lags are DAY-KEYED via RANGE frames on the integer
    * time index (a missing t−season simply contributes no term), never
    * row-shifted lags that silently misalign across gaps.
    *
    * Exactness: integral values; |x_t − x_{t−k}| terms are exact longs
    * summed exactly; the two MAEs and their ratio are fixed IEEE
    * divisions. NULL mase when either term set is empty or the naive MAE
    * is 0 (constant series).
    *
    * Scale shape: input is the (group, t) series grain (corpus mass
    * collapsed upstream); two RANGE windows over each group's series +
    * one aggregate — nothing row-proportional.
    */
  def mase(df: DataFrame, groupCol: String, timeCol: String,
           valueCol: String, season: Int): DataFrame = {
    require(season >= 2, s"season must be >= 2, got $season")
    import org.apache.spark.sql.expressions.Window
    val pts = df
      .filter(col(groupCol).isNotNull && col(timeCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(timeCol).cast("long").as("t"),
        col(valueCol).cast("long").as("x"))
    def at(offset: Int) = Window.partitionBy("g").orderBy(col("t").asc)
      .rangeBetween(-offset, -offset)
    val lagged = pts
      .withColumn("p1", max(col("x")).over(at(1)))
      .withColumn("ps", max(col("x")).over(at(season)))
    lagged.groupBy(col("g").as(groupCol)).agg(
        count(lit(1)).as("n"),
        count(col("p1")).as("n1"),
        count(col("ps")).as("ns"),
        sum(abs(col("x") - col("p1"))).as("sae1"),
        sum(abs(col("x") - col("ps"))).as("saes"))
      .select(col(groupCol), col("n"), col("ns").as("n_seasonal"),
        when(col("n1") > 0,
          col("sae1").cast("double") / col("n1")).as("mae_naive"),
        when(col("ns") > 0,
          col("saes").cast("double") / col("ns")).as("mae_seasonal"),
        when(col("n1") > 0 && col("ns") > 0 && col("sae1") > 0,
          (col("saes").cast("double") / col("ns")) /
            (col("sae1").cast("double") / col("n1"))).as("mase"))
  }

  /** SAX symbolization (Lin, Keogh et al. 2003) — a numeric series
    * compressed to a SHORT SYMBOL STRING: z-normalize per series, mean
    * each fixed-length segment (PAA), then map the segment means onto
    * letters through fixed Gaussian breakpoints. The representation
    * motif mining, series dedup, and anomaly grep actually run on at
    * scale — "abddcba" greps where a million floats cannot.
    *
    * Determinism: μ/σ from exact decimal moments; segment means are
    * IEEE ratios of exact longs; PAA values and breakpoint comparisons
    * are the same fixed IEEE expressions on both engines, so the letter
    * per segment is exact. Segment = t div segLen (time-keyed: gaps
    * shrink a segment's count rather than shifting frames).
    *
    * Scale shape: input is the (group, t) series grain; one (group,
    * segment) aggregate on top of the per-group moment aggregate
    * broadcast back — two bounded shuffles, nothing row-proportional.
    */
  def saxSymbols(df: DataFrame, groupCol: String, timeCol: String,
      valueCol: String, segLen: Int,
      breakpoints: Seq[Double]): DataFrame = {
    require(segLen >= 1, s"segLen must be >= 1, got $segLen")
    require(breakpoints.nonEmpty && breakpoints == breakpoints.sorted,
      "breakpoints must be a sorted non-empty list")
    require(breakpoints.size <= 25, "alphabet capped at 26 letters")
    val (pts, moments) = seriesMoments(df, groupCol, timeCol, valueCol)
    val segs = pts
      .withColumn("seg", floor(col("t").cast("double") / segLen).cast("long"))
      .groupBy("g", "seg")
      .agg(count(lit(1)).as("n_pts"), sum(col("x")).as("sx"))
    val nD = col("n").cast("double")
    val mu = col("s").cast("double") / nD
    val sigma = sqrt(col("sxx").cast("double") / nD - mu * mu)
    val paa = (col("sx").cast("double") / col("n_pts") - mu) / sigma
    val letterIdx = breakpoints
      .foldLeft(lit(0)) { (acc, bp) =>
        acc + when(paa > bp, 1).otherwise(0)
      }
    segs.join(broadcast(moments), "g")
      .select(col("g").as(groupCol), col("seg"), col("n_pts"),
        when(sigma > 0, paa).as("paa"),
        when(sigma > 0,
          lit(('a' to 'z').take(breakpoints.size + 1).mkString)
            .substr(lit(1) + letterIdx, lit(1))).as("sym"))
  }

  /** One-sweep Tukey median polish (EDA 1977) over a (row, col, value)
    * two-way table — the ROBUST additive decomposition
    * x_ij ≈ overall + row_i + col_j + resid that mean-based two-way
    * ANOVA can't give under whales: medians absorb outliers instead of
    * smearing them across a whole row's effect. The monitoring use: a
    * large |residual| cell is a (segment, period) interaction — the
    * anomaly AFTER both margins are explained.
    *
    * Semantics (pinned, engines replay exactly — no iterate-to-
    * convergence): row effects = LOWER median over cols; residuals;
    * col effects = LOWER median of those residuals over rows; overall =
    * lower median of row effects (subtracted from them). One row sweep
    * + one col sweep — the classic first iteration, emitted as four
    * stacked components:
    *
    *   ('overall', NULL,  m)
    *   ('row',     row_i, r_i − m)
    *   ('col',     col_j, c_j)
    *   ('resid',   "i:j" of the max-|residual| cell, that residual)
    *
    * Exactness: the table collapses to exact long cells; every median
    * is an order statistic (an actual cell value on the integer grid —
    * no interpolation); effects and residuals are integer subtraction
    * end to end. Zero float surface.
    *
    * Scale shape: one (row, col) collapse; medians via the cumulative
    * window over each margin's distinct-value collapse (the
    * [[graft.ops.RankTests.brownForsythe]] idiom); everything after is
    * margin-sized.
    */
  def medianPolish(df: DataFrame, rowCol: String, colCol: String,
      valueCol: String): DataFrame = {
    def lowerMedian(d: DataFrame, key: String, v: String,
        out: String): DataFrame = {
      val cum = Window.partitionBy(key).orderBy(col(v).asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(key)
      d.groupBy(col(key), col(v)).agg(count(lit(1)).as("__c"))
        .withColumn("__cc", sum(col("__c")).over(cum))
        .withColumn("__n", sum(col("__c")).over(tot))
        .groupBy(col(key))
        .agg(min(when(col("__cc") >=
          floor((col("__n") + 1L) / 2L).cast("long"), col(v))).as(out))
    }
    val cells = df
      .filter(col(rowCol).isNotNull && col(colCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(rowCol).cast("string").as("r"),
        col(colCol).cast("string").as("c"))
      .agg(sum(col(valueCol).cast("long")).as("v"))
      .localCheckpoint(false) // row sweep + residual passes share it
    val rowEff = lowerMedian(cells, "r", "v", "re")
    val resid1 = cells.join(rowEff, "r")
      .withColumn("v1", col("v") - col("re"))
    val colEff = lowerMedian(resid1.select(col("c"), col("v1")), "c", "v1", "ce")
    val resid2 = resid1.join(colEff, "c")
      .withColumn("v2", col("v1") - col("ce"))
      .localCheckpoint(false) // max-|resid| pick + ledger share it
    // overall = lower median of the row effects (global: one dummy key)
    val overall = lowerMedian(
      rowEff.select(lit("g").as("g"), col("re").as("v")), "g", "v", "m")
      .select(col("m"))
    val mx = resid2.agg(max(abs(col("v2"))).as("mx"))
    val worst = resid2.crossJoin(broadcast(mx))
      .filter(abs(col("v2")) === col("mx"))
      .agg(min(concat(col("r"), lit(":"), col("c"))).as("cell"),
        min(col("v2")).as("wr")) // deterministic pick: smallest cell key
    val worstVal = resid2.crossJoin(broadcast(worst))
      .filter(concat(col("r"), lit(":"), col("c")) === col("cell"))
      .select(col("cell"), col("v2").as("wv"))
    val rowLedger = rowEff.crossJoin(broadcast(overall))
      .select(lit("row").as("component"), col("r").as("key"),
        (col("re") - col("m")).as("effect"))
    val colLedger = colEff
      .select(lit("col").as("component"), col("c").as("key"),
        col("ce").as("effect"))
    val overallLedger = overall
      .select(lit("overall").as("component"),
        lit(null).cast("string").as("key"), col("m").as("effect"))
    val residLedger = worstVal
      .select(lit("resid").as("component"), col("cell").as("key"),
        col("wv").as("effect"))
    overallLedger.unionByName(rowLedger).unionByName(colLedger)
      .unionByName(residLedger)
  }
}
