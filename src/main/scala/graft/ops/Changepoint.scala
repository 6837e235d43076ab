package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-sided CUSUM change-point detection over a per-group ordered series —
  * the drift alarm a data pipeline hangs off its daily volume / quality /
  * revenue series (Page 1954). Detects sustained UPWARD shifts of the mean:
  *
  *   S_0 = 0,  S_i = max(0, S_{i−1} + (x_i − μ − κ)),  alarm when S_i > h
  *
  * (mirror the values for downward shifts). The recursion is not a plain
  * prefix sum, but it has the classic scan identity S_i = P_i − min(0,
  * min_{j≤i} P_j) with P the running sum of (x_i − μ − κ) — so it lowers to
  * ONE ordered window per group (running sum + running min share the same
  * sort), never an iterative loop.
  *
  * Exactness contract: `valueCol` is integral (cents idiom) and μ is the
  * in-sample per-group mean Σx/n — a rational. Everything is scaled by the
  * group's n: d_i = n·x_i − Σx − n·κ is an exact long, so the running
  * statistic n·S_i is an exact long under any partitioning, the alarm
  * compare (n·S_i > n·h) is integer, and the emitted `stat = S_i` is a
  * single exact-operand division. κ (slack) and h (threshold) are given in
  * value units.
  *
  * Scale shape: the caller pre-aggregates to series grain (e.g. day), so a
  * group's partition is its series length — days, not corpus rows; the
  * per-group (n, Σx) stats table is |groups| rows joined back hint-free
  * (AQE broadcasts when it fits). One corpus-mass shuffle to the grain
  * aggregate upstream, one window exchange here.
  */
object Changepoint {

  /** df: one row per (group, t) — an already-aggregated series. Returns
    * every series row with `stat` (the CUSUM statistic) and `alarm`.
    * slack/threshold are in `valueCol` units.
    */
  def cusum(df: DataFrame, groupCol: String, tCol: String, valueCol: String,
            slack: Double, threshold: Double): DataFrame = {
    val x = col(valueCol).cast("long")
    val series = df
      .filter(col(groupCol).isNotNull && col(tCol).isNotNull && x.isNotNull)
      .select(col(groupCol), col(tCol), x.as("cp_x"))
    val stats = series.groupBy(col(groupCol))
      .agg(count(lit(1)).as("cp_n"), sum(col("cp_x")).as("cp_s"))
    val wOrd = Window.partitionBy(col(groupCol)).orderBy(col(tCol).asc)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // n·κ and n·h on the half-cent grid stay exact: slack/threshold are
    // caller constants with short binary/decimal expansions and n is a
    // long — floor after one multiply, mirrored verbatim by the oracle
    val nKappa = floor(col("cp_n") * lit(slack)).cast("long")
    val nH = floor(col("cp_n") * lit(threshold)).cast("long")
    series.join(stats, Seq(groupCol))
      .withColumn("cp_d", col("cp_x") * col("cp_n") - col("cp_s") - nKappa)
      .withColumn("cp_p", sum(col("cp_d")).over(wRun))
      .withColumn("cp_m", least(lit(0L), min(col("cp_p")).over(wRun)))
      .select(col(groupCol), col(tCol), col("cp_x").as(valueCol),
        ((col("cp_p") - col("cp_m")).cast("double") / col("cp_n")).as("stat"),
        (col("cp_p") - col("cp_m") > nH).as("alarm"))
  }

  /** Wald's Sequential Probability Ratio Test for a Bernoulli rate
    * (Wald 1945) — the ALWAYS-VALID monitor the fixed-n tests (χ²,
    * ANOVA, the repo's q_ab_test) can't be: peek at every observation,
    * stop the moment the evidence crosses a boundary, with error rates
    * α/β guaranteed regardless of when you look. H₀: p = p0 vs
    * H₁: p = p1; after n observations with k successes the
    * log-likelihood ratio is
    *
    *   Λ_n = k·ln(p1/p0) + (n−k)·ln((1−p1)/(1−p0))
    *
    * accept H₁ when Λ ≥ ln((1−β)/α), accept H₀ when Λ ≤ ln(β/(1−α)).
    *
    * Exactness: k and n−k are exact cumulative longs (one ordered
    * window per group over the COLLAPSED per-period cells); the two ln
    * terms are LITERAL constants, so Λ is one fixed IEEE expression of
    * integer counts — no float accumulation at all, bit-identical on
    * any engine. The decision compares the unrounded Λ to literal
    * boundaries.
    *
    * Scale shape: rows collapse to (group, period) success/trial cells
    * in one map-side-combined aggregate; ONE window exchange per group
    * sized by the period count serves the cumulative counts. Returns
    * one row per (group, period): n, k, llr, decision ∈
    * {accept_h1, accept_h0, continue} for the state at that period's
    * END (a production monitor stops at the first non-continue row;
    * keeping later rows makes the whole trajectory auditable).
    */
  def sprtBernoulli(df: DataFrame, groupCol: String, tCol: String,
      successCol: Column, p0: Double, p1: Double,
      alpha: Double = 0.05, beta: Double = 0.2): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      "p0, p1 must be distinct rates in (0,1)")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1)
    val lPos = math.log(p1 / p0)
    val lNeg = math.log((1.0 - p1) / (1.0 - p0))
    val upper = math.log((1.0 - beta) / alpha)
    val lower = math.log(beta / (1.0 - alpha))
    val y = successCol.cast("long")
    val cells = df
      .filter(col(groupCol).isNotNull && col(tCol).isNotNull && y.isNotNull)
      .groupBy(col(groupCol), col(tCol))
      .agg(sum(y).as("sp_k"), count(lit(1)).as("sp_n"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(tCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val llr = col("k") * lit(lPos) + (col("n") - col("k")) * lit(lNeg)
    cells
      .withColumn("k", sum(col("sp_k")).over(wCum))
      .withColumn("n", sum(col("sp_n")).over(wCum))
      .withColumn("llr", llr)
      .select(col(groupCol), col(tCol), col("n"), col("k"), col("llr"),
        when(col("llr") >= lit(upper), lit("accept_h1"))
          .when(col("llr") <= lit(lower), lit("accept_h0"))
          .otherwise(lit("continue")).as("decision"))
  }

  /** Page–Hinkley drift detector (Page 1954; the streaming-ML form) —
    * [[cusum]]'s self-calibrating sibling: CUSUM needs the pre-shift
    * mean as a parameter, PH tracks deviations from the RUNNING mean,
    * so it needs only the slack δ and threshold λ:
    *
    *   m_t  = Σ_{i≤t} (x_i − x̄_i − δ),   x̄_i = (x_1+…+x_i)/i
    *   PH_t = m_t − min_{j≤t} m_j,        alarm when PH_t > λ
    *
    * Detects sustained UPWARD drifts of the mean (mirror values for
    * downward). The standard concept-drift monitor on a model-quality /
    * acceptance-rate series.
    *
    * Exactness: `valueCol` integral; each deviation term lands on the
    * 1e-9 long grid (the running mean S_i/i is one exact-operand IEEE
    * division — identical cross-engine — and the grid makes the
    * cumulative sums integer), so m, its running min, and the alarm
    * compare are exact integer arithmetic; the emitted `ph` is one
    * division by the grid.
    *
    * Scale shape: the [[cusum]] contract — caller pre-aggregates to
    * series grain; ONE ordered window per group carries the prefix sum,
    * prefix count, cumulative m and running min together.
    */
  def pageHinkley(df: DataFrame, groupCol: String, tCol: String,
      valueCol: String, slack: Double, threshold: Double): DataFrame = {
    val x = col(valueCol).cast("long")
    val series = df
      .filter(col(groupCol).isNotNull && col(tCol).isNotNull && x.isNotNull)
      .select(col(groupCol), col(tCol), x.as("ph_x"))
    val wRun = Window.partitionBy(col(groupCol)).orderBy(col(tCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series
      .withColumn("ph_s", sum(col("ph_x")).over(wRun))
      .withColumn("ph_i", count(lit(1)).over(wRun))
      .withColumn("ph_tq",
        floor((col("ph_x").cast("double") -
          col("ph_s").cast("double") / col("ph_i") - lit(slack)) * 1e9 +
          lit(0.5)).cast("long"))
      .withColumn("ph_m", sum(col("ph_tq")).over(wRun))
      .withColumn("ph_min", min(col("ph_m")).over(wRun))
      .select(col(groupCol), col(tCol), col("ph_x").as(valueCol),
        ((col("ph_m") - col("ph_min")).cast("double") / 1e9).as("ph"),
        (col("ph_m") - col("ph_min") >
          floor(lit(threshold) * 1e9).cast("long")).as("alarm"))
  }

  /** The (g, t, v) series [[pettitt]] and [[mannKendall]] read: rows with
    * a non-null group, time and value, time and value as longs.
    */
  private def groupSeries(df: DataFrame, groupCol: String, tCol: String,
      valueCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    df.filter(col(groupCol).isNotNull && col(tCol).isNotNull && x.isNotNull)
      .select(col(groupCol).as("g"), col(tCol).cast("long").as("t"), x.as("v"))
  }

  /** Pettitt change-point test (1979) — the rank-based single-shift
    * locator that completes [[cusum]]: CUSUM needs a known pre-shift
    * mean and slack, Pettitt asks the assumption-free question "did this
    * series change level at SOME point, and where?". Over a per-group
    * ordered series x₁…x_n it scans the Mann–Whitney-style statistic
    *
    *   U_t = Σ_{i≤t} Σ_{j>t} sgn(xᵢ − xⱼ),  K = max_t |U_t|,
    *   p ≈ 2·exp(−6K² / (n³ + n²))   (capped at 1)
    *
    * with the change point t* = the earliest t attaining K.
    *
    * Exactness: with pooled midranks r over the group's values,
    * Σ_j sgn(xᵢ − xⱼ) = 2rᵢ − n − 1 exactly (ties included — doubled
    * midranks are integers), so U_t is an exact cumulative LONG in time
    * order: U_t = Σ_{i≤t}(2rᵢ − n − 1); K, t* are integer comparisons
    * (earliest t on ties) and p is one exp() readout (callers qround).
    *
    * Scale shape: the caller pre-aggregates to series grain (the
    * [[cusum]] contract), so partitions are series length; doubled
    * midranks come from TWO frames over the same per-group sort (RANGE
    * cumulative + tie count), the scan is one ordered window, and a
    * ≤|groups| aggregate ends it. Nothing is collected.
    */
  def pettitt(df: DataFrame, groupCol: String, tCol: String,
      valueCol: String): DataFrame = {
    val series = groupSeries(df, groupCol, tCol, valueCol)
    val wVal = Window.partitionBy("g").orderBy(col("v").asc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wTies = Window.partitionBy("g", "v")
    val wAll = Window.partitionBy("g")
    val wTime = Window.partitionBy("g").orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scanned = series
      .withColumn("cc", count(lit(1)).over(wVal)) // inclusive of all ties
      .withColumn("tv", count(lit(1)).over(wTies))
      .withColumn("n", count(lit(1)).over(wAll))
      // doubled midrank 2r = 2cc − tv + 1; per-term contribution 2r−n−1
      .withColumn("u", sum(lit(2L) * col("cc") - col("tv") + 1L -
        col("n") - 1L).over(wTime))
    scanned
      .withColumn("kk", max(abs(col("u"))).over(wAll))
      .groupBy(col("g").as(groupCol))
      .agg(max(col("n")).as("n"),
        max(col("kk")).as("k_stat"),
        min(when(abs(col("u")) === col("kk"), col("t"))).as("t_star"))
      .select(col(groupCol), col("n"), col("k_stat"), col("t_star"),
        least(lit(1.0), lit(2.0) * exp(lit(-6.0) *
          col("k_stat").cast("double") * col("k_stat").cast("double") /
          (col("n").cast("double") * col("n") * col("n") +
            col("n").cast("double") * col("n")))).as("p"))
  }

  /** Mann–Kendall trend test (Mann 1945, Kendall 1975) + Sen's slope
    * (Sen 1968) per group — the monotone-TREND question [[pettitt]]'s
    * single-shift alternative doesn't ask: is this series drifting up or
    * down at all, and how fast? The non-parametric pair every
    * environmental/SLA monitoring stack ships:
    *
    *   S    = Σ_{i<j} sgn(x_j − x_i)           (time order)
    *   varS = (n(n−1)(2n+5) − Σ_v t_v(t_v−1)(2t_v+5)) / 18
    *   z    = (S∓1)/√varS  (continuity-corrected; 0 when S = 0)
    *   sen  = median of the pairwise slopes (x_j−x_i)/(t_j−t_i)
    *
    * Exactness: S and the tie sums are exact longs; z is one IEEE
    * division; each slope lands on the 1e-9 grid (one exact-operand
    * division per pair) and sen is the LOWER median — an actual grid
    * value picked by an integer row_number, no interpolation. NULL z
    * when varS = 0 (all values tied).
    *
    * Scale shape: the [[cusum]] contract — the CALLER pre-aggregates to
    * series grain (daily/hourly), so the within-group pair join is
    * Θ(L²) in the SERIES LENGTH (a constant in corpus mass: 31 days stay
    * 31 days at 100 TB), never in rows; it shuffles on the group key
    * once. Ties and n ride a separate value collapse of the same series.
    */
  def mannKendall(df: DataFrame, groupCol: String, tCol: String,
      valueCol: String): DataFrame = {
    val series = groupSeries(df, groupCol, tCol, valueCol)
      .localCheckpoint(false) // pair join (both sides) + tie collapse
    val a = series.select(col("g"), col("t").as("ti"), col("v").as("vi"))
    val b = series.select(col("g"), col("t").as("tj"), col("v").as("vj"))
    val pairs = a.join(b, Seq("g")).filter(col("ti") < col("tj"))
      .select(col("g"),
        signum((col("vj") - col("vi")).cast("double")).cast("long").as("sgn"),
        floor((col("vj") - col("vi")).cast("double") /
          (col("tj") - col("ti")).cast("double") * 1e9 + 0.5).cast("long")
          .as("slope9"))
      .localCheckpoint(false) // S aggregate + the sen median share it
    val sAgg = pairs.groupBy(col("g"))
      .agg(sum(col("sgn")).as("s"), count(lit(1)).as("m"))
    val wSen = Window.partitionBy("g").orderBy(col("slope9").asc)
    val sen = pairs
      .withColumn("rn", row_number().over(wSen))
      .join(sAgg.select(col("g"), col("m")), Seq("g"))
      .filter(col("rn") === floor((col("m") + 1L) / 2L).cast("long")) // lower median
      .select(col("g"), (col("slope9").cast("double") / 1e9).as("sen_slope"))
    val ties = series.groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("tv"))
      .groupBy(col("g"))
      .agg(sum(col("tv")).as("n"),
        sum(col("tv") * (col("tv") - 1L) * (lit(2L) * col("tv") + 5L))
          .as("tsum"))
    val nd = col("n").cast("double")
    val varS = (nd * (nd - 1.0) * (lit(2.0) * nd + 5.0) -
      col("tsum").cast("double")) / 18.0
    val z = when(col("s") > 0, (col("s").cast("double") - 1.0) / sqrt(varS))
      .when(col("s") < 0, (col("s").cast("double") + 1.0) / sqrt(varS))
      .otherwise(lit(0.0))
    sAgg.join(ties, Seq("g")).join(sen, Seq("g"))
      .select(col("g").as(groupCol), col("n"), col("s").as("s_stat"),
        when(varS > 0, z).as("z"), col("sen_slope"))
  }
}
