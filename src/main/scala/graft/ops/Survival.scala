package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Kaplan-Meier survival estimation (product-limit estimator, 1958) —
  * the censoring-correct generalization of the retention curves already
  * in the library ([[graft.queries]]' cohort retention): "what fraction
  * of subjects survive past time t" when observation windows END at
  * different times. Plain retention treats a user whose window simply
  * ran out as churned; KM removes them from the risk set at their
  * censoring time instead, which is the difference between a curve that
  * bends down artificially and one that estimates the true survival
  * function. Same math powers time-to-conversion, time-to-failure, and
  * dataset-freshness decay analyses.
  *
  *   S(t) = Π_{tᵢ ≤ t, dᵢ > 0} (1 − dᵢ/nᵢ)
  *
  * with dᵢ events and nᵢ subjects at risk at event time tᵢ.
  *
  * Exactness: dᵢ, cᵢ, nᵢ are exact longs (one collapse aggregate + one
  * cumulative window); the product is computed as exp(Σ ln((nᵢ−dᵢ)/nᵢ))
  * over those exact ratios — a bounded-cardinality float sum in a FIXED
  * prefix order (event-time order), the same determinism class as the
  * lm-score/BM25 oracles; a risk set that hits zero survivors pins
  * S = 0 exactly via a flag, not via ln(0).
  *
  * Scale shape: rows collapse to distinct (group, duration) cells in one
  * map-side-combined aggregate (the [[Aggregates.groupedQuantiles]]
  * discipline — window partition size is the group's distinct event-time
  * count, never its row count); ONE window exchange per group serves the
  * risk-set countdown, the zero flag, and the cumulative log-product.
  */
object Survival {

  private val wCum = Window.partitionBy("g").orderBy(col("t").asc)
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Per (group `g`, integral time `t`): events `d`, censorings `c`, and
    * the subjects still at risk `n_risk` (all of the group's rows at or
    * after t) — the table [[kaplanMeier]] and [[nelsonAalen]] read.
    */
  private def riskTable(df: DataFrame, groupCol: String, durationCol: String,
      eventCol: String): DataFrame = {
    val ev = col(eventCol).cast("long")
    val cells = df
      .filter(col(groupCol).isNotNull && col(durationCol).isNotNull &&
        ev.isNotNull)
      .groupBy(col(groupCol).as("g"), col(durationCol).cast("long").as("t"))
      .agg(sum(ev).as("d"), sum(lit(1L) - ev).as("c"))
    val wPrev = Window.partitionBy("g").orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("n_risk",
        sum(col("d") + col("c")).over(Window.partitionBy("g")) -
          coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
  }

  /** `df`: one subject per row with integral `durationCol` (time under
    * observation) and `eventCol` (1 = event observed at duration,
    * 0 = censored at duration). Returns one row per (group, t) at
    * observed EVENT times: (group, t, n_risk, d, c, survival) — c is the
    * count censored at exactly t (censorings tie-break AFTER events at
    * the same time, the standard KM convention: they are in the risk set
    * at t). Null group/duration/event rows are excluded.
    */
  def kaplanMeier(df: DataFrame, groupCol: String, durationCol: String,
                  eventCol: String): DataFrame = {
    riskTable(df, groupCol, durationCol, eventCol)
      // ln term only at event times; d == n_risk extinguishes the curve
      .withColumn("__term",
        when(col("d") > 0 && col("d") < col("n_risk"),
          log((col("n_risk") - col("d")).cast("double") / col("n_risk")))
          .otherwise(lit(0.0)))
      .withColumn("__dead",
        max(when(col("d") >= col("n_risk") && col("d") > 0, 1L)
          .otherwise(0L)).over(wCum))
      .withColumn("survival",
        when(col("__dead") === 1, lit(0.0))
          .otherwise(exp(sum(col("__term")).over(wCum))))
      .filter(col("d") > 0)
      .select(col("g").as(groupCol), col("t"), col("n_risk"), col("d"),
        col("c"), col("survival"))
  }

  /** Nelson–Aalen cumulative-hazard estimator (Nelson 1972; Aalen 1978)
    * — the additive counterpart of [[kaplanMeier]]'s product-limit
    * curve, and the quantity survival regressions (Cox baselines,
    * hazard-ratio readouts) are actually fit against:
    *
    *   H(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ
    *
    * plus the Fleming–Harrington survival readout S̃(t) = exp(−H(t)),
    * which dominates KM in small risk sets (it never hits hard zero on
    * a risk set that dies out). Same input contract, censoring
    * convention (ties censor AFTER events), and output granularity as
    * [[kaplanMeier]] — one row per (group, t) at observed event times.
    *
    * Exactness: dᵢ, nᵢ are exact longs; each hazard increment dᵢ/nᵢ is
    * one IEEE division of identical operands, and the cumulative sum
    * runs in the FIXED event-time order on both engines — the same
    * determinism class as KM's cumulative log-product.
    *
    * Scale shape: identical to [[kaplanMeier]] — one map-side-combined
    * collapse to distinct (group, t) cells, then ONE window exchange per
    * group sized by distinct event times, never row count.
    */
  def nelsonAalen(df: DataFrame, groupCol: String, durationCol: String,
                  eventCol: String): DataFrame = {
    riskTable(df, groupCol, durationCol, eventCol)
      .withColumn("hazard",
        when(col("d") > 0, col("d").cast("double") / col("n_risk"))
          .otherwise(lit(0.0)))
      .withColumn("cum_hazard", sum(col("hazard")).over(wCum))
      .filter(col("d") > 0)
      .select(col("g").as(groupCol), col("t"), col("n_risk"), col("d"),
        col("c"), col("hazard"), col("cum_hazard"),
        exp(-col("cum_hazard")).as("s_fh"))
  }

  /** Weibull fit on the Kaplan–Meier curve (the classical Weibull
    * probability plot, computed distributed): ln(−ln S(t)) is LINEAR in
    * ln t exactly when durations are Weibull(k, λ) —
    *
    *   ln(−ln S(t)) = k·ln t − k·ln λ
    *
    * so an OLS line through the KM points yields shape k (slope) and
    * scale λ = exp(−intercept/k). The parametric summary a churn/failure
    * curve needs two numbers for: k < 1 = infant-mortality hazard
    * (churn front-loaded), k ≈ 1 = memoryless, k > 1 = wear-out. Input
    * is [[kaplanMeier]] OUTPUT — censoring-correct by construction and
    * already collapsed to distinct event times, so the regression runs
    * over a BOUNDED point set (distinct durations, never subjects).
    *
    * Determinism: regression points use t > 0 and 0 < S < 1; both
    * coordinates land on the 1e-12 long grid before the moment sums (the
    * [[graft.llm.Pca]] per-term discipline — float sums would reassociate),
    * products widen to decimal(38,0), and the OLS closed form is one
    * fixed IEEE readout. NULL fit when fewer than 2 points or a
    * degenerate spread.
    *
    * Scale shape: one ≤|distinct durations| aggregate per group on top of
    * KM's existing one-window shape; nothing else moves.
    */
  def weibullFit(km: DataFrame, groupCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def grid(c: org.apache.spark.sql.Column) =
      floor(c * 1e12 + 0.5).cast("long")
    val pts = km
      .filter(col("t") > 0 && col("survival") > 0 && col("survival") < 1)
      .select(col(groupCol).as("g"),
        grid(log(col("t").cast("double"))).as("xg"),
        grid(log(-log(col("survival")))).as("yg"))
    val xd = col("xg").cast(org.apache.spark.sql.types.DecimalType(19, 0))
    val yd = col("yg").cast(org.apache.spark.sql.types.DecimalType(19, 0))
    val m = pts.groupBy("g").agg(
      count(lit(1)).as("np"),
      sum(col("xg")).as("sx"), sum(col("yg")).as("sy"),
      sum((xd * yd).cast(dec)).as("sxy"),
      sum((xd * xd).cast(dec)).as("sxx"),
      sum((yd * yd).cast(dec)).as("syy"))
    val nD = col("np").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val num = nD * col("sxy").cast("double") - sx * sy
    val den = nD * col("sxx").cast("double") - sx * sx
    val denY = nD * col("syy").cast("double") - sy * sy
    val k = num / den
    // intercept in 1e-12 grid units; λ = exp(−(b/1e12)/k)
    val b = (sy - (num / den) * sx) / nD
    val ok = col("np") > 1 && den > 0 && num =!= 0.0
    m.select(col("g").as(groupCol), col("np").as("n_points"),
      when(ok, k).as("shape"),
      when(ok, exp(-(b / 1e12) / k)).as("scale"),
      when(ok && denY > 0, num / sqrt(den * denY)).as("r"))
  }

  /** Two-sample log-rank test (Mantel 1966) — "do arms A and B share a
    * survival curve?", the inferential companion to [[kaplanMeier]]'s
    * descriptive curves and the standard readout of any churn /
    * time-to-conversion experiment. At each pooled event time t with
    * dₜ total events and nₜ at risk (n_{A,t} in arm A):
    *
    *   O_A = Σ d_{A,t},   E_A = Σ dₜ·n_{A,t}/nₜ,
    *   V   = Σ dₜ·(n_{A,t}/nₜ)·(1 − n_{A,t}/nₜ)·(nₜ − dₜ)/(nₜ − 1)
    *
    * (hypergeometric variance; times with nₜ = 1 contribute 0), then
    * z = (O_A − E_A)/√V and the repo's engine-portable logistic normal
    * tail p = 2/(1 + exp(1.702·|z|)).
    *
    * Censoring convention matches KM: subjects censored at t are in the
    * risk set at t.
    *
    * Determinism: dₜ, n_{A,t}, nₜ are exact longs (one collapse + per-arm
    * cumulative windows over the pooled event-time grid); each E and V
    * term lands on the 1e-12 long grid BEFORE the sums (time order must
    * not reassociate them); z and p are fixed IEEE readouts. NULL z/p
    * when V = 0 (no information — e.g. every event in a single time
    * with full overlap degeneracy).
    *
    * Scale shape: one map-side-combined (arm, t) collapse; the grid is
    * |pooled event times| × 2 rows (the [[kaplanMeier]] bounded-window
    * discipline), one window exchange, one 1-row readout.
    */
  def logRank(df: DataFrame, armACol: Column, durationCol: String,
              eventCol: String): DataFrame = {
    val ev = col(eventCol).cast("long")
    val arm = armACol.cast("boolean")
    def grid(c: Column): Column = floor(c * 1e12 + 0.5).cast("long")
    val cells = df
      .filter(arm.isNotNull && col(durationCol).isNotNull && ev.isNotNull)
      .groupBy(arm.as("a"), col(durationCol).cast("long").as("t"))
      .agg(sum(ev).as("d"), sum(lit(1L) - ev).as("c"))
      .localCheckpoint(false) // pooled times + both per-arm grids read it
    // pooled event-time grid × both arms; absent (arm, t) cells carry
    // d = c = 0 but still need their risk-set value from the window
    val times = cells.groupBy("t").agg(sum(col("d")).as("dt"))
      .filter(col("dt") > 0).select("t")
    val arms = cells.sparkSession.range(2)
      .select((col("id") === 0).as("a"))
    val full = times.crossJoin(broadcast(arms))
      .join(cells, Seq("a", "t"), "left").na.fill(0L, Seq("d", "c"))
      // re-attach cells that are censoring-only times: their (d + c)
      // mass must flow through the cumulative risk-set window
      .unionByName(cells.join(times, Seq("t"), "left_anti"))
    val wAll = Window.partitionBy("a")
    val wPrev = Window.partitionBy("a").orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = full
      .withColumn("n_risk",
        sum(col("d") + col("c")).over(wAll) -
          coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
      .join(times, Seq("t")) // readout rows: pooled event times only
    val byT = risk.groupBy("t").agg(
      sum(col("d")).as("dt"),
      sum(col("n_risk")).as("nt"),
      sum(when(col("a"), col("d")).otherwise(0L)).as("da"),
      sum(when(col("a"), col("n_risk")).otherwise(0L)).as("na"))
    val share = col("na").cast("double") / col("nt")
    val terms = byT.select(
      col("da"), col("na"),
      grid(col("dt") * share).as("eg"),
      when(col("nt") > 1,
        grid(col("dt") * share * (lit(1.0) - share) *
          (col("nt") - col("dt")).cast("double") / (col("nt") - 1L)))
        .otherwise(lit(0L)).as("vg"))
    val out = terms.agg(
      sum(col("da")).as("o_a"),
      sum(col("eg")).as("eg"), sum(col("vg")).as("vg"))
    val eA = col("eg").cast("double") / 1e12
    val v = col("vg").cast("double") / 1e12
    val z = (col("o_a").cast("double") - eA) / sqrt(v)
    out.select(col("o_a"), eA.as("e_a"), v.as("v"),
      when(v > 0, z).as("z"),
      when(v > 0, lit(2.0) / (lit(1.0) + exp(lit(1.702) * abs(z)))).as("p"))
  }
}
