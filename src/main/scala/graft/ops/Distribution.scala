package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Categorical-distribution drift metrics — the training-mix monitor: how
  * far each segment's category mix (event types per week, languages per
  * crawl snapshot, domains per shard) sits from the corpus-wide mix.
  * The reference's analogue is pandas `value_counts` normalization eyeballed
  * in notebooks; at 100 TB the comparison must be an aggregate, not a plot.
  *
  * Per segment s with share vector p and global share vector q:
  *   entropy(s) = −Σ_c p_c ln p_c            (mix diversity)
  *   kl(s‖g)    =  Σ_c p_c ln (p_c / q_c)    (drift vs corpus)
  *   tvd(s,g)   = ½ Σ_c |p_c − q_c|          (worst-case share gap)
  *
  * Exactness/determinism: counts are exact longs; shares are single IEEE
  * divisions of those longs (bit-identical cross-engine); ln is the only
  * libm call and every output passes through the caller's `qround` (the
  * repo's float-aggregate discipline — category counts are small, so
  * re-association noise is ~1e-15, far under the rounding grain).
  * KL's p·ln(p/q) terms are well-defined because a segment's categories
  * are a subset of the global ones (q_c > 0 wherever p_c > 0); absent
  * categories contribute 0 to entropy/KL by the usual 0·ln 0 = 0
  * convention, and TVD folds them in exactly via
  *   ½ (Σ_present |p_c − q_c| + 1 − Σ_present q_c)
  * — only present (segment, category) rows are ever materialized.
  *
  * Scale shape: one map-side-combined aggregate to (segment, category)
  * counts — the ONLY corpus-mass shuffle; global category shares derive
  * from re-aggregating that table and broadcast back onto it (category
  * cardinality is bounded — languages, event types, domains — never
  * row-proportional); one final per-segment aggregate. Nothing is
  * collected on the driver.
  */
object Distribution {

  /** Per-segment drift report: (segCol, n_rows, n_cats, entropy, kl, tvd).
    * Raw (unrounded) doubles — callers `qround` at the query layer.
    */
  def categoricalDrift(df: DataFrame, segCol: String, catCol: String): DataFrame = {
    val segCat = df
      .filter(col(segCol).isNotNull && col(catCol).isNotNull)
      .groupBy(col(segCol), col(catCol))
      .agg(count(lit(1)).as("sc_n"))
      .localCheckpoint(false) // consumed by global re-agg AND the join below
    val global = segCat.groupBy(col(catCol)).agg(sum(col("sc_n")).as("c_n"))
    val totals = segCat.groupBy(col(segCol)).agg(sum(col("sc_n")).as("s_n"))
    val grand = global.agg(sum(col("c_n")).as("g_n"))

    // global shares and the 1-row grand total are category-bounded →
    // broadcast by contract; segment totals can be many (one per segment),
    // so that join is left to cost — it reuses segCat's partitioning when
    // it does shuffle (same key as the final aggregate)
    val joined = segCat
      .join(broadcast(global), catCol)
      .join(totals, segCol)
      .crossJoin(broadcast(grand))
      .withColumn("p", col("sc_n").cast("double") / col("s_n"))
      .withColumn("q", col("c_n").cast("double") / col("g_n"))
    joined.groupBy(col(segCol))
      .agg(
        max(col("s_n")).as("n_rows"),
        count(lit(1)).as("n_cats"),
        (-sum(col("p") * log(col("p")))).as("entropy"),
        sum(col("p") * log(col("p") / col("q"))).as("kl"),
        ((sum(abs(col("p") - col("q"))) + lit(1.0) - sum(col("q"))) / 2.0).as("tvd"))
  }

  /** Per-segment two-sample Kolmogorov-Smirnov statistic of the segment's
    * value distribution against the corpus-wide one:
    *   D(s) = max_v |F_s(v) − F_g(v)|
    * — the numeric-drift twin of [[categoricalDrift]] (that one monitors a
    * category mix; this one a quantized numeric column, e.g. value cents,
    * token counts, quality scores).
    *
    * `valueCol` must be integral (the repo's fixed-point idiom): both ECDFs
    * are step functions changing only at distinct values, so the max runs
    * over the distinct-value grid, and the drift report's cost is bounded
    * by |segments| × |distinct values| — the caller controls that bound by
    * quantizing (cents, ppm), exactly as a 100 TB monitor must. Exactness:
    * cumulative counts are exact longs, each ECDF value one IEEE division,
    * D a max over identically-computed doubles — order-free and
    * bit-identical cross-engine.
    *
    * Scale shape: one map-side-combined aggregate to (segment, value)
    * counts — the only corpus-mass shuffle; the global histogram re-derives
    * from that table; the evaluation grid is |segments| × |values| rows
    * (bounded by the quantization contract) with one cumulative window per
    * segment (partition size = |values|, never row count).
    */
  def ksDrift(df: DataFrame, segCol: String, valueCol: String): DataFrame =
    ecdfGrid(df, segCol, valueCol)
      .groupBy(col("seg").as(segCol))
      .agg(max(col("stot")).as("n_seg"),
        max(abs(col("cs").cast("double") / col("stot") -
          col("cg").cast("double") / col("gtot"))).as("ks"))

  /** The (segment, distinct value) grid [[ksDrift]], [[cvmDrift]] and
    * [[wassersteinDrift]] read: per cell the segment count `sn` (0 where
    * the segment lacks the value), the pooled count `gn`, the segment
    * total `stot`, the cumulative `cs`/`cg` through that value, and the
    * grand total `gtot`.
    */
  private def ecdfGrid(df: DataFrame, segCol: String, valueCol: String): DataFrame = {
    val base = df
      .filter(col(segCol).isNotNull && col(valueCol).isNotNull)
      .select(col(segCol).as("seg"), col(valueCol).cast("long").as("v"))
    val segCnt = base.groupBy("seg", "v")
      .agg(count(lit(1)).as("sn"))
      .localCheckpoint(false) // feeds the global histogram, totals AND the grid
    val gv = segCnt.groupBy("v").agg(sum(col("sn")).as("gn"))
    val segs = segCnt.groupBy("seg").agg(sum(col("sn")).as("stot"))
    val grand = gv.agg(sum(col("gn")).as("gtot"))
    // grid = every (segment, distinct value): segments are few → broadcast;
    // missing (seg, v) cells count 0 so the window still carries F_s there
    val grid = gv.crossJoin(broadcast(segs))
      .join(segCnt, Seq("seg", "v"), "left")
      .na.fill(0L, Seq("sn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("seg").orderBy(col("v").asc)
    grid
      .withColumn("cs", sum(col("sn")).over(w))
      .withColumn("cg", sum(col("gn")).over(w))
      .crossJoin(broadcast(grand))
  }

  /** Per-segment Cramér–von Mises drift (ω² form) against the corpus-wide
    * distribution — [[ksDrift]]'s whole-curve companion: KS reads the
    * single worst ECDF gap (one crossing point can dominate), CvM
    * integrates the SQUARED gap over the whole distribution,
    *
    *   ω²(s) = Σ_v (g_v / g_tot) · (F_s(v) − F_g(v))²
    *
    * (the mean-square ECDF gap under the corpus measure — sensitive to
    * broad low-amplitude drift KS under-weights).
    *
    * Exactness: the [[ksDrift]] grid — exact cumulative longs, each
    * term one fixed IEEE expression landing on the 1e-12 long grid
    * BEFORE the cross-value sum (which would otherwise reassociate);
    * the gridded sum is decimal(38,0) (1e-12 grain × corpus mass passes
    * 2⁶³); the emitted ω² is one division by the grid.
    *
    * Scale shape: identical to [[ksDrift]] — one (segment, value)
    * collapse, a bounded grid, one cumulative window per segment.
    */
  def cvmDrift(df: DataFrame, segCol: String, valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val gap = col("cs").cast("double") / col("stot") -
      col("cg").cast("double") / col("gtot")
    ecdfGrid(df, segCol, valueCol)
      .withColumn("t12",
        floor(col("gn").cast("double") * gap * gap * 1e12 + 0.5)
          .cast(dec))
      .groupBy(col("seg").as(segCol))
      .agg(max(col("stot")).as("n_seg"),
        (sum(col("t12")).cast("double") /
          (max(col("gtot")).cast("double") * 1e12)).as("cvm"))
  }

  /** Per-segment 1-Wasserstein (earth-mover) drift against the
    * corpus-wide distribution — the THIRD lens on the same grid: KS is
    * the worst gap, CvM the mean-square gap, W₁ the AREA between the
    * ECDFs in VALUE units (cents here) — "how far does probability mass
    * actually have to move?", the only one of the three that prices the
    * magnitude of a shift, not just its probability:
    *
    *   W₁(s) = Σ_v |F_s(v) − F_g(v)| · (v_next − v)
    *
    * over consecutive distinct pooled values (the exact integral of the
    * step functions; the last value contributes 0).
    *
    * Exactness: exact cumulative longs; each |gap|·Δv term lands on the
    * 1e-9 long grid before the sum (decimal(38,0) — Δv in cents ×
    * 1e-9 grain passes 2⁶³ on wide ranges); W₁ is one grid division.
    *
    * Scale shape: the [[ksDrift]] grid + one lead() on the same window
    * sort. Nothing extra shuffles.
    */
  def wassersteinDrift(df: DataFrame, segCol: String,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val gap = abs(col("cs").cast("double") / col("stot") -
      col("cg").cast("double") / col("gtot"))
    ecdfGrid(df, segCol, valueCol)
      .withColumn("dv",
        (coalesce(lead(col("v"), 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("seg").orderBy(col("v").asc)), col("v")) -
          col("v")).cast("double"))
      .withColumn("t9", floor(gap * col("dv") * 1e9 + 0.5).cast(dec))
      .groupBy(col("seg").as(segCol))
      .agg(max(col("stot")).as("n_seg"),
        (sum(col("t9")).cast("double") / 1e9).as("w1"))
  }

  /** Per-segment Population Stability Index against corpus-wide bin shares:
    *   PSI(s) = Σ_b (p_b − q_b) · ln(p_b / q_b)
    * over equal-mass bins cut at the caller-supplied `boundaries`
    * (typically global deciles from
    * [[Aggregates.sortedPercentilesMulti]] — computed once, bound as
    * literals, so the binning pass is a pure per-row expression with NO
    * quantile machinery in the hot path). Bin index = #boundaries ≤ value.
    *
    * Empty-bin handling is additive smoothing on BOTH sides —
    * p_b = (c_b + ½)/(n_s + B/2) — the standard drift-monitor convention
    * (a segment missing a bin must contribute a large-but-finite term, not
    * ±∞). Deterministic: counts are exact longs, the smoothed shares single
    * IEEE divisions, and ln the only libm call (callers `qround`).
    *
    * Scale shape: one map-side-combined (segment, bin) count aggregate —
    * the only corpus-mass shuffle (≤ |segments|·B rows out); the grid
    * completion (every segment × every bin, so empty bins materialize
    * their smoothed term) and global-share join run on that bounded table.
    */
  def psiDrift(df: DataFrame, segCol: String, valueCol: String,
               boundaries: Seq[Double]): DataFrame = {
    require(boundaries.nonEmpty, "psiDrift needs at least one bin boundary")
    binShares(df, segCol, valueCol, boundaries)
      .groupBy(col("seg").as(segCol))
      .agg(max(col("stot")).as("n_seg"),
        sum((col("p") - col("q")) * log(col("p") / col("q"))).as("psi"))
  }

  /** The (segment, bin) grid [[psiDrift]] and [[hellingerDrift]] read:
    * every segment × every bin, with the segment total `stot` and the
    * ½-count smoothed segment share `p` and corpus share `q` of the bin.
    */
  private def binShares(df: DataFrame, segCol: String, valueCol: String,
      boundaries: Seq[Double]): DataFrame = {
    val bs = boundaries.sorted
    val nb = bs.size + 1
    val binExpr = bs.foldLeft(lit(0L)) { (acc, bd) =>
      acc + when(col(valueCol).cast("double") >= lit(bd), 1L).otherwise(0L)
    }
    val base = df
      .filter(col(segCol).isNotNull && col(valueCol).isNotNull)
      .select(col(segCol).as("seg"), binExpr.as("bin"))
    val segBin = base.groupBy("seg", "bin")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // feeds totals, global shares AND the grid
    val segs = segBin.groupBy("seg").agg(sum(col("c")).as("stot"))
    val gBin = segBin.groupBy("bin").agg(sum(col("c")).as("g"))
    val grand = segBin.agg(sum(col("c")).as("gtot"))
    val bins = segBin.sparkSession.range(nb).select(col("id").as("bin"))
    segs.crossJoin(broadcast(bins))
      .join(segBin, Seq("seg", "bin"), "left")
      .join(broadcast(gBin), Seq("bin"), "left")
      .na.fill(0L, Seq("c", "g"))
      .crossJoin(broadcast(grand))
      .withColumn("p", (col("c") + lit(0.5)) / (col("stot") + lit(0.5 * nb)))
      .withColumn("q", (col("g") + lit(0.5)) / (col("gtot") + lit(0.5 * nb)))
  }

  /** Per-segment Hellinger distance against corpus-wide bin shares — the
    * BOUNDED member of the binned-drift family: PSI is unbounded and
    * ln-dominated by near-empty bins, while H ∈ [0, 1] with
    *
    *   H(s)² = 1 − Σ_b √(p_b·q_b)      (BC = the Bhattacharyya coefficient)
    *
    * so thresholds transfer across segments and metrics. Same binning,
    * smoothing (½-count on both sides), and grid-completion contract as
    * [[psiDrift]] — run them on the SAME boundaries and read PSI for
    * magnitude, H for comparability.
    *
    * Determinism: counts exact; each √(p·q) term lands on the 1e-12
    * long grid before the B-term sum (bin order must not reassociate
    * it); H = √max(0, 1 − BC) is a fixed IEEE readout (callers qround).
    *
    * Scale shape: identical to [[psiDrift]] — one map-side-combined
    * (segment, bin) count, bounded-grid completion, ≤|segments| output.
    */
  def hellingerDrift(df: DataFrame, segCol: String, valueCol: String,
                     boundaries: Seq[Double]): DataFrame = {
    require(boundaries.nonEmpty, "hellingerDrift needs bin boundaries")
    binShares(df, segCol, valueCol, boundaries)
      .groupBy(col("seg").as(segCol))
      .agg(max(col("stot")).as("n_seg"),
        (sum(floor(sqrt(col("p") * col("q")) * 1e12 + lit(0.5)).cast("long"))
          .cast("double") / 1e12).as("bc"))
      .select(col(segCol), col("n_seg"), col("bc"),
        sqrt(greatest(lit(0.0), lit(1.0) - col("bc"))).as("hellinger"))
  }

  /** Mutual information between two categorical columns, with the marginal
    * and joint entropies it decomposes into — one row:
    * (n, h_x, h_y, h_xy, mi) with mi = h_x + h_y − h_xy (all in nats).
    * The feature-redundancy / leakage probe: mi ≈ h_y means x determines y.
    *
    * Exactness: all three entropies are Σ p ln p over exact-long counts of
    * the SAME joint table with single-division shares; mi is two IEEE
    * additions of those. Callers `qround`.
    *
    * Scale shape: one map-side-combined (x, y) count aggregate — the only
    * corpus-mass shuffle; both marginals re-aggregate that bounded table
    * (|x|·|y| rows by the categorical contract); the four 1-row aggregates
    * combine via broadcast cross joins. Nothing driver-side.
    */
  def mutualInformation(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val joint = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false) // feeds both marginals and the joint entropy
    val grand = joint.agg(sum(col("n")).as("tot"))
    def entropyOf(counts: DataFrame, as: String): DataFrame = counts
      .crossJoin(broadcast(grand))
      .agg((-sum(col("n") * log(col("n").cast("double") / col("tot")))).as("s"))
      .crossJoin(broadcast(grand))
      .select((col("s") / col("tot")).as(as))
    // H = −Σ (n/tot)·ln(n/tot) = −(Σ n·ln(n/tot))/tot — the latter keeps
    // the big multiplier on exact longs and divides once at the end
    val hx = entropyOf(joint.groupBy("x").agg(sum(col("n")).as("n")), "h_x")
    val hy = entropyOf(joint.groupBy("y").agg(sum(col("n")).as("n")), "h_y")
    val hxy = entropyOf(joint, "h_xy")
    grand.select(col("tot").as("n"))
      .crossJoin(broadcast(hx)).crossJoin(broadcast(hy)).crossJoin(broadcast(hxy))
      .withColumn("mi", col("h_x") + col("h_y") - col("h_xy"))
  }

  /** Information gain (mutual information) of several categorical
    * features against one label, in a SINGLE pass — the feature-ranking
    * table a tree split / feature-selection sweep opens with:
    * IG(Y;X) = H(Y) − H(Y|X) per feature, plus the gain ratio
    * IG/H(X) (Quinlan 1986) that de-biases high-cardinality features.
    * [[mutualInformation]] scores ONE pair with full entropy detail;
    * this stacks F features through one shuffle so the sweep costs one
    * corpus scan, not F.
    *
    * Determinism: the [[mutualInformation]] discipline — exact long
    * cell counts from one aggregate (listwise null exclusion across
    * all features + label, so every feature shares one n and one
    * H(Y)); entropies keep the exact-count multiplier and divide once;
    * the per-cell ln re-association noise is ~1e-15 relative, fenced
    * by the callers' qround.
    *
    * Scale shape: ONE map-side-combined (feature, x, y) count shuffle
    * over the ×F stacked scan (checkpointed — marginals and both
    * entropies re-aggregate that bounded table); output is F rows.
    */
  def infoGain(df: DataFrame, features: Seq[(String, Column)],
               labelCol: Column): DataFrame = {
    val stacked = stackFeatures(df,
      features.map { case (n, c) => n -> c.cast("string") }, labelCol.cast("string"))
    val cells = stacked.groupBy("f", "x", "y")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false) // feeds marginals + both entropies
    val nx = cells.groupBy("f", "x").agg(sum(col("n")).as("nx"))
      .localCheckpoint(false) // feeds H(Y|X) and H(X)
    val tot = cells.groupBy("f").agg(sum(col("n")).as("tot"))
    val hy = cells.groupBy("f", "y").agg(sum(col("n")).as("ny"))
      .join(tot, "f")
      .groupBy("f")
      .agg((-sum(col("ny") * log(col("ny").cast("double") / col("tot"))) /
        max(col("tot"))).as("h_y"))
    val hyx = cells.join(nx, Seq("f", "x")).join(tot, "f")
      .groupBy("f")
      .agg((-sum(col("n") * log(col("n").cast("double") / col("nx"))) /
        max(col("tot"))).as("h_y_given_x"))
    val hx = nx.join(tot, "f")
      .groupBy("f")
      .agg((-sum(col("nx") * log(col("nx").cast("double") / col("tot"))) /
        max(col("tot"))).as("h_x"))
    hy.join(hyx, "f").join(hx, "f").join(tot, "f")
      .select(col("f").as("feature"), col("tot").as("n"),
        col("h_y"), col("h_x"), col("h_y_given_x"),
        (col("h_y") - col("h_y_given_x")).as("info_gain"),
        when(col("h_x") > 0,
          (col("h_y") - col("h_y_given_x")) / col("h_x")).as("gain_ratio"))
  }

  /** The feature sweep's stacked scan, shared with [[Stump.giniStump]]:
    * rows where every feature and the label are non-null, one output row
    * (f = feature name, x = its value, y = label) per feature.
    */
  private[ops] def stackFeatures(df: DataFrame, features: Seq[(String, Column)],
      labelCol: Column): DataFrame = {
    require(features.nonEmpty, "need at least one feature")
    val names = features.map(_._1)
    val base = df
      .select(features.map { case (n, c) => c.as(s"__f_$n") } :+
        labelCol.as("__y"): _*)
      .filter(names.map(n => col(s"__f_$n").isNotNull).reduce(_ && _) &&
        col("__y").isNotNull)
    base
      .select(explode(array(names.map(n =>
        struct(lit(n).as("f"), col(s"__f_$n").as("x"))): _*)).as("fx"),
        col("__y").as("y"))
      .select(col("fx.f").as("f"), col("fx.x").as("x"), col("y"))
  }

  /** Jensen-Shannon divergence between two samples' categorical
    * distributions — the bounded, symmetric drift measure that finishes
    * the family ([[psiDrift]] is bin-based and unbounded on vanishing
    * bins; [[categoricalDrift]]'s TVD ignores magnitude; KL alone is
    * asymmetric and infinite on unseen categories — JS is finite,
    * symmetric, and lands in [0, ln 2], so one threshold works across
    * taxonomies):
    *
    *   JS(P‖Q) = Σ_c [ p_c/2 · ln(p_c/m_c) + q_c/2 · ln(q_c/m_c) ],
    *   m_c = (p_c + q_c)/2,  0·ln(·) ≡ 0.
    *
    * `inACol` labels sample membership (true = A / P, false = B / Q).
    * One row: (n_a, n_b, n_cats, js, js_norm = js/ln 2 ∈ [0,1]).
    *
    * Determinism: category counts are exact longs from ONE aggregate;
    * p, q, m are fixed IEEE expressions of them; the category-sum
    * re-association noise is ~1e-15 relative — far under qround.
    *
    * Scale shape: one map-side-combined category-count shuffle
    * (taxonomy-sized output); totals re-aggregate that bounded table and
    * return as a broadcast 1-row cross join — the [[mutualInformation]]
    * discipline.
    */
  def jsDivergence(df: DataFrame, catCol: String, inACol: Column): DataFrame = {
    val inA = inACol.cast("boolean")
    val counts = df.filter(col(catCol).isNotNull && inA.isNotNull)
      .groupBy(col(catCol).as("c"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("na"),
        sum(when(inA, 0L).otherwise(1L)).as("nb"))
      .localCheckpoint(false) // feeds totals and the term sum
    val totals = counts.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"),
      count(lit(1)).as("n_cats"))
    val p = col("na").cast("double") / col("ta")
    val q = col("nb").cast("double") / col("tb")
    val m = (p + q) / 2
    val term =
      when(col("na") > 0, p / 2 * log(p / m)).otherwise(lit(0.0)) +
        when(col("nb") > 0, q / 2 * log(q / m)).otherwise(lit(0.0))
    counts.crossJoin(broadcast(totals))
      .agg(max(col("ta")).as("n_a"), max(col("tb")).as("n_b"),
        max(col("n_cats")).as("n_cats"), sum(term).as("js"))
      .withColumn("js_norm", col("js") / math.log(2.0))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns — one row: (n, dof, chi2, cramers_v). The significance-flavored
    * sibling of [[mutualInformation]] (same joint table, different
    * statistic): chi2 = Σ_cells (o − e)²/e with e = rowTot·colTot/n,
    * dof = (|x|−1)(|y|−1), V = √(chi2 / (n·min(|x|−1, |y|−1))).
    *
    * Determinism: o and the marginal totals are exact longs; e keeps the
    * product in doubles (rowTot·colTot can pass 2^63 at corpus scale —
    * the double path is the overflow-safe one), each cell term is a fixed
    * IEEE expression of exact operands, and the cell-sum re-association
    * noise is ~1e-15 relative — far under the caller's qround grain.
    *
    * Scale shape: identical to [[mutualInformation]] — one map-side-
    * combined (x, y) count shuffle, marginals re-aggregate that bounded
    * table, 1-row combines via broadcast cross joins. Only present cells
    * materialize: an absent cell (o = 0) contributes (0−e)²/e = e, and
    * Σ_all e = n, so chi2 = Σ_present ((o−e)²/e − e) + n — the absent-cell
    * mass arrives through the same closed-form folding TVD uses in
    * [[categoricalDrift]], and no |x|×|y| grid is ever built.
    */
  /** Two-proportion z-test — the experiment readout: conversion rate in
    * arm A vs arm B with the pooled-variance z statistic,
    *   z = (p_a − p_b) / √( p̂(1−p̂)(1/n_a + 1/n_b) ),  p̂ = pooled rate.
    * One row: (n_a, n_b, pos_a, pos_b, rate_a, rate_b, diff, z).
    *
    * Exactness: the four counts come from ONE aggregate job (count_if) as
    * exact longs; every derived number is a fixed IEEE expression of them
    * (callers qround). Rows where arm or label is null are excluded.
    *
    * Scale shape: a single map-side-combined aggregate over the scan —
    * nothing else moves. z is interpreted against the normal tail by the
    * caller (|z| > 1.96 ⇒ p < 0.05 two-sided); no table lookup needed.
    */
  def abTest(df: DataFrame, armACol: Column, labelCol: Column): DataFrame = {
    val arm = armACol.cast("boolean"); val y = labelCol.cast("boolean")
    val agg = df
      .filter(arm.isNotNull && y.isNotNull)
      .agg(count_if(arm).as("n_a"), count_if(!arm).as("n_b"),
        count_if(arm && y).as("pos_a"), count_if(!arm && y).as("pos_b"))
    agg.select(col("n_a"), col("n_b"), col("pos_a"), col("pos_b"),
        when(col("n_a") > 0, col("pos_a").cast("double") / col("n_a")).as("rate_a"),
        when(col("n_b") > 0, col("pos_b").cast("double") / col("n_b")).as("rate_b"),
        when(col("n_a") + col("n_b") > 0, (col("pos_a") + col("pos_b")).cast("double") /
          (col("n_a") + col("n_b"))).as("pooled"))
      .withColumn("diff", col("rate_a") - col("rate_b"))
      .withColumn("z",
        when(col("n_a") > 0 && col("n_b") > 0 &&
          col("pooled") > 0 && col("pooled") < 1,
          col("diff") / sqrt(col("pooled") * (lit(1.0) - col("pooled")) *
            (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))))
      .drop("pooled")
  }

  /** Per-test two-proportion z — [[abTest]] grouped by a test key, the
    * input a many-hypothesis drift sweep produces (one test per feature /
    * segment / event type). Adds an engine-portable two-sided p-value via
    * the logistic approximation to the normal tail,
    *   p ≈ 2 / (1 + exp(1.702·|z|))
    * (the classic 1.702 logistic≈probit scaling; |error| < 0.01
    * absolute). Neither engine guarantees a bit-identical erf, so the
    * portable stand-in is used on BOTH sides and quantized to 1e-9 —
    * for FDR control only the shared monotone transform of |z| matters,
    * not the last decimals of the tail.
    *
    * Exactness: four exact longs per test from ONE map-side-combined
    * aggregate; z is a fixed IEEE expression of them (sqrt is correctly
    * rounded); p's one exp() is the only libm call, fenced by the 1e-9
    * quantization. Degenerate tests (empty arm, pooled rate 0 or 1)
    * yield null z and p.
    *
    * Scale shape: one grouped aggregate over the scan; |tests| rows out.
    */
  def proportionZByGroup(df: DataFrame, testCol: String, armACol: Column,
      labelCol: Column): DataFrame = {
    val arm = armACol.cast("boolean"); val y = labelCol.cast("boolean")
    val agg = df
      .filter(col(testCol).isNotNull && arm.isNotNull && y.isNotNull)
      .groupBy(col(testCol))
      .agg(count_if(arm).as("n_a"), count_if(!arm).as("n_b"),
        count_if(arm && y).as("pos_a"), count_if(!arm && y).as("pos_b"))
    agg
      .withColumn("pooled",
        when(col("n_a") + col("n_b") > 0, (col("pos_a") + col("pos_b"))
          .cast("double") / (col("n_a") + col("n_b"))))
      .withColumn("z",
        when(col("n_a") > 0 && col("n_b") > 0 &&
          col("pooled") > 0 && col("pooled") < 1,
          (col("pos_a").cast("double") / col("n_a") -
            col("pos_b").cast("double") / col("n_b")) /
            sqrt(col("pooled") * (lit(1.0) - col("pooled")) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))))
      .withColumn("p",
        floor(lit(2.0) / (lit(1.0) + exp(lit(1.702) * abs(col("z")))) * 1e9 +
          lit(0.5)) / 1e9)
      .drop("pooled")
  }

  /** Benjamini–Hochberg FDR control (Benjamini & Hochberg 1995) over a
    * table of (test, p): rank p ascending, find the largest rank k with
    * p_(k) ≤ k·α/m, reject ranks 1..k, and report the step-up adjusted
    * p-value p̃_(i) = min_{j≥i} (p_(j)·m/j) clamped to 1. The
    * multiple-testing gate a 1000-feature drift sweep needs — at α=0.05
    * a thousand independent nulls would otherwise hand you ~50 phantom
    * "drifted" features every run.
    *
    * Determinism: callers pass 1e-9-quantized p (e.g. from
    * [[proportionZByGroup]]); ranking ties break on the test key; every
    * derived number is a fixed IEEE expression of (quantized p, exact
    * integer rank/m) — identical cross-engine.
    *
    * Scale shape: all windows run over the |tests|-row table — tests are
    * a FEATURE-cardinality taxonomy (hundreds to thousands), never
    * data-sized; the fact-table pass happened upstream in the sweep.
    */
  def bhAdjust(pvals: DataFrame, testCol: String, pCol: String,
      alpha: Double): DataFrame =
    stepUp(rankedP(pvals, testCol, pCol), pCol, alpha, col("m").cast("double"))

  private val allTests = org.apache.spark.sql.expressions.Window
    .partitionBy(lit(1))
    .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)

  /** The non-null p-values of [[bhAdjust]]/[[byAdjust]] with their
    * ascending `rank` (ties on the test key) and the test count `m`.
    */
  private def rankedP(pvals: DataFrame, testCol: String, pCol: String): DataFrame = {
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col(pCol).asc, col(testCol).asc)
    pvals
      .filter(col(pCol).isNotNull)
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("m", count(lit(1)).over(allTests))
  }

  /** The step-up rule over [[rankedP]]'s table: critical value
    * rank·α/`mult`, the largest rank under it, and the adjusted
    * p̃ = min(1, min over the tail of p·`mult`/rank).
    */
  private def stepUp(ranked: DataFrame, pCol: String, alpha: Double,
      mult: Column): DataFrame = {
    val wTail = org.apache.spark.sql.expressions.Window
      .orderBy(col("rank").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    ranked
      .withColumn("crit", col("rank").cast("double") * alpha / mult)
      .withColumn("kstar",
        max(when(col(pCol) <= col("crit"), col("rank"))).over(allTests))
      .withColumn("p_adj",
        least(lit(1.0), min(col(pCol) * mult / col("rank")).over(wTail)))
      .withColumn("rejected",
        col("kstar").isNotNull && col("rank") <= col("kstar"))
      .drop("kstar")
  }

  /** Per-cell association lift — the drill-down behind [[chiSquare]]'s
    * single statistic: for every OBSERVED (x, y) cell, observed count,
    * expected-under-independence count and their ratio
    * lift = o·n / (rowTot·colTot). lift ≫ 1 flags over-represented
    * combinations (e.g. one source feeding one language), lift ≪ 1
    * suppressed ones. Absent cells (lift 0) are deliberately not
    * materialized — at scale the interesting surface is the observed
    * cells, and the x-by-y grid is exactly what must never be built.
    *
    * Determinism: o/rowTot/colTot/n exact longs; e and lift single IEEE
    * expressions of them (callers qround). Same one-shuffle scale shape as
    * [[mutualInformation]]/[[chiSquare]].
    */
  def liftCells(df: DataFrame, xCol: String, yCol: String): DataFrame =
    contingency(df, xCol, yCol)
      .withColumn("lift", col("o").cast("double") * col("tot") /
        (col("rt").cast("double") * col("ct")))
      .select(col("x").as(xCol), col("y").as(yCol), col("o"), col("e"), col("lift"))

  /** The observed (x, y) cells of [[liftCells]] and [[chiSquare]]: count
    * `o`, row total `rt`, column total `ct`, grand total `tot` and the
    * independence expectation `e`.
    */
  private def contingency(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val joint = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint(false) // feeds both marginals and the cells
    val rx = joint.groupBy("x").agg(sum(col("o")).as("rt"))
    val cy = joint.groupBy("y").agg(sum(col("o")).as("ct"))
    val grand = joint.agg(sum(col("o")).as("tot"))
    joint
      .join(broadcast(rx), "x").join(broadcast(cy), "y")
      .crossJoin(broadcast(grand))
      .withColumn("e", col("rt").cast("double") * col("ct") / col("tot"))
  }

  def chiSquare(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = contingency(df, xCol, yCol)
    val dims = cells.agg(countDistinct(col("x")).as("kx"),
      countDistinct(col("y")).as("ky"))
    val present = cells.agg(
      sum((col("o") - col("e")) * (col("o") - col("e")) / col("e") - col("e"))
        .as("s"),
      max(col("tot")).as("tot"))
    present
      .crossJoin(broadcast(dims))
      .select(col("tot").as("n"),
        ((col("kx") - 1) * (col("ky") - 1)).as("dof"),
        (col("s") + col("tot")).as("chi2"),
        when(col("kx") > 1 && col("ky") > 1,
          sqrt((col("s") + col("tot")) /
            (col("tot") * least(col("kx") - 1, col("ky") - 1))))
          .as("cramers_v"))
  }

  /** One-way ANOVA (F-test): does the mean of `valueCol` differ across the
    * levels of `groupCol`? The continuous-outcome sibling of [[chiSquare]]
    * (categorical×categorical) and [[abTest]] (binary outcome, two arms) —
    * the screen for "does this categorical feature carry signal about this
    * numeric target".
    *
    *   SSB = Σ_j s_j²/n_j − S²/N    SSW = Q − Σ_j s_j²/n_j
    *   F   = (SSB/(k−1)) / (SSW/(N−k))     η² = SSB/(SSB+SSW)
    *
    * Determinism contract: `valueCol` must be integral (the fixed-point
    * idiom — cents, day indices), so the per-group moments (n_j, Σv, Σv²)
    * are exact longs under any partitioning. The k per-group ratio terms
    * are summed as doubles — re-association noise is ~1e-16 relative over
    * a handful of groups, so callers qround F and η² (both O(1)–O(10³)
    * magnitudes); the raw sums-of-squares are deliberately not emitted
    * (their absolute float noise would outrun any fixed rounding grain).
    *
    * Scale shape: ONE map-side-combined hash aggregate to |groups| moment
    * rows; everything after is arithmetic on that bounded table collapsing
    * to a single row. Nothing corpus-mass moves twice.
    */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("long")
    // v² accumulates in decimal(38,0) (the pearsonMatrix/groupSpearman
    // widening): non-ANSI Spark wraps a long sum silently while a
    // HUGEINT-promoting oracle doesn't, so at ~3e9+ rows of cent
    // magnitudes the engines would diverge without error
    val vd = v.cast(org.apache.spark.sql.types.DecimalType(19, 0))
    val g = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("nj"), sum(v).as("sj"),
        sum((vd * vd).cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("qj"))
    g.agg(count(lit(1)).as("k"), sum(col("nj")).as("n"),
        sum(col("sj")).as("s"), sum(col("qj")).as("q"),
        sum(col("sj").cast("double") * col("sj") / col("nj")).as("ratio"))
      .select(col("k"), col("n"),
        (col("ratio") - col("s").cast("double") * col("s") / col("n")).as("ssb"),
        (col("q") - col("ratio")).as("ssw"))
      .select(col("k"), col("n"),
        when(col("k") > 1 && col("n") > col("k") && col("ssw") > 0,
          (col("ssb") / (col("k") - 1)) / (col("ssw") / (col("n") - col("k"))))
          .as("f_stat"),
        when(col("ssb") + col("ssw") > 0,
          col("ssb") / (col("ssb") + col("ssw"))).as("eta2"))
  }

  /** Cochran–Armitage trend test per test group: does a binary outcome's
    * rate TREND monotonically across an ORDERED score (hour of day,
    * dose bucket, quality tier)? [[chiSquare]] asks "any association";
    * this asks the sharper ordered question with one degree of freedom,
    * so a clean monotone drift that χ² dilutes across k−1 dof rings loud
    * here. With per-score counts n_i and positives r_i over scores s_i
    * (R = Σr, N = Σn):
    *
    *   T    = Σ s_i·(r_i − n_i·R/N)
    *   Var  = R/N·(1 − R/N)·(Σ s_i²n_i − (Σ s_i n_i)²/N)
    *   z    = T/√Var    (positive ⇒ rate rises with the score)
    *
    * Exactness: one (test, score) count collapse; all five moments are
    * decimal(38,0)-widened exact sums (s·r and s²·n products pass 2⁶³ at
    * corpus scale); T, Var, z are fixed IEEE readouts. NULL z when the
    * outcome or the score is constant (Var = 0).
    *
    * Scale shape: one map-side-combined (test, score) aggregate — scores
    * are a bounded taxonomy (hours, tiers), so the collapse output is
    * tiny; a ≤|tests| aggregate ends it.
    */
  def cochranArmitage(df: DataFrame, testCol: String, scoreCol: Column,
      labelCol: Column): DataFrame = {
    val dec   = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val y = labelCol.cast("boolean")
    val cells = df
      .filter(col(testCol).isNotNull && scoreCol.isNotNull && y.isNotNull)
      .groupBy(col(testCol).as("g"), scoreCol.cast("long").as("s"))
      .agg(count(lit(1)).as("ni"),
        sum(when(y, 1L).otherwise(0L)).as("ri"))
    val sd = col("s").cast(dec19)
    val agg = cells.groupBy("g").agg(
      sum(col("ni")).as("n"), sum(col("ri")).as("r"),
      sum((sd * col("ri")).cast(dec)).as("ssr"),
      sum((sd * col("ni")).cast(dec)).as("ssn"),
      sum((sd * sd).cast(dec) * col("ni")).as("ss2n"))
    val nd = col("n").cast("double")
    val pbar = col("r").cast("double") / nd
    val t = col("ssr").cast("double") - pbar * col("ssn").cast("double")
    val varT = pbar * (lit(1.0) - pbar) *
      (col("ss2n").cast("double") -
        col("ssn").cast("double") * col("ssn").cast("double") / nd)
    agg.select(col("g").as(testCol), col("n"), col("r").as("n_pos"),
      when(varT > 0, t / sqrt(varT)).as("z"))
  }

  /** Minimum-detectable-effect audit — the experiment-DESIGN readout the
    * testing family ([[abTest]], [[proportionZByGroup]], the SPRT/CUPED
    * suite) still lacked: given each test's CURRENT arm sizes and pooled
    * base rate, what absolute/relative lift could a two-proportion z-test
    * even see at α = 0.05 (two-sided) and 80% power?
    *
    *   MDE_abs = (z_{0.975} + z_{0.80}) · √(p(1−p)(1/n_A + 1/n_B))
    *
    * An "insignificant" result whose MDE is 30% is not evidence of no
    * effect — it is an underpowered test; this row says so before the
    * z-test is misread. The z constants are shared double literals
    * (1.959963984540054, 0.8416212335729143), so both engines compute
    * the identical IEEE expression of the four exact counts from ONE
    * grouped aggregate. NULL when an arm is empty or the pooled rate is
    * degenerate (0 or 1 — nothing to detect against).
    *
    * Scale shape: one map-side-combined aggregate over the scan;
    * |tests| rows of closed-form algebra.
    */
  def mdeAudit(df: DataFrame, testCol: String, armACol: Column,
      labelCol: Column): DataFrame = {
    val zAlpha = 1.959963984540054 // Φ⁻¹(0.975)
    val zBeta  = 0.8416212335729143 // Φ⁻¹(0.80)
    val arm = armACol.cast("boolean"); val y = labelCol.cast("boolean")
    val agg = df
      .filter(col(testCol).isNotNull && arm.isNotNull && y.isNotNull)
      .groupBy(col(testCol))
      .agg(count_if(arm).as("n_a"), count_if(!arm).as("n_b"),
        count_if(y).as("pos"))
    val p = col("pos").cast("double") / (col("n_a") + col("n_b"))
    val mde = lit(zAlpha + zBeta) *
      sqrt(p * (lit(1.0) - p) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    agg.select(col(testCol), col("n_a"), col("n_b"),
      when(col("n_a") > 0 && col("n_b") > 0, p).as("base_rate"),
      when(col("n_a") > 0 && col("n_b") > 0 && p > 0 && p < 1, mde)
        .as("mde_abs"),
      when(col("n_a") > 0 && col("n_b") > 0 && p > 0 && p < 1, mde / p)
        .as("mde_rel"))
  }

  /** Benjamini–Yekutieli FDR control — [[bhAdjust]]'s guarantee holds
    * under independence or positive dependence; a drift sweep whose
    * tests share data (overlapping segments, nested features, the same
    * fact rows) can be NEGATIVELY dependent, where BH's bound silently
    * fails. BY restores the guarantee under ARBITRARY dependence by
    * paying the harmonic factor c(m) = Σ_{i≤m} 1/i:
    *
    *   reject ranks 1..k*, k* = max{k : p_(k) ≤ k·α/(m·c(m))};
    *   p̃_(i) = min(1, min_{j≥i} p_(j)·m·c(m)/j)
    *
    * Determinism: 1/rank terms land on the 1e-12 long grid before the
    * harmonic sum (a float sum over |tests| rows would reassociate);
    * everything else mirrors [[bhAdjust]]'s window algebra on quantized
    * p-values.
    *
    * Scale shape: the [[bhAdjust]] shape — all windows over the
    * |tests|-row table; the fact-table pass happened upstream.
    */
  def byAdjust(pvals: DataFrame, testCol: String, pCol: String,
      alpha: Double): DataFrame = {
    val ranked = rankedP(pvals, testCol, pCol)
      .withColumn("cm",
        sum(floor(lit(1e12) / col("rank") + 0.5).cast("long")).over(allTests)
          .cast("double") / 1e12)
    stepUp(ranked, pCol, alpha, col("m") * col("cm"))
  }

  /** Wilson score interval per group (Wilson 1927) — the rate CI that
    * stays inside [0, 1] and stays honest at small n and extreme rates,
    * where the Wald interval (p̂ ± z√(p̂q̂/n)) collapses to zero width on
    * 0-for-n groups. The error bar every [[graft.ops.Aggregates.smoothedRates]]
    * leaderboard and monitoring dashboard should draw:
    *
    *   center = (p̂ + z²/2n) / (1 + z²/n)
    *   half   = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)
    *
    * `z` is a caller literal (1.96 for 95%). Exactness: n and pos are
    * exact longs from ONE aggregate; p̂ and the interval are fixed IEEE
    * expressions of those (callers qround). Rows with null group/label
    * are dropped; groups with n = 0 cannot occur (no rows, no group).
    *
    * Scale shape: one map-side-combined ≤|groups| aggregate; group-row
    * algebra after. Nothing else moves.
    */
  def wilsonCI(df: DataFrame, groupCol: String, labelCol: Column,
      z: Double): DataFrame = {
    require(z > 0, s"z must be positive: $z")
    val y = labelCol.cast("boolean")
    val agg = df.filter(col(groupCol).isNotNull && y.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), count_if(y).as("pos"))
    val nd = col("n").cast("double")
    val p = col("pos").cast("double") / nd
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nd
    val center = (p + z2 / (lit(2.0) * nd)) / denom
    val half = (lit(z) * sqrt(p * (lit(1.0) - p) / nd +
      z2 / (lit(4.0) * nd * nd))) / denom
    agg.select(col(groupCol), col("n"), col("pos"), p.as("rate"),
      (center - half).as("ci_lo"), (center + half).as("ci_hi"))
  }

  /** Woolf confidence intervals for per-stratum odds ratios — the error
    * bars [[stratifiedAssociation]]'s point estimates need before anyone
    * acts on a reversal flag:
    *
    *   ln OR ± z·√(1/a + 1/b + 1/c + 1/d)
    *
    * NULL interval (and OR) when any cell is 0 — Woolf's variance is
    * undefined there (callers wanting continuity corrections should
    * apply them upstream, explicitly).
    *
    * Exactness: cells exact from ONE aggregate; ln/exp once per stratum
    * over exact operands (callers qround).
    *
    * Scale shape: one map-side-combined ≤|strata| aggregate; stratum-row
    * algebra after.
    */
  def orWoolfCI(df: DataFrame, stratumCol: String, exposedCol: Column,
      outcomeCol: Column, z: Double): DataFrame = {
    require(z > 0, s"z must be positive: $z")
    val e = exposedCol.cast("boolean"); val y = outcomeCol.cast("boolean")
    val cells = df
      .filter(col(stratumCol).isNotNull && e.isNotNull && y.isNotNull)
      .groupBy(col(stratumCol))
      .agg(count_if(e && y).as("a"), count_if(e && !y).as("b"),
        count_if(!e && y).as("c"), count_if(!e && !y).as("d"))
    val ok = col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0
    val lnOr = log(col("a").cast("double") * col("d") /
      (col("b").cast("double") * col("c")))
    val half = lit(z) * sqrt(
      lit(1.0) / col("a") + lit(1.0) / col("b") +
        lit(1.0) / col("c") + lit(1.0) / col("d"))
    cells.select(col(stratumCol), col("a"), col("b"), col("c"), col("d"),
      when(ok, exp(lnOr)).as("or_s"),
      when(ok, exp(lnOr - half)).as("or_lo"),
      when(ok, exp(lnOr + half)).as("or_hi"))
  }

  /** Shannon diversity per group — the behavioral-mix readout: the
    * entropy of each group's categorical distribution plus Pielou's
    * evenness J = H/ln k ∈ [0, 1] (1 = uniform mix, → 0 = one
    * category dominates). Segments users by how VARIED their activity
    * is — the single-number complement to the per-category share table,
    * and the same mathematics the corpus side uses for source-mix
    * monitoring.
    *
    * Exactness: counts exact from ONE (group, cat) collapse; each
    * −p·ln p term lands on the 1e-12 long grid before the (taxonomy-
    * bounded) per-group sum; J is one division (NULL when k = 1 —
    * evenness of a single category is vacuous).
    *
    * Scale shape: one map-side-combined (group, cat) count — the only
    * corpus-mass shuffle; group totals re-aggregate that table; a
    * ≤|groups| aggregate ends it.
    */
  def groupEntropy(df: DataFrame, groupCol: String,
      catCol: String): DataFrame = {
    def grid(c: Column): Column = floor(c * 1e12 + 0.5).cast("long")
    val cells = df
      .filter(col(groupCol).isNotNull && col(catCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(catCol).as("cat"))
      .agg(count(lit(1)).as("c"))
    val tots = cells.groupBy("g")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("k"))
    cells.join(tots, "g")
      .select(col("g"), col("n"), col("k"),
        grid(-(col("c").cast("double") / col("n")) *
          log(col("c").cast("double") / col("n"))).as("tg"))
      .groupBy(col("g").as(groupCol))
      .agg(max(col("n")).as("n"), max(col("k")).as("k_cats"),
        (sum(col("tg")).cast("double") / 1e12).as("h"))
      .withColumn("evenness",
        when(col("k_cats") > 1, col("h") / log(col("k_cats").cast("double"))))
  }

  /** Stratified-association audit: Simpson's-paradox detection + the
    * Mantel–Haenszel pooled odds ratio over 2×2 tables per stratum —
    * the confounding check every observational readout needs before
    * anyone believes a pooled rate difference. Per stratum s with cells
    * (a = exposed·positive, b = exposed·negative, c = unexposed·positive,
    * d = unexposed·negative):
    *
    *   rd_s    = a/(a+b) − c/(c+d)          (risk difference)
    *   or_s    = (a·d)/(b·c)                (NULL when b·c = 0)
    *   OR_MH   = Σ_s(a_s·d_s/n_s) / Σ_s(b_s·c_s/n_s)
    *   reversed_s = sign(rd_s) ≠ 0 ∧ sign(rd_s) = −sign(rd_pooled)
    *
    * A stratum set where most rd_s oppose the pooled rd IS the paradox —
    * the aggregate association is an artifact of the stratum mix.
    * Output one row per stratum: (stratum, n, a, b, c, d, rd, or_s,
    * reversed, rd_pooled, or_mh) — the pooled columns repeat so the
    * table is self-contained.
    *
    * Exactness: cells are exact longs from ONE aggregate; per-stratum
    * readouts are fixed IEEE expressions; the two MH sums land each
    * term on the 1e-9 long grid first (stratum order must not
    * reassociate them) and accumulate as decimal(38,0) — a·d/n can
    * approach min(a,d), so a long sum would wrap past ~9.2e9 total
    * stratum mass (DuckDB's SUM(BIGINT) is already HUGEINT). NULL
    * or_mh when the denominator sum is 0.
    *
    * Scale shape: one map-side-combined ≤|strata| aggregate; the pooled
    * row is a second aggregate OF THAT TABLE broadcast back. Nothing
    * corpus-mass moves twice.
    */
  def stratifiedAssociation(df: DataFrame, stratumCol: String,
      exposedCol: Column, outcomeCol: Column): DataFrame = {
    val e = exposedCol.cast("boolean"); val y = outcomeCol.cast("boolean")
    def grid(c: Column): Column = floor(c * 1e9 + 0.5).cast("long")
    val cells = df
      .filter(col(stratumCol).isNotNull && e.isNotNull && y.isNotNull)
      .groupBy(col(stratumCol))
      .agg(count_if(e && y).as("a"), count_if(e && !y).as("b"),
        count_if(!e && y).as("c"), count_if(!e && !y).as("d"))
      .localCheckpoint(false) // per-stratum readout + pooled sums share it
    val n = (col("a") + col("b") + col("c") + col("d")).cast("double")
    val rd = when(col("a") + col("b") > 0 && col("c") + col("d") > 0,
      col("a").cast("double") / (col("a") + col("b")) -
        col("c").cast("double") / (col("c") + col("d")))
    val pooled = cells.agg(
      sum(col("a")).as("pa"), sum(col("b")).as("pb"),
      sum(col("c")).as("pc"), sum(col("d")).as("pd"),
      sum(grid(col("a").cast("double") * col("d") / n)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("mh_num"),
      sum(grid(col("b").cast("double") * col("c") / n)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("mh_den"))
    val rdPooled = when(col("pa") + col("pb") > 0 && col("pc") + col("pd") > 0,
      col("pa").cast("double") / (col("pa") + col("pb")) -
        col("pc").cast("double") / (col("pc") + col("pd")))
    cells.crossJoin(broadcast(pooled))
      .select(col(stratumCol),
        (col("a") + col("b") + col("c") + col("d")).as("n"),
        col("a"), col("b"), col("c"), col("d"),
        rd.as("rd"),
        when(col("b") > 0 && col("c") > 0,
          col("a").cast("double") * col("d") /
            (col("b").cast("double") * col("c"))).as("or_s"),
        (rd =!= 0.0 && rdPooled =!= 0.0 &&
          signum(rd) === -signum(rdPooled)).as("reversed"),
        rdPooled.as("rd_pooled"),
        when(col("mh_den") > 0,
          col("mh_num").cast("double") / col("mh_den")).as("or_mh"))
  }
}
