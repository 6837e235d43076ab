package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Per-group Spearman rank correlation with exact tie handling (average
  * ranks). Extends the reference's per-group moment statistics
  * (transformer/ranking/feature_factory.py aggregates per-match means)
  * to the rank-based dependence measure a data-curation pipeline uses to
  * audit monotone feature↔label relationships without assuming linearity.
  *
  * Exactness across engines: average ranks of a tie block are
  * half-integers, so DOUBLED ranks are integers — every moment sum is
  * integral (summed as decimal(38,0): exact, order-free, and matching
  * DuckDB's int128 sums bit-for-bit), and ρ on doubled ranks equals ρ on
  * ranks (scale invariance). The only float math is the closed-form
  * readout, consuming identical operands in a fixed order on both
  * engines.
  *
  * Scale shape: NO per-group row window anywhere — ranks come from the
  * distinct-value collapse (one corpus-mass shuffle, map-side combined)
  * followed by [[PrefixScan.cumulativeSum]] over (group, value), the
  * two-pass range-partitioned scan whose only serial step is
  * `numPartitions` rows. A `Window.partitionBy(group)` formulation would
  * sort each group in ONE task — a 2-billion-row group is a straggler;
  * here the sort parallelism is the range-partition count regardless of
  * group sizes. Rank tables join back on (group, value) — two
  * corpus-mass equi-joins, the price of tie-exact ranks — and the moment
  * aggregate is map-side combined. Group-start offsets are |groups| rows
  * on a broadcast join.
  */
object Correlation {

  private val Dec = DecimalType(38, 0)

  /** (group, v) → doubled average rank of v within its group: for a tie
    * block of size cnt whose last member has within-group cumulative
    * count cum, 2·avgRank = 2·(cum − cnt) + cnt + 1 (an exact long).
    */
  private def doubledRanks(facts: DataFrame, groupCol: String, vCol: String,
      out: String): DataFrame = {
    val counts = facts.groupBy(col(groupCol), col(vCol))
      .agg(count(lit(1)).as("__cnt"))
    val cum = PrefixScan.cumulativeSum(counts, Seq(groupCol, vCol), "__cnt", "__cum")
    // rebase the global cumulative count to within-group: subtract the
    // group's exclusive prefix (its first block's cum − cnt); |groups| rows
    val offsets = cum.groupBy(col(groupCol))
      .agg(min(col("__cum") - col("__cnt")).as("__goff"))
    cum.join(broadcast(offsets), Seq(groupCol))
      .select(col(groupCol), col(vCol),
        (lit(2L) * (col("__cum") - col("__goff") - col("__cnt")) +
          col("__cnt") + lit(1L)).as(out))
  }

  /** → (group, n, rho): Spearman ρ per group, null when either column is
    * constant within the group (zero rank variance) or n < 2. Rows with a
    * null in either column are excluded.
    */
  def groupSpearman(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val facts = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol), col(xCol), col(yCol))
    val ranked = facts
      .join(doubledRanks(facts, groupCol, xCol, "rx2"), Seq(groupCol, xCol))
      .join(doubledRanks(facts, groupCol, yCol, "ry2"), Seq(groupCol, yCol))
    // integral moments; products formed in decimal so a multi-billion-row
    // group cannot wrap 64 bits ((2n)² · n overflows long past n ≈ 1.5e9)
    val rx = col("rx2").cast(DecimalType(19, 0))
    val ry = col("ry2").cast(DecimalType(19, 0))
    val m = ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col("rx2")).as("sx"), sum(col("ry2")).as("sy"),
        sum((rx * ry).cast(Dec)).as("sxy"),
        sum((rx * rx).cast(Dec)).as("sxx"),
        sum((ry * ry).cast(Dec)).as("syy"))
    // fixed operand order, mirrored by the oracle SQL
    val nD = col("n").cast("double")
    val covN = nD * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val varXN = nD * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val varYN = nD * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    m.select(col(groupCol), col("n"),
      when(varXN > 0 && varYN > 0, covN / sqrt(varXN * varYN)).as("rho"))
  }

  /** Pairwise Pearson correlation matrix over a set of INTEGRAL columns
    * (fixed-point idiom), listwise-complete (a row with a null in ANY
    * column is excluded, so every pair shares one n). The feature-screen
    * companion to [[groupSpearman]]: linear dependence across the whole
    * feature block in ONE pass.
    *
    * Scale shape: a single map-side-combined aggregate computes n, the k
    * per-column sums and the k(k+1)/2 pairwise product sums — one 1-row
    * result, nothing else moves; the (x, y, corr) melt is an `inline` of
    * literal-named structs on that row. Products accumulate in
    * decimal(38,0) so value·value·rows cannot wrap 64 bits at any corpus
    * size. The closed-form readout is the [[graft.ops.Regression]] /
    * [[groupSpearman]] operand-order contract — exact integer moments,
    * one fixed IEEE expression per pair, callers qround.
    */
  def pearsonMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "pearsonMatrix needs at least two columns")
    val m = momentRow(df, cols)
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size } yield {
      val (x, y) = (cols(i), cols(j))
      struct(lit(x).as("x"), lit(y).as("y"), pearsonR(x, y).as("corr"))
    }
    m.select(col("n"), explode(array(pairs: _*)).as("pair"))
      .select(col("pair.x").as("x"), col("pair.y").as("y"), col("n"),
        col("pair.corr").as("corr"))
  }

  /** The one moment row [[pearsonMatrix]] and [[partialCorr]] read, over
    * the rows where every one of `cols` is non-null: `n`, each column's
    * long sum `s_c`, and each pair's decimal(38,0) product sum `p_a_b`
    * (a before b in `cols`, a = b included).
    */
  private def momentRow(df: DataFrame, cols: Seq[String]): DataFrame = {
    val complete = df.filter(cols.map(c => col(c).isNotNull).reduce(_ && _))
    def dec(c: String) = col(c).cast(DecimalType(19, 0))
    val sums = cols.map(c => sum(col(c).cast("long")).as(s"s_$c"))
    val prods = for {
      i <- cols.indices; j <- i until cols.size
    } yield sum((dec(cols(i)) * dec(cols(j))).cast(Dec)).as(s"p_${cols(i)}_${cols(j)}")
    complete.agg(count(lit(1)).as("n"), (sums ++ prods): _*)
  }

  /** Pearson r of `x` and `y` on a [[momentRow]] (x before y in its
    * columns): the n·Sxy − Sx·Sy closed form, NULL when a variance is 0.
    */
  private def pearsonR(x: String, y: String): Column = {
    val nD = col("n").cast("double")
    val sx = col(s"s_$x").cast("double"); val sy = col(s"s_$y").cast("double")
    val covN = nD * col(s"p_${x}_$y").cast("double") - sx * sy
    val varXN = nD * col(s"p_${x}_$x").cast("double") - sx * sx
    val varYN = nD * col(s"p_${y}_$y").cast("double") - sy * sy
    when(varXN > 0 && varYN > 0, covN / sqrt(varXN * varYN))
  }

  /** Kendall τ-b per group: the concordance-based rank correlation —
    * of all C(n,2) point pairs, the normalized excess of concordant
    * (both coordinates move the same way) over discordant pairs,
    * tie-corrected in y (Kendall 1938; the τ-b form). Where Spearman
    * measures monotone dependence through ranks, τ is a direct pair-
    * ordering probability (τ = P[concordant] − P[discordant]) — the more
    * robust/interpretable of the two for short, noisy series, and the
    * standard companion readout in trend audits (Mann-Kendall tests are
    * τ's numerator).
    *
    *   τ_b = (C − D) / √(n₀ · (n₀ − T_y)),  n₀ = C(n,2)
    *
    * with C concordant, D discordant, T_y y-tied pairs. `x` must be
    * UNIQUE within a group (pre-aggregate to one row per (group, x), the
    * [[Regression.theilSenSlope]] contract), so x-tied pairs cannot
    * occur and the τ-a/τ-b x-correction vanishes.
    *
    * Exactness: C, D, T_y, n₀ are exact longs; the single readout
    * (subtraction, product, √, division) consumes identical integer
    * operands on every engine. NULL τ when every pair is y-tied.
    *
    * BOUNDED-GROUP contract: pairs are C(n,2) per group — the
    * per-entity short-series estimator, same scale class as
    * [[Regression.theilSenSlope]]; the group-keyed self-join keeps every
    * pair inside its group's hash partition, parallel across groups,
    * nothing global. Groups with fewer than 2 points emit no row.
    */
  def kendallTau(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("g"), col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))
    val a = pts.as("a"); val b = pts.as("b")
    a.join(b, col("a.g") === col("b.g") && col("a.x") < col("b.x"))
      .groupBy(col("a.g").as("g"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("b.y") > col("a.y"), 1L).otherwise(0L)).as("nc"),
        sum(when(col("b.y") < col("a.y"), 1L).otherwise(0L)).as("nd"),
        sum(when(col("b.y") === col("a.y"), 1L).otherwise(0L)).as("nty"))
      .select(col("g"), col("n_pairs"), col("nc"), col("nd"), col("nty"),
        when(col("n_pairs") > col("nty"),
          (col("nc") - col("nd")).cast("double") /
            sqrt(col("n_pairs").cast("double") * (col("n_pairs") - col("nty"))))
          .as("tau"))
  }

  /** First-order partial correlation — the feature-screen question
    * [[pearsonMatrix]] can't answer: does x relate to y AFTER removing
    * what both share with a confounder z (total volume, seasonality,
    * user tenure)? A strong marginal r_xy that collapses here was riding
    * the confounder.
    *
    *   r_xy·z = (r_xy − r_xz·r_yz) / √((1 − r_xz²)(1 − r_yz²))
    *
    * Exactness: integral inputs; ONE listwise-complete moment aggregate
    * (all products widened to decimal(38,0) — the [[pearsonMatrix]]
    * discipline); each pairwise r is the identical n·Sxy − Sx·Sy closed
    * form operand-for-operand, and the partial readout is a fixed IEEE
    * expression of the three. NULL when any variance vanishes or a
    * control correlation is ±1.
    *
    * Scale shape: one map-side-combined aggregate to a single moment row;
    * pure arithmetic after.
    */
  def partialCorr(df: DataFrame, xCol: String, yCol: String,
      zCol: String): DataFrame = {
    val cols = Seq(xCol, yCol, zCol)
    val m = momentRow(df, cols)
    val rxy = pearsonR(xCol, yCol); val rxz = pearsonR(xCol, zCol)
    val ryz = pearsonR(yCol, zCol)
    val gate = (lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)
    m.select(col("n"), rxy.as("r_xy"), rxz.as("r_xz"), ryz.as("r_yz"),
      when(rxy.isNotNull && rxz.isNotNull && ryz.isNotNull && gate > 0,
        (rxy - rxz * ryz) / sqrt(gate)).as("r_xy_z"))
  }
}
