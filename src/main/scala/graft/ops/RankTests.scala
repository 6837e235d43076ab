package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Rank-based two-sample and variance-homogeneity tests — the robust
  * drift monitors that finish what [[Distribution.ksDrift]]/[[Distribution.abTest]]
  * started: KS compares full ECDFs, the t/z tests compare means (and are
  * whale-sensitive), while the Mann–Whitney U test asks the distribution-free
  * question a heavy-tailed metric actually needs answered — "is arm A
  * stochastically larger than arm B?" — and Brown–Forsythe asks whether the
  * VARIANCE (not the mean) moved across segments, the classic symptom of a
  * mixing-ratio bug upstream. The reference eyeballs `scipy.stats` calls in
  * notebooks (`transformer/ranking/modeling.py`'s offline eval); at 100 TB
  * both tests must be one-pass aggregates over the distinct-value collapse.
  *
  * Exactness discipline: integral values (cents). Doubled average ranks
  * (2·r̄ is always an integer under midrank ties) keep every rank sum in
  * exact integer arithmetic, widened to decimal(38,0) before products — the
  * [[Aggregates.robustMeans]] idiom, since rank·count products pass 2⁶³ at
  * corpus scale while DuckDB's HUGEINT promotion doesn't wrap. The only IEEE
  * steps are the closed-form readouts (callers `qround`).
  */
object RankTests {

  private val dec   = DecimalType(38, 0)
  private val dec19 = DecimalType(19, 0)

  /** Per-test Mann–Whitney U (Wilcoxon rank-sum) with midrank ties and the
    * tie-corrected normal approximation.
    *
    * Per test group with arms A/B of sizes n₁/n₂ over pooled N = n₁+n₂:
    *   R₁  = Σ_{i∈A} rank_i            (midrank over ties)
    *   U₁  = R₁ − n₁(n₁+1)/2
    *   cles = U₁/(n₁n₂)                (common-language effect size:
    *                                    P[a > b] + ½P[a = b])
    *   σ²_U = n₁n₂/12 · (N+1 − Σ(t³−t)/(N(N−1)))   (tie correction)
    *   z    = (U₁ − n₁n₂/2)/σ_U        (positive ⇒ A stochastically larger)
    *
    * All rank algebra runs doubled (2R₁, 2U₁ are integers even under
    * midranks): for distinct value v with pooled multiplicity t and
    * inclusive cumulative count c, the doubled midrank is 2c − t + 1, so
    * 2R₁ = Σ_v ca_v·(2c_v − t_v + 1) — exact decimal sums. z and cles are
    * closed-form IEEE readouts of those decimals; z is NULL when every
    * pooled value ties (σ_U = 0) or an arm is empty.
    *
    * Scale shape: one map-side-combined (test, value) collapse carrying
    * both arm counts — the only corpus-mass shuffle; ONE cumulative window
    * whose partition is the test's DISTINCT value count (the
    * [[Aggregates.robustMeans]] shape); a ≤|tests| aggregate ends it.
    * Never a per-row rank, nothing collected.
    */
  def mannWhitney(df: DataFrame, testCol: String, armACol: Column,
      valueCol: String): DataFrame = {
    val base = df
      .filter(col(testCol).isNotNull && col(valueCol).isNotNull &&
        armACol.isNotNull)
      .select(col(testCol).as("g"), armACol.cast("boolean").as("a"),
        col(valueCol).cast("long").as("v"))
    val cells = base.groupBy("g", "v")
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("a"), 0L).otherwise(1L)).as("cb"))
    val w = Window.partitionBy("g").orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = col("ca") + col("cb")
    val withCum = cells.withColumn("c", sum(t).over(w))
    // doubled midrank of every row at value v: 2c − t + 1 (an integer)
    val r2 = (col("ca").cast(dec19) *
      (lit(2L) * col("c") - t + lit(1L)).cast(dec19)).cast(dec)
    val tie = (t.cast(dec19) * t.cast(dec19) * t.cast(dec19)).cast(dec) -
      t.cast(dec)
    val agg = withCum.groupBy("g").agg(
      sum(col("ca")).as("n1"), sum(col("cb")).as("n2"),
      sum(r2).as("r2a"), sum(tie).as("tt"))
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val nd  = n1d + n2d
    // 2U₁ = 2R₁ − n₁(n₁+1), exact decimal
    val u2 = col("r2a") -
      (col("n1").cast(dec19) * (col("n1") + lit(1L)).cast(dec19)).cast(dec)
    val varU = n1d * n2d / 12.0 *
      (nd + 1.0 - col("tt").cast("double") / (nd * (nd - 1.0)))
    agg.select(col("g").as(testCol), col("n1"), col("n2"),
      when(col("n1") > 0 && col("n2") > 0,
        u2.cast("double") / (lit(2.0) * n1d * n2d)).as("cles"),
      when(col("n1") > 0 && col("n2") > 0 && varU > 0,
        (u2.cast("double") - n1d * n2d) / (lit(2.0) * sqrt(varU))).as("z"))
  }

  /** Brown–Forsythe variance-homogeneity test (Levene's test with median
    * centers — the robust form): one-way ANOVA F on the absolute deviations
    * z_ij = |x_ij − med_j| from each group's LOWER MEDIAN (the order
    * statistic at ⌈n_j/2⌉ — an actual data value, engine-replayable where
    * the interpolated median is not).
    *
    * Output one row: (k groups, n listwise rows, f_bf). Large F ⇒ spread
    * differs across groups even when means agree — the mixing-bug signal a
    * mean test misses. F is NULL for k < 2, n ≤ k, or SSW = 0 (all
    * deviations tied).
    *
    * Exactness: medians and deviations are exact longs; the deviation
    * moments are decimal(38,0) sums of dec19 products over the SAME
    * (group, value) collapse the median came from (Σz·c, Σz²·c — never a
    * second pass over raw rows); the F closed form mirrors
    * [[Distribution.anovaF]]'s IEEE algebra term-for-term, so the k-row
    * double sum associates identically cross-engine.
    *
    * Scale shape: one map-side-combined (group, value) collapse; ONE
    * cumulative window over the distinct-value partition locates the
    * median; the deviation aggregate reuses the collapsed table; k-row
    * algebra ends it. Nothing is collected.
    */
  def brownForsythe(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val cells = groupValueCounts(df, groupCol, valueCol)
    val med = withGroupCum(cells)
      .groupBy("g")
      // lower median rank = (n+1) div 2 — integral: Spark's `/` on longs
      // is DOUBLE division, so floor() the exact-for-n<2⁵² quotient
      .agg(min(when(col("cc") >= floor((col("n") + 1L) / 2L).cast("long"),
        col("v"))).as("med"))
    val z = cells.join(med, "g")
      .withColumn("z", abs(col("v") - col("med")))
    val zd = col("z").cast(dec19)
    val grp = z.groupBy("g").agg(
      sum(col("c")).as("nj"),
      sum((zd * col("c")).cast(dec)).as("sj"),
      sum((zd * zd).cast(dec) * col("c")).as("qj"))
    // the anovaF closed form, term-for-term (k-row algebra)
    val a = grp.agg(
      count(lit(1)).as("k"), sum(col("nj")).as("n"),
      sum(col("sj")).as("s"), sum(col("qj")).as("q"),
      sum(col("sj").cast("double") * col("sj").cast("double") /
        col("nj")).as("ratio"))
    a.select(col("k"), col("n"),
      (col("ratio") - col("s").cast("double") * col("s").cast("double") /
        col("n")).as("ssb"),
      (col("q").cast("double") - col("ratio")).as("ssw"))
      .select(col("k"), col("n"),
        when(col("k") > 1 && col("n") > col("k") && col("ssw") > 0,
          (col("ssb") / (col("k") - 1)) /
            (col("ssw") / (col("n") - col("k")))).as("f_bf"))
  }

  /** The (group `g`, integral value `v`) row counts `c` over rows where
    * both are non-null: the one collapse [[brownForsythe]],
    * [[kruskalWallis]] and [[Outliers.iqrFences]] start from, checkpointed
    * because each reads it twice.
    */
  private[ops] def groupValueCounts(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false)

  /** [[groupValueCounts]] plus the group's cumulative count `cc` through
    * each value and its size `n`: what locates an order statistic.
    */
  private[ops] def withGroupCum(cells: DataFrame): DataFrame = {
    val cum = Window.partitionBy("g").orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cc", sum(col("c")).over(cum))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("g")))
  }

  /** k-sample Anderson–Darling statistic, tie-adjusted midrank form
    * (Scholz & Stephens 1987, A²_akN) — the tail-weighted member of the
    * drift family: KS sees the biggest ECDF gap (center-dominated),
    * Mann–Whitney sees location, Brown–Forsythe sees spread; A² weights
    * the comparison by 1/(F(1−F)), so a segment whose TAILS drifted
    * (new whale mass, truncation) rings here first. k samples at once —
    * one statistic for "do these k segments draw from one distribution".
    *
    *   A²_akN = (N−1)/N · Σ_i (1/n_i) Σ_j (l_j/N) ·
    *            (N·M_ij − n_i·B_j)² / (B_j(N−B_j) − N·l_j/4)
    *
    * over distinct-value blocks j (l_j pooled multiplicity, B_j pooled
    * midrank-cumulative, M_ij sample-i midrank-cumulative). Under H₀ its
    * mean is k−1; the readout includes a2_norm = A²/(k−1).
    *
    * Exactness: doubled cumulatives (2B, 2M are integers) make every
    * operand exact; per-cell terms are fixed IEEE expressions of
    * decimal-widened integers, each landing on the 1e-12 long grid BEFORE
    * the sum (float re-association cannot move the total); one IEEE
    * multiply by (N−1)/N at readout. The only degenerate cell — a single
    * block holding the whole pool — is excluded by its zero denominator
    * (the statistic is then NULL: one distinct value has no distribution
    * to compare).
    *
    * Scale shape: the [[Distribution.ksDrift]] grid — one
    * (sample, value) collapse, the value list cross-joined with the
    * ≤k sample list (k is bounded), ONE cumulative window per sample
    * over DISTINCT values, one 1-row readout.
    */
  def andersonDarlingK(df: DataFrame, sampleCol: String,
      valueCol: String): DataFrame = {
    val base = df
      .filter(col(sampleCol).isNotNull && col(valueCol).isNotNull)
      .select(col(sampleCol).as("s"), col(valueCol).cast("long").as("v"))
    val cells = base.groupBy("s", "v").agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // feeds blocks, sample sizes AND the grid
    val blocks = cells.groupBy("v").agg(sum(col("c")).as("l"))
    val samples = cells.groupBy("s").agg(sum(col("c")).as("ni"))
    val grand = blocks.agg(sum(col("l")).as("nn"), count(lit(1)).as("nblocks"))
    val grid = blocks.crossJoin(broadcast(samples))
      .join(cells, Seq("s", "v"), "left")
      .na.fill(0L, Seq("c"))
    val wS = Window.partitionBy("s").orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the grid carries every (sample, value) cell, so ONE window per
    // sample serves BOTH cumulatives: the sample's own (over c) and the
    // pooled one (over the replicated block l) — no global-partition
    // window anywhere
    val withCum = grid
      .withColumn("cumc", sum(col("c")).over(wS))
      .withColumn("m2", lit(2L) * col("cumc") - col("c"))
      .withColumn("cuml", sum(col("l")).over(wS))
      .withColumn("b2", lit(2L) * col("cuml") - col("l"))
      .crossJoin(broadcast(grand))
    val dec = DecimalType(38, 0)
    val num = (col("nn").cast(dec19) * col("m2").cast(dec19)).cast(dec) -
      (col("ni").cast(dec19) * col("b2").cast(dec19)).cast(dec)
    val den = (col("b2").cast(dec19) *
      (lit(2L) * col("nn") - col("b2")).cast(dec19)).cast(dec) -
      (col("nn").cast(dec19) * col("l").cast(dec19)).cast(dec)
    // term = (l/N) · num²/4 / ((den/4)·ni) = (l/N)·num²/(den·ni);
    // gridded to 1e-12 longs before summing
    val term = when(den.cast("double") > 0,
      floor((col("l").cast("double") / col("nn")) *
        (num.cast("double") * num.cast("double")) /
        (den.cast("double") * col("ni")) * 1e12 + 0.5).cast("long"))
    withCum
      .select(col("nn"), col("nblocks"), term.as("tg"))
      .groupBy("nn", "nblocks")
      .agg(count(lit(1)).as("ncells"), sum(col("tg")).as("tsum"))
      .crossJoin(broadcast(samples.agg(count(lit(1)).as("k"))))
      .select(col("k"), col("nn").as("n"),
        when(col("nblocks") > 1,
          (col("nn") - 1).cast("double") / col("nn") *
            (col("tsum").cast("double") / 1e12)).as("a2"),
        when(col("nblocks") > 1 && col("k") > 1,
          (col("nn") - 1).cast("double") / col("nn") *
            (col("tsum").cast("double") / 1e12) / (col("k") - 1))
          .as("a2_norm"))
  }

  /** Kruskal–Wallis H test (1952) — the k-sample generalization of
    * [[mannWhitney]]: "do these k groups draw from one location?",
    * distribution-free, whale-proof, the one-way-ANOVA replacement a
    * heavy-tailed metric needs. With midrank R̄_g rank sums over the
    * pooled N values:
    *
    *   H    = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1)
    *   H_c  = H / (1 − Σ_v(t_v³−t_v)/(N³−N))    (tie correction)
    *
    * Under H₀, H_c ~ χ²(k−1); like [[Distribution.anovaF]] the statistic
    * is the readout (no igamma tail in the portable surface).
    *
    * Exactness: doubled rank sums 2R_g = Σ_v c_{g,v}·(2C_v − t_v + 1)
    * are exact decimal(38,0) (the [[mannWhitney]] identity); each
    * H term 3·(2R_g)²/(n_g·N(N+1)) is O(N)-sized, lands on the 1e-9
    * long grid before the k-term sum, and the tie correction is a ratio
    * of exact decimals. NULL h_adj when every value ties (correction 0).
    *
    * Scale shape: one map-side-combined (group, value) collapse; ONE
    * cumulative window over the POOLED distinct values (pooled totals
    * come from a value-level re-aggregate of the same collapse, never a
    * second data pass); a ≤k aggregate plus 1-row algebra ends it.
    */
  def kruskalWallis(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val cells = groupValueCounts(df, groupCol, valueCol)
    val pooled = cells.groupBy("v").agg(sum(col("c")).as("t"))
      .withColumn("cc", sum(col("t")).over(
        Window.orderBy(col("v").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val joined = cells.join(pooled, "v")
    // doubled midrank of every row at value v: 2C − t + 1 (an integer)
    val r2 = (col("c").cast(dec19) *
      (lit(2L) * col("cc") - col("t") + lit(1L)).cast(dec19)).cast(dec)
    val byG = joined.groupBy("g")
      .agg(sum(col("c")).as("ng"), sum(r2).as("r2g"))
    val ties = pooled.agg(
      sum(col("t")).as("n"),
      sum((col("t").cast(dec19) * col("t").cast(dec19) *
        col("t").cast(dec19)).cast(dec) - col("t").cast(dec)).as("tt"))
    val nd = col("n").cast("double")
    // H term per group: (12/(N(N+1)))·R_g²/n_g = 3·(2R_g)²/(n_g·N(N+1))
    val term = floor(lit(3.0) * col("r2g").cast("double") *
      col("r2g").cast("double") /
      (col("ng").cast("double") * nd * (nd + 1.0)) * 1e9 + 0.5).cast("long")
    // each gridded H term is O(N)-sized ≈ 3N·1e9 on the grid, so a long
    // sum wraps near N ≈ 3e9 rows — widen the k-term sum to decimal(38,0)
    val agg = byG.crossJoin(broadcast(ties))
      .groupBy(col("n"), col("tt"))
      .agg(count(lit(1)).as("k"), sum(term.cast(dec)).as("hg"))
    val h = col("hg").cast("double") / 1e9 - lit(3.0) * (nd + 1.0)
    val corr = lit(1.0) -
      col("tt").cast("double") / (nd * nd * nd - nd)
    agg.select(col("k"), col("n"), h.as("h"),
      when(col("k") > 1 && col("n") > col("k") && corr > 0, h / corr)
        .as("h_adj"))
  }

  /** Friedman test (1937) for k correlated treatments over b blocks —
    * the repeated-measures sibling of [[kruskalWallis]]: KW assumes
    * independent groups, Friedman ranks treatments WITHIN each block
    * (day, user cohort, shard), removing the block effect entirely.
    * Input at (block, treatment) grain with an integral value, one row
    * per cell; blocks missing any treatment are DROPPED (and counted in
    * `b_dropped`) — the test is defined on the complete design.
    *
    * With doubled midranks 2r (integers under ties) and doubled rank
    * sums R2_j = Σ_blocks 2r_{ij}:
    *
    *   Q     = 3 · Σ_j (R2_j − b(k+1))² / (b·k·(k+1))
    *   Q_adj = Q / (1 − Σ_cells(t³−t) / (b·k·(k²−1)))   (tie correction)
    *
    * Under H₀, Q_adj ~ χ²(k−1) (the readout, as in [[kruskalWallis]]).
    *
    * Exactness: the numerator Σ(R2_j − b(k+1))² and the tie sums are
    * exact decimal(38,0); Q and the correction are two IEEE divisions.
    * NULL q_adj when every within-block value ties (correction 0).
    *
    * Scale shape: one (block, treatment, value) pass; midranks come from
    * per-BLOCK windows (partitions are k cells — bounded by the
    * treatment taxonomy); one ≤k aggregate + 1-row algebra ends it.
    */
  def friedman(df: DataFrame, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    val (ranked, dropped) = completeBlocks(df, blockCol, col(treatCol), valueCol)
    val byJ = ranked.groupBy(col("j"))
      .agg(sum(col("r2")).as("r2j"), count(lit(1)).as("bj"),
        max(col("k")).as("kk"))
    // tie mass Σ(t³−t) over (block, value) tie groups of the kept blocks
    val ties = ranked.groupBy(col("b"), col("v"))
      .agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(
        (col("t").cast(dec19) * col("t").cast(dec19) * col("t").cast(dec19))
          .cast(dec) - col("t").cast(dec)), lit(0).cast(dec)).as("tt"))
    val dev = col("r2j") - col("bj") * (col("kk") + lit(1L))
    val agg0 = byJ
      .select(col("kk"), col("bj"),
        (dev.cast(dec19) * dev.cast(dec19)).cast(dec).as("d2"))
      .agg(max(col("kk")).as("k"), max(col("bj")).as("b"),
        sum(col("d2")).as("ss"))
    val kd = col("k").cast("double"); val bd = col("b").cast("double")
    val q = lit(3.0) * col("ss").cast("double") / (bd * kd * (kd + 1.0))
    val corr = lit(1.0) - col("tt").cast("double") /
      (bd * kd * (kd * kd - 1.0))
    agg0.crossJoin(broadcast(ties)).crossJoin(broadcast(dropped))
      .select(col("k"), col("b"), col("b_dropped"), q.as("q"),
        when(col("k") > 1 && col("b") > 0 && corr > 0, q / corr).as("q_adj"))
  }

  /** Page's trend test (1963) — [[friedman]]'s ORDERED-alternative form:
    * Friedman asks "do the treatments differ at all?"; Page asks "do
    * they increase along a caller-declared order?" (hours of the day,
    * dose levels, context-length buckets), which buys power exactly when
    * the order is known. Input at (block, treatment) grain with an
    * INTEGRAL treatment-order column (1..k); blocks missing any
    * treatment are dropped and counted.
    *
    * With doubled midranks (2R_j exact):
    *
    *   L  = Σ_j order_j · R_j          (via 2L = Σ_j order_j · 2R_j)
    *   μ  = b·k(k+1)²/4,   σ² = b·k²(k+1)(k²−1)/144
    *   z  = (L − μ)/σ                  (ties: midranks, plain normal)
    *
    * Exactness: 2L is an exact decimal(38,0); μ, σ, z are fixed IEEE
    * readouts. NULL z when k < 2, b = 0, or σ = 0.
    *
    * Scale shape: identical to [[friedman]] — per-block bounded windows,
    * one ≤k aggregate, 1-row algebra.
    */
  def pageTrend(df: DataFrame, blockCol: String, treatOrderCol: String,
      valueCol: String): DataFrame = {
    val (ranked, dropped) =
      completeBlocks(df, blockCol, col(treatOrderCol).cast("long"), valueCol)
    val agg0 = ranked.groupBy(col("j"))
      .agg(sum(col("r2")).as("r2j"), count(lit(1)).as("bj"),
        max(col("k")).as("kk"))
      .agg(max(col("kk")).as("k"), max(col("bj")).as("b"),
        sum((col("j").cast(dec19) * col("r2j").cast(dec19)).cast(dec))
          .as("l2"))
    val kd = col("k").cast("double"); val bd = col("b").cast("double")
    val lStat = col("l2").cast("double") / 2.0
    val muL = bd * kd * (kd + 1.0) * (kd + 1.0) / 4.0
    val sigma = sqrt(bd * kd * kd * (kd + 1.0) * (kd * kd - 1.0) / 144.0)
    agg0.crossJoin(broadcast(dropped))
      .select(col("k"), col("b"), col("b_dropped"), lStat.as("l_stat"),
        when(col("k") > 1 && col("b") > 0 && sigma > 0,
          (lStat - muL) / sigma).as("z"))
  }

  /** The complete-design prelude of [[friedman]] and [[pageTrend]]: per
    * (block `b`, treatment `j`) the summed value `v`, kept only for blocks
    * that hold every one of the `k` treatments, with the doubled
    * within-block midrank `r2` = 2C_v − t_v + 1; and the one-row count
    * `b_dropped` of the incomplete blocks.
    */
  private def completeBlocks(df: DataFrame, blockCol: String, treat: Column,
      valueCol: String): (DataFrame, DataFrame) = {
    val cells = df
      .filter(col(blockCol).isNotNull && treat.isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(blockCol).as("b"), treat.as("j"))
      .agg(sum(col(valueCol).cast("long")).as("v"))
      .localCheckpoint(false) // k discovery + complete-block filter share it
    val k = cells.agg(countDistinct(col("j")).as("k"))
    val complete = cells
      .withColumn("nb", count(lit(1)).over(Window.partitionBy("b")))
      .crossJoin(broadcast(k))
      .filter(col("nb") === col("k"))
    val wCum = Window.partitionBy("b").orderBy(col("v").asc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wTie = Window.partitionBy("b", "v")
    val ranked = complete
      .withColumn("cc", count(lit(1)).over(wCum))
      .withColumn("tv", count(lit(1)).over(wTie))
      .withColumn("r2", lit(2L) * col("cc") - col("tv") + lit(1L))
    val dropped = cells.groupBy(col("b")).agg(count(lit(1)).as("nb"))
      .crossJoin(broadcast(k)).agg(
        count_if(col("nb") =!= col("k")).as("b_dropped"))
    (ranked, dropped)
  }

  /** Jonckheere–Terpstra test (1954) — the ordered-alternative form of
    * [[kruskalWallis]] for INDEPENDENT groups (what [[pageTrend]] is to
    * [[friedman]]): with groups carrying a caller-declared order
    * (dose, hour bucket, context-length tier),
    *
    *   J* = Σ_{g<h} ( #(x∈g < y∈h) + ½·#(x∈g = y∈h) )
    *
    * — the sum of pairwise Mann–Whitney counts along the order. Under
    * H₀, z = (J* − E)/σ with E = (N² − Σn_g²)/4 and the full
    * tie-corrected variance (Hollander & Wolfe §6.2):
    *
    *   σ² = [N(N−1)(2N+5) − Σ_g n(n−1)(2n+5) − Σ_v t(t−1)(2t+5)]/72
    *      + [Σ_g n(n−1)(n−2)]·[Σ_v t(t−1)(t−2)] / (36·N(N−1)(N−2))
    *      + [Σ_g n(n−1)]·[Σ_v t(t−1)] / (8·N(N−1))
    *
    * Exactness: 2J* is an exact decimal(38,0) built from the
    * (group, value) collapse — per (target h, value v), donor mass from
    * LOWER-ordered groups splits into strictly-below (×2) and tied (×1)
    * via one cumulative window; E and every σ² ingredient are exact
    * decimal sums; z is one fixed IEEE readout. NULL z when σ² = 0.
    *
    * Scale shape: one (group, value) collapse — the only corpus-mass
    * shuffle; the donor table fans that collapse out ×(k−1) (k = the
    * ordered-group taxonomy, small by contract); ONE cumulative window
    * per target group over distinct values. Nothing is collected.
    */
  def jonckheereTerpstra(df: DataFrame, groupOrderCol: String,
      valueCol: String): DataFrame = {
    val cells = df
      .filter(col(groupOrderCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupOrderCol).cast("long").as("g"),
        col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // donors, targets, group sizes, tie masses
    // TAXONOMY CONTRACT, enforced: the donor fan-out explodes
    // sequence(g+1, kmax) per cell, so the ordered-group labels must be
    // a dense small taxonomy (dose levels, hour buckets, tiers) — raw
    // timestamps/ids as "order" would fan each cell out by the label
    // SPAN, not the group count. One 1-row aggregate over the
    // metadata-sized cell collapse checks it up front.
    val spanRow = cells.agg(min(col("g")), max(col("g"))).head()
    if (!spanRow.isNullAt(0)) {
      val span = spanRow.getLong(1) - spanRow.getLong(0)
      require(span <= 1024,
        s"jonckheereTerpstra: ordered-group label span $span exceeds " +
          "the declared small-taxonomy contract (<= 1024 positions); " +
          "use dense order labels, not raw keys/timestamps")
    }
    val kAgg = cells.agg(max(col("g")).as("kmax"),
      countDistinct(col("g")).as("k"))
    // donor mass per (target h, value v): every row fans to the HIGHER
    // ordered groups (the ×(k−1) taxonomy fan-out); the cumulative grid
    // is the UNION of donor and target values so a target value no donor
    // hit exactly still reads its strictly-below mass
    val donors = cells.crossJoin(broadcast(kAgg))
      .filter(col("g") < col("kmax")) // sequence(a,b) DESCENDS when a>b
      .withColumn("h", explode(sequence(col("g") + 1L, col("kmax"))))
      .groupBy(col("h"), col("v")).agg(sum(col("c")).as("d"))
    val targets = cells.select(col("g").as("h"), col("v"), col("c"))
    val grid = targets.select(col("h"), col("v"))
      .unionByName(donors.select(col("h"), col("v"))).distinct()
      .join(donors, Seq("h", "v"), "left")
      .na.fill(0L, Seq("d"))
    val wCum = Window.partitionBy("h").orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val withCum = grid
      .withColumn("dlt", coalesce(sum(col("d")).over(wCum), lit(0L)))
    // 2J* contribution of target cell (h, v): 2·c·(donors strictly
    // below) + c·(donors tied at v)
    val j2 = targets
      .join(withCum, Seq("h", "v"), "inner")
      .agg(coalesce(sum((col("c").cast(dec19) *
        (lit(2L) * col("dlt") + col("d")).cast(dec19)).cast(dec)),
        lit(0).cast(dec)).as("j2"))
    def m3(n: Column, a: Long, b: Long): Column =
      (n.cast(dec19) * (n - lit(a)).cast(dec19)).cast(dec) *
        (lit(2L) * n + lit(b)).cast(dec19)
    val byG = cells.groupBy(col("g")).agg(sum(col("c")).as("ng"))
      .agg(count(lit(1)).as("k"), sum(col("ng").cast(dec)).as("n"),
        sum((col("ng").cast(dec19) * col("ng").cast(dec19)).cast(dec)).as("sn2"),
        sum(m3(col("ng"), 1L, 5L)).as("g25"),
        sum(((col("ng").cast(dec19) * (col("ng") - 1L).cast(dec19)).cast(dec) *
          (col("ng") - 2L).cast(dec19))).as("g3"),
        sum((col("ng").cast(dec19) * (col("ng") - 1L).cast(dec19)).cast(dec)).as("g2"))
    val byV = cells.groupBy(col("v")).agg(sum(col("c")).as("tv"))
      .agg(sum(m3(col("tv"), 1L, 5L)).as("t25"),
        sum(((col("tv").cast(dec19) * (col("tv") - 1L).cast(dec19)).cast(dec) *
          (col("tv") - 2L).cast(dec19))).as("t3"),
        sum((col("tv").cast(dec19) * (col("tv") - 1L).cast(dec19)).cast(dec)).as("t2"))
    val nD = col("n").cast("double")
    val e2 = (col("n").cast("double") * col("n").cast("double") -
      col("sn2").cast("double")) / 2.0 // doubled expectation 2E
    val varJ =
      (nD * (nD - 1.0) * (lit(2.0) * nD + 5.0) - col("g25").cast("double") -
        col("t25").cast("double")) / 72.0 +
      col("g3").cast("double") * col("t3").cast("double") /
        (lit(36.0) * nD * (nD - 1.0) * (nD - 2.0)) +
      col("g2").cast("double") * col("t2").cast("double") /
        (lit(8.0) * nD * (nD - 1.0))
    byG.crossJoin(broadcast(byV)).crossJoin(broadcast(j2))
      .select(col("k"), col("n").cast("long").as("n"),
        (col("j2").cast("double") / 2.0).as("j_stat"),
        // k > 1 and n > 2 keep the 0/0 tie term out of the NaN path
        when(col("k") > 1 && col("n") > 2 && varJ > 0,
          (col("j2").cast("double") - e2) / (lit(2.0) * sqrt(varJ))).as("z"))
  }

  /** Cochran's Q test (1950) for k BINARY correlated treatments over n
    * subjects — [[friedman]]'s 0/1 special case and McNemar's k-way
    * generalization: "do these k success rates differ, subject-matched?"
    * Input at (subject, treatment) grain with a boolean outcome; missing
    * cells count as 0 (the natural "never did X" completion).
    *
    * With column totals C_j, row totals R_i, N = ΣC_j:
    *
    *   Q = (k−1) · (k·ΣC_j² − N²) / (k·N − ΣR_i²)
    *
    * — the all-integer form (one IEEE division). Under H₀, Q ~ χ²(k−1).
    * NULL q when the denominator is 0 (every subject all-0 or all-1).
    *
    * Scale shape: one (subject, treatment) collapse, one per-subject
    * re-aggregate of that collapse (R_i² rides the same shuffle), one
    * ≤k aggregate; nothing collected.
    */
  def cochranQ(df: DataFrame, subjectCol: String, treatCol: String,
      outcomeCol: Column): DataFrame = {
    val cells = df
      .filter(col(subjectCol).isNotNull && col(treatCol).isNotNull &&
        outcomeCol.isNotNull)
      .groupBy(col(subjectCol).as("i"), col(treatCol).as("j"))
      .agg(max(outcomeCol.cast("boolean").cast("long")).as("y"))
      .localCheckpoint(false) // column totals + row totals share it
    val byJ = cells.groupBy(col("j")).agg(sum(col("y")).as("cj"))
    val colAgg = byJ.agg(count(lit(1)).as("k"),
      sum(col("cj").cast(dec)).as("n"),
      sum((col("cj").cast(dec19) * col("cj").cast(dec19)).cast(dec)).as("sc2"))
    val rowAgg = cells.groupBy(col("i")).agg(sum(col("y")).as("ri"))
      .agg(count(lit(1)).as("n_subjects"),
        sum((col("ri").cast(dec19) * col("ri").cast(dec19)).cast(dec)).as("sr2"))
    val kd = col("k").cast("double")
    val num = (kd - 1.0) * (kd * col("sc2").cast("double") -
      col("n").cast("double") * col("n").cast("double"))
    val den = kd * col("n").cast("double") - col("sr2").cast("double")
    colAgg.crossJoin(broadcast(rowAgg))
      .select(col("k"), col("n_subjects"), col("n").cast("long").as("n_success"),
        when(den > 0, num / den).as("q"))
  }
}
