package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic bootstrap confidence intervals — error bars on grouped
  * statistics without distributional assumptions, at scan scale. The
  * classic resample-with-replacement is a driver-side loop over random
  * draws; the scalable form is the POISSON bootstrap (Chamandy et al.,
  * Google 2012): each row's multiplicity in replica b is an independent
  * Poisson(1) draw, so a replica is one weighted pass, all B replicas
  * are one ×B explode, and no resampled dataset is ever materialized.
  *
  * Determinism: the Poisson draw inverts the λ=1 CDF on the repo-wide
  * md5-60-bit uniform ([[graft.llm.Sampling]]'s derivation) keyed by
  * (row key, replica) — replays, partitionings, and engines agree
  * bit-for-bit; the CDF thresholds are double literals shared with the
  * DuckDB oracles via [[cdfThresholds]].
  *
  * Scale shape: one narrow ×B explode + ONE map-side-combined
  * (group, replica) aggregate (Σwx, Σw) → |groups|·B rows; the CI rank
  * selection is a per-group sort of B values (B is a constant; the
  * window partition is B rows). Nothing is collected.
  */
object Bootstrap {

  /** P(Poisson(1) ≤ k) for k = 0..7; mass beyond 8 (~1.1e-9) clamps to
    * 8 — immaterial to any resample statistic. Exposed so oracles embed
    * the IDENTICAL double literals.
    */
  val cdfThresholds: Seq[Double] = {
    val e = math.exp(-1.0)
    (0 to 7).scanLeft(0.0) { (acc, k) =>
      acc + e / (1 to k).product
    }.tail
  }

  /** Poisson(1) multiplicity of `key` in replica `b` (0-based). */
  private[ops] def poissonWeight(key: Column, b: Column): Column =
    poissonWeightFromU(graft.llm.Sampling.hashUniform(
      concat(key.cast("string"), lit("#"), b.cast("string"))))

  /** CDF-inversion fold over an already-computed uniform. When `u` is an
    * expression tree (not a bound attribute), Catalyst's project collapsing
    * inlines it into all 8 branches — the round-15 plan audit caught the
    * md5 chain evaluated up to 8× per exploded row. Callers that explode
    * ×B must bind `u` through a Generate output attribute
    * ([[replicaDraws]]) so it is computed exactly once per draw.
    */
  private[ops] def poissonWeightFromU(u: Column): Column =
    cdfThresholds.zipWithIndex.reverse
      .foldLeft(lit(8L)) { case (acc, (t, k)) => when(u < t, k.toLong).otherwise(acc) }

  /** The ×B replica explode with the per-draw uniform computed INSIDE the
    * generator: emits one (rep, u) struct per replica, so downstream
    * consumers reference `u` as a Generate output attribute — evaluated
    * once per (row, replica), immune to project-collapse re-inlining.
    * Bit-identical to the old explode(array 0..B-1) + per-branch
    * hashUniform: same "key#rep" derivation, same thresholds.
    */
  private[ops] def replicaDraws(key: Column, b: Int): Column =
    explode(transform(sequence(lit(0L), lit(b - 1L)), i =>
      struct(i.as("rep"), graft.llm.Sampling.hashUniform(
        concat(key.cast("string"), lit("#"), i.cast("string"))).as("u"))))

  /** The bootstrap input of [[meanCI]] and [[medianCI]]: rows with a
    * non-null group, value and key as (g, x, k), spread to the
    * parallelism floor before the ×B replica work (single-row-group local
    * inputs scan as ONE task; no-op at scale — see Partitioning.spread).
    */
  private def replicaInput(df: DataFrame, groupCol: String, valueCol: String,
      keyCol: String, b: Int, tail: Double): DataFrame = {
    require(b >= 4, s"need >= 4 replicas, got $b")
    require(tail > 0 && tail < 0.5, s"tail must be in (0, 0.5): $tail")
    Partitioning.spread(
      df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull &&
        col(keyCol).isNotNull)
        .select(col(groupCol).as("g"), col(valueCol).as("x"), col(keyCol).as("k")))
  }

  /** Per group `g`, the replica statistic `stat` at the lower-quantile
    * ranks ⌈tail·B⌉ and ⌈(1−tail)·B⌉ of its B non-null values:
    * (g, ci_lo, ci_hi).
    */
  private def percentileCI(reps: DataFrame, stat: String, tail: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = reps.filter(col(stat).isNotNull)
      .withColumn("rn", row_number().over(Window.partitionBy("g").orderBy(col(stat).asc)))
      .withColumn("nb", count(lit(1)).over(Window.partitionBy("g")))
    val lo = ceil(col("nb") * tail).cast("long")
    val hi = ceil(col("nb") * (1.0 - tail)).cast("long")
    ranked.groupBy(col("g"))
      .agg(min(when(col("rn") === lo, col(stat))).as("ci_lo"),
        min(when(col("rn") === hi, col(stat))).as("ci_hi"))
  }

  /** Percentile bootstrap CI for the per-group MEAN of `valueCol`:
    * (group, n, est, ci_lo, ci_hi) at confidence `1 − 2·tail` using `b`
    * replicas. `keyCol` seeds the per-row draw (unique non-null row
    * key). Replica means use lower-quantile rank selection at
    * ⌈tail·B⌉ / ⌈(1−tail)·B⌉ — integer ranks over B ordered doubles,
    * engine-exact. Empty replicas (Σw = 0) contribute a null mean and
    * are excluded from the rank order (only possible for tiny groups).
    *
    * Float-sum order: the replica sums `sum(w*x)` reduce in partition
    * layout order, which [[Partitioning.spread]] ties to the core count —
    * outputs are deterministic for a fixed SPARK_GRAFT_CPUS but may
    * drift at ULP level across core counts (see the spread scaladoc;
    * [[medianCI]] and all integer paths are unaffected).
    */
  def meanCI(df: DataFrame, groupCol: String, valueCol: String,
             keyCol: String, b: Int = 40, tail: Double = 0.025): DataFrame = {
    val base = replicaInput(df, groupCol, valueCol, keyCol, b, tail)
    val reps = base
      .select(col("g"), col("x").cast("double").as("x"),
        replicaDraws(col("k"), b).as("d"))
      .select(col("g"), col("x"), col("d.rep").as("rep"),
        poissonWeightFromU(col("d.u")).as("w"))
      .groupBy("g", "rep")
      .agg(sum(col("w") * col("x")).as("wx"), sum(col("w")).as("wn"))
      .withColumn("m", when(col("wn") > 0, col("wx") / col("wn")))
    val ci = percentileCI(reps, "m", tail)
    val est = base.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        (sum(col("x").cast("double")) / count(lit(1))).as("est"))
    est.join(ci, Seq("g"))
      .select(col("g").as(groupCol), col("n"), col("est"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Percentile bootstrap CI for the per-group MEDIAN of `valueCol` —
    * the error bar [[meanCI]] cannot give a heavy-tailed metric (a
    * latency/price median's CI is NOT mean ± anything). Same Poisson
    * replica machinery; each replica's statistic is the weighted LOWER
    * median (the order statistic at ⌈Σw/2⌉ — an actual data value), so
    * with integral input every emitted number is an exact integer:
    * there is NO float surface at all.
    *
    * Scale shape: the ×B explode collapses straight to
    * (group, replica, value) weighted counts — the only corpus-mass
    * shuffle; the median windows partition by (group, replica) over
    * DISTINCT values; the CI rank selection orders B medians per group.
    */
  def medianCI(df: DataFrame, groupCol: String, valueCol: String,
               keyCol: String, b: Int = 40, tail: Double = 0.025): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = replicaInput(df, groupCol, valueCol, keyCol, b, tail)
      .select(col("g"), col("x").cast("long").as("v"), col("k"))
    // lower median of a (partition-keyed) weighted value collapse
    def lowerMedian(cells: DataFrame, parts: Seq[String]): DataFrame = {
      val cum = Window.partitionBy(parts.map(col): _*).orderBy(col("v").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(parts.map(col): _*)
      cells
        .withColumn("cc", sum(col("c")).over(cum))
        .withColumn("nn", sum(col("c")).over(tot))
        .groupBy(parts.map(col): _*)
        .agg(min(when(col("cc") >= floor((col("nn") + 1L) / 2L).cast("long"),
          col("v"))).as("med"))
    }
    val repMed = lowerMedian(
      base
        .select(col("g"), col("v"), replicaDraws(col("k"), b).as("d"))
        .select(col("g"), col("v"), col("d.rep").as("rep"),
          poissonWeightFromU(col("d.u")).as("c"))
        .filter(col("c") > 0)
        .groupBy("g", "rep", "v").agg(sum(col("c")).as("c")),
      Seq("g", "rep"))
    val ci = percentileCI(repMed, "med", tail)
    val est = lowerMedian(
      base.groupBy("g", "v").agg(count(lit(1)).as("c")), Seq("g"))
      .withColumnRenamed("med", "est")
    val n = base.groupBy("g").agg(count(lit(1)).as("n"))
    n.join(est, "g").join(ci, "g")
      .select(col("g").as(groupCol), col("n"), col("est"),
        col("ci_lo"), col("ci_hi"))
  }
}
