package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable-sketch pre-aggregation — the pattern that makes interactive
  * distinct-count analytics possible at 100 TB: build a compact sketch per
  * FINE grain cell once (per day, per shard, per partition), persist those
  * few-KB sketches, and answer any COARSER-grain question by merging
  * sketches — the raw data is never rescanned. The reference's analogue is
  * `value_counts().size` per slice in notebooks, recomputed from raw rows
  * each time; that shape is a full scan per question.
  *
  * Uses Spark's Apache DataSketches HLL bindings (`hll_sketch_agg` /
  * `hll_union_agg` / `hll_sketch_estimate`, SQL functions since 3.5) —
  * sketches are genuine binary columns a table can store. lgK = 14 →
  * ~16 KB per sketch, relative standard error ≈ 1.04/√2^14 ≈ 0.8%.
  *
  * Estimates are NOT bit-reproducible across engines (sketch layout is
  * implementation-defined), so the oracle-checkable surface is the HLL
  * self-check idiom (`q_a3_approx_hll`): emit the exact count alongside a
  * within-error-bound flag computed Spark-side; the oracle pins the exact
  * counts and expects the flag to hold everywhere.
  */
object Sketches {

  /** Distinct-count rollup cube: one HLL sketch of `keyCol` per
    * (fineCols ++ coarseCols) cell — the persisted, mergeable layer — then
    * the coarse answer `approx_distinct` per coarseCols group by sketch
    * UNION (never re-reading rows). Returns (coarseCols*, approx_distinct).
    *
    * Scale shape: the ONLY corpus-mass shuffle is the fine-grain sketch
    * aggregate (map-side partial sketches merge before the exchange, so
    * shuffled bytes are one ~16 KB sketch per (cell × partition), not per
    * row); the coarse merge moves |fine cells| sketches. At 100 TB the
    * fine layer would be written bucketed once per ingest and every
    * subsequent rollup touches only sketches.
    */
  def hllRollup(df: DataFrame, fineCols: Seq[String], coarseCols: Seq[String],
                keyCol: String, lgK: Int = 14): DataFrame = {
    require(fineCols.nonEmpty && coarseCols.nonEmpty)
    estimate(rollup(fineSketches(df, (fineCols ++ coarseCols).distinct, keyCol, lgK),
      coarseCols))
      .withColumnRenamed("estimate", "approx_distinct")
  }

  /** The persisted layer: one HLL sketch of `keyCol` per `cellCols` cell.
    * At 100 TB this table is written (bucketed by the rollup key) once per
    * ingest increment; everything downstream reads sketches, not rows.
    */
  def fineSketches(df: DataFrame, cellCols: Seq[String], keyCol: String,
                   lgK: Int = 14): DataFrame =
    df.filter(col(keyCol).isNotNull)
      .groupBy(cellCols.map(col): _*)
      .agg(expr(s"hll_sketch_agg($keyCol, $lgK)").as("sk"))

  /** Merge a sketch table upward to `coarseCols` (sketch union — lossless
    * over sketches, raw rows untouched). Input and output both carry `sk`.
    */
  def rollup(fine: DataFrame, coarseCols: Seq[String]): DataFrame =
    fine.groupBy(coarseCols.map(col): _*)
      .agg(expr("hll_union_agg(sk, false)").as("sk"))

  /** (keys*, estimate) from a sketch table. */
  def estimate(sketches: DataFrame): DataFrame =
    sketches.withColumn("estimate", expr("hll_sketch_estimate(sk)")).drop("sk")

  /** Approximate distinct-set OVERLAP between two samples by
    * inclusion-exclusion over three sketches — |A∩B| ≈ est(A) + est(B) −
    * est(A∪B) — the audience-overlap / cross-corpus-contamination
    * estimate ("how many users did both", "how many docs appear in both
    * crawls") answered from KB-sized sketches instead of a distinct-join
    * of two corpus-mass key sets. Clamped at 0 (disjoint sets can go
    * slightly negative from sketch error); error scales with the UNION
    * size (callers bound against it, the [[hllRollup]] self-check
    * idiom). One aggregate per side, a 1-row combine — nothing else
    * moves.
    */
  def intersectEstimate(a: DataFrame, b: DataFrame, keyCol: String,
                        lgK: Int = 14): DataFrame = {
    val sa = a.filter(col(keyCol).isNotNull)
      .agg(expr(s"hll_sketch_agg($keyCol, $lgK)").as("sk_a"))
    val sb = b.filter(col(keyCol).isNotNull)
      .agg(expr(s"hll_sketch_agg($keyCol, $lgK)").as("sk_b"))
    sa.crossJoin(broadcast(sb))
      .select(
        expr("hll_sketch_estimate(sk_a)").as("approx_a"),
        expr("hll_sketch_estimate(sk_b)").as("approx_b"),
        expr("hll_sketch_estimate(hll_union(sk_a, sk_b, false))").as("approx_union"))
      .withColumn("approx_intersect",
        greatest(lit(0L), col("approx_a") + col("approx_b") - col("approx_union")))
  }

  /** Incremental store maintenance: merge a delta sketch table (tonight's
    * ingest, rolled to the store grain) into the persisted store by
    * pairwise sketch union — the nightly update is O(|delta cells|), the
    * historical RAW data is never rescanned (the
    * `MinHashDedup.incrementalNearDuplicates` discipline applied to
    * distinct counting). Keys present on one side pass through unchanged.
    *
    * Scale shape: one full-outer join on the store key. With the store
    * written bucketed on `keyCols` (`DataFrameWriter.bucketBy`) the
    * store side joins exchange-free — only the (small) delta shuffles —
    * the same layout contract as `q_snapshot_diff` (pinned in
    * SketchesSpec).
    */
  def mergeSketchStores(store: DataFrame, delta: DataFrame,
                        keyCols: Seq[String]): DataFrame = {
    val s = store.withColumnRenamed("sk", "__sk_s")
    val d = delta.withColumnRenamed("sk", "__sk_d")
    s.join(d, keyCols, "full_outer")
      .withColumn("sk",
        when(col("__sk_s").isNull, col("__sk_d"))
          .when(col("__sk_d").isNull, col("__sk_s"))
          .otherwise(expr("hll_union(__sk_s, __sk_d, false)")))
      .drop("__sk_s", "__sk_d")
  }

  /** KMV (k-minimum-values) distinct sketch (Bar-Yossef et al. 2002;
    * Beyer et al. 2007) — the FULLY engine-replayable member of the
    * sketch family: unlike HLL (whose binary layout is
    * implementation-defined, hence the self-check-flag idiom above), a
    * KMV sketch is just the k smallest values of a shared hash, so two
    * engines that agree on the hash agree on the sketch and the
    * estimate BIT-EXACTLY. Estimate D̂ = (k−1)/u_(k) with u_(k) the
    * k-th smallest hash normalized to (0,1); groups holding fewer than
    * k distinct keys report their exact count (the sketch IS the value
    * set there).
    *
    * Mergeability is the point at 100 TB — and is PINNED, not assumed:
    * the emitted `__union__` row is built by merging the PER-GROUP
    * sketches (bottom-k of their union), exactly how a store of daily
    * sketches answers a cross-day distinct question without touching
    * raw data; its `n_exact` column lets the oracle audit the estimate.
    *
    * Scale shape: ONE map-side-combined distinct over (group, hash) —
    * the only corpus-mass shuffle; bottom-k per group is a rank filter
    * (`WindowGroupLimit`: every map task forwards ≤ k rows per group
    * before the exchange); the merge ranks ≤ k·|groups| sketch rows
    * (metadata-sized — its single-partition window is bounded by the
    * sketch mass, never the data).
    */
  def kmvEstimates(df: DataFrame, groupCol: String, keyCol: String,
                   k: Int): DataFrame = {
    require(k >= 2, "k-minimum-values needs k >= 2")
    val two60 = 1.152921504606846976e18 // 2^60 as a double literal
    val h = graft.functions.Md5Hash60.hash60(col(keyCol).cast("string"))
    val dist = df
      .filter(col(groupCol).isNotNull && col(keyCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"), h.as("h"))
      .distinct()
      .localCheckpoint(false) // feeds per-group sketches AND the exact audit
    def est(nKept: org.apache.spark.sql.Column,
            hk: org.apache.spark.sql.Column,
            nExact: org.apache.spark.sql.Column) =
      when(nKept < k, nExact.cast("double"))
        .otherwise(lit((k - 1).toDouble) / (hk.cast("double") / lit(two60)))
    val wG = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("h").asc)
    val kept = dist
      .withColumn("rn", row_number().over(wG).cast("long"))
      .filter(col("rn") <= k)
      .localCheckpoint(false) // feeds per-group rows AND the merged sketch
    val stats = dist.groupBy("g").agg(count(lit(1)).as("n_exact"))
    val perGroup = kept.groupBy("g")
      .agg(count(lit(1)).as("n_kept"),
        max(when(col("rn") === k, col("h"))).as("hk"))
      .join(stats, "g")
      .select(col("g"), col("n_exact"), col("n_kept"),
        est(col("n_kept"), col("hk"), col("n_exact")).as("est"))
    val merged = kept.select("h").distinct()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("h").asc))
        .cast("long"))
      .filter(col("rn") <= k)
    val unionRow = merged
      .agg(count(lit(1)).as("n_kept"),
        max(when(col("rn") === k, col("h"))).as("hk"))
      .crossJoin(dist.agg(count_distinct(col("h")).as("n_exact")))
      .select(lit("__union__").as("g"), col("n_exact"), col("n_kept"),
        est(col("n_kept"), col("hk"), col("n_exact")).as("est"))
    perGroup.unionByName(unionRow)
  }

  /** Chapman capture–recapture population estimate — "how many are there
    * that NEITHER list saw?" Two independent sightings of the same
    * population (users seen by two event families, dup pairs flagged by
    * two detectors, entities matched by two linkage passes) give the
    * bias-corrected Lincoln–Petersen estimate of the TRUE population:
    *
    *   N̂  = (n_A+1)(n_B+1)/(m+1) − 1          (Chapman 1951)
    *   SE² = (n_A+1)(n_B+1)(n_A−m)(n_B−m) / ((m+1)²(m+2))
    *
    * The corpus-QA use: the visible overlap of two dedup detectors
    * estimates the duplicates BOTH of them missed — undercoverage you
    * cannot count directly. `inA`/`inB` flag each key's membership.
    * Also emits n_either (the directly observed union) so the estimated
    * dark mass is N̂ − n_either.
    *
    * Exactness: four exact long counts from ONE aggregate over the key
    * table; N̂ and SE are fixed IEEE expressions of them. NULL when
    * m = 0 (disjoint sightings estimate nothing).
    *
    * Scale shape: one distinct-key collapse (map-side combined) → one
    * 1-row readout.
    */
  def chapmanEstimate(df: DataFrame, keyCol: String,
      inA: org.apache.spark.sql.Column,
      inB: org.apache.spark.sql.Column): DataFrame = {
    val a = inA.cast("boolean"); val b = inB.cast("boolean")
    val keys = df
      .filter(col(keyCol).isNotNull && a.isNotNull && b.isNotNull)
      .groupBy(col(keyCol))
      .agg(max(a).as("a"), max(b).as("b"))
      .filter(col("a") || col("b"))
    val agg = keys.agg(
      count_if(col("a")).as("n_a"), count_if(col("b")).as("n_b"),
      count_if(col("a") && col("b")).as("n_both"),
      count(lit(1)).as("n_either"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val m = col("n_both").cast("double")
    val nhat = (na + 1.0) * (nb + 1.0) / (m + 1.0) - 1.0
    val se = sqrt((na + 1.0) * (nb + 1.0) * (na - m) * (nb - m) /
      ((m + 1.0) * (m + 1.0) * (m + 2.0)))
    agg.select(col("n_a"), col("n_b"), col("n_both"), col("n_either"),
      when(col("n_both") > 0, nhat).as("chapman_est"),
      when(col("n_both") > 0, se).as("chapman_se"))
  }
}
