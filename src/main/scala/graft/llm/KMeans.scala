package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** k-means cells over an embedding column — the coarse quantizer behind
  * IVF search ([[Similarity.ivfTopK]] searches cells; this is where the
  * cells come from) and the clustering step behind cluster-balanced
  * corpus sampling, plus the cluster-quality scorecards over them.
  *
  * Determinism contract (the cross-engine / cross-run reproducibility the
  * whole suite holds to):
  *  - vectors are quantized once to fixed-point longs (⌊x·scale+½⌋), so
  *    every squared L2 distance to an integer-valued centroid is an exact
  *    integer, and to a rational centroid a fixed-order IEEE sum;
  *  - seeds are the k vectors with the LOWEST ids — no RNG;
  *  - distance ties break toward the lower cell id.
  *
  * Scale shape: assignment is a NARROW projection — the k·d centroid
  * literals ride the closure (k·d doubles, the classic broadcast-side
  * size), each row folds its own distance array, zero shuffle; nothing
  * corpus-mass shuffles.
  */
object KMeans {

  /** (idCol, xq array<long>) — fixed-point view of the vector column. */
  def quantized(df: DataFrame, idCol: String, vecCol: String,
                scale: Int = 1000): DataFrame =
    df.select(col(idCol),
      transform(col(vecCol),
        x => floor(x.cast("double") * scale + 0.5).cast("long")).as("xq"))

  /** Deterministic seeds: the k lowest-id vectors, cell = rank order. */
  def seedCentroids(dfq: DataFrame, idCol: String, k: Int): Array[Array[Double]] =
    dfq.orderBy(col(idCol).asc).limit(k).select(col("xq")).collect()
      .map(_.getSeq[Long](0).map(_.toDouble).toArray)

  /** Nearest-centroid assignment: (idCol, xq, cell, dist2). Ties go to the
    * lower cell (the struct min orders by (dist2, cell)).
    *
    * The centroid matrix rides the plan as ONE `typedLit` constant (a
    * single array<array<double>> Literal backed by Catalyst ArrayData),
    * NOT k separate d-element `array(lit...)` expression trees: k·d
    * Literal nodes at IVF-trainer sizes (k=256, d=768 → ~200k constants)
    * blow the generated class's constant pool / 64 KB method limit, while
    * one boxed constant is a single slot at any k·d. Distances fold per
    * row with the same fixed left-to-right IEEE order as before
    * (`transform` index i is the cell id, so tie-break semantics are
    * unchanged: struct min orders by (dist2, cell)).
    */
  def assign(dfq: DataFrame, idCol: String, cents: Seq[Array[Double]]): DataFrame = {
    val scored = centroidDistances(cents)
    dfq.withColumn("best", array_min(scored))
      .select(col(idCol), col("xq"),
        col("best.cell").as("cell"), col("best.d2").as("dist2"))
  }

  /** Per row, the array of (d2, cell) structs: squared L2 from `xq` to
    * every centroid, folded left to right, with the centroid matrix as
    * one literal — what [[assign]], [[silhouetteSimplified]] and
    * [[Pq.routeCells]] rank.
    */
  private[llm] def centroidDistances(cents: Seq[Array[Double]]): Column =
    transform(typedLit(cents.map(_.toSeq)), (cv, i) =>
      struct(
        aggregate(zip_with(col("xq"), cv, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("d2"),
        i.cast("int").as("cell")))

  /** Simplified silhouette (the centroid-based form of Rousseeuw 1987,
    * a.k.a. the "simplified silhouette" of Vendramin et al. 2010):
    * per point, a = distance to its OWN centroid, b = distance to the
    * nearest OTHER centroid, s = (b − a) / max(a, b) ∈ [−1, 1]; the
    * per-cluster mean is the separation scorecard that decides whether
    * an IVF coarse quantizer's cells (or a cluster-balanced sampler's
    * strata) are real structure or noise. The O(n·k) centroid form is
    * the one that scales — the classic O(n²) pairwise silhouette is
    * exactly the all-pairs shape this library never ships.
    *
    * Exactness: with integer-valued centroids (e.g. [[seedCentroids]] —
    * quantized vectors), every squared distance is an exact integer
    * fold; a, b are single √s of exact operands, s one fixed IEEE
    * expression (0 where a = b = 0). The per-cluster MEAN is order-free
    * by the 1e-9 per-term quantization idiom. With rational trained
    * centroids the distances are fixed-order IEEE folds (the [[assign]]
    * determinism class) — still engine-stable, no longer integral.
    *
    * Scale shape: identical to [[assign]] — the k·d centroid matrix
    * rides the closure as one literal, each row folds its k distances
    * with ZERO shuffle; the only exchange is the final |k|-row cluster
    * aggregate. Requires k ≥ 2 (b is undefined otherwise).
    */
  def silhouetteSimplified(dfq: DataFrame, idCol: String,
      cents: Seq[Array[Double]]): DataFrame = {
    require(cents.size >= 2, "silhouette needs k >= 2 clusters")
    val scored = centroidDistances(cents)
    val a = sqrt(col("best.d2"))
    val b = sqrt(col("bmin"))
    val s = when(greatest(a, b) > 0, (b - a) / greatest(a, b)).otherwise(lit(0.0))
    dfq.withColumn("__sc", scored)
      .withColumn("best", array_min(col("__sc")))
      .withColumn("bmin",
        array_min(transform(
          filter(col("__sc"), x => x.getField("cell") =!= col("best.cell")),
          x => x.getField("d2"))))
      .withColumn("__sq", floor(s * 1e9 + lit(0.5)).cast("long"))
      .groupBy(col("best.cell").as("cell"))
      .agg(count(lit(1)).as("n"), min(col("__sq")).as("__minq"),
        sum(col("__sq")).as("__ssum"))
      .select(col("cell").cast("long").as("cell"), col("n"),
        (col("__ssum").cast("double") / 1e9 / col("n")).as("mean_sil"),
        (col("__minq").cast("double") / 1e9).as("min_sil"))
  }

  /** Davies–Bouldin index, per-cluster form — the clustering audit that
    * complements [[silhouetteSimplified]]: silhouette asks "is each
    * POINT closer to home than elsewhere"; DB asks "is each CLUSTER
    * PAIR separated relative to its spreads" —
    *
    *   R_i = max_{j≠i} (S_i + S_j) / M_ij,
    *   S_i = mean ‖x − c_i‖ over cell i,  M_ij = ‖c_i − c_j‖
    *
    * (the k-row R_i table IS the diagnosis: the argmax j names the
    * cluster pair to merge or re-seed; the DB index is mean(R_i)).
    *
    * Determinism: per-row distances grid to 1e-9 longs before the cell
    * sum (the silhouette discipline); M_ij folds the centroid literal in
    * a fixed order; R is IEEE over those. Empty cells simply emit no row.
    *
    * Scale shape: ONE narrow assignment pass (×k fold per row) + a
    * ≤k-row aggregate; the pairwise stage is k² METADATA rows. Nothing
    * data-sized shuffles twice.
    */
  def daviesBouldin(dfq: DataFrame, idCol: String,
      cents: Seq[Array[Double]]): DataFrame = {
    require(cents.size >= 2, "davies-bouldin needs k >= 2 clusters")
    val sg = assign(dfq, idCol, cents)
      .withColumn("__dg", floor(sqrt(col("dist2")) * 1e9 + lit(0.5)).cast("long"))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n"), sum(col("__dg")).as("__sg"))
      .select(col("cell"), col("n"),
        (col("__sg").cast("double") / 1e9 / col("n")).as("s"))
      .localCheckpoint(false) // both sides of the pair stage read it
    val m = cents.map(a => cents.map(b =>
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)).toSeq)
    val mLit = typedLit(m)
    val left = sg.select(col("cell").as("ci"), col("n"), col("s").as("si"))
    val right = sg.select(col("cell").as("cj"), col("s").as("sj"))
    left.crossJoin(right).filter(col("ci") =!= col("cj"))
      .withColumn("__m",
        element_at(element_at(mLit, (col("ci") + 1).cast("int")),
          (col("cj") + 1).cast("int")))
      // coincident centroids (M_ij = 0) would put Infinity in r_max;
      // NULL the degenerate ratio like the sibling readouts do
      .withColumn("__r",
        when(col("__m") > 0, (col("si") + col("sj")) / col("__m")))
      .groupBy(col("ci").as("cell"))
      .agg(max(col("n")).as("n"), max(col("si")).as("s"),
        max(col("__r")).as("r_max"))
  }
}
