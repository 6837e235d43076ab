package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed top-principal-component extraction — PCA reduced to its
  * Spark shape: ONE data-sized pass builds the exact d×d covariance
  * cell table, then power iteration runs entirely on that metadata
  * table (joins and aggregates over d² rows). The same split as the
  * isotonic/temperature-scan family: the corpus is touched once; the
  * numerical iteration never sees it. The PCA direction complements
  * [[Similarity.jlProject]] (data-agnostic random projection) as the
  * DATA-ADAPTIVE dimensionality-reduction tier — project onto the top
  * component(s) to store/scan fewer floats where variance, not
  * distance, is what must survive.
  *
  * Exactness (the cross-engine contract):
  *  - vector entries quantize to a 1e-4 integer grid, so per-cell Σxᵢ
  *    and Σxᵢxⱼ are EXACT (decimal-widened) sums — no float
  *    accumulation over rows anywhere;
  *  - cov_ij = (n·Σxᵢxⱼ − Σxᵢ·Σxⱼ) / (n²·1e8) is one fixed IEEE
  *    expression per cell (the 1e8 undoes the quantization²);
  *  - each power sweep wᵢ = Σⱼ Cᵢⱼ·vⱼ quantizes every product to a
  *    1e-12 grid and sums LONGS (d terms — order-free by integer
  *    arithmetic); the norm does the same over wᵢ²; v' = w/‖w‖ and the
  *    Rayleigh-style eigval estimate ‖w‖ are single divisions/sqrts.
  *  - the returned component is sign-normalized (the max-|v| entry is
  *    made positive, ties to the lowest dim) so both engines pick the
  *    same representative of the ±v pair.
  *
  * Scale shape: the covariance pass is a ×d narrow explode (marginals)
  * plus a Σxᵢxⱼ product pass with TWO interchangeable physical forms,
  * chosen by the vector width: the declarative ×d² explode (oracle-
  * replayable; right at d ≤ 32 where d² per row ≈ a shingle explode)
  * and the per-partition Gram fold (a `mapPartitions` upper-triangle
  * long accumulator — ONE d·(d+1)/2 array per partition, emitted once
  * per partition, so the shuffle carries #partitions·d²/2 cells instead
  * of rows·d² — the only sane form at embedding widths 256-1024).
  * Both emit identical exact cells; the downstream algebra never knows
  * which ran. Iterations add NO data passes either way.
  */
object Pca {

  /** Exact covariance cells (i, j, c) of the first `dims` entries of
    * `vecCol`, plus the row count — see object doc for the grid/widening
    * contract. Rows with null or short vectors are excluded. The product
    * pass is the explode at d ≤ 32 and the Gram fold above.
    */
  def covCells(df: DataFrame, vecCol: String, dims: Int): DataFrame =
    covCells(df, vecCol, dims, gramFold = dims > 32)

  /** [[covCells]] with the product pass picked by the caller — each
    * path is the other's test reference.
    */
  private[llm] def covCells(df: DataFrame, vecCol: String, dims: Int,
                            gramFold: Boolean): DataFrame = {
    require(dims >= 2)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val qv = slice(transform(col(vecCol),
      x => floor(x.cast("double") * 10000 + 0.5).cast("long")), 1, dims)
    val base = df
      .filter(col(vecCol).isNotNull && size(col(vecCol)) >= dims)
      .select(qv.as("qv"))
      .localCheckpoint(false) // feeds the marginal AND product aggregates
    val marg = base
      .select(posexplode(col("qv")).as(Seq("i", "xi")))
      .groupBy("i")
      .agg(sum(col("xi").cast(dec)).as("sx"), count(lit(1)).as("n"))
    val prod =
      if (gramFold) gramFoldCells(base, dims)
      else base
        .select(posexplode(col("qv")).as(Seq("i", "xi")), col("qv"))
        .select(col("i"), col("xi"), posexplode(col("qv")).as(Seq("j", "xj")))
        .groupBy("i", "j")
        .agg(sum(col("xi").cast(dec) * col("xj")).as("sxy"))
    prod
      .join(marg.select(col("i"), col("sx").as("sxi"), col("n")), "i")
      .join(marg.select(col("i").as("j"), col("sx").as("sxj")), "j")
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("n"),
        ((col("n").cast("double") * col("sxy") -
          col("sxi").cast("double") * col("sxj")) /
          (col("n").cast("double") * col("n") * lit(1.0e8))).as("c"))
  }

  /** The Gram-fold product pass: fold each partition's vectors into one
    * upper-triangle accumulator of exact long sums Σxᵢxⱼ (i ≤ j), emit
    * the d·(d+1)/2 cells ONCE per partition, decimal-widen across
    * partitions, and mirror the off-diagonal cells to the full matrix —
    * bit-identical to the explode path's (i, j, sxy) table.
    *
    * Exactness: `multiplyExact`/`addExact` per term, so a partition
    * whose partial sum would overflow a long FAILS LOUDLY instead of
    * wrapping (unreachable for unit-scale embeddings on the 1e-4 grid:
    * |x| ≤ 1 ⇒ |xᵢxⱼ| ≤ 1e8 ⇒ ~9×10¹⁰ rows per partition to the edge);
    * the cross-partition sum is decimal(38,0), overflow-free at any
    * scale. Cell order inside a partition is fixed (row-major upper
    * triangle) and addition of exact longs is associative, so the result
    * is partitioning-independent.
    */
  private def gramFoldCells(base: DataFrame, dims: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val spark = base.sparkSession
    import spark.implicits._
    val cells = base.select(col("qv")).as[Seq[Long]].mapPartitions { it =>
      val acc = new Array[Long](dims * (dims + 1) / 2)
      var any = false
      while (it.hasNext) {
        val v = it.next()
        any = true
        var i = 0; var idx = 0
        while (i < dims) {
          val xi = v(i)
          var j = i
          while (j < dims) {
            acc(idx) = Math.addExact(acc(idx), Math.multiplyExact(xi, v(j)))
            idx += 1; j += 1
          }
          i += 1
        }
      }
      if (!any) Iterator.empty
      else {
        val out = new Array[(Int, Int, Long)](acc.length)
        var i = 0; var idx = 0
        while (i < dims) {
          var j = i
          while (j < dims) { out(idx) = (i, j, acc(idx)); idx += 1; j += 1 }
          i += 1
        }
        out.iterator
      }
    }.toDF("i", "j", "sxy_p")
    val upper = cells.groupBy("i", "j")
      .agg(sum(col("sxy_p").cast(dec)).as("sxy"))
      .localCheckpoint(false) // read twice: as-is and mirrored
    upper.unionByName(upper.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("sxy")))
  }

  /** Top principal component of the first `dims` vector entries after
    * `iters` power sweeps from the uniform start v⁰ = 1/√d. Returns one
    * row per dimension: (dim, component, eigval) with eigval the final
    * sweep's ‖Cv‖ (→ λ₁ as the iteration converges; with iters pinned,
    * both engines compute the identical intermediate — convergence is
    * the caller's tuning, equality is the contract).
    */
  def topComponent(df: DataFrame, vecCol: String, dims: Int,
                   iters: Int): DataFrame =
    topComponents(df, vecCol, dims, 1, iters).drop("comp")

  /** `iters` power sweeps on a (i, j, c) cell table from the uniform
    * start — the raw (v, ‖w‖) pair BEFORE sign normalization, per round of [[topComponents]].
    */
  private def power(cov: DataFrame, dims: Int,
      iters: Int): (DataFrame, DataFrame) = {
    val grid = 1.0e12
    var v: DataFrame = cov.select(col("i").as("j")).distinct()
      .select(col("j"), lit(1.0 / math.sqrt(dims.toDouble)).as("vj"))
    var nrm: DataFrame = null
    for (_ <- 1 to iters) {
      val w = cov.join(v, "j")
        .groupBy(col("i"))
        .agg(sum(floor(col("c") * col("vj") * grid + lit(0.5)).cast("long"))
          .as("wq"))
        .select(col("i"), (col("wq").cast("double") / lit(grid)).as("w"))
      nrm = w.agg(sum(floor(col("w") * col("w") * grid + lit(0.5))
          .cast("long")).as("n2"))
        .select(sqrt(col("n2").cast("double") / lit(grid)).as("nrm"))
      v = w.crossJoin(broadcast(nrm))
        .select(col("i").as("j"), (col("w") / col("nrm")).as("vj"))
    }
    (v, nrm)
  }

  /** Sign-normalize (max-|v| entry positive, ties to the lowest dim). */
  private def signFixed(v: DataFrame, nrm: DataFrame): DataFrame = {
    val sgn = v
      .withColumn("rn", row_number().over(
        Window.orderBy(abs(col("vj")).desc, col("j").asc)))
      .filter(col("rn") === 1)
      .select(when(col("vj") < 0, lit(-1.0)).otherwise(lit(1.0)).as("s"))
    v.crossJoin(broadcast(sgn)).crossJoin(broadcast(nrm))
      .select(col("j").as("dim"), (col("vj") * col("s")).as("component"),
        col("nrm").as("eigval"))
  }

  /** Top `nComp` principal components via Hotelling deflation: extract a
    * component with [[power]], subtract its rank-1 mass from the cell
    * table (C ← C − λ·v·vᵀ — sign-invariant, so the PRE-sign-fix v is
    * used), and repeat. The multi-component completion of
    * [[topComponent]] — 2-3 components is what a variance screen /
    * 2-D embedding map actually consumes.
    *
    * Determinism: every deflated cell lands on the 1e-12 long grid
    * (floor(c − λ·vᵢ·vⱼ)·1e12 + ½) — one fixed IEEE expression of the
    * already engine-identical (c, λ, v) values, so each round's cell
    * table is bit-identical cross-engine; with iters pinned the whole
    * recurrence is the [[topComponent]] contract applied nComp times.
    *
    * Scale shape: the corpus is touched ONCE ([[covCells]]); every
    * deflation round is two d²-row joins + the power sweeps — all
    * metadata. Returns (comp 1-based, dim, component, eigval).
    */
  def topComponents(df: DataFrame, vecCol: String, dims: Int, nComp: Int,
      iters: Int): DataFrame = {
    require(nComp >= 1 && nComp <= dims, s"nComp in [1, $dims], got $nComp")
    require(iters >= 1)
    val grid = 1.0e12
    var cells = covCells(df, vecCol, dims)
      .select("i", "j", "c")
      .localCheckpoint(false) // every sweep re-reads the d² cells
    var out: DataFrame = null
    for (comp <- 1 to nComp) {
      val (v, nrm) = power(cells, dims, iters)
      val one = signFixed(v, nrm)
        .select(lit(comp.toLong).as("comp"), col("dim"), col("component"),
          col("eigval"))
      out = if (out == null) one else out.unionByName(one)
      if (comp < nComp) {
        val vKeep = v.localCheckpoint(false) // read as vi AND vj below
        cells = cells
          .join(vKeep.select(col("j").as("i"), col("vj").as("vi")), "i")
          .join(vKeep.select(col("j"), col("vj")), "j")
          .crossJoin(broadcast(nrm))
          .select(col("i"), col("j"),
            (floor((col("c") - col("nrm") * col("vi") * col("vj")) * grid +
              lit(0.5)).cast("long").cast("double") / grid).as("c"))
          .localCheckpoint(false)
      }
    }
    out
  }
}
