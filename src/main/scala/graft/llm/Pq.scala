package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) ANN tier — the memory-scale path past int8:
  * vectors are split into `m` subspaces, each subspace quantized to one of
  * `k` codebook entries, so a d-dim float vector compresses to m small
  * codes (64-dim → 4 bytes here vs 256 float bytes), and query-time
  * distance becomes m table lookups per candidate instead of a d-dim
  * computation (ADC — asymmetric distance computation: the query keeps its
  * exact subvectors, only candidates are quantized). Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011.
  *
  * Determinism contract (matches [[KMeans]]): vectors ride the fixed-point
  * integer grid ([[KMeans.quantized]]), codebooks are the subvectors of the
  * k LOWEST-id vectors (no RNG), so every subspace distance is an exact
  * integer and code assignment (ties → lower code) plus ADC totals are
  * bit-identical under any partitioning or engine.
  *
  * Scale shape: encoding is a NARROW projection — the m·k·(d/m) codebook
  * literals ride the closure as one typedLit each, zero shuffle, and the
  * encoded table is the only corpus-mass artifact (m codes/vector — this is
  * the representation the 100 TB corpus persists). ADC joins the
  * |queries|·m·k distance table (tiny — broadcast) against the exploded
  * codes, so per-candidate work is m lookups + one map-side-combined sum;
  * the corpus-sized side never carries vectors past the encode pass.
  */
object Pq {

  /** Codebooks from the k lowest-id quantized vectors: m seq of k integer
    * centroids of d/m dims each. The sanctioned fit-collect (k·d longs —
    * same contract as [[KMeans.seedCentroids]]).
    */
  def seedCodebooks(dfq: DataFrame, idCol: String, m: Int, k: Int): Seq[Seq[Array[Long]]] = {
    val seeds = dfq.orderBy(col(idCol).asc).limit(k).select(col("xq")).collect()
      .map(_.getSeq[Long](0).toArray)
    require(seeds.nonEmpty, "empty corpus")
    val d = seeds.head.length
    require(m > 0 && d % m == 0, s"dims $d not divisible into $m subspaces")
    val sub = d / m
    (0 until m).map(j => seeds.toSeq.map(v => v.slice(j * sub, (j + 1) * sub)))
  }

  /** Integer L2² between a subvector slice and one codebook entry. */
  private def d2(subv: Column, cv: Column): Column =
    aggregate(zip_with(subv, cv, (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)

  /** Per-subspace struct(d2, code) score array for one subspace's codebook
    * — array_min picks (min d2, then lower code), the tie rule shared with
    * [[KMeans.assign]].
    */
  private def scoredCodes(codebook: Seq[Array[Long]], j: Int, sub: Int): Column = {
    val cbLit = typedLit(codebook.map(_.toSeq))
    val subv = slice(col("xq"), j * sub + 1, sub)
    transform(cbLit, (cv, i) =>
      struct(d2(subv, cv).as("d2"), i.cast("int").as("code")))
  }

  /** Encode every vector: (idCol, codes array<int>) — the persisted PQ
    * representation. Narrow projection, zero shuffle.
    */
  def encode(dfq: DataFrame, idCol: String, codebooks: Seq[Seq[Array[Long]]]): DataFrame = {
    val m = codebooks.size
    val sub = codebooks.head.head.length
    val codes = (0 until m).map(j =>
      array_min(scoredCodes(codebooks(j), j, sub)).getField("code"))
    dfq.select(col(idCol), array(codes: _*).as("codes"))
  }

  /** ADC top-k: (query_id, neighbor_id, adc, rank) — `adc` is the exact
    * integer Σ_j L2²(query subvector j, codebook_j[neighbor's code j]).
    * The per-query distance table (|queries|·m·k rows) broadcasts; the
    * encoded corpus pays m lookups per row. Rank ties → lower neighbor id;
    * self-pairs excluded.
    */
  def adcTopK(dfq: DataFrame, idCol: String, encoded: DataFrame,
      codebooks: Seq[Seq[Array[Long]]], topK: Int, queryPred: Column): DataFrame = {
    val dt = distanceTable(
      dfq.filter(queryPred).select(col(idCol).as("query_id"), col("xq")), codebooks)
    val nbr = encoded.select(col(idCol).as("neighbor_id"),
      posexplode(col("codes")).as(Seq("j", "code")))
    topByAdc(nbr.join(broadcast(dt), Seq("j", "code")), topK)
  }

  /** Per query (`query_id`, `xq`): the squared L2 `d2` from its subvector
    * j to every code of codebook j — the (query_id, j, code, d2) table
    * the ADC lookups join.
    */
  private def distanceTable(queries: DataFrame,
      codebooks: Seq[Seq[Array[Long]]]): DataFrame = {
    val sub = codebooks.head.head.length
    val perJ = codebooks.indices.map { j =>
      transform(typedLit(codebooks(j).map(_.toSeq)), (cv, i) =>
        struct(lit(j).as("j"), i.cast("int").as("code"),
          d2(slice(col("xq"), j * sub + 1, sub), cv).as("d2")))
    }
    queries
      .select(col("query_id"), explode(flatten(array(perJ: _*))).as("e"))
      .select(col("query_id"), col("e.j").as("j"), col("e.code").as("code"),
        col("e.d2").as("d2"))
  }

  /** Sum the looked-up `d2` per (query, neighbor) into `adc` and keep each
    * query's `topK` (ties → lower neighbor id; self excluded).
    */
  private def topByAdc(lookups: DataFrame, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    lookups
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d2")).as("adc"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** Route each query to its `nProbe` closest coarse cells by exact
    * integer L2 to the coarse centroids (ties → lower cell) — the IVF
    * probe list. `cents` are integral-valued coarse seeds
    * ([[KMeans.seedCentroids]]); the k·d literal rides the closure, so
    * routing is a narrow projection + a |queries|·k-row window.
    */
  def routeCells(dfq: DataFrame, idCol: String, cents: Seq[Array[Double]],
      nProbe: Int, queryPred: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = KMeans.centroidDistances(cents)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("e.d2").asc, col("e.cell").asc)
    dfq.filter(queryPred)
      .select(col(idCol).as("query_id"), explode(scored).as("e"))
      .withColumn("c_rank", row_number().over(w))
      .filter(col("c_rank") <= nProbe)
      .select(col("query_id"), col("e.cell").as("cell"))
  }

  /** IVF-PQ: the production composition — the coarse quantizer prunes
    * (each query scores only candidates whose cell is on its probe list),
    * PQ/ADC scores the survivors. `coarse` is the corpus cell assignment
    * (idCol, cell); `routed` the probe list from [[routeCells]]. Both
    * query-sized tables broadcast; the corpus-mass side still pays only m
    * code lookups per CANDIDATE — and now only for rows in probed cells,
    * which is what caps query cost as the corpus grows (recall is the
    * nProbe dial). Rank ties → lower neighbor id; self excluded.
    */
  def ivfAdcTopK(dfq: DataFrame, idCol: String, coarse: DataFrame,
      encoded: DataFrame, codebooks: Seq[Seq[Array[Long]]], topK: Int,
      routed: DataFrame): DataFrame = {
    val dt = distanceTable(
      dfq.join(routed.select(col("query_id")).distinct(), col(idCol) === col("query_id")),
      codebooks)
    val nbr = encoded
      .join(coarse.withColumnRenamed(idCol, "__nid"),
        encoded(idCol) === col("__nid"))
      .select(col(idCol).as("neighbor_id"), col("cell"),
        posexplode(col("codes")).as(Seq("j", "code")))
    topByAdc(
      nbr.join(broadcast(routed), Seq("cell"))
        .join(broadcast(dt), Seq("query_id", "j", "code")),
      topK)
  }
}
