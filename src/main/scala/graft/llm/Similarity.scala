package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Three tiers, cheapest-first — the standard ANN ladder:
  *  1. brute-force cosine top-k (exact; baseline and verifier) — broadcast
  *     the query set, scan the corpus once, per-partition top-k via window;
  *  2. random-hyperplane LSH buckets — candidate generation shuffles only
  *     (bucket, id) pairs; probe cost ∝ bucket size;
  *  3. IVF: coarse-quantize the corpus into cells (centroid table), search
  *     only the closest `nProbe` cells — the 100 TB path: the centroid
  *     table is broadcastable and the corpus is partitioned BY cell, so a
  *     query touches a bounded slice of data.
  *
  * All vector math is `zip_with`/`aggregate` array expressions over doubles
  * (floats widened first) — codegen'd, no UDF, no MLlib Vector conversion.
  */
object Similarity {

  /** Widen float array to double for stable arithmetic. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Σ aᵢ·bᵢ as a left-fold (deterministic association order). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine via the native codegen'd expression
    * ([[graft.functions.CosineSimilarity]]) — bit-identical to the
    * HOF composition `dot(a,b)/(norm(a)·norm(b))` (same fold order), but a
    * single fused Java loop inside whole-stage codegen instead of three
    * interpreted array traversals.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine(a, b)

  /** The pure-HOF composition, kept for reference/verification. */
  def cosineHof(a: Column, b: Column): Column = {
    val ad = asDouble(a); val bd = asDouble(b)
    dot(ad, bd) / (norm(ad) * norm(bd))
  }

  /** Mutual nearest neighbors from ANY ranked top-k table (the
    * (query_id, neighbor_id, rank) shape every tier here emits — brute,
    * LSH, IVF, quantized): the pairs where each side is the OTHER's
    * top-1. The high-precision pair miner — bidirectional agreement
    * filters out hubness (a point that is everyone's neighbor but whose
    * own neighbor is elsewhere), which is why parallel-corpus mining and
    * embedding-alignment pipelines use mutual-NN rather than raw top-1.
    * Emits each pair once, canonically a < b.
    *
    * Scale shape: the top-1 table is |queries| rows; one self-join on the
    * (a, b) pair key (left-semi against its own reversal) — never touches
    * vectors again.
    */
  def mutualNearest(ranked: DataFrame): DataFrame = {
    val t1 = ranked.filter(col("rank") === 1)
      .select(col("query_id").as("a"), col("neighbor_id").as("b"))
    t1.join(t1.select(col("b").as("a"), col("a").as("b")),
        Seq("a", "b"), "left_semi")
      .filter(col("a") < col("b"))
  }

  /** Recall@k of an approximate neighbor list against exact ground
    * truth: per query, the fraction of the true top-k an approximate
    * tier ([[lshTopK]], [[ivfTopK]], PQ/ADC, …) recovered — the
    * accept/reject dial for every ANN deployment (recall is DESIGNED to
    * be < 1; this measures by how much, so nProbe/planes can be tuned
    * on numbers instead of faith). Inputs are any two
    * (query_id, neighbor_id) relations; queries absent from `approx`
    * score 0, not null.
    *
    * Scale shape: one semi-join on (query, neighbor) + two
    * queries-sized aggregates — the vectors themselves are never
    * touched here; cost lives in the tiers being compared.
    */
  def recallAtK(truth: DataFrame, approx: DataFrame): DataFrame = {
    val t = truth.select(col("query_id"), col("neighbor_id"))
    val hits = t.join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    t.groupBy("query_id").agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_true").cast("double"))
  }

  /** Exact top-k neighbors for each query vector (excluding self when ids
    * collide). Queries are broadcast; corpus is scanned once; ties broken
    * by corpus id for determinism.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    // parallelism floor: the Θ(|q|·|c|) cosine work runs in the corpus
    // scan's stage — a single-row-group local file serializes it on one
    // core (round-15 profile: >85% of q_mutual_nn in one task)
    val c = graft.ops.Partitioning.spread(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
    // The fast path's tie-break negates the id, so it is gated on a
    // numeric id type (round-15 ADVICE: a string idCol used to throw
    // AnalysisException here); non-numeric ids fall through to the
    // window branch, which orders any comparable type. Integral ids are
    // negated as decimal(20,0) so Long.MinValue/Int.MinValue cannot
    // wrap, and the winner is cast back to the source id type so the
    // output schema is unchanged.
    val idType = c.schema("neighbor_id").dataType
    val integralId = idType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val numericId = integralId || idType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    if (k == 1 && numericId) {
      // top-1 as a map-side-combined aggregate (round-15 optimization):
      // the window form sorts the full |queries|×|corpus| score table per
      // task before WindowGroupLimit prunes it; max(struct) folds each
      // task's slice to one row per query with no sort and shuffles only
      // |queries| rows. Identical ordering semantics to row_number over
      // (cosine DESC, neighbor_id ASC): struct max = highest cosine, ties
      // → greatest -neighbor_id = smallest id; Spark's struct comparator
      // is the SAME total order (NaN greatest, null field smallest) the
      // window sort uses, so the winner matches bit-for-bit.
      val nid =
        if (integralId) -col("neighbor_id").cast("decimal(20,0)")
        else -col("neighbor_id")
      scored
        .groupBy(col("query_id"))
        .agg(max(struct(col("cosine"), nid.as("nid"))).as("m"))
        .select(col("query_id"),
          (-col("m.nid")).cast(idType).as("neighbor_id"),
          col("m.cosine").as("cosine"), lit(1L).as("rank"))
    } else scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank").cast("long").as("rank"))
  }

  /** Hard-negative mining for contrastive training: for each query, the
    * top-k highest-cosine corpus vectors INSIDE a similarity band
    * [`loCos`, `hiCos`) — confusable with the query (high cosine) but not
    * near-duplicates of it (below the dup threshold). Random negatives are
    * trivially separable and near-dups are false negatives; the band is
    * where the gradient signal lives (the in-batch-negatives → mined-hard-
    * negatives upgrade every embedding-model pipeline makes).
    *
    * Same shape as [[bruteForceTopK]]: queries broadcast, corpus scanned
    * once, the band filter prunes BEFORE the per-query window so the sort
    * touches only banded candidates. At corpus-sized query sets, swap the
    * candidate generator for the [[lshTopK]]/[[ivfTopK]] bucketed tiers —
    * the band filter and ranking compose unchanged.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
      loCos: Double, hiCos: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(loCos < hiCos, "empty similarity band")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = graft.ops.Partitioning.spread(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
      .filter(col("cosine") >= loCos && col("cosine") < hiCos)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rank").cast("long").as("rank"))
  }

  /** Deterministic ±1 hyperplane components, derived from md5 so any engine
    * can reproduce them: plane p, dimension i ⇒ +1 iff the first hex digit
    * of md5("p:i") ≥ '8'.
    */
  def hyperplaneSigns(planes: Int, dims: Int): Seq[Seq[Double]] = {
    val mdInst = java.security.MessageDigest.getInstance("MD5")
    (0 until planes).map { p =>
      (0 until dims).map { i =>
        val hex = mdInst.digest(s"$p:$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (hex.charAt(0) >= '8') 1.0 else -1.0
      }
    }
  }

  /** LSH bucket id: one bit per hyperplane = sign of <v, plane>. */
  def lshBucket(vec: Column, signs: Seq[Seq[Double]]): Column = {
    val vd = asDouble(vec)
    val bits = signs.map { plane =>
      val planeLit = array(plane.map(lit): _*)
      when(dot(vd, planeLit) > 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** Bucketed ANN: exact cosine top-k but only within the query's bucket.
    * Recall < 1 by construction; `planes` trades recall vs bucket size.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, planes: Int, dims: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val signs = hyperplaneSigns(planes, dims)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      lshBucket(col(vecCol), signs).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      lshBucket(col(vecCol), signs).as("bucket"))
    topCosine(c.join(broadcast(q), Seq("bucket")), k)
  }

  /** Score candidate (query_id, q_vec, neighbor_id, c_vec) pairs by exact
    * cosine and keep each query's `k` best (ties → lower neighbor id; self
    * excluded): (query_id, neighbor_id, cosine, rank).
    */
  private def topCosine(candidates: DataFrame, k: Int): DataFrame =
    candidates
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank").cast("long").as("rank"))

  /** All same-LSH-bucket pairs scored by exact cosine — the candidate
    * relation under both the top-k near-dup view and semantic dedup. One
    * aggregation per bucket with in-array pair expansion (no self-join;
    * see MinHashDedup.candidatePairs), so vectors are read once and only
    * same-bucket pairs are ever formed. `bucketCap` bounds the quadratic
    * step per bucket.
    */
  def bucketedCosinePairs(corpus: DataFrame, planes: Int, dims: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bucketCap: Int = 1000): DataFrame = {
    val signs = hyperplaneSigns(planes, dims)
    val bucketed = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
      lshBucket(col(vecCol), signs).as("bucket"))
    // bucketCap is a path switch (same discipline as the simhash/minhash
    // pair generators): small buckets expand in-array; an over-cap bucket
    // (a degenerate near-constant embedding cluster) self-joins on the
    // bucket key instead, streaming its quadratic output rather than
    // materializing it as one giant per-row array — no pair is dropped
    val buckets = bucketed.groupBy("bucket")
      .agg(sort_array(collect_list(struct(col("id"), col("v")))).as("ms"))
      .filter(size(col("ms")) >= 2)
      .localCheckpoint(false) // two consumers (small/big split)
    val smallPairs = buckets.filter(size(col("ms")) <= bucketCap)
      // explicit-count repartition: AQE's byte-based coalescing would run
      // the C(bucket,2) expansion — with a full cosine per pair — on few
      // cores; an explicit count survives AQE (see PLANS.md)
      .repartition(corpus.sparkSession.sessionState.conf.numShufflePartitions)
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))), y =>
          struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
            x.getField("v").as("v_a"), y.getField("v").as("v_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        cosine(col("p.v_a"), col("p.v_b")).as("cosine"))
    val bigRows = buckets.filter(size(col("ms")) > bucketCap)
      .select(col("bucket"), explode(col("ms")).as("m"))
      .select(col("bucket"), col("m.id").as("id"), col("m.v").as("v"))
      .localCheckpoint(false) // both sides of the self-join below
    val bigPairs = bigRows.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
      .join(bigRows.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("cosine"))
    smallPairs.unionByName(bigPairs)
  }

  /** Embedding-cosine near-dup candidates, strongest first: the top-k view
    * over [[bucketedCosinePairs]].
    */
  def cosineNearDupPairs(corpus: DataFrame, planes: Int, dims: Int, topK: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bucketCap: Int = 1000): DataFrame =
    bucketedCosinePairs(corpus, planes, dims, idCol, vecCol, bucketCap)
      .orderBy(col("cosine").desc, col("id_a").asc, col("id_b").asc)
      .limit(topK)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): drop all but one representative from every
    * connected component of the "cosine ≥ minCosine within an embedding-
    * space cell" relation. The paper clusters with k-means and scans
    * within clusters; here the deterministic random-hyperplane LSH bucket
    * plays the cell role — same O(N·cellSize) candidate shape, but
    * reproducible cross-engine (the hyperplanes derive from md5, so a SQL
    * oracle can replay the exact partition). Components come from
    * [[DupClusters.clusters]] (pointer-jumping min-label propagation);
    * survivors are each component's min id plus every row in no pair.
    *
    * Scale: candidates are bounded per bucket (`bucketCap` path switch),
    * clustering is O(log diameter) rounds over fixed-width edges, and the
    * final anti-join is AQE-decided — nothing quadratic in corpus size at
    * fixed cell occupancy; `planes` is the occupancy lever (one more plane
    * halves expected bucket size).
    */
  def semanticDedup(corpus: DataFrame, planes: Int, dims: Int, minCosine: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bucketCap: Int = 1000): DataFrame = {
    val pairs = bucketedCosinePairs(corpus, planes, dims, idCol, vecCol, bucketCap)
      .filter(col("cosine") >= minCosine)
    DupClusters.dropClusters(corpus, pairs, idCol)
  }

  /** Symmetric int8 scalar quantization of an embedding — the 4× memory
    * cut for the resident ANN corpus tier at 100 TB: per-vector scale
    * s = max|v|/127 (ε-guarded), code_i = floor(v_i/s + 0.5) (round-half-up
    * with identical floor algebra on every engine — never a library
    * `round`). Reconstruction error ≤ s/2 per component by construction.
    * Returns struct(scale, codes: array<long>); [[dequantizeInt8]] inverts.
    */
  def quantizeInt8(vec: Column): Column =
    graft.ops.ExprUtil.bound(asDouble(vec)) { v =>
      element_at(transform(
        array(greatest(array_max(transform(v, x => abs(x))), lit(1e-12)) / 127.0),
        s => struct(s.as("scale"),
          transform(v, x => floor(x / s + lit(0.5)).cast("long")).as("codes"))), 1)
    }

  /** Inverse of [[quantizeInt8]]: codes × scale. */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"), c => c.cast("double") * q.getField("scale"))

  /** Σ aᵢ·bᵢ over integer code arrays — exact long arithmetic. */
  def idot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Brute-force top-k over the int8-QUANTIZED tier: cosine computed from
    * integer code dot products — the per-vector scales cancel in the
    * normalized ratio, so the whole score is exact long arithmetic plus
    * one sqrt/division. 4× less memory traffic than the float tier with
    * ~1-bit-of-precision ranking error; [[bruteForceTopK]] stays the exact
    * verifier above it.
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms precomputed per VECTOR, not per pair — the self-dot is
    // constant per row and would otherwise dominate the n×m hot loop;
    // zero-norm (all-zero) vectors are dropped: their cosine is 0/0 = NaN,
    // which Spark sorts ABOVE all real scores in the descending rank
    def side(df: DataFrame, as: String, codesAs: String, normAs: String) =
      df.select(col(idCol).as(as), quantizeInt8(col(vecCol)).getField("codes").as(codesAs))
        .withColumn(normAs, sqrt(idot(col(codesAs), col(codesAs)).cast("double")))
        .filter(col(normAs) > 0)
    val q = side(queries, "query_id", "q_codes", "q_norm")
    val c = side(corpus, "neighbor_id", "c_codes", "c_norm")
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("qcos",
        idot(col("q_codes"), col("c_codes")).cast("double") / (col("q_norm") * col("c_norm")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("qcos").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("qcos"), col("rank").cast("long").as("rank"))
  }

  /** Per-dimension embedding audit — the table a whitening / dead-dim /
    * anisotropy decision reads before any ANN index is built: for every
    * coordinate, count, zero count, mean, sample std, min, max. A
    * near-zero-variance dimension is index dead weight; a far-off-center
    * mean breaks cosine vs dot-product interchangeability.
    *
    * Exactness: values land on the 1e-6 long grid first, Σw and Σw² are
    * decimal(38,0) (Σw² passes 2⁶³ near ~1e7 rows·dims), so mean and the
    * variance numerator n·Σw² − (Σw)² are exact integer arithmetic;
    * mean/std are single divisions by the grid (callers qround).
    *
    * Scale shape: one posexplode (rows×d, narrow) + ONE map-side-
    * combined d-key aggregate; output is d rows.
    */
  def dimStats(corpus: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val w = floor(col("col") * 1e6 + 0.5).cast("long")
    val d = corpus.filter(col(vecCol).isNotNull)
      .select(posexplode(asDouble(col(vecCol))))
      .select(col("pos").cast("long").as("dim"), w.as("w"))
    val nd = col("n").cast("double")
    d.groupBy("dim").agg(
        count(lit(1)).as("n"),
        count_if(col("w") === 0L).as("n_zero"),
        sum(col("w").cast(dec)).as("sw"),
        sum((col("w").cast(dec19) * col("w").cast(dec19)).cast(dec)).as("sw2"),
        min(col("w")).as("wmin"), max(col("w")).as("wmax"))
      .select(col("dim"), col("n"), col("n_zero"),
        (col("sw").cast("double") / (nd * 1e6)).as("mean"),
        when(col("n") > 1,
          sqrt((nd * col("sw2").cast("double") -
            col("sw").cast("double") * col("sw").cast("double")) /
            (nd * (nd - 1.0))) / 1e6).as("std"),
        (col("wmin").cast("double") / 1e6).as("vmin"),
        (col("wmax").cast("double") / 1e6).as("vmax"))
  }

  /** IVF coarse quantizer: per-cell centroids as a small table
    * (cell, centroid array). Cells here come from any coarse partitioner
    * (a k-means assignment column, a hash, or a provided label).
    */
  def centroids(corpus: DataFrame, cellCol: String, vecCol: String = "embedding"): DataFrame = {
    val d = corpus.select(col(cellCol).as("cell"), posexplode(asDouble(col(vecCol))))
    d.groupBy("cell", "pos").agg(avg("col").as("v"))
      .groupBy("cell").agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
      .select(col("cell"), transform(col("pv"), x => x.getField("v")).as("centroid"))
  }

  /** IVF search: route each query to its `nProbe` closest centroids, then
    * exact cosine only against corpus rows in those cells. The corpus side
    * is pre-partitioned by cell, so the probe is a co-partitioned join.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, cells: DataFrame, k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding", cellCol: String = "cell"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    // rank cells per query by centroid cosine, keep nProbe
    val routed = q.crossJoin(broadcast(cells))
      .withColumn("c_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(cosine(col("q_vec"), col("centroid")).desc, col("cell").asc)))
      .filter(col("c_rank") <= nProbe)
      .select(col("query_id"), col("q_vec"), col("cell"))
    val c = corpus.select(col(cellCol).as("cell"), col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    topCosine(c.join(broadcast(routed), Seq("cell")), k)
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas 2003, the ±1
    * database-friendly form): project a d-dim embedding to `outDims`
    * via f(v)_p = ⟨v, s_p⟩ / √outDims with deterministic ±1 sign rows
    * from the shared [[hyperplaneSigns]] md5 derivation — the
    * dimensionality-reduction tier of the similarity family (store/scan
    * 16 floats instead of 64 where a coarse distance is enough; the JL
    * lemma bounds the squared-distance distortion by the usual
    * ±ε·√(ln n / outDims) band, AUDITED, not assumed, by
    * q_jl_distortion's per-pair ratio table).
    *
    * Scale shape: a NARROW per-row projection — outDims fused
    * zip_with/aggregate folds over the vector, no shuffle, no state, no
    * fitted model (the sign matrix is derivation, not data — any
    * executor, any engine, any day recomputes it bit-identically).
    * Fold order is the [[dot]] left fold the oracles replay.
    */
  def jlProject(df: DataFrame, vecCol: String, outDims: Int, dims: Int,
      outCol: String = "proj"): DataFrame = {
    val signs = hyperplaneSigns(outDims, dims)
    val vd = asDouble(col(vecCol))
    val comps = signs.map { plane =>
      dot(vd, array(plane.map(lit): _*)) / sqrt(lit(outDims.toDouble))
    }
    df.withColumn(outCol, array(comps: _*))
  }

  /** Squared Euclidean distance between two double arrays (left fold —
    * the engine-replayable order). */
  /** Embedding centroid drift between two slices (crawls, weeks, model
    * versions) — the cheapest semantic-shift monitor there is: per-dim
    * means of each slice, then the cosine and L2 gap between the two
    * centroid vectors. Cosine ≈ 1 with a large L2 gap = uniform
    * magnitude shift (an encoder rescale); cosine dropping = the CONTENT
    * mix moved. Complements the scalar drift family (KS/PSI act per
    * dimension and miss correlated shifts this catches in one number).
    *
    * `df` must carry integral `xq` vectors ([[graft.llm.KMeans.quantized]]'s
    * grid) so per-dim sums are exact longs; `inACol` labels the slice.
    * Per-dim means are single IEEE divisions, and the d dot/norm terms
    * land on the 1e-12 long grid before summation — dimension order
    * cannot reassociate them. NULL cosine when either centroid is zero;
    * NULL cosine AND l2_dist when either slice is empty (undefined
    * comparison, not zero drift).
    *
    * Scale shape: one posexplode aggregate to d·2 numbers (d is the
    * embedding width — metadata), then d-row algebra. One corpus pass.
    */
  def centroidDrift(df: DataFrame, idCol: String, inACol: Column,
      vecCol: String = "xq"): DataFrame = {
    val a = inACol.cast("boolean")
    val base = df.filter(col(idCol).isNotNull && a.isNotNull)
      .select(a.as("a"), col(vecCol).as("v"))
    val dims = base
      .select(col("a"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(sum(when(col("a"), col("x")).otherwise(0L)).as("sa"),
        sum(when(col("a"), 0L).otherwise(col("x"))).as("sb"),
        sum(when(col("a"), 1L).otherwise(0L)).as("na"),
        sum(when(col("a"), 0L).otherwise(1L)).as("nb"))
    def grid(c: Column): Column = floor(c * 1e12 + 0.5).cast("long")
    // greatest(n, 1): an empty slice has sa = 0, so its "mean" is 0
    // rather than an ANSI divide-by-zero — the final readout NULLs the
    // whole comparison anyway when either n is 0
    val ma = col("sa").cast("double") / greatest(col("na"), lit(1L))
    val mb = col("sb").cast("double") / greatest(col("nb"), lit(1L))
    val terms = dims.select(
      grid(ma * mb).as("dot"), grid(ma * ma).as("aa"),
      grid(mb * mb).as("bb"),
      grid((ma - mb) * (ma - mb)).as("d2"),
      col("na"), col("nb"))
    terms.agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum(col("dot")).as("sdot"), sum(col("aa")).as("saa"),
        sum(col("bb")).as("sbb"), sum(col("d2")).as("sd2"))
      .select(col("n_a"), col("n_b"),
        // empty slice (n_a or n_b = 0) ⇒ the comparison is undefined:
        // NULL both readouts rather than letting the 0/0 NaN means
        // grid-collapse to a spurious "no drift" 0.0
        when(col("n_a") > 0 && col("n_b") > 0 &&
            col("saa") > 0 && col("sbb") > 0,
          (col("sdot").cast("double") / 1e12) /
            (sqrt(col("saa").cast("double") / 1e12) *
              sqrt(col("sbb").cast("double") / 1e12))).as("cosine"),
        when(col("n_a") > 0 && col("n_b") > 0,
          sqrt(col("sd2").cast("double") / 1e12)).as("l2_dist"))
  }

  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
}
