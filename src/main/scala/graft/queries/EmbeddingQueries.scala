package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.llm.{KMeans, Multimodal, Pq, Retrieval, Similarity}

/** Similarity search over the `embeddings` table (`array<float>`, 64-dim)
  * and the multimodal metadata surface. Vector math on both engines is the
  * identical left-to-right double fold, so cosines agree bit-for-bit.
  */
object EmbeddingQueries {

  private val Planes = 8
  private val Dims = 64
  private lazy val signs = Similarity.hyperplaneSigns(Planes, Dims)

  /** Where q_image_neardup persists its dHash table so the DuckDB oracle
    * can replay the pairing stage over the exact same rows. Fixed path:
    * the content is a pure function of doc ids < 64 (deterministic
    * synthetic PNGs), identical at every SF, so concurrent runs write
    * identical bytes.
    */
  private val dhashOracleDir =
    s"${sys.props("java.io.tmpdir")}/graft_dhash_oracle"

  /** Where q_bmp_dhash persists its raw BMP media table — same fixed-path
    * contract as [[dhashOracleDir]] (pure function of doc ids < 64).
    */
  private val bmpOracleDir =
    s"${sys.props("java.io.tmpdir")}/graft_bmp_oracle"

  /** Where q_ppm_dhash persists its MIXED BMP+PPM media table — same
    * fixed-path contract (pure function of doc ids < 64).
    */
  private val ppmOracleDir =
    s"${sys.props("java.io.tmpdir")}/graft_ppm_oracle"

  /** Where q_wav_fingerprint / q_gif_dims persist their media tables —
    * same fixed-path contract (pure functions of doc ids < 64).
    */
  private val wavOracleDir =
    s"${sys.props("java.io.tmpdir")}/graft_wav_oracle"
  private val gifOracleDir =
    s"${sys.props("java.io.tmpdir")}/graft_gif_oracle"
  private val jpegOracleDir =
    s"${sys.props("java.io.tmpdir")}/graft_jpeg_oracle"

  /** Duplicate-bearing media tables (seed = id % 48 → ids i and i+48
    * are byte-identical) for the dedup-rung rows; same fixed-path
    * contract.
    */
  private val wavDupOracleDir =
    s"${sys.props("java.io.tmpdir")}/graft_wavdup_oracle"
  private val bmpDupOracleDir =
    s"${sys.props("java.io.tmpdir")}/graft_bmpdup_oracle"

  /** SQL for byte `p` (0-based) of the hex-encoded payload column `hx`. */
  private def bmpByte(p: String): String =
    s"(('0x' || substr(hx, ($p) * 2 + 1, 2))::BIGINT)"

  /** SQL for the little-endian uint32 at byte offset `o` of `hx`. */
  private def bmpLe32(o: Int): String =
    s"(${bmpByte(s"$o")} + 256 * ${bmpByte(s"$o + 1")} + " +
      s"65536 * ${bmpByte(s"$o + 2")} + 16777216 * ${bmpByte(s"$o + 3")})"

  // ------------------------------------------------------------- oracles --

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"

  /** Shared PCA CTE chain (the llm.Pca recurrence, dims=16, 3 sweeps):
    * quantized covariance cells over the `srcWhere` slice of embeddings,
    * the three unrolled power sweeps (v1..v3, n1..n3), and the sign row
    * `sg`. Callers append their readout (and further CTEs with a leading
    * comma).
    */
  /** Three unrolled power sweeps over cell table `cells`, CTE names
    * prefixed with `p` (so a deflated second round can reuse the block):
    * defines `${p}v0..${p}v3`, `${p}n1..${p}n3`, `${p}sg`.
    */
  private def pcaSweeps(cells: String, p: String): String = {
    val sweeps = (1 to 3).map { t =>
      val pv = if (t == 1) s"${p}v0" else s"${p}v${t - 1}"
      s"""${p}w$t AS (SELECT $cells.i,
         |    CAST(SUM(CAST(floor(c * vj * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 1000000000000.0 AS w
         |  FROM $cells JOIN $pv ON $pv.j = $cells.j GROUP BY 1),
         |${p}n$t AS (SELECT sqrt(CAST(SUM(CAST(floor(w * w * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 1000000000000.0) AS nrm FROM ${p}w$t),
         |${p}v$t AS (SELECT i AS j, w / nrm AS vj FROM ${p}w$t, ${p}n$t)""".stripMargin
    }.mkString(",\n")
    s"""${p}v0 AS (SELECT r.i AS j, 1.0 / sqrt(16.0) AS vj FROM range(0, 16) r(i)),
       |$sweeps,
       |${p}sg AS (SELECT CASE WHEN vj < 0 THEN -1.0 ELSE 1.0 END AS s
       |  FROM ${p}v3 ORDER BY abs(vj) DESC, j ASC LIMIT 1)""".stripMargin
  }

  private def pcaSweepSql(srcWhere: String): String = {
    s"""WITH b AS MATERIALIZED (SELECT list_transform(embedding[1:16],
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings WHERE $srcWhere),
       |mg AS (SELECT r.i AS i, SUM(qv[r.i + 1]) AS sx, count(*) AS n
       |  FROM b CROSS JOIN range(0, 16) r(i) GROUP BY 1),
       |pr AS (SELECT ri.i AS i, rj.i AS j,
       |    SUM(CAST(qv[ri.i + 1] AS HUGEINT) * qv[rj.i + 1]) AS sxy
       |  FROM b CROSS JOIN range(0, 16) ri(i) CROSS JOIN range(0, 16) rj(i)
       |  GROUP BY 1, 2),
       |cv AS MATERIALIZED (SELECT pr.i, pr.j,
       |    (CAST(mi.n AS DOUBLE) * pr.sxy - CAST(mi.sx AS DOUBLE) * mj.sx)
       |      / (CAST(mi.n AS DOUBLE) * mi.n * 100000000.0) AS c
       |  FROM pr JOIN mg mi ON mi.i = pr.i JOIN mg mj ON mj.i = pr.j),
       |${pcaSweeps("cv", "")}""".stripMargin
  }

  /** Integer code dot product (exact BIGINT sums — order-free). */
  private def idotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> $a[i] * $b[i]))"

  /** Per-vector int8 codes CTE (mirrors `Similarity.quantizeInt8`). */
  private val codesCte: String =
    """qs AS (
      |  SELECT vec_id,
      |    greatest(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 1e-12) / 127.0 AS scale,
      |    embedding
      |  FROM embeddings),
      |qcodes AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(x::DOUBLE / scale + 0.5) AS BIGINT)) AS codes
      |  FROM qs)""".stripMargin

  private def lshBucketSqlN(planes: Int): String = {
    val bits = signs.take(planes).map { plane =>
      val planeLit = plane.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, len(embedding)+1), i -> embedding[i]::DOUBLE * ($planeLit)[i])) > 0 THEN '1' ELSE '0' END)"
    }
    bits.mkString(" || ")
  }
  private val lshBucketSql: String = lshBucketSqlN(Planes)

  val specs: Seq[QuerySpec] = Seq(
    // Brute-force exact cosine top-k (the ANN baseline + verifier).
    QuerySpec("q_embed_cosine_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 3), emb, k = 5)
        .select(col("query_id"), col("neighbor_id"),
          qround(col("cosine"), 6).as("cosine"), col("rank"))
    },
    oracle = Some(
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 3),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
         |scored AS (
         |  SELECT q.query_id, c.neighbor_id,
         |    ${dotSql("q.q_vec", "c.c_vec")} / (sqrt(${dotSql("q.q_vec", "q.q_vec")}) * sqrt(${dotSql("c.c_vec", "c.c_vec")})) AS cos
         |  FROM c, q WHERE c.neighbor_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, floor((cos) * 1000000.0 + 0.5) / 1000000.0 AS cosine, rank
         |FROM ranked WHERE rank <= 5""".stripMargin)),

    // Random-hyperplane LSH bucket assignment (candidate-generation stage).
    // Per-dimension embedding audit (dead dims, off-center means, range)
    // — the whitening-prep table read before any ANN index build; exact
    // 1e-6-grid moments, one d-key aggregate.
    QuerySpec("q_embed_dim_stats", (s, d) =>
      Similarity.dimStats(Tables.embeddings(s, d))
        .select(col("dim"), col("n"), col("n_zero"),
          qround(col("mean"), 9).as("mean"), qround(col("std"), 9).as("std"),
          col("vmin"), col("vmax")),
    oracle = Some(// 1e-6-grid values, HUGEINT moment sums, single divisions
      // (mirrors Similarity.dimStats)
      """WITH d AS (SELECT i - 1 AS dim,
        |    CAST(floor(embedding[i]::DOUBLE * 1000000.0 + 0.5) AS BIGINT) AS w
        |  FROM embeddings, range(1, 65) t(i) WHERE embedding IS NOT NULL),
        |a AS (SELECT dim, count(*) AS n, count(*) FILTER (w = 0) AS n_zero,
        |    SUM(CAST(w AS HUGEINT)) AS sw, SUM(CAST(w AS HUGEINT) * w) AS sw2,
        |    MIN(w) AS wmin, MAX(w) AS wmax
        |  FROM d GROUP BY 1)
        |SELECT CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
        |  CAST(n_zero AS BIGINT) AS n_zero,
        |  floor((CAST(sw AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0))
        |    * 1000000000.0 + 0.5) / 1000000000.0 AS mean,
        |  CASE WHEN n > 1 THEN floor((sqrt(
        |    (CAST(n AS DOUBLE) * CAST(sw2 AS DOUBLE) -
        |     CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * (n - 1.0))) / 1000000.0)
        |    * 1000000000.0 + 0.5) / 1000000000.0 END AS std,
        |  CAST(wmin AS DOUBLE) / 1000000.0 AS vmin,
        |  CAST(wmax AS DOUBLE) / 1000000.0 AS vmax
        |FROM a""".stripMargin)),

    QuerySpec("q_embed_lsh_buckets", (s, d) => {
      Tables.embeddings(s, d).select(col("vec_id"),
        Similarity.lshBucket(col("embedding"), signs).as("bucket"))
    },
    oracle = Some(s"SELECT vec_id, $lshBucketSql AS bucket FROM embeddings")),

    // ANN recall audit: per-query recall@10 of a 2-plane LSH tier
    // against the brute-force ground truth — the tuning dial every
    // approximate tier ships with (2 planes, not the dedup tier's 8, so
    // buckets genuinely share vectors at audit scale and the recall
    // numbers carry signal). Both tiers are the real library code; the
    // oracle replays both and the semi-join overlap.
    QuerySpec("q_ann_recall", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 8)
      val truth = Similarity.bruteForceTopK(queries, emb, k = 10)
      val approx = Similarity.lshTopK(queries, emb, k = 10, planes = 2,
        dims = Dims)
      Similarity.recallAtK(truth, approx)
        .select(col("query_id"), col("n_true"), col("n_hits"),
          qround(col("recall"), 6).as("recall"))
    },
    oracle = Some(
      s"""WITH b AS MATERIALIZED (SELECT vec_id, embedding, ${lshBucketSqlN(2)} AS bucket FROM embeddings),
         |qs AS (SELECT vec_id AS query_id, embedding AS q_vec, bucket AS qb FROM b WHERE vec_id < 8),
         |tscore AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ${dotSql("q.q_vec", "c.embedding")} / (sqrt(${dotSql("q.q_vec", "q.q_vec")}) * sqrt(${dotSql("c.embedding", "c.embedding")})) AS cos
         |  FROM b c, qs q WHERE c.vec_id <> q.query_id),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
         |    FROM tscore) WHERE rnk <= 10),
         |ascore AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ${dotSql("q.q_vec", "c.embedding")} / (sqrt(${dotSql("q.q_vec", "q.q_vec")}) * sqrt(${dotSql("c.embedding", "c.embedding")})) AS cos
         |  FROM b c JOIN qs q ON c.bucket = q.qb AND c.vec_id <> q.query_id),
         |approx AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
         |    FROM ascore) WHERE rnk <= 10),
         |hits AS (SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM truth t JOIN approx a
         |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
         |  GROUP BY 1),
         |base AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_true FROM truth GROUP BY 1)
         |SELECT b2.query_id, b2.n_true,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  floor((CAST(coalesce(h.n_hits, 0) AS DOUBLE) / CAST(b2.n_true AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS recall
         |FROM base b2 LEFT JOIN hits h ON b2.query_id = h.query_id""".stripMargin)),

    // IVF probe sweep — the recall-vs-probes tuning table every IVF
    // deployment reads before picking nProbe: probes 1/2/4 routed
    // through the label-cell quantizer (centroid components land on the
    // 1e-6 grid FIRST, so both engines rank identical cell cosines),
    // exact recall@10 against the brute-force truth per sweep row.
    QuerySpec("q_ivf_probe_sweep", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 8)
      val truth = Similarity.bruteForceTopK(queries, emb, k = 10)
        .localCheckpoint(false) // three sweep rows share it
      val cells = Similarity.centroids(emb, "label")
        .select(col("cell"),
          transform(col("centroid"), x => floor(x * 1e6 + 0.5) / 1e6)
            .as("centroid"))
        .localCheckpoint(false)
      Seq(1, 2, 4).map { p =>
        val approx = Similarity.ivfTopK(queries, emb, cells, k = 10,
          nProbe = p, cellCol = "label")
        Similarity.recallAtK(truth, approx)
          .agg(count(lit(1)).as("n_queries"), sum(col("n_true")).as("n_true"),
            sum(col("n_hits")).as("n_hits"))
          .select(lit(p.toLong).as("n_probe"), col("n_queries"),
            col("n_true"), col("n_hits"),
            qround(col("n_hits").cast("double") / col("n_true"), 6)
              .as("recall"))
      }.reduce(_ unionByName _)
    },
    oracle = Some(
      s"""WITH ctc AS (SELECT label AS cell, i AS pos,
         |    floor(AVG(embedding[i]::DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS v
         |  FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2),
         |cent AS (SELECT cell, list(v ORDER BY pos) AS cvec FROM ctc GROUP BY 1),
         |qs AS (SELECT vec_id AS query_id, embedding AS q_vec
         |  FROM embeddings WHERE vec_id < 8),
         |tsc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |    ${dotSql("q.q_vec", "c.embedding")} /
         |      (sqrt(${dotSql("q.q_vec", "q.q_vec")}) *
         |       sqrt(${dotSql("c.embedding", "c.embedding")})) AS cos
         |  FROM embeddings c, qs q WHERE c.vec_id <> q.query_id),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id ASC) AS rnk
         |    FROM tsc) WHERE rnk <= 10),
         |cr AS (SELECT q.query_id, ct2.cell,
         |    row_number() OVER (PARTITION BY q.query_id ORDER BY
         |      ${dotSql("q.q_vec", "ct2.cvec")} /
         |        (sqrt(${dotSql("q.q_vec", "q.q_vec")}) *
         |         sqrt(${dotSql("ct2.cvec", "ct2.cvec")})) DESC,
         |      ct2.cell ASC) AS crank
         |  FROM qs q CROSS JOIN cent ct2),
         |probes AS (SELECT unnest([1, 2, 4]) AS p),
         |routed AS (SELECT p.p, cr.query_id, cr.cell FROM cr, probes p
         |  WHERE cr.crank <= p.p),
         |asc0 AS (SELECT r.p, r.query_id, c.vec_id AS neighbor_id,
         |    ${dotSql("q.q_vec", "c.embedding")} /
         |      (sqrt(${dotSql("q.q_vec", "q.q_vec")}) *
         |       sqrt(${dotSql("c.embedding", "c.embedding")})) AS cos
         |  FROM routed r JOIN qs q ON q.query_id = r.query_id
         |  JOIN embeddings c ON c.label = r.cell AND c.vec_id <> r.query_id),
         |approx AS (SELECT p, query_id, neighbor_id FROM (
         |    SELECT p, query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY p, query_id
         |        ORDER BY cos DESC, neighbor_id ASC) AS rnk
         |    FROM asc0) WHERE rnk <= 10),
         |hits AS (SELECT a.p, a.query_id, count(*) AS n_hits
         |  FROM approx a JOIN truth t
         |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
         |  GROUP BY 1, 2),
         |base AS (SELECT query_id, count(*) AS n_true FROM truth GROUP BY 1),
         |per AS (SELECT p.p, b.query_id, b.n_true,
         |    COALESCE(h.n_hits, 0) AS n_hits
         |  FROM base b CROSS JOIN probes p
         |  LEFT JOIN hits h ON h.p = p.p AND h.query_id = b.query_id)
         |SELECT CAST(p AS BIGINT) AS n_probe,
         |  CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(n_true) AS BIGINT) AS n_true,
         |  CAST(SUM(n_hits) AS BIGINT) AS n_hits,
         |  floor((CAST(SUM(n_hits) AS DOUBLE) / CAST(SUM(n_true) AS DOUBLE))
         |    * 1000000.0 + 0.5) / 1000000.0 AS recall
         |FROM per GROUP BY 1""".stripMargin)),

    // IVF coarse-quantizer centroids (cell = label), exploded for compare.
    QuerySpec("q_embed_centroids", (s, d) => {
      Tables.embeddings(s, d)
        .select(col("label").as("cell"), posexplode(Similarity.asDouble(col("embedding"))))
        .groupBy(col("cell"), col("pos").cast("long").as("pos"))
        .agg(qround(avg(col("col")), 6).as("v"))
    },
    oracle = Some(
      """SELECT label AS cell, CAST(i - 1 AS BIGINT) AS pos,
        |  floor((AVG(embedding[i]::DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS v
        |FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2""".stripMargin)),

    // Embedding-cosine near-dup: strongest same-bucket candidate pairs.
    QuerySpec("q_embed_neardup_topk", (s, d) => {
      Similarity.cosineNearDupPairs(Tables.embeddings(s, d), Planes, Dims, topK = 20)
        .select(col("id_a"), col("id_b"), qround(col("cosine"), 6).as("cosine"))
    },
    oracle = Some(// MATERIALIZED: `b` is referenced twice in the bucket self-join —
      // inlined, the md5-heavy bucket expression recomputes per side
      s"""WITH b AS MATERIALIZED (SELECT vec_id AS id, embedding, $lshBucketSql AS bucket FROM embeddings),
         |pairs AS (
         |  SELECT a.id AS id_a, b2.id AS id_b,
         |    ${dotSql("a.embedding", "b2.embedding")} / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b2.embedding", "b2.embedding")})) AS cos
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.id < b2.id)
         |SELECT id_a, id_b, floor((cos) * 1000000.0 + 0.5) / 1000000.0 AS cosine
         |FROM pairs ORDER BY cos DESC, id_a ASC, id_b ASC LIMIT 20""".stripMargin)),

    // SemDeDup-style semantic dedup: survivors after dropping all but the
    // min-id representative of every connected component of the
    // "cosine >= 0.3 within an LSH cell" relation.
    QuerySpec("q_semantic_dedup", (s, d) => {
      Similarity.semanticDedup(Tables.embeddings(s, d), Planes, Dims, minCosine = 0.3)
        .select(col("vec_id"))
    },
    oracle = Some(// MATERIALIZED is load-bearing: the recursive `reach` fixpoint
      // references `edges` (→ `cp`) every iteration — un-materialized,
      // the full cosine pair join re-evaluates per round (26 s → 3 s)
      s"""WITH RECURSIVE b AS MATERIALIZED (SELECT vec_id AS id, embedding, $lshBucketSql AS bucket FROM embeddings),
         |cp AS MATERIALIZED (
         |  SELECT a.id AS id_a, b2.id AS id_b,
         |    ${dotSql("a.embedding", "b2.embedding")} / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b2.embedding", "b2.embedding")})) AS cos
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.id < b2.id),
         |${TextQueries.componentCtes("SELECT id_a, id_b FROM cp WHERE cos >= 0.3")}
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT id FROM clu WHERE id <> cluster_id)""".stripMargin),
    sf1 = true),

    // Int8 scalar quantization of the embedding corpus (the memory-cut
    // tier for resident ANN indexes): per-vector scale + code summary.
    QuerySpec("q_embed_quantize", (s, d) => {
      val q = Similarity.quantizeInt8(col("embedding"))
      Tables.embeddings(s, d).select(col("vec_id"), q.as("q"))
        .select(col("vec_id"),
          qround(col("q.scale"), 9).as("scale"),
          aggregate(col("q.codes"), lit(0L), (a, c) => a + c).as("sum_codes"),
          array_max(col("q.codes")).as("max_code"),
          array_min(col("q.codes")).as("min_code"))
    },
    oracle = Some(
      """WITH s AS (
        |  SELECT vec_id,
        |    greatest(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 1e-12) / 127.0 AS scale,
        |    embedding
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id, scale,
        |    list_transform(embedding, x -> CAST(floor(x::DOUBLE / scale + 0.5) AS BIGINT)) AS codes
        |  FROM s)
        |SELECT vec_id,
        |  floor((scale) * 1000000000.0 + 0.5) / 1000000000.0 AS scale,
        |  CAST(list_sum(codes) AS BIGINT) AS sum_codes,
        |  CAST(list_max(codes) AS BIGINT) AS max_code,
        |  CAST(list_min(codes) AS BIGINT) AS min_code
        |FROM c""".stripMargin)),

    // ANN over the quantized tier: integer-cosine top-k (scales cancel).
    QuerySpec("q_embed_quantized_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.quantizedTopK(emb.filter(col("vec_id") < 3), emb, k = 5)
        .select(col("query_id"), col("neighbor_id"),
          qround(col("qcos"), 6).as("qcos"), col("rank"))
    },
    oracle = Some(
      s"""WITH $codesCte,
         |q AS (SELECT vec_id AS query_id, codes AS qc FROM qcodes WHERE vec_id < 3),
         |n AS (SELECT vec_id AS neighbor_id, codes AS nc FROM qcodes),
         |scored AS (
         |  SELECT q.query_id, n.neighbor_id,
         |    ${idotSql("q.qc", "n.nc")}::DOUBLE /
         |      (sqrt(${idotSql("q.qc", "q.qc")}::DOUBLE) * sqrt(${idotSql("n.nc", "n.nc")}::DOUBLE)) AS qcos
         |  FROM q, n
         |  WHERE n.neighbor_id <> q.query_id
         |    AND ${idotSql("q.qc", "q.qc")} > 0 AND ${idotSql("n.nc", "n.nc")} > 0),
         |r AS (
         |  SELECT query_id, neighbor_id, qcos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id,
         |  floor((qcos) * 1000000.0 + 0.5) / 1000000.0 AS qcos, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 5""".stripMargin)),

    // Product-quantization ANN (Jégou et al. 2011): 64 dims → 4 subspaces
    // × 8-entry integer codebooks (lowest-id seeds on the fixed-point
    // grid), candidates searched by ADC — the query keeps exact
    // subvectors, each candidate pays 4 code lookups against a broadcast
    // 3×4×8 distance table instead of a 64-dim computation. Everything is
    // integer arithmetic, so adc and ranks hash-match bit-for-bit.
    QuerySpec("q_embed_pq_topk", (s, d) => {
      val dfq = KMeans.quantized(Tables.embeddings(s, d), "vec_id", "embedding")
        .localCheckpoint(false) // feeds codebook fit, encode, and the query side
      val cbs = Pq.seedCodebooks(dfq, "vec_id", m = 4, k = 8)
      Pq.adcTopK(dfq, "vec_id", Pq.encode(dfq, "vec_id", cbs), cbs,
          topK = 5, queryPred = col("vec_id") < 3)
        .select(col("query_id"), col("neighbor_id"), col("adc"), col("rank"))
    },
    oracle = Some(// dall (every vector × subspace × code integer distance) feeds BOTH
      // the argmin encode and the query-side ADC table; MATERIALIZED so
      // neither reference re-expands the zip/transform work
      """WITH q0 AS MATERIALIZED (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS xq
        |  FROM embeddings),
        |seeds AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, xq
        |  FROM (SELECT * FROM q0 ORDER BY vec_id LIMIT 8)),
        |cb AS MATERIALIZED (SELECT j, code, xq[j*16+1 : j*16+16] AS c FROM seeds, range(0, 4) t(j)),
        |vsub AS MATERIALIZED (SELECT vec_id, j, xq[j*16+1 : j*16+16] AS v FROM q0, range(0, 4) t(j)),
        |dall AS MATERIALIZED (SELECT vec_id, j, code,
        |    list_sum(list_transform(list_zip(v, c), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        |  FROM vsub JOIN cb USING (j)),
        |codes AS MATERIALIZED (SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
        |    FROM dall) WHERE rn = 1),
        |dt AS MATERIALIZED (SELECT vec_id AS query_id, j, code, d2 FROM dall WHERE vec_id < 3),
        |adc AS (SELECT dt.query_id, c.vec_id AS neighbor_id, CAST(sum(dt.d2) AS BIGINT) AS adc
        |  FROM codes c JOIN dt ON c.j = dt.j AND c.code = dt.code
        |  WHERE c.vec_id <> dt.query_id GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, adc,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank FROM adc)
        |SELECT query_id, neighbor_id, adc, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5""".stripMargin),
    // sf1: the encode must stay a narrow linear pass; ADC per-candidate cost
    // is m lookups, so superlinearity here means the broadcast distance table
    // or the probe pruning broke
    sf1 = true),

    // IVF-PQ — the production ANN composition: the coarse quantizer
    // (8 lowest-id seeds, exact integer assignment) prunes candidates to
    // each query's nProbe=3 probed cells, PQ/ADC scores the survivors.
    // Query cost stays capped as the corpus grows (probe-list fraction ×
    // m lookups per candidate); recall is the nProbe dial. Coarse seeds
    // and PQ codebooks share the lowest-id fit set, so every distance —
    // routing, assignment, ADC — is an exact integer.
    QuerySpec("q_embed_ivfpq_topk", (s, d) => {
      val dfq = KMeans.quantized(Tables.embeddings(s, d), "vec_id", "embedding")
        .localCheckpoint(false) // feeds coarse fit+assign, PQ fit+encode, routing
      val seeds = KMeans.seedCentroids(dfq, "vec_id", 8)
      val coarse = KMeans.assign(dfq, "vec_id", seeds).select(col("vec_id"), col("cell"))
      val cbs = Pq.seedCodebooks(dfq, "vec_id", m = 4, k = 8)
      val routed = Pq.routeCells(dfq, "vec_id", seeds, nProbe = 3,
        queryPred = col("vec_id") < 3)
      Pq.ivfAdcTopK(dfq, "vec_id", coarse, Pq.encode(dfq, "vec_id", cbs),
          cbs, topK = 5, routed)
        .select(col("query_id"), col("neighbor_id"), col("adc"), col("rank"))
    },
    oracle = Some(// same MATERIALIZED discipline as q_embed_pq_topk; `cd` (full-vector
      // integer distances to the coarse seeds) feeds BOTH the corpus cell
      // assignment (rn=1) and the query probe lists (rn<=3)
      """WITH q0 AS MATERIALIZED (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS xq
        |  FROM embeddings),
        |seeds AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, xq
        |  FROM (SELECT * FROM q0 ORDER BY vec_id LIMIT 8)),
        |cb AS MATERIALIZED (SELECT j, code, xq[j*16+1 : j*16+16] AS c FROM seeds, range(0, 4) t(j)),
        |vsub AS MATERIALIZED (SELECT vec_id, j, xq[j*16+1 : j*16+16] AS v FROM q0, range(0, 4) t(j)),
        |dall AS MATERIALIZED (SELECT vec_id, j, code,
        |    list_sum(list_transform(list_zip(v, c), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        |  FROM vsub JOIN cb USING (j)),
        |codes AS MATERIALIZED (SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rn
        |    FROM dall) WHERE rn = 1),
        |dt AS MATERIALIZED (SELECT vec_id AS query_id, j, code, d2 FROM dall WHERE vec_id < 3),
        |cd AS MATERIALIZED (SELECT q0.vec_id, s.code AS cell,
        |    list_sum(list_transform(list_zip(q0.xq, s.xq), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        |  FROM q0, seeds s),
        |coarse AS MATERIALIZED (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |    FROM cd) WHERE rn = 1),
        |routed AS MATERIALIZED (SELECT vec_id AS query_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |    FROM cd WHERE vec_id < 3) WHERE rn <= 3),
        |adc AS (SELECT dt.query_id, c.vec_id AS neighbor_id, CAST(sum(dt.d2) AS BIGINT) AS adc
        |  FROM codes c
        |  JOIN coarse co ON co.vec_id = c.vec_id
        |  JOIN routed r ON r.cell = co.cell
        |  JOIN dt ON c.j = dt.j AND c.code = dt.code AND dt.query_id = r.query_id
        |  WHERE c.vec_id <> dt.query_id GROUP BY 1, 2),
        |rr AS (SELECT query_id, neighbor_id, adc,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank FROM adc)
        |SELECT query_id, neighbor_id, adc, CAST(rank AS BIGINT) AS rank
        |FROM rr WHERE rank <= 5""".stripMargin),
    // sf1: the encode must stay a narrow linear pass; ADC per-candidate cost
    // is m lookups, so superlinearity here means the broadcast distance table
    // or the probe pruning broke
    sf1 = true),

    // One Lloyd k-means step against the deterministic lowest-id seeds:
    // nearest-centroid assignment is a NARROW projection (centroid
    // literals ride the closure, zero shuffle), the readout one hash
    // aggregate. Distances are exact integer L2 on the fixed-point grid,
    // so n and wss hash-match bit-for-bit; c0 is the one exact division.
    QuerySpec("q_kmeans_step", (s, d) => {
      val dfq = KMeans.quantized(Tables.embeddings(s, d), "vec_id", "embedding")
      val cents = KMeans.seedCentroids(dfq, "vec_id", 8)
      KMeans.assign(dfq, "vec_id", cents)
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n"),
          sum(col("dist2").cast("long")).as("wss"),
          sum(element_at(col("xq"), 1)).as("s0"))
        .select(col("cell"), col("n"), col("wss"),
          qround(col("s0").cast("double") / col("n"), 6).as("c0"))
    },
    oracle = Some(
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS xq
        |  FROM embeddings),
        |s AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, xq AS c
        |  FROM (SELECT * FROM q ORDER BY vec_id LIMIT 8)),
        |d AS (SELECT q.vec_id, s.cell, q.xq,
        |    list_sum(list_transform(list_zip(q.xq, s.c), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        |  FROM q, s),
        |b AS (SELECT vec_id, cell, xq, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM d)
        |SELECT CAST(cell AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(d2) AS BIGINT) AS wss,
        |  floor((CAST(sum(xq[1]) AS DOUBLE) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS c0
        |FROM b WHERE rn = 1 GROUP BY 1""".stripMargin),
    sf1 = true),

    // Simplified (centroid-form) silhouette over the q_kmeans_step
    // assignment: per-cell separation quality at O(n·k) — exact integer
    // distance folds to the seed centroids, one √-division per point,
    // order-free means via the 1e-9 term quantization.
    // Embedding centroid drift between the even and odd vec_id slices:
    // cosine + L2 of the per-dim mean vectors — the one-number semantic
    // shift monitor per-dimension KS/PSI misses on correlated moves.
    QuerySpec("q_centroid_drift", (s, d) => {
      val dfq = KMeans.quantized(Tables.embeddings(s, d), "vec_id", "embedding")
      Similarity.centroidDrift(dfq, "vec_id", col("vec_id") % 2 === 0)
        .select(col("n_a"), col("n_b"), qround(col("cosine"), 6).as("cosine"),
          qround(col("l2_dist"), 6).as("l2_dist"))
    },
    // per-dim exact slice sums; dot/norm terms on the 1e-12 grid before
    // the d-row sums (mirrors Similarity.centroidDrift)
    oracle = Some(
      """WITH q AS (SELECT (vec_id % 2 = 0) AS a,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS xq
        |  FROM embeddings WHERE vec_id IS NOT NULL),
        |e AS (SELECT a, unnest(list_transform(range(1, len(xq) + 1),
        |    i -> {'pos': i - 1, 'x': xq[i]})) AS u FROM q),
        |e2 AS (SELECT a, u.pos AS pos, u.x AS x FROM e),
        |dims AS (SELECT pos,
        |    sum(CASE WHEN a THEN x ELSE 0 END) AS sa,
        |    sum(CASE WHEN a THEN 0 ELSE x END) AS sb,
        |    sum(CASE WHEN a THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN a THEN 0 ELSE 1 END) AS nb
        |  FROM e2 GROUP BY 1),
        |t AS (SELECT na, nb,
        |    CAST(floor((CAST(sa AS DOUBLE) / na) * (CAST(sb AS DOUBLE) / nb) * 1e12 + 0.5) AS BIGINT) AS dot,
        |    CAST(floor((CAST(sa AS DOUBLE) / na) * (CAST(sa AS DOUBLE) / na) * 1e12 + 0.5) AS BIGINT) AS aa,
        |    CAST(floor((CAST(sb AS DOUBLE) / nb) * (CAST(sb AS DOUBLE) / nb) * 1e12 + 0.5) AS BIGINT) AS bb,
        |    CAST(floor((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) *
        |      (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) * 1e12 + 0.5) AS BIGINT) AS d2
        |  FROM dims),
        |agg AS (SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |    sum(dot) AS sdot, sum(aa) AS saa, sum(bb) AS sbb, sum(d2) AS sd2 FROM t)
        |SELECT n_a, n_b,
        |  CASE WHEN saa > 0 AND sbb > 0 THEN
        |    floor(((CAST(sdot AS DOUBLE) / 1e12) /
        |      (sqrt(CAST(saa AS DOUBLE) / 1e12) * sqrt(CAST(sbb AS DOUBLE) / 1e12)))
        |      * 1000000.0 + 0.5) / 1000000.0 END AS cosine,
        |  floor(sqrt(CAST(sd2 AS DOUBLE) / 1e12) * 1000000.0 + 0.5) / 1000000.0 AS l2_dist
        |FROM agg""".stripMargin)),

    // Davies–Bouldin per cluster over the q_kmeans_step assignment: the
    // pairwise separation audit (max (S_i+S_j)/M_ij names the cluster
    // pair to merge/re-seed); distances grid to 1e-9 before the cell sum.
    QuerySpec("q_davies_bouldin", (s, d) => {
      val dfq = KMeans.quantized(Tables.embeddings(s, d), "vec_id", "embedding")
      val cents = KMeans.seedCentroids(dfq, "vec_id", 8)
      KMeans.daviesBouldin(dfq, "vec_id", cents)
        .select(col("cell"), col("n"), qround(col("s"), 6).as("s"),
          qround(col("r_max"), 6).as("r_max"))
    },
    // the silhouette assignment CTEs + per-cell grid-summed spreads and
    // the k² centroid-distance stage (mirrors KMeans.daviesBouldin)
    oracle = Some(
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS xq
        |  FROM embeddings),
        |s AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, xq AS c
        |  FROM (SELECT * FROM q ORDER BY vec_id LIMIT 8)),
        |d AS (SELECT q.vec_id, s.cell,
        |    list_sum(list_transform(list_zip(q.xq, s.c), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        |  FROM q, s),
        |b AS (SELECT vec_id, cell, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM d),
        |own AS (SELECT vec_id, cell, d2 FROM b WHERE rn = 1),
        |dg AS (SELECT cell,
        |    CAST(floor(sqrt(CAST(d2 AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS dg FROM own),
        |sg AS (SELECT CAST(cell AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dg) AS DOUBLE) / 1e9 / count(*) AS si FROM dg GROUP BY 1),
        |cm AS (SELECT CAST(a.cell AS BIGINT) AS ci, CAST(b.cell AS BIGINT) AS cj,
        |    sqrt(CAST(list_sum(list_transform(list_zip(a.c, b.c),
        |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS DOUBLE)) AS mij
        |  FROM s a, s b WHERE a.cell <> b.cell),
        |pairs AS (SELECT i.cell AS ci, i.n AS n, i.si AS si,
        |    (i.si + j.si) / cm.mij AS r
        |  FROM sg i JOIN cm ON i.cell = cm.ci JOIN sg j ON j.cell = cm.cj)
        |SELECT ci AS cell, CAST(max(n) AS BIGINT) AS n,
        |  floor(max(si) * 1000000.0 + 0.5) / 1000000.0 AS s,
        |  floor(max(r) * 1000000.0 + 0.5) / 1000000.0 AS r_max
        |FROM pairs GROUP BY 1""".stripMargin)),

    QuerySpec("q_silhouette", (s, d) => {
      val dfq = KMeans.quantized(Tables.embeddings(s, d), "vec_id", "embedding")
      val cents = KMeans.seedCentroids(dfq, "vec_id", 8)
      KMeans.silhouetteSimplified(dfq, "vec_id", cents)
        .select(col("cell"), col("n"),
          qround(col("mean_sil"), 6).as("mean_sil"),
          qround(col("min_sil"), 6).as("min_sil"))
    },
    oracle = Some(
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS xq
        |  FROM embeddings),
        |s AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, xq AS c
        |  FROM (SELECT * FROM q ORDER BY vec_id LIMIT 8)),
        |d AS (SELECT q.vec_id, s.cell,
        |    list_sum(list_transform(list_zip(q.xq, s.c), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        |  FROM q, s),
        |b AS (SELECT vec_id, cell, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM d),
        |own AS (SELECT vec_id, cell, d2 FROM b WHERE rn = 1),
        |oth AS (SELECT d.vec_id, min(d.d2) AS bmin FROM d
        |  JOIN own ON d.vec_id = own.vec_id AND d.cell <> own.cell GROUP BY 1),
        |sil AS (SELECT own.vec_id, own.cell,
        |    sqrt(CAST(own.d2 AS DOUBLE)) AS a, sqrt(CAST(bmin AS DOUBLE)) AS bb
        |  FROM own JOIN oth ON own.vec_id = oth.vec_id),
        |sq AS (SELECT cell,
        |    CAST(floor((CASE WHEN greatest(a, bb) > 0 THEN (bb - a) / greatest(a, bb)
        |      ELSE 0.0 END) * 1000000000.0 + 0.5) AS BIGINT) AS sq
        |  FROM sil)
        |SELECT CAST(cell AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n,
        |  floor((CAST(sum(sq) AS DOUBLE) / 1000000000.0 / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS mean_sil,
        |  floor((CAST(min(sq) AS DOUBLE) / 1000000000.0) * 1000000.0 + 0.5) / 1000000.0 AS min_sil
        |FROM sq GROUP BY 1""".stripMargin),
    // sf1: a narrow O(n·k) fold — any shuffle appearing here is a regression
    sf1 = true),

    // Frame-sampling schedule for video-kind media (docs standing in as
    // deterministic fixtures: every third doc is a "video" whose duration
    // derives from its length): 8 evenly-spaced (frame_idx, ts_ms) rows
    // per video — a narrow ×8 generator, zero shuffle, payload untouched.
    QuerySpec("q_frame_plan", (s, d) => {
      val media = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("video"))
          .otherwise(lit("image")).as("kind"),
        lit(null).cast("binary").as("payload"),
        struct(lit("video/mp4").as("mime"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          (col("n_chars") * 40).cast("long").as("duration_ms")).as("meta"))
      Multimodal.sampleFrames(media, frames = 8)
    },
    oracle = Some(
      """WITH v AS (SELECT doc_id AS media_id, CAST(n_chars * 40 AS BIGINT) AS dur
        |  FROM documents WHERE doc_id % 3 = 0),
        |f AS (SELECT media_id, dur, unnest(generate_series(0, 7)) AS j FROM v)
        |SELECT media_id, CAST(j AS BIGINT) AS frame_idx,
        |  CAST(floor(j * dur / 8.0) AS BIGINT) AS ts_ms
        |FROM f""".stripMargin)),

    // Hybrid retrieval: BM25 lexical run ⊕ dense cosine run, fused by
    // reciprocal rank (k = 60). Each run is a bounded candidate list
    // (top-100 on the 1e-6-rounded score with id tie-break — the stable
    // ranking basis), so fusion moves |candidates| rows, never the corpus.
    QuerySpec("q_rrf_fusion", (s, d) => {
      val docs = Tables.documents(s, d)
      // ONE corpus tokenization: the (term, doc_id, tf) table is
      // materialized once and feeds BOTH term discovery and the BM25 run
      // (the old shape exploded the corpus twice — the shared-scan form is
      // the 100 TB shape, and dl/N/avgdl recover exactly from Σ tf)
      val tfAll = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        .localCheckpoint(false)
      val terms = tfAll.groupBy("term").agg(sum(col("tf")).as("c"))
        .filter(length(col("term")) >= 4)
        .orderBy(col("c").desc, col("term").asc).limit(5)
        .select("term")
      val lex = Retrieval.bm25FromTf(tfAll, terms)
        .groupBy(col("doc_id")).agg(sum(col("score")).as("score"))
        .orderBy((floor(col("score") * 1e6 + 0.5) / 1e6).desc, col("doc_id").asc)
        .limit(100)
      val emb = Tables.embeddings(s, d)
      val dense = Similarity.bruteForceTopK(emb.filter(col("vec_id") === 0), emb, k = 100)
        .select(col("neighbor_id").as("doc_id"), col("cosine").as("score"))
      Retrieval.rrfFuse(Seq("lex" -> lex, "dense" -> dense), "doc_id", "score")
        .orderBy((floor(col("rrf") * 1e6 + 0.5) / 1e6).desc, col("doc_id").asc)
        .limit(20)
        .select(col("doc_id"), col("n_runs"), qround(col("rrf"), 6).as("rrf"))
    },
    oracle = Some(
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |tok AS (SELECT doc_id, unnest(ws) AS term FROM t),
         |uni AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
         |terms AS (SELECT term FROM uni WHERE len(term) >= 4 ORDER BY c DESC, term ASC LIMIT 5),
         |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok JOIN terms USING (term) GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, len(ws) AS dl FROM t),
         |st AS (SELECT count(*) AS n, CAST(sum(len(ws)) AS DOUBLE) / count(*) AS avgdl FROM t),
         |bs AS (SELECT doc_id, sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1)) /
         |         (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS s
         |       FROM tf JOIN df USING (term) JOIN dl USING (doc_id), st GROUP BY 1),
         |lex AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY floor(s * 1000000.0 + 0.5) / 1000000.0 DESC, doc_id ASC) AS rank
         |  FROM bs QUALIFY rank <= 100),
         |qv AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
         |dns AS (SELECT vec_id AS doc_id,
         |    ${dotSql("q_vec", "embedding")} / (sqrt(${dotSql("q_vec", "q_vec")}) * sqrt(${dotSql("embedding", "embedding")})) AS cos
         |  FROM embeddings, qv WHERE vec_id <> 0),
         |dtop AS (SELECT doc_id, cos,
         |    row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rr
         |  FROM dns QUALIFY rr <= 100),
         |dense AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY floor(cos * 1000000.0 + 0.5) / 1000000.0 DESC, doc_id ASC) AS rank
         |  FROM dtop),
         |u AS (SELECT doc_id, rank FROM lex UNION ALL SELECT doc_id, rank FROM dense),
         |f AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
         |    sum(CAST(1.0 AS DOUBLE) / (rank + 60)) AS rrf FROM u GROUP BY 1)
         |SELECT doc_id, n_runs, floor(rrf * 1000000.0 + 0.5) / 1000000.0 AS rrf FROM f
         |ORDER BY floor(rrf * 1000000.0 + 0.5) / 1000000.0 DESC, doc_id ASC LIMIT 20""".stripMargin),
    sf1 = true),

    // Hard-negative mining: per query, the strongest corpus vectors inside
    // the confusable-but-not-duplicate cosine band — the contrastive-
    // training negative sampler.
    QuerySpec("q_hard_negatives", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(emb.filter(col("vec_id") < 3), emb, k = 5,
          loCos = 0.2, hiCos = 0.9)
        .select(col("query_id"), col("neighbor_id"),
          qround(col("cosine"), 6).as("cosine"), col("rank"))
    },
    oracle = Some(
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 3),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
         |scored AS (
         |  SELECT q.query_id, c.neighbor_id,
         |    ${dotSql("q.q_vec", "c.c_vec")} / (sqrt(${dotSql("q.q_vec", "q.q_vec")}) * sqrt(${dotSql("c.c_vec", "c.c_vec")})) AS cos
         |  FROM c, q WHERE c.neighbor_id <> q.query_id),
         |banded AS (SELECT * FROM scored WHERE cos >= 0.2 AND cos < 0.9),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank
         |  FROM banded)
         |SELECT query_id, neighbor_id, floor((cos) * 1000000.0 + 0.5) / 1000000.0 AS cosine, rank
         |FROM ranked WHERE rank <= 5""".stripMargin)),

    // REAL image decode end-to-end: deterministic synthetic PNGs (encoded
    // with javax.imageio, pixels derived from the id) flow through the
    // batched mapPartitions decode with the real ImageIoCodec — dims read
    // back from the decoded pixels, features from the luminance grid.
    // Rows-only contract (no SQL engine decodes PNGs); determinism is
    // pinned by MultimodalSpec instead.
    QuerySpec("q_multimodal_decode", (s, d) => {
      val ids = Tables.documents(s, d)
        .select(col("doc_id").as("media_id")).filter(col("media_id") < 64)
      val media = Multimodal.syntheticPngs(ids, "media_id", w = 32, h = 24)
      Multimodal.decodeAndFeaturize(media, Multimodal.ImageIoCodec, featureDim = 4)
        .select(col("media_id"), col("width"), col("height"),
          qround(aggregate(col("features"), lit(0.0),
            (a, x) => a + x.cast("double")), 4).as("feat_sum"))
    }, oracle = None),

    // Image near-dup via perceptual dHash: clone groups (same seed) with
    // tiny overlay variants must pair up through banded hamming on the
    // REAL decode path; variant 3 renders pristine like variant 0, so
    // every group carries one exact-dup pair too. The decode itself has no
    // SQL oracle, but everything AFTER it is relational: the dHash table
    // persists to a tmp parquet (content is SF-independent — always doc
    // ids < 64, deterministic PNGs) and the ORACLE brute-forces all
    // C(64,2) hamming pairs over that same parquet in DuckDB — banded ≡
    // brute-force is the pigeonhole recall theorem, also pinned in
    // MultimodalSpec. So the pairing stage is hash-checked; only the
    // decode stays spec-verified.
    QuerySpec("q_image_neardup", (s, d) => {
      val ids = Tables.documents(s, d).filter(col("doc_id") < 64)
        .select(col("doc_id").as("media_id"),
          floor(col("doc_id") / 4).cast("long").as("seed"),
          when(col("doc_id") % 4 === 3, 0L)
            .otherwise(col("doc_id") % 4).as("variant"))
      val media = Multimodal.syntheticPngVariants(ids, "media_id", "seed",
        "variant", w = 32, h = 24)
      val hashes = Multimodal.dHash(media, Multimodal.ImageIoCodec)
      hashes.write.mode("overwrite").parquet(dhashOracleDir)
      Multimodal.dHashNearDupPairs(s.read.parquet(dhashOracleDir), maxDist = 6)
    },
    // Ground truth for the pairing stage is BRUTE-FORCE hamming over the
    // persisted dHash table (64 images — C(64,2) pairs is nothing for an
    // oracle); the Spark side's banded join must equal it by the
    // pigeonhole recall theorem. The decode that produced the table is
    // spec-verified (no SQL engine decodes PNGs).
    oracle = Some(
      s"""WITH h AS (SELECT media_id, dhash
        |  FROM read_parquet('${sys.props("java.io.tmpdir")}/graft_dhash_oracle/*.parquet')
        |  WHERE dhash IS NOT NULL)
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS dist
        |FROM h a JOIN h b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 6""".stripMargin)),

    // The fully-ORACLED decode row that retires the rows-only asterisk:
    // synthetic UNCOMPRESSED 9×9 BMPs (hand-encoded BI_RGB — every pixel
    // at a fixed arithmetic byte offset) persist to a tmp parquet; the
    // Spark side decodes them through the REAL javax.imageio path (dims
    // from the decoded image, dHash over the 9×9 luminance grid — at
    // w=h=9 each grid cell is exactly one pixel), while the DuckDB
    // oracle re-derives width/height from the header bytes and all 64
    // gradient bits by slicing pixel bytes out of the SAME payload blob.
    // A decode divergence of any pixel flips a luminance comparison and
    // the hashes disagree — the decode itself is now hash-checked, not
    // just spec-verified. (q_multimodal_decode keeps the PNG path: its
    // inflate step is what no SQL engine replays.)
    QuerySpec("q_bmp_dhash", (s, d) => {
      val ids = Tables.documents(s, d)
        .select(col("doc_id").as("media_id")).filter(col("media_id") < 64)
      val media = Multimodal.syntheticBmps(ids, "media_id", w = 9, h = 9)
      media.select(col("media_id"), col("payload"))
        .write.mode("overwrite").parquet(bmpOracleDir)
      val persisted = s.read.parquet(bmpOracleDir)
      val dims = Multimodal.decodeAndFeaturize(persisted,
          Multimodal.ImageIoCodec, featureDim = 1)
        .select(col("media_id"), col("width"), col("height"))
      val hashes = Multimodal.dHash(persisted, Multimodal.ImageIoCodec)
      dims.join(hashes, "media_id")
        .select(col("media_id"), col("width"), col("height"), col("dhash"))
    },
    oracle = Some {
      // luminance weight 299R + 587G + 114B of the pixel whose B byte
      // sits at hex offset o (BMP stores B,G,R; division by the positive
      // constants 1000·255 preserves order, so comparing integer weights
      // ≡ comparing the decoded float luminances)
      val w1 = s"(299 * ${bmpByte("o + 2")} + 587 * ${bmpByte("o + 1")} + " +
        s"114 * ${bmpByte("o")})"
      val w2 = s"(299 * ${bmpByte("o + 5")} + 587 * ${bmpByte("o + 4")} + " +
        s"114 * ${bmpByte("o + 3")})"
      s"""WITH m AS (SELECT media_id, hex(payload) AS hx
        |  FROM read_parquet('$bmpOracleDir/*.parquet')),
        |dims AS (SELECT media_id,
        |    ${bmpLe32(18)} AS width, ${bmpLe32(22)} AS height FROM m),
        |g AS (SELECT media_id, hx, CAST(i AS BIGINT) AS i,
        |    54 + (8 - (CAST(i AS BIGINT) // 8)) * 28 +
        |      3 * (CAST(i AS BIGINT) % 8) AS o
        |  FROM m CROSS JOIN (SELECT unnest(range(64)) AS i)),
        |bits AS (SELECT media_id,
        |    CASE WHEN $w1 < $w2 THEN
        |      CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
        |           ELSE (1::BIGINT << CAST(i AS INT)) END
        |      ELSE 0 END AS bitv
        |  FROM g),
        |h AS (SELECT media_id, CAST(SUM(bitv) AS BIGINT) AS dhash
        |  FROM bits GROUP BY 1)
        |SELECT d.media_id, CAST(d.width AS INT) AS width,
        |  CAST(d.height AS INT) AS height, h.dhash
        |FROM dims d JOIN h USING (media_id)""".stripMargin
    }),

    // Codec DISPATCH, fully oracled: a MIXED-format corpus (even ids →
    // hand-encoded BMP through the real javax.imageio path; odd ids →
    // binary PPM/P6 through the hand-rolled PpmCodec — the JDK ships no
    // PNM reader) decoded in ONE pass by the magic-byte SniffCodec.
    // Same pixel function in both formats, so equal seeds dHash to
    // equal bits REGARDLESS of codec — while the DuckDB oracle
    // re-derives dims and all 64 gradient bits per format by slicing
    // payload bytes (BMP: B,G,R bottom-up at 54 + stride-28 offsets;
    // PPM: R,G,B top-down at 11 + 3·(9y+x), dims from the ASCII header
    // digits). A divergence in EITHER decode path or in the dispatch
    // flips a luminance comparison and the hashes disagree.
    QuerySpec("q_ppm_dhash", (s, d) => {
      val ids = Tables.documents(s, d)
        .select(col("doc_id").as("media_id")).filter(col("media_id") < 64)
      val bmp = Multimodal.syntheticBmps(
        ids.filter(col("media_id") % 2 === 0), "media_id", w = 9, h = 9)
      val ppm = Multimodal.syntheticPpms(
        ids.filter(col("media_id") % 2 =!= 0), "media_id", w = 9, h = 9)
      bmp.unionByName(ppm).select(col("media_id"), col("payload"))
        .write.mode("overwrite").parquet(ppmOracleDir)
      val persisted = s.read.parquet(ppmOracleDir)
      val dims = Multimodal.decodeAndFeaturize(persisted,
          Multimodal.SniffCodec, featureDim = 1)
        .select(col("media_id"), col("width"), col("height"))
      val hashes = Multimodal.dHash(persisted, Multimodal.SniffCodec)
      dims.join(hashes, "media_id")
        .select(col("media_id"),
          when(col("media_id") % 2 === 0, "bmp").otherwise("ppm").as("fmt"),
          col("width"), col("height"), col("dhash"))
    },
    oracle = Some {
      // per-format pixel slicing: BMP stores B,G,R bottom-up from byte
      // 54 (stride 28 at w=9); PPM stores R,G,B top-down from byte 11
      // (fixed header "P6\n9 9\n255\n"); luminance weight
      // 299R + 587G + 114B preserves order vs the decoded floats
      val wB1 = s"(299 * ${bmpByte("o + 2")} + 587 * ${bmpByte("o + 1")} + " +
        s"114 * ${bmpByte("o")})"
      val wB2 = s"(299 * ${bmpByte("o + 5")} + 587 * ${bmpByte("o + 4")} + " +
        s"114 * ${bmpByte("o + 3")})"
      val wP1 = s"(299 * ${bmpByte("o")} + 587 * ${bmpByte("o + 1")} + " +
        s"114 * ${bmpByte("o + 2")})"
      val wP2 = s"(299 * ${bmpByte("o + 3")} + 587 * ${bmpByte("o + 4")} + " +
        s"114 * ${bmpByte("o + 5")})"
      s"""WITH m AS (SELECT media_id, hex(payload) AS hx
        |  FROM read_parquet('$ppmOracleDir/*.parquet')),
        |dims AS (SELECT media_id,
        |    CASE WHEN media_id % 2 = 0 THEN ${bmpLe32(18)}
        |         ELSE ${bmpByte("3")} - 48 END AS width,
        |    CASE WHEN media_id % 2 = 0 THEN ${bmpLe32(22)}
        |         ELSE ${bmpByte("5")} - 48 END AS height
        |  FROM m),
        |g AS (SELECT media_id, hx, CAST(i AS BIGINT) AS i,
        |    (media_id % 2 = 0) AS isbmp,
        |    CASE WHEN media_id % 2 = 0
        |      THEN 54 + (8 - (CAST(i AS BIGINT) // 8)) * 28 +
        |        3 * (CAST(i AS BIGINT) % 8)
        |      ELSE 11 + ((CAST(i AS BIGINT) // 8) * 9 +
        |        (CAST(i AS BIGINT) % 8)) * 3 END AS o
        |  FROM m CROSS JOIN (SELECT unnest(range(64)) AS i)),
        |bits AS (SELECT media_id,
        |    CASE WHEN (CASE WHEN isbmp THEN $wB1 ELSE $wP1 END) <
        |              (CASE WHEN isbmp THEN $wB2 ELSE $wP2 END) THEN
        |      CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
        |           ELSE (1::BIGINT << CAST(i AS INT)) END
        |      ELSE 0 END AS bitv
        |  FROM g),
        |h AS (SELECT media_id, CAST(SUM(bitv) AS BIGINT) AS dhash
        |  FROM bits GROUP BY 1)
        |SELECT d.media_id,
        |  CASE WHEN d.media_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS fmt,
        |  CAST(d.width AS INT) AS width, CAST(d.height AS INT) AS height,
        |  h.dhash
        |FROM dims d JOIN h USING (media_id)""".stripMargin
    }),

    // The AUDIO rung, fully oracled: deterministic 16-bit mono PCM WAVs
    // (520 samples @ 8 kHz — 65 equal 8-sample windows) decoded through
    // the REAL javax.sound.sampled path; the loudness fingerprint hashes
    // 64 consecutive mean-|amplitude| gradients exactly like dHash
    // hashes luminance. The DuckDB oracle re-derives the sample rate and
    // frame count from the RIFF header AND all 64 bits by slicing the
    // signed LE16 samples out of the same payload bytes — a decode
    // divergence of any sample flips a window comparison.
    QuerySpec("q_wav_fingerprint", (s, d) => {
      val ids = Tables.documents(s, d)
        .select(col("doc_id").as("media_id")).filter(col("media_id") < 64)
      Multimodal.syntheticWavs(ids, "media_id", nSamples = 520,
          sampleRate = 8000)
        .select(col("media_id"), col("payload"))
        .write.mode("overwrite").parquet(wavOracleDir)
      val persisted = s.read.parquet(wavOracleDir)
      Multimodal.wavFingerprint(persisted, windows = 64)
        .select(col("media_id"), col("sample_rate"), col("n_frames"),
          col("fp"))
    },
    oracle = Some {
      // signed LE16 sample at index i sits at bytes 44+2i (lo), 45+2i (hi)
      val sv = s"(${bmpByte("44 + 2 * i")} + 256 * ${bmpByte("45 + 2 * i")})"
      s"""WITH m AS (SELECT media_id, hex(payload) AS hx
        |  FROM read_parquet('$wavOracleDir/*.parquet')),
        |hdr AS (SELECT media_id, ${bmpLe32(24)} AS sample_rate,
        |    ${bmpLe32(40)} // 2 AS n_frames FROM m),
        |s AS (SELECT media_id, CAST(i AS BIGINT) // 8 AS w,
        |    abs(CASE WHEN $sv >= 32768 THEN $sv - 65536 ELSE $sv END) AS a
        |  FROM m CROSS JOIN (SELECT unnest(range(520)) AS i)),
        |ws AS (SELECT media_id, w, SUM(a) AS sa FROM s GROUP BY 1, 2),
        |cmp AS (SELECT media_id, w, sa,
        |    lead(sa) OVER (PARTITION BY media_id ORDER BY w) AS nxt FROM ws),
        |bits AS (SELECT media_id,
        |    CASE WHEN sa < nxt THEN
        |      CASE WHEN w = 63 THEN (-9223372036854775807 - 1)
        |           ELSE (1::BIGINT << CAST(w AS INT)) END
        |      ELSE 0 END AS bitv
        |  FROM cmp WHERE w < 64),
        |h AS (SELECT media_id, CAST(SUM(bitv) AS BIGINT) AS fp
        |  FROM bits GROUP BY 1)
        |SELECT hdr.media_id, CAST(sample_rate AS INT) AS sample_rate,
        |  CAST(n_frames AS BIGINT) AS n_frames, h.fp
        |FROM hdr JOIN h USING (media_id)""".stripMargin
    }),

    // GIF decode, dims-oracled: the third real javax.imageio format on
    // the surface. The LZW pixel stream is outside SQL (like PNG's
    // inflate — the BMP/PPM twins hash-verify that machinery), but the
    // logical-screen dims are plain LE16 bytes at offsets 6/8, so the
    // header leg of the decode is fully hash-checked.
    QuerySpec("q_gif_dims", (s, d) => {
      val ids = Tables.documents(s, d)
        .select(col("doc_id").as("media_id")).filter(col("media_id") < 64)
      Multimodal.syntheticGifs(ids, "media_id", w = 11, h = 7)
        .select(col("media_id"), col("payload"))
        .write.mode("overwrite").parquet(gifOracleDir)
      val persisted = s.read.parquet(gifOracleDir)
      Multimodal.decodeAndFeaturize(persisted, Multimodal.ImageIoCodec,
          featureDim = 1)
        .select(col("media_id"), col("width"), col("height"))
    },
    oracle = Some(// GIF logical-screen descriptor: width/height as LE16 at bytes 6/8
      s"""WITH m AS (SELECT media_id, hex(payload) AS hx
        |  FROM read_parquet('$gifOracleDir/*.parquet'))
        |SELECT media_id,
        |  CAST(${bmpByte("6")} + 256 * ${bmpByte("7")} AS INT) AS width,
        |  CAST(${bmpByte("8")} + 256 * ${bmpByte("9")} AS INT) AS height
        |FROM m""".stripMargin)),

    // JPEG decode, dims-oracled through the SniffCodec dispatch (JPEG
    // magic FF D8 → javax.imageio): the entropy-coded pixel stream is
    // lossy and implementation-defined, so DIMS ONLY are the checked
    // surface — the oracle replays the SOI→SOF marker-segment walk over
    // raw payload bytes (skip each segment by its big-endian length
    // until FFC0..FFC3, then height/width at fixed SOF offsets).
    QuerySpec("q_jpeg_dims", (s, d) => {
      val ids = Tables.documents(s, d)
        .select(col("doc_id").as("media_id")).filter(col("media_id") < 64)
      Multimodal.syntheticJpegs(ids, "media_id", w = 13, h = 6)
        .select(col("media_id"), col("payload"))
        .write.mode("overwrite").parquet(jpegOracleDir)
      val persisted = s.read.parquet(jpegOracleDir)
      Multimodal.decodeAndFeaturize(persisted, Multimodal.SniffCodec,
          featureDim = 1)
        .select(col("media_id"), col("width"), col("height"))
    },
    oracle = Some(// JPEG SOI→SOF marker walk: starting at the first marker after
      // SOI (offset 2), skip each segment by 2 + its big-endian u16
      // length until the frame marker FFC0..FFC3 (stop also at SOS FFDA
      // — beyond it lies entropy-coded data); height/width are BE16 at
      // SOF payload offsets +5/+7
      s"""WITH RECURSIVE m AS (SELECT media_id, hex(payload) AS hx
        |  FROM read_parquet('$jpegOracleDir/*.parquet')),
        |walk(media_id, hx, pos) AS (
        |  SELECT media_id, hx, 2 FROM m
        |  UNION ALL
        |  SELECT media_id, hx,
        |    pos + 2 + 256 * ${bmpByte("pos + 2")} + ${bmpByte("pos + 3")}
        |  FROM walk
        |  WHERE ${bmpByte("pos + 1")} NOT IN (192, 193, 194, 195, 218)
        |    AND (pos + 3) * 2 + 2 <= len(hx)),
        |sof AS (SELECT media_id, hx, pos FROM walk
        |  WHERE ${bmpByte("pos + 1")} IN (192, 193, 194, 195))
        |SELECT media_id,
        |  CAST(256 * ${bmpByte("pos + 7")} + ${bmpByte("pos + 8")} AS INT) AS width,
        |  CAST(256 * ${bmpByte("pos + 5")} + ${bmpByte("pos + 6")} AS INT) AS height
        |FROM sof""".stripMargin)),

    // Audio near-dup pairs: the dedup-ladder rung over wavFingerprint —
    // banded hamming (pigeonhole recall, never all-pairs) on a
    // duplicate-bearing corpus (seed = id % 48 → 16 byte-identical clip
    // pairs). Oracle re-derives every fingerprint from the PCM bytes and
    // brute-forces the hamming join.
    QuerySpec("q_audio_neardup", (s, d) => {
      val ids = Tables.documents(s, d)
        .select(col("doc_id").as("media_id"), (col("doc_id") % 48).as("seed"))
        .filter(col("media_id") < 64)
      Multimodal.syntheticWavVariants(ids, "media_id", "seed",
          nSamples = 520, sampleRate = 8000)
        .select(col("media_id"), col("payload"))
        .write.mode("overwrite").parquet(wavDupOracleDir)
      val persisted = s.read.parquet(wavDupOracleDir)
      val hashes = Multimodal.wavFingerprint(persisted, windows = 64)
        .select(col("media_id"), col("fp").as("dhash"))
      Multimodal.dHashNearDupPairs(hashes, maxDist = 6)
        .select(col("id_a"), col("id_b"), col("dist"))
    },
    oracle = Some {
      val sv = s"(${bmpByte("44 + 2 * i")} + 256 * ${bmpByte("45 + 2 * i")})"
      s"""WITH m AS (SELECT media_id, hex(payload) AS hx
        |  FROM read_parquet('$wavDupOracleDir/*.parquet')),
        |s AS (SELECT media_id, CAST(i AS BIGINT) // 8 AS w,
        |    abs(CASE WHEN $sv >= 32768 THEN $sv - 65536 ELSE $sv END) AS a
        |  FROM m CROSS JOIN (SELECT unnest(range(520)) AS i)),
        |ws AS (SELECT media_id, w, SUM(a) AS sa FROM s GROUP BY 1, 2),
        |cmp AS (SELECT media_id, w, sa,
        |    lead(sa) OVER (PARTITION BY media_id ORDER BY w) AS nxt FROM ws),
        |bits AS (SELECT media_id,
        |    CASE WHEN sa < nxt THEN
        |      CASE WHEN w = 63 THEN (-9223372036854775807 - 1)
        |           ELSE (1::BIGINT << CAST(w AS INT)) END
        |      ELSE 0 END AS bitv
        |  FROM cmp WHERE w < 64),
        |h AS (SELECT media_id, CAST(SUM(bitv) AS BIGINT) AS fp
        |  FROM bits GROUP BY 1)
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS dist
        |FROM h a JOIN h b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 6""".stripMargin
    }),

    // The COMPOSED multimodal ledger — the decode family's composition
    // pin (corpus/experiment/classifier/drift/retrieval each have
    // theirs): byte audit → real imageio decode of a dup-bearing BMP
    // corpus → dHash → banded near-dup pairs → exact dup-group collapse,
    // every stage the real graft.llm.Multimodal operator, the whole
    // chain replayed by the oracle from payload bytes alone.
    QuerySpec("q_multimodal_pipeline", (s, d) => {
      val ids = Tables.documents(s, d)
        .select(col("doc_id").as("media_id"), (col("doc_id") % 48).as("seed"))
        .filter(col("media_id") < 64)
      Multimodal.syntheticBmpVariants(ids, "media_id", "seed", w = 9, h = 9)
        .select(col("media_id"), col("payload"))
        .write.mode("overwrite").parquet(bmpDupOracleDir)
      val persisted = s.read.parquet(bmpDupOracleDir)
        .localCheckpoint(false) // bytes, decode, hash stages share it
      val byteLedger = persisted.agg(
        count(lit(1)).cast("double").as("n_media"),
        sum(octet_length(col("payload"))).cast("double").as("n_bytes"))
      val dims = Multimodal.decodeAndFeaturize(persisted,
        Multimodal.ImageIoCodec, featureDim = 1)
      val decodeLedger = dims.agg(
        count_if(col("width") === 9 && col("height") === 9)
          .cast("double").as("decoded_ok"),
        sum(col("width").cast("long") * col("height"))
          .cast("double").as("total_px"))
      val hashes = Multimodal.dHash(persisted, Multimodal.ImageIoCodec)
        .localCheckpoint(false) // pairs + groups + ledger share it
      val hashLedger = hashes.agg(
        count_if(col("dhash").isNotNull).cast("double").as("n_hashed"),
        countDistinct(col("dhash")).cast("double").as("distinct_hashes"))
      val pairs = Multimodal.dHashNearDupPairs(hashes, maxDist = 6)
      val pairLedger = pairs.agg(
        count(lit(1)).cast("double").as("neardup_pairs"),
        count_if(col("dist") === 0L).cast("double").as("exact_pairs"))
      val groups = Multimodal.imageDupGroups(hashes)
      val groupLedger = groups.agg(
        count_if(col("n_dups") >= 2L).cast("double").as("dup_groups"),
        max(col("n_dups")).cast("double").as("max_group"),
        sum(when(col("n_dups") >= 2L, col("keep_id")))
          .cast("double").as("keep_id_sum"))
      byteLedger.crossJoin(decodeLedger).crossJoin(hashLedger)
        .crossJoin(pairLedger).crossJoin(groupLedger)
        .selectExpr("""stack(11,
          '00_n_media', n_media, '00_n_bytes', n_bytes,
          '01_decoded_ok', decoded_ok, '01_total_px', total_px,
          '02_n_hashed', n_hashed, '02_distinct_hashes', distinct_hashes,
          '03_neardup_pairs', neardup_pairs, '03_exact_pairs', exact_pairs,
          '04_dup_groups', dup_groups, '04_max_group', max_group,
          '04_keep_id_sum', keep_id_sum) AS (metric, value)""")
    },
    oracle = Some {
      val w1 = s"(299 * ${bmpByte("o + 2")} + 587 * ${bmpByte("o + 1")} + " +
        s"114 * ${bmpByte("o")})"
      val w2 = s"(299 * ${bmpByte("o + 5")} + 587 * ${bmpByte("o + 4")} + " +
        s"114 * ${bmpByte("o + 3")})"
      s"""WITH m AS (SELECT media_id, payload, hex(payload) AS hx
        |  FROM read_parquet('$bmpDupOracleDir/*.parquet')),
        |byteagg AS (SELECT CAST(count(*) AS DOUBLE) AS n_media,
        |    CAST(SUM(octet_length(payload)) AS DOUBLE) AS n_bytes FROM m),
        |dims AS (SELECT media_id,
        |    ${bmpLe32(18)} AS width, ${bmpLe32(22)} AS height FROM m),
        |decagg AS (SELECT
        |    CAST(SUM(CASE WHEN width = 9 AND height = 9 THEN 1 ELSE 0 END) AS DOUBLE) AS decoded_ok,
        |    CAST(SUM(width * height) AS DOUBLE) AS total_px FROM dims),
        |g AS (SELECT media_id, hx, CAST(i AS BIGINT) AS i,
        |    54 + (8 - (CAST(i AS BIGINT) // 8)) * 28 +
        |      3 * (CAST(i AS BIGINT) % 8) AS o
        |  FROM m CROSS JOIN (SELECT unnest(range(64)) AS i)),
        |bits AS (SELECT media_id,
        |    CASE WHEN $w1 < $w2 THEN
        |      CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
        |           ELSE (1::BIGINT << CAST(i AS INT)) END
        |      ELSE 0 END AS bitv
        |  FROM g),
        |h AS (SELECT media_id, CAST(SUM(bitv) AS BIGINT) AS dhash
        |  FROM bits GROUP BY 1),
        |hashagg AS (SELECT CAST(count(*) AS DOUBLE) AS n_hashed,
        |    CAST(count(DISTINCT dhash) AS DOUBLE) AS distinct_hashes FROM h),
        |pairs AS (SELECT bit_count(xor(a.dhash, b.dhash)) AS dist
        |  FROM h a JOIN h b ON a.media_id < b.media_id
        |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
        |pairagg AS (SELECT CAST(count(*) AS DOUBLE) AS neardup_pairs,
        |    CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS exact_pairs
        |  FROM pairs),
        |grp AS (SELECT dhash, MIN(media_id) AS keep_id, count(*) AS n_dups
        |  FROM h GROUP BY 1),
        |grpagg AS (SELECT
        |    CAST(SUM(CASE WHEN n_dups >= 2 THEN 1 ELSE 0 END) AS DOUBLE) AS dup_groups,
        |    CAST(MAX(n_dups) AS DOUBLE) AS max_group,
        |    CAST(SUM(CASE WHEN n_dups >= 2 THEN keep_id END) AS DOUBLE) AS keep_id_sum
        |  FROM grp)
        |SELECT metric, value FROM (
        |  SELECT '00_n_media' AS metric, n_media AS value FROM byteagg
        |  UNION ALL SELECT '00_n_bytes', n_bytes FROM byteagg
        |  UNION ALL SELECT '01_decoded_ok', decoded_ok FROM decagg
        |  UNION ALL SELECT '01_total_px', total_px FROM decagg
        |  UNION ALL SELECT '02_n_hashed', n_hashed FROM hashagg
        |  UNION ALL SELECT '02_distinct_hashes', distinct_hashes FROM hashagg
        |  UNION ALL SELECT '03_neardup_pairs', neardup_pairs FROM pairagg
        |  UNION ALL SELECT '03_exact_pairs', exact_pairs FROM pairagg
        |  UNION ALL SELECT '04_dup_groups', dup_groups FROM grpagg
        |  UNION ALL SELECT '04_max_group', max_group FROM grpagg
        |  UNION ALL SELECT '04_keep_id_sum', keep_id_sum FROM grpagg)""".stripMargin
    }),

    // Multimodal metadata projection: payload never decoded, only hashed/sized.
    QuerySpec("q_multimodal_meta", (s, d) => {
      val media = Tables.documents(s, d).select(
        col("doc_id").as("media_id"), lit("text").as("kind"),
        col("text").cast("binary").as("payload"),
        struct(lit("text/plain").as("mime"), lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"), lit(null).cast("long").as("duration_ms")).as("meta"))
      Multimodal.metadataOnly(media)
    },
    oracle = Some(("SELECT doc_id AS media_id, 'text' AS kind, 'text/plain' AS mime, " +
        "CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes, md5(text) AS digest FROM documents"))),

    // Mutual nearest neighbors (Similarity.mutualNearest over the brute
    // top-1 table): pairs where each vector is the OTHER's best match —
    // the hubness-filtered pair miner behind parallel-corpus alignment.
    QuerySpec("q_mutual_nn", (s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.llm.Similarity.mutualNearest(
        graft.llm.Similarity.bruteForceTopK(emb, emb, k = 1))
    },
    oracle = Some(
      s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
         |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${dotSql("q.embedding", "c.embedding")} /
         |      (sqrt(${dotSql("q.embedding", "q.embedding")}) * sqrt(${dotSql("c.embedding", "c.embedding")})) AS cos
         |  FROM v q JOIN v c ON c.vec_id <> q.vec_id),
         |t1 AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
         |    FROM scored) WHERE rnk = 1)
         |SELECT x.query_id AS a, x.neighbor_id AS b
         |FROM t1 x JOIN t1 y ON y.query_id = x.neighbor_id AND y.neighbor_id = x.query_id
         |WHERE x.query_id < x.neighbor_id""".stripMargin)),

    // MMR diversified selection: λ·rel − (1−λ)·max-sim-to-selected,
    // greedy k=5 over brute top-12 candidates (CANDIDATE-SET contract) —
    // the de-dup-aware re-rank between retrieval and batch assembly.
    // Candidate-pair sims are priced ONCE (Θ(c²) per query); the k
    // greedy rounds touch only metadata-sized tables. The oracle unrolls
    // the identical 5 rounds; (1.0 − 0.7) is written as the subtraction
    // in BOTH engines so the λ-complement is the same IEEE double.
    QuerySpec("q_mmr_select", (s, d) => {
      val emb = Tables.embeddings(s, d)
      // lazy checkpoint (round 15): cand fans out to the pair join (both
      // sides) and the greedy loop — without the cut each consumer
      // re-executed the whole brute-force cosine subtree
      val cand = graft.llm.Similarity.bruteForceTopK(
          emb.filter(col("vec_id") % 50 === 0), emb, k = 12)
        .select(col("query_id"), col("neighbor_id").as("cand_id"),
          qround(col("cosine"), 6).as("rel"))
        .localCheckpoint(false)
      val vecs = emb.select(col("vec_id"), col("embedding"))
      val sims = cand.select(col("query_id"), col("cand_id").as("a_id"))
        .join(cand.select(col("query_id"), col("cand_id").as("b_id")),
          Seq("query_id"))
        .filter(col("a_id") =!= col("b_id"))
        .join(vecs.select(col("vec_id").as("a_id"),
          col("embedding").as("a_vec")), Seq("a_id"))
        .join(vecs.select(col("vec_id").as("b_id"),
          col("embedding").as("b_vec")), Seq("b_id"))
        .select(col("query_id"), col("a_id"), col("b_id"),
          qround(graft.llm.Similarity.cosine(col("a_vec"), col("b_vec")), 6)
            .as("sim"))
      graft.llm.Retrieval.mmrSelect(cand, sims, lambda = 0.7, k = 5)
        .select(col("query_id"), col("round"), col("cand_id"),
          qround(col("score"), 6).as("score"))
    },
    oracle = Some {
      // the λ-complement is CAST(... AS DOUBLE) subtraction so both
      // engines compute the identical 0.30000000000000004; DuckDB's
      // plain (1.0 - 0.7) would be the EXACT decimal 0.3 ≠ the IEEE one
      val lam = "CAST(0.7 AS DOUBLE)"
      val oneMinusLam = "(CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))"
      val base =
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
           |  FROM embeddings WHERE vec_id % 50 = 0),
           |sc AS (SELECT q.query_id, e.vec_id AS cand_id,
           |    ${dotSql("q_vec", "embedding")} / (sqrt(${dotSql("q_vec", "q_vec")}) * sqrt(${dotSql("embedding", "embedding")})) AS cos
           |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
           |cand AS (SELECT query_id, cand_id,
           |    floor(cos * 1000000.0 + 0.5) / 1000000.0 AS rel
           |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY cos DESC, cand_id ASC) AS rnk FROM sc)
           |  WHERE rnk <= 12),
           |sims AS (SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
           |    floor((${dotSql("va.embedding", "vb.embedding")} / (sqrt(${dotSql("va.embedding", "va.embedding")}) * sqrt(${dotSql("vb.embedding", "vb.embedding")}))) * 1000000.0 + 0.5) / 1000000.0 AS sim
           |  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
           |  JOIN embeddings va ON va.vec_id = a.cand_id
           |  JOIN embeddings vb ON vb.vec_id = b.cand_id),
           |s1 AS (SELECT query_id, cand_id, $lam * rel AS score FROM cand),
           |p1 AS (SELECT query_id, 1 AS round, cand_id, score FROM
           |  (SELECT *, row_number() OVER (PARTITION BY query_id
           |     ORDER BY score DESC, cand_id ASC) AS rn FROM s1) WHERE rn = 1),
           |sel1 AS (SELECT query_id, cand_id FROM p1)""".stripMargin
      val rounds = (2 to 5).map { r =>
        s""",
           |ms$r AS (SELECT s.query_id, s.a_id AS cand_id, MAX(s.sim) AS max_sim
           |  FROM sims s JOIN sel${r - 1} x
           |    ON x.query_id = s.query_id AND x.cand_id = s.b_id
           |  GROUP BY 1, 2),
           |s$r AS (SELECT c.query_id, c.cand_id,
           |    $lam * c.rel - $oneMinusLam * COALESCE(m.max_sim, CAST(0.0 AS DOUBLE)) AS score
           |  FROM cand c
           |  LEFT JOIN ms$r m ON m.query_id = c.query_id AND m.cand_id = c.cand_id
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} x
           |    WHERE x.query_id = c.query_id AND x.cand_id = c.cand_id)),
           |p$r AS (SELECT query_id, $r AS round, cand_id, score FROM
           |  (SELECT *, row_number() OVER (PARTITION BY query_id
           |     ORDER BY score DESC, cand_id ASC) AS rn FROM s$r) WHERE rn = 1),
           |sel$r AS (SELECT query_id, cand_id FROM sel${r - 1}
           |  UNION ALL SELECT query_id, cand_id FROM p$r)""".stripMargin
      }.mkString
      val tail = (1 to 5).map(r =>
        s"SELECT query_id, round, cand_id, floor(score * 1000000.0 + 0.5) / 1000000.0 AS score FROM p$r")
        .mkString("\n", "\nUNION ALL ", "")
      base + rounds + tail
    }),

    // Johnson-Lindenstrauss distortion audit: project 64→16 dims with
    // deterministic ±1 sign rows (the shared md5 plane derivation) and
    // report every sampled pair's squared-distance ratio — the JL bound
    // AUDITED, not assumed. The projection itself is a narrow per-row
    // fold (no shuffle, no fitted state); the audit pair join is the
    // bounded 40-vector sample (C(40,2) = 780 pairs).
    QuerySpec("q_jl_distortion", (s, d) => {
      val proj = graft.llm.Similarity.jlProject(
          Tables.embeddings(s, d).filter(col("vec_id") < 40),
          "embedding", outDims = 16, dims = Dims)
        .select(col("vec_id"),
          graft.llm.Similarity.asDouble(col("embedding")).as("v"), col("proj"))
      val a = proj.select(col("vec_id").as("a_id"), col("v").as("av"),
        col("proj").as("ap"))
      val b = proj.select(col("vec_id").as("b_id"), col("v").as("bv"),
        col("proj").as("bp"))
      val d2o = graft.llm.Similarity.sqDist(col("av"), col("bv"))
      val d2p = graft.llm.Similarity.sqDist(col("ap"), col("bp"))
      a.join(b, col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          qround(d2o, 6).as("d2_orig"), qround(d2p, 6).as("d2_proj"),
          qround(d2p / d2o, 6).as("ratio"))
    },
    oracle = Some {
      // the identical md5-derived ±1 sign rows, embedded as literals by
      // the same Scala derivation the operator uses; left-fold sums
      // (list_sum ≡ the aggregate fold, proven by every cosine oracle)
      val signs = graft.llm.Similarity.hyperplaneSigns(16, 64)
      val comps = signs.map { plane =>
        val lits = plane.map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
        s"list_sum(list_transform(range(1, len(vv)+1), i -> vv[i] * $lits[i])) / sqrt(16.0)"
      }.mkString("[", ",\n      ", "]")
      def d2(x: String, y: String) =
        s"list_sum(list_transform(range(1, len($x)+1), i -> ($x[i] - $y[i]) * ($x[i] - $y[i])))"
      s"""WITH v AS (SELECT vec_id,
         |    list_transform(embedding, x -> x::DOUBLE) AS vv
         |  FROM embeddings WHERE vec_id < 40),
         |p AS (SELECT vec_id, vv, $comps AS pp FROM v)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  floor(${d2("a.vv", "b.vv")} * 1000000.0 + 0.5) / 1000000.0 AS d2_orig,
         |  floor(${d2("a.pp", "b.pp")} * 1000000.0 + 0.5) / 1000000.0 AS d2_proj,
         |  floor((${d2("a.pp", "b.pp")} / ${d2("a.vv", "b.vv")}) * 1000000.0 + 0.5) / 1000000.0 AS ratio
         |FROM p a JOIN p b ON a.vec_id < b.vec_id""".stripMargin
    }),

    // Distributed PCA (llm.Pca.topComponent): top principal component of
    // the first 16 embedding dims — ONE exact-covariance pass over the
    // corpus, then 3 power sweeps entirely on the 16×16 cell table
    // (per-term 1e-12 long grids, no float accumulation anywhere). The
    // data-adaptive dimensionality-reduction tier next to q_jl_distortion's
    // data-agnostic projection; the oracle unrolls the identical sweeps.
    // Top-2 PCA via Hotelling deflation (llm.Pca.topComponents): after
    // the q_pca_power component, subtract λ·v·vᵀ from the 16×16 cell
    // table (every deflated cell re-gridded to 1e-12) and re-sweep —
    // the corpus is still touched exactly ONCE; deflation is pure
    // metadata algebra. The 2-D variance map tier.
    QuerySpec("q_pca_top2", (s, d) =>
      graft.llm.Pca.topComponents(Tables.embeddings(s, d), "embedding",
          dims = 16, nComp = 2, iters = 3)
        .select(col("comp"), col("dim"),
          qround(col("component"), 6).as("component"),
          qround(col("eigval"), 6).as("eigval")),
    oracle = Some(// the q_pca_power recurrence, then Hotelling deflation (cells
      // re-gridded at 1e-12 after subtracting the PRE-sign rank-1 mass)
      // and the same three sweeps re-run under the b-prefix
      (pcaSweepSql("embedding IS NOT NULL AND len(embedding) >= 16") +
        s""",
           |cv2 AS MATERIALIZED (SELECT cv.i, cv.j,
           |    floor((cv.c - n3.nrm * vi.vj * vjj.vj) * 1000000000000.0 + 0.5)
           |      / 1000000000000.0 AS c
           |  FROM cv JOIN v3 vi ON vi.j = cv.i JOIN v3 vjj ON vjj.j = cv.j, n3),
           |${pcaSweeps("cv2", "b")}
           |SELECT CAST(1 AS BIGINT) AS comp, CAST(v3.j AS BIGINT) AS dim,
           |  floor(v3.vj * sg.s * 1000000.0 + 0.5) / 1000000.0 AS component,
           |  floor(n3.nrm * 1000000.0 + 0.5) / 1000000.0 AS eigval
           |FROM v3, sg, n3
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), CAST(bv3.j AS BIGINT),
           |  floor(bv3.vj * bsg.s * 1000000.0 + 0.5) / 1000000.0,
           |  floor(bn3.nrm * 1000000.0 + 0.5) / 1000000.0
           |FROM bv3, bsg, bn3""".stripMargin))),

    QuerySpec("q_pca_power", (s, d) =>
      graft.llm.Pca.topComponent(Tables.embeddings(s, d), "embedding",
          dims = 16, iters = 3)
        .select(col("dim"), qround(col("component"), 6).as("component"),
          qround(col("eigval"), 6).as("eigval")),
    oracle = Some(// identical quantized covariance cells, then the three power
      // sweeps unrolled (per-term 1e-12 long grids, one normalization
      // division per sweep — the operator's exact recurrence)
      (pcaSweepSql("embedding IS NOT NULL AND len(embedding) >= 16") +
        s"""
           |SELECT CAST(v3.j AS BIGINT) AS dim,
           |  floor(v3.vj * sg.s * 1000000.0 + 0.5) / 1000000.0 AS component,
           |  floor(n3.nrm * 1000000.0 + 0.5) / 1000000.0 AS eigval
           |FROM v3, sg, n3""".stripMargin)),
    // sf1: the ×d² covariance explode must stay linear in rows —
    // superlinearity means the cell aggregate broke
    sf1 = true),

    // PCA fit/apply split (the isotonic_apply discipline): fit the top
    // component on EVEN vec_ids only, project the ODD half onto it (one
    // broadcast of the 16-float component; the per-row score is the
    // left-fold dot), rank by the ROUNDED score with id tie-break, top 8.
    // Leak-safe by construction — the applied direction never saw the
    // rows it scores.
    QuerySpec("q_pca_project", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 16)
      val comp = graft.llm.Pca.topComponent(
        emb.filter(col("vec_id") % 2 === 0), "embedding", dims = 16, iters = 3)
      val compArr = comp.agg(
        transform(array_sort(collect_list(struct(col("dim"), col("component")))),
          x => x.getField("component")).as("w"))
      emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), graft.llm.Similarity.asDouble(
          slice(col("embedding"), 1, 16)).as("v"))
        .crossJoin(broadcast(compArr))
        .withColumn("score",
          qround(graft.llm.Similarity.dot(col("v"), col("w")), 6))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("vec_id").asc)).cast("long"))
        .filter(col("rank") <= 8)
        .select(col("vec_id"), col("score"), col("rank"))
    },
    oracle = Some(// the same sweeps fit on the EVEN half; the signed component
      // gathers into an ordered list and each odd row folds against it
      (pcaSweepSql("embedding IS NOT NULL AND len(embedding) >= 16" +
        " AND vec_id % 2 = 0") +
        s""",
           |vf AS (SELECT j, vj * s AS c FROM v3, sg),
           |va AS (SELECT list(c ORDER BY j) AS w FROM vf),
           |od AS (SELECT vec_id,
           |    list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS vv
           |  FROM embeddings WHERE embedding IS NOT NULL
           |    AND len(embedding) >= 16 AND vec_id % 2 = 1),
           |sco AS (SELECT vec_id,
           |    floor(list_sum(list_transform(range(1, 17), i -> vv[i] * w[i]))
           |      * 1000000.0 + 0.5) / 1000000.0 AS score
           |  FROM od, va),
           |rk AS (SELECT vec_id, score,
           |    row_number() OVER (ORDER BY score DESC, vec_id) AS rank FROM sco)
           |SELECT vec_id, score, CAST(rank AS BIGINT) AS rank
           |FROM rk WHERE rank <= 8""".stripMargin)))
  )
}
