package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.ExprUtil.bound

/** MinHash + LSH near-duplicate detection:
  * shingle → minhash signature → band → bucket-join → verify.
  *
  * Scale design (the whole point of MinHash at 100 TB):
  *  - signatures are computed per-document with array expressions — narrow,
  *    no shuffle, codegen'd;
  *  - candidate generation shuffles only (band_idx, band_key, id) triples —
  *    bytes per doc ≈ B·(8+16+8), independent of document length;
  *  - the quadratic step (pairing) happens only inside a MinHash bucket,
  *    whose expected size is corpus_dups, not corpus_size; `bucketCap`
  *    guards the adversarial giant-bucket case (drop or sample buckets
  *    larger than the cap — at 100 TB a 10k-doc bucket is a degenerate
  *    near-constant document cluster, not useful signal);
  *  - verification re-joins the two shingle sets only for surviving
  *    candidate pairs (a tiny fraction of the corpus).
  *
  * Two hash families: `xxhash64(shingle)` (native, fast — production path)
  * and md5-based word hashes composed by Rabin-Karp rolling polynomials
  * (the DuckDB-parity path used by the oracle queries; same algebra), both
  * feeding the same affine MinHash family.
  */
object MinHashDedup {

  /** Word k-shingles as an array column (empty array when doc shorter than k). */
  def shingles(text: Column, k: Int): Column =
    bound(split(text, " ")) { ws =>
      when(size(ws) >= k,
        transform(sequence(lit(1), size(ws) - (k - 1)),
          i => array_join(slice(ws, i, lit(k)), " ")))
        .otherwise(array().cast("array<string>"))
    }

  /** Mersenne-prime modulus for the affine hash family. */
  val Mod: Long = 2147483647L

  /** Deterministic affine coefficients (aᵢ, bᵢ) for hash i — plain LCG
    * constants, reproducible in any engine.
    */
  def affineCoeffs(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a = (1664525L * (i + 1) + 1013904223L) % Mod
      val b = (22695477L * (i + 1) + 1L) % Mod
      (if (a == 0) 1L else a, b)
    }

  /** Rolling-polynomial shingle hashes from per-WORD hashes: each word is
    * md5-hashed once and a k-shingle's hash is Σ h(wᵢ)·Aᵏ⁻ⁱ mod M — the
    * Rabin-Karp composition. For k = 3 this cuts md5 calls 3× versus
    * hashing every shingle string (words overlap across shingles), which
    * is the dominant cost of the oracle-parity pipeline. Stepwise mod
    * keeps every term < M so products stay < 2⁶² (no overflow divergence).
    * Empty output when the doc has fewer than k words.
    */
  val PolyA1: Long = 1000003L
  val PolyA2: Long = (PolyA1 * PolyA1) % Mod

  def wordHashes(text: Column): Column =
    transform(split(text, " "), w => graft.functions.Md5Hash60.hash60(w) % Mod)

  private[graft] def powMod(base: Long, e: Int): Long =
    (0 until e).foldLeft(1L)((acc, _) => acc * base % Mod)

  def rollingShingleHashes(wordHashArr: Column, k: Int = 3): Column = {
    val pows = (0 until k).map(j => powMod(PolyA1, k - 1 - j))
    bound(wordHashArr) { wh =>
      val n = size(wh)
      when(n >= k,
        transform(sequence(lit(1), n - (k - 1)), i =>
          pows.zipWithIndex.map { case (p, j) =>
            element_at(wh, i + j) * p % Mod
          }.reduce(_ + _) % Mod))
        .otherwise(array().cast("array<long>"))
    }
  }

  /** Affine MinHash signature over pre-hashed shingles (longs). */
  def signatureFromHashes(hashArr: Column, numHashes: Int): Column =
    bound(hashArr) { hs =>
      array(affineCoeffs(numHashes).map { case (a, b) =>
        array_min(transform(hs, x => (x * a + b) % Mod))
      }: _*)
    }

  /** Explode a signature into (band_idx, band_key) rows: B bands of R rows
    * each; band_key hashes the band's slice of the signature.
    */
  def bands(df: DataFrame, idCol: String, sigCol: String, b: Int, r: Int): DataFrame =
    df.select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(b - 1)),
          i => md5(concat_ws(",", slice(col(sigCol), i * r + lit(1), lit(r)))))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_key")

  /** Candidate pairs: ids sharing any (band_idx, band_key) bucket, id_a <
    * id_b, de-duplicated across bands.
    *
    * Implemented as groupBy + in-array pair expansion rather than a
    * self-join: a self-join evaluates the (expensive) signature lineage
    * once per side, while one aggregation evaluates it once total.
    * `bucketCap` is a PATH SWITCH, not a recall cut: buckets past the cap
    * (a giant near-constant document family — rare because the corpus
    * pipeline exact-dedups first, but real boilerplate at corpus scale)
    * fall back to a distributed self-join on the band key, whose
    * quadratic output streams through the join instead of materializing
    * as one giant per-row array and whose skew AQE splits. No qualifying
    * pair is ever dropped, at any bucket size.
    */
  def candidatePairs(bandRows: DataFrame, idCol: String, bucketCap: Int = 1000): DataFrame = {
    val buckets = bandRows.groupBy("band_idx", "band_key")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .localCheckpoint(false) // two consumers (small/big split) — agg runs once
    val smallPairs = buckets.filter(size(col("ids")) <= bucketCap)
      // no repartition before the expansion here (unlike SimHash/winnowing
      // buckets): minhash band keys are md5-wide, buckets stay near dup
      // mass, so the expansion is small and an extra exchange only adds
      // latency
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))), y =>
          struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
    val bigRows = buckets.filter(size(col("ids")) > bucketCap)
      .select(col("band_idx"), col("band_key"), explode(col("ids")).as("id"))
      .localCheckpoint(false) // both sides of the self-join below
    val bigPairs = bigRows.withColumnRenamed("id", "id_a")
      .join(bigRows.withColumnRenamed("id", "id_b"), Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    smallPairs.unionByName(bigPairs).distinct()
  }

  /** Exact Jaccard over distinct shingle sets for given pairs. */
  def verifyJaccard(pairs: DataFrame, docsWithShingles: DataFrame, idCol: String,
      shingleCol: String): DataFrame = {
    val setsA = docsWithShingles.select(col(idCol).as("id_a"),
      array_distinct(col(shingleCol)).as("sh_a"))
    val setsB = docsWithShingles.select(col(idCol).as("id_b"),
      array_distinct(col(shingleCol)).as("sh_b"))
    pairs.join(setsA, "id_a").join(setsB, "id_b")
      .withColumn("jaccard",
        when(size(array_union(col("sh_a"), col("sh_b"))) > 0,
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))))
          .otherwise(0.0))
      .select("id_a", "id_b", "jaccard")
  }

  /** Full pipeline: near-duplicate pairs with verified Jaccard ≥ threshold.
    *
    * The signed shingle table is consumed three times (band generation and
    * both sides of the verification join), and Catalyst's project
    * collapsing would otherwise inline the signature computation into each
    * consumer (evaluating it once per band). `materialize = true` (default)
    * cuts the lineage with a local checkpoint so shingling + hashing runs
    * exactly once; pass `false` to keep the plan fully lazy (recompute over
    * re-store — the right call when the shingle table is larger than the
    * cluster's scratch space).
    */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 12, numBands: Int = 4,
      threshold: Double = 0.5, oracleParity: Boolean = false,
      materialize: Boolean = true, collapseExactSets: Boolean = true): DataFrame =
    pairsFromSignatures(signatures(docs, idCol, textCol, k, numHashes, oracleParity, materialize),
      idCol, numHashes, numBands, threshold, collapseExactSets)

  /** Exact-set collapse key over the distinct shingle-hash set (same
    * discipline as [[NGramJaccard]] / `TextAnalysis.winnowingPairs`):
    * to_json of the sorted set is an injective encoding, so distinct
    * sets cannot collide into one key. Signatures and pairwise Jaccard
    * are pure functions of the set, so members of one group are
    * interchangeable in every pair — and rep-level banding equals
    * member-level banding (identical signatures share all bands).
    */
  private def setKey(hs: Column): Column = md5(to_json(sort_array(hs)))

  /** Band → bucket → verify over a precomputed signature table — the
    * shared tail of the batch and incremental pipelines (callers that
    * already hold signatures skip re-shingling entirely).
    *
    * Documents with IDENTICAL shingle sets collapse to one representative
    * through banding + verification and expand back to member pairs at
    * the end (intra-group pairs are Jaccard 1.0 by identity). Without
    * this, replica mass — the dominant dup shape in web corpora — pays
    * C(replicas,2) bucket-pair rows per band and a full verification
    * join per replica pair.
    */
  def pairsFromSignatures(sigs: DataFrame, idCol: String,
      numHashes: Int, numBands: Int, threshold: Double,
      /** skip the collapse when the caller KNOWS sets are unique — e.g.
        * [[CorpusPipeline.scrub]] runs exact dedup first, so every group
        * would be a singleton and the collapse pure fixed cost.
        */
      collapseExactSets: Boolean = true): DataFrame = {
    if (!collapseExactSets) {
      val pairs = candidatePairs(bands(sigs, idCol, "sig", numBands, numHashes / numBands), idCol)
      return verifyJaccard(pairs, sigs, idCol, "hs").filter(col("jaccard") >= threshold)
    }
    // no extra checkpoint: sigs is (by default) already lineage-cut, so
    // the two consumers below recompute only the cheap gkey projection
    val keyed = sigs.withColumn("gkey", setKey(col("hs")))
    val members = keyed.select(col("gkey"), col(idCol))
    val reps = keyed.groupBy("gkey")
      .agg(min(col(idCol)).as(idCol), first(col("sig")).as("sig"),
        first(col("hs")).as("hs"))
      .localCheckpoint(false) // bands + both verify sides + expansion map
    val pairs = candidatePairs(bands(reps, idCol, "sig", numBands, numHashes / numBands), idCol)
    val repPairs = verifyJaccard(pairs, reps, idCol, "hs").filter(col("jaccard") >= threshold)
    expandGroupPairs(repPairs, reps.select(col(idCol), col("gkey")), members, idCol, threshold)
  }

  /** Expand representative-level verified pairs back to member pairs:
    * cross-group pairs inherit the representatives' jaccard, intra-group
    * pairs are 1.0 by set identity (emitted only when 1.0 clears the
    * threshold). Cost is the true output size.
    */
  private[llm] def expandGroupPairs(repPairs: DataFrame, repKey: DataFrame,
      members: DataFrame, idCol: String, threshold: Double): DataFrame = {
    val ga = members.select(col("gkey").as("gk_a"), col(idCol).as("id_a"))
    val gb = members.select(col("gkey").as("gk_b"), col(idCol).as("id_b"))
    val crossPairs = repPairs
      .join(repKey.select(col(idCol).as("id_a"), col("gkey").as("gk_a")), "id_a")
      .join(repKey.select(col(idCol).as("id_b"), col("gkey").as("gk_b")), "id_b")
      .drop("id_a", "id_b")
      .join(ga, "gk_a").join(gb, "gk_b")
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
    val intraPairs =
      if (threshold > 1.0) crossPairs.limit(0)
      else ga.join(members.select(col("gkey").as("gk_a"), col(idCol).as("id_b")), "gk_a")
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    crossPairs.unionByName(intraPairs)
  }

  /** The signature table — (id, sig, hs) — the persistable index an
    * incremental dedup pipeline stores between batches (write it as
    * parquet/bucketed; [[incrementalNearDuplicates]] consumes it).
    *
    * Everything downstream runs on hashed shingles (longs): words are
    * md5-hashed ONCE and composed into Rabin-Karp shingle hashes (k×
    * fewer digests than hashing shingle strings), verification uses the
    * distinct hash set (~10× smaller shuffle rows, integer intersects).
    * Hash collisions could in principle perturb a Jaccard, but they are
    * deterministic — the oracle computes the identical hashed-set math.
    */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 12, oracleParity: Boolean = false,
      materialize: Boolean = true): DataFrame = {
    val hsAll =
      if (oracleParity) rollingShingleHashes(wordHashes(col(textCol)), k)
      else transform(shingles(col(textCol), k), s => pmod(xxhash64(s), lit(Mod)))
    // checkpoint the hashed shingles FIRST: project collapsing would
    // otherwise inline this (md5-heavy) expression into each of the 12
    // signature mins, the filter, and the distinct — a ~14× blowup.
    // spread: the per-word digest work otherwise runs at the scan's
    // parallelism (ONE task on single-row-group local files; no-op at scale)
    val baseLazy = graft.ops.Partitioning.spread(
        docs.select(col(idCol), col(textCol)))
      .select(col(idCol), hsAll.as("hsAll"))
      .filter(size(col("hsAll")) > 0)
    val base = if (materialize) baseLazy.localCheckpoint(false) else baseLazy
    val signedLazy = base
      .withColumn("sig", signatureFromHashes(col("hsAll"), numHashes))
      .withColumn("hs", array_distinct(col("hsAll")))
      .drop("hsAll")
    if (materialize) signedLazy.localCheckpoint(false) else signedLazy
  }

  /** Incremental near-dup detection: pairs between a NEW batch and the
    * union of an existing signature store and the batch itself — the
    * daily-crawl shape, where the historical corpus is already deduped so
    * store × store pairs are known-empty and need not be verified.
    *
    * Candidate generation runs over the combined band table (the store
    * side ships only (band, key, id) triples derived from its persisted
    * signatures — no re-shingling of historical text); candidates touching
    * no new id are dropped via id-keyed flag joins before the (more
    * expensive) verification join. Returned pairs therefore always have at
    * least one side in `newDocs`.
    *
    * Re-crawled ids: store rows whose id also appears in the new batch are
    * dropped up front (the batch's fresh signature wins), so an id never
    * pairs with its own stale self.
    */
  def incrementalNearDuplicates(newDocs: DataFrame, storeSigs: DataFrame,
      idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 12, numBands: Int = 4,
      threshold: Double = 0.5, oracleParity: Boolean = false): DataFrame =
    incrementalPairsFromSigs(signatures(newDocs, idCol, textCol, k, numHashes, oracleParity),
      storeSigs, idCol, numHashes, numBands, threshold)

  /** [[incrementalNearDuplicates]] for callers that already computed the
    * batch's signature table (e.g. the streaming stage, which persists the
    * same table) — avoids a second shingling pass over the batch.
    */
  def incrementalPairsFromSigs(newSigs: DataFrame, storeSigs: DataFrame, idCol: String,
      numHashes: Int = 12, numBands: Int = 4, threshold: Double = 0.5): DataFrame = {
    val newIds = newSigs.select(col(idCol).as("__nid")).withColumn("__new", lit(true))
    val storeClean = storeSigs.select(col(idCol), col("sig"), col("hs"))
      .join(newIds.withColumnRenamed("__nid", idCol).drop("__new"), Seq(idCol), "left_anti")
    val all = storeClean.unionByName(newSigs.select(col(idCol), col("sig"), col("hs")))
    // exact-set collapse, as in pairsFromSignatures, but new/store flags
    // live at the MEMBER level: group pairs are generated and verified
    // once, kept when either group holds >= 1 new member, and the final
    // member-pair expansion re-applies the touching-new contract so pure
    // store x store pairs (known-empty: the store is already deduped)
    // never surface even out of mixed groups.
    // all is built from checkpointed signature tables, so the consumers
    // below recompute only the cheap gkey projection — no new checkpoint
    val keyed = all.withColumn("gkey", setKey(col("hs")))
    val flagged = keyed.select(col("gkey"), col(idCol))
      .join(newIds.withColumnRenamed("__nid", idCol), Seq(idCol), "left")
      .select(col("gkey"), col(idCol), coalesce(col("__new"), lit(false)).as("__new"))
      .localCheckpoint(false) // group flags + both expansion sides
    val groupHasNew = flagged.groupBy("gkey").agg(max(col("__new")).as("__gnew"))
    val reps = keyed.groupBy("gkey")
      .agg(min(col(idCol)).as(idCol), first(col("sig")).as("sig"),
        first(col("hs")).as("hs"))
      .localCheckpoint(false)
    val repKey = reps.select(col(idCol), col("gkey"))
    val pairs = candidatePairs(bands(reps, idCol, "sig", numBands, numHashes / numBands), idCol)
    val touchingNew = pairs
      .join(repKey.select(col(idCol).as("id_a"), col("gkey").as("gk_a")), "id_a")
      .join(repKey.select(col(idCol).as("id_b"), col("gkey").as("gk_b")), "id_b")
      .join(groupHasNew.select(col("gkey").as("gk_a"), col("__gnew").as("__gnew_a")), "gk_a")
      .join(groupHasNew.select(col("gkey").as("gk_b"), col("__gnew").as("__gnew_b")), "gk_b")
      .filter(col("__gnew_a") || col("__gnew_b"))
      .select("id_a", "id_b")
    val repPairs = verifyJaccard(touchingNew, reps, idCol, "hs")
      .filter(col("jaccard") >= threshold)
    val fa = flagged.select(col("gkey").as("gk_a"), col(idCol).as("id_a"), col("__new").as("__new_a"))
    val fb = flagged.select(col("gkey").as("gk_b"), col(idCol).as("id_b"), col("__new").as("__new_b"))
    val crossPairs = repPairs
      .join(repKey.select(col(idCol).as("id_a"), col("gkey").as("gk_a")), "id_a")
      .join(repKey.select(col(idCol).as("id_b"), col("gkey").as("gk_b")), "id_b")
      .drop("id_a", "id_b")
      .join(fa, "gk_a").join(fb, "gk_b")
      .filter(col("__new_a") || col("__new_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
    val intraPairs =
      if (threshold > 1.0) crossPairs.limit(0)
      else fa.join(
          flagged.select(col("gkey").as("gk_a"), col(idCol).as("id_b"), col("__new").as("__new_b")),
          "gk_a")
        .filter(col("id_a") < col("id_b"))
        .filter(col("__new_a") || col("__new_b"))
        .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    crossPairs.unionByName(intraPairs)
  }
}
