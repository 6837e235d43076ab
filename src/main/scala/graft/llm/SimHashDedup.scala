package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.ExprUtil.bound

/** SimHash near-duplicate fingerprints.
  *
  * Each token hashes to `bits` bits; the signature's bit j is the sign of
  * Σ_tokens (±1) where +1 iff the token's hash has bit j set. Documents
  * differing in a few tokens differ in a few signature bits, so hamming
  * distance ≤ d finds near-dups in O(1) signature space instead of
  * O(doc length).
  *
  * Cross-engine determinism: token bit j is derived from the j-th hex digit
  * of md5(token) (digit ≥ '8' ⇒ bit set), so the identical signature is
  * computable in any engine with md5 — this is the oracle-parity choice;
  * a production variant would use xxhash64 bit tests. The whole signature
  * is a per-row array expression: narrow, no shuffle, no UDF.
  */
object SimHashDedup {

  /** Signature as a `bits`-character '0'/'1' string. Bit j set ⇔ #tokens
    * whose hash hex digit j ≥ '8' exceeds half. Digit material is md5 for
    * bits ≤ 32 (the historical family) and sha2-256 (64 hex digits) above —
    * the WIDTH is the scale lever: pigeonhole banding over `bits` gives
    * maxDist+1 bands of bits/(maxDist+1) bits each, and band-bucket
    * occupancy at corpus size N is N / 2^(band width). 32-bit signatures
    * (8-bit bands, 256 buckets) saturate around 10⁴ docs and candidate
    * pairs grow quadratically from there; 60-bit signatures (15-bit bands,
    * 32k buckets) push that two orders of magnitude out. Caught by the
    * sf1 bench section: q_simhash_neardup at 32 bits was 66× wall-clock
    * for 10× docs.
    */
  def signature(text: Column, bits: Int = 32): Column = {
    require(bits >= 1 && bits <= 63,
      "sha2-256 provides 64 hex digit positions; ≥64 would also overflow " +
        "the signed-long signature packing in nearDuplicatesFromSigs")
    val digest: Column => Column = if (bits <= 32) md5 else (t => sha2(t, 256))
    bound(transform(split(text, " "), t => digest(t))) { hashes =>
      val n = size(hashes)
      val bitChars = (1 to bits).map { j =>
        // (#set) * 2 > n  ⇔  Σ(±1) > 0
        when(size(filter(hashes, h => substring(h, j, 1) >= "8")) * 2 > n, lit("1"))
          .otherwise(lit("0"))
      }
      concat(bitChars: _*)
    }
  }

  /** Near-duplicate pairs: band the signature into maxDist+1 contiguous
    * segments — by pigeonhole, a pair within hamming ≤ maxDist has its ≤
    * maxDist differing bits spread over at most maxDist bands, so at least
    * one band matches exactly (full recall, no missed pairs). Candidates
    * sharing a band are verified on full hamming. Same shuffle shape as
    * MinHash LSH: only (band, id, sig) rows move.
    */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 32, maxDist: Int = 3, bucketCap: Int = 1000): DataFrame = {
    // spread under-partitioned scans so per-doc signing parallelizes
    val numParts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val spread = if (docs.inputFiles.length < numParts) docs.repartition(numParts) else docs
    nearDuplicatesFromSigs(
      spread.select(col(idCol), signature(col(textCol), bits).as("sig")),
      idCol, bits, maxDist, bucketCap)
  }

  /** Same pipeline over precomputed signatures (`sig` column of `bits`-char
    * '0'/'1' strings) — the banding/verify stage isolated for reuse and for
    * direct recall testing.
    */
  def nearDuplicatesFromSigs(signed: DataFrame, idCol: String,
      bits: Int = 32, maxDist: Int = 3, bucketCap: Int = 1000,
      /** Exact-signature collapse (the SimHash form of the exact-set
        * collapse used by MinHash / n-gram Jaccard / winnowing): docs
        * with the IDENTICAL signature are hamming-0 pairs by identity
        * and interchangeable in every cross pair, so banding + pairwise
        * hamming run once per distinct signature and expand after.
        * Replica corpora otherwise pay C(replicas,2) per band bucket.
        */
      collapseExactSigs: Boolean = true): DataFrame = {
    if (collapseExactSigs) {
      // the signature string IS the group key; cut lineage so the
      // (md5/sha2-per-token) signing runs once, not once per consumer
      val mat = signed.select(col(idCol), col("sig")).localCheckpoint(false)
      val reps = mat.groupBy("sig").agg(min(col(idCol)).as(idCol))
      val repPairs = nearDuplicatesFromSigs(reps, idCol, bits, maxDist, bucketCap,
        collapseExactSigs = false)
      val repKey = reps.select(col(idCol), col("sig"))
      val ma = mat.select(col("sig").as("sig_a"), col(idCol).as("id_a"))
      val mb = mat.select(col("sig").as("sig_b"), col(idCol).as("id_b"))
      val crossPairs = repPairs
        .join(repKey.select(col(idCol).as("id_a"), col("sig").as("sig_a")), "id_a")
        .join(repKey.select(col(idCol).as("id_b"), col("sig").as("sig_b")), "id_b")
        .drop("id_a", "id_b")
        .join(ma, "sig_a").join(mb, "sig_b")
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"), col("hamming"))
      val intraPairs = ma
        .join(mat.select(col("sig").as("sig_a"), col(idCol).as("id_b")), "sig_a")
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), lit(0L).as("hamming"))
      return crossPairs.unionByName(intraPairs)
    }
    val numBands = maxDist + 1
    require(numBands <= bits,
      s"need maxDist+1 = $numBands bands over $bits bits for the pigeonhole guarantee")
    require(bits <= 63,
      s"signatures are packed into a signed long for XOR/popcount hamming; " +
        s"$bits bits would overflow the cast and silently null out pairs")
    // split as evenly as possible: band b covers [b*bits/B, (b+1)*bits/B)
    val segments = (0 until numBands).map { b =>
      val start = b * bits / numBands
      val len = (b + 1) * bits / numBands - start
      substring(col("sig"), start + 1, len)
    }
    // signature packed into a long so pairwise hamming is one XOR +
    // popcount instead of `bits` substring compares per candidate pair
    val sigBits = conv(col("sig"), 2, 10).cast("long")
    val banded = signed.select(col(idCol), col("sig"),
        posexplode(array(segments: _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_key")
    // one aggregation instead of a self-join: signatures ride along in the
    // collected struct, so hamming is computed in-array with no second
    // evaluation of the signature lineage and no join at all; the ≤maxDist
    // filter runs INSIDE the array, before the explode, so non-matching
    // candidates never reach the distinct's shuffle.
    //
    // bucketCap is a PATH SWITCH, not a recall cut: buckets up to the cap
    // expand in-array (cheapest — one row per bucket); larger buckets
    // (corpus-wide boilerplate signatures) take a distributed self-join on
    // the band key, whose quadratic output streams through the join
    // instead of materializing as one giant per-row array, and whose skew
    // AQE splits. Either way every qualifying pair is produced — the
    // pigeonhole full-recall guarantee survives degenerate buckets.
    val buckets = banded.groupBy("band_idx", "band_key")
      .agg(sort_array(collect_list(struct(col(idCol).as("id"), sigBits.as("sb")))).as("ms"))
      .filter(size(col("ms")) >= 2)
      .localCheckpoint(false) // two consumers (small/big split) — agg runs once
    val smallPairs = buckets.filter(size(col("ms")) <= bucketCap)
      // explicit-count repartition before the quadratic in-bucket step:
      // AQE's byte-based coalescing would otherwise run the C(bucket,2)
      // expansion on one core (the bucket table is small, its expansion
      // is not); an explicit count survives AQE
      .repartition(signed.sparkSession.sessionState.conf.numShufflePartitions)
      .select(explode(filter(flatten(transform(col("ms"), (x, i) =>
          transform(slice(col("ms"), i + lit(2), size(col("ms"))), y =>
            struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
              bit_count(x.getField("sb").bitwiseXOR(y.getField("sb"))).cast("long").as("hamming"))))),
        s => s.getField("hamming") <= maxDist)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), col("p.hamming").as("hamming"))
    val bigRows = buckets.filter(size(col("ms")) > bucketCap)
      .select(col("band_idx"), col("band_key"), explode(col("ms")).as("m"))
      .select(col("band_idx"), col("band_key"), col("m.id").as("id"), col("m.sb").as("sb"))
      .localCheckpoint(false) // both sides of the self-join below
    val bigPairs = bigRows.select(col("band_idx"), col("band_key"),
        col("id").as("id_a"), col("sb").as("sb_a"))
      .join(bigRows.select(col("band_idx"), col("band_key"),
        col("id").as("id_b"), col("sb").as("sb_b")), Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sb_a").bitwiseXOR(col("sb_b"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
    smallPairs.unionByName(bigPairs).distinct()
  }
}
