package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  // 1↔2 near-dup (one word changed), 3 unrelated, 4↔5 exact dup
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy cat near the river bank today"),
    (3L, "completely unrelated content about database systems and query engines"),
    (4L, "spark flink trino duckdb engines compared on shuffle and scan speed"),
    (5L, "spark flink trino duckdb engines compared on shuffle and scan speed")
  ).toDF("doc_id", "text")

  test("minhash (xxhash64 path) finds the near-dup and exact-dup pairs only") {
    val pairs = MinHashDedup.nearDuplicates(docs, "doc_id", "text",
        k = 3, numHashes = 12, numBands = 6, threshold = 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((4L, 5L)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash md5 path agrees with xx path on verified pairs") {
    val xx = MinHashDedup.nearDuplicates(docs, "doc_id", "text", numBands = 6, threshold = 0.4)
      .select("id_a", "id_b", "jaccard").collect().toSet
    val md = MinHashDedup.nearDuplicates(docs, "doc_id", "text", numBands = 6, threshold = 0.4,
      oracleParity = true).select("id_a", "id_b", "jaccard").collect().toSet
    // verified jaccard is exact set math — identical whatever hash found the pair
    assert(xx.map(r => (r.getLong(0), r.getLong(1))) === md.map(r => (r.getLong(0), r.getLong(1))))
  }

  test("minhash exact-set collapse equals the uncollapsed path on a replica corpus") {
    // 3 replicas of doc 1's text plus the base fixture: the collapse runs
    // banding/verify once per distinct set and must expand back to the
    // identical pair table (values included) as the uncollapsed run
    val replicated = docs.unionByName(Seq(
      (6L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (7L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (8L, "the quick brown fox jumps over the lazy dog near the river bank today")
    ).toDF("doc_id", "text"))
    def run(collapse: Boolean) =
      MinHashDedup.nearDuplicates(replicated, "doc_id", "text",
          k = 3, numHashes = 12, numBands = 6, threshold = 0.4,
          collapseExactSets = collapse)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val collapsed = run(true)
    assert(collapsed === run(false))
    // replica clique fully present at jaccard 1.0
    for (a <- Seq(1L, 6L, 7L); b <- Seq(6L, 7L, 8L) if a < b)
      assert(collapsed((a, b)) === 1.0)
  }

  test("incremental dedup against a persisted signature store equals batch recompute") {
    // store = docs 1-3 (already deduped history); new batch = 6 (near-dup
    // of 1), 7 (unrelated), 8↔9 (exact dups of each other, within-batch)
    val store = docs.filter(col("doc_id") <= 3)
    val batch = Seq(
      (6L, "the quick brown fox jumps over the lazy dog near the river bank now"),
      (7L, "entirely fresh material mentioning optimizers and columnar formats"),
      (8L, "identical twin sentence appearing twice in the very same batch here"),
      (9L, "identical twin sentence appearing twice in the very same batch here")
    ).toDF("doc_id", "text")
    // round-trip the store through parquet — the persistence path a daily
    // pipeline actually uses
    val dir = java.nio.file.Files.createTempDirectory("sigstore").toString
    MinHashDedup.signatures(store, "doc_id", "text").write.mode("overwrite").parquet(dir)
    val storeSigs = spark.read.parquet(dir)
    val inc = MinHashDedup.incrementalNearDuplicates(batch, storeSigs, "doc_id", "text",
        numBands = 6, threshold = 0.4)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // batch recompute over history ∪ batch, restricted to pairs touching
    // the new ids — must be identical, jaccards included
    val newIds = Set(6L, 7L, 8L, 9L)
    val full = MinHashDedup.nearDuplicates(
        store.unionByName(batch), "doc_id", "text", numBands = 6, threshold = 0.4)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      .filter { case ((a, b), _) => newIds(a) || newIds(b) }
    assert(inc === full)
    // and the fixture exercises both shapes: store×new and new×new pairs
    assert(inc.keySet.contains((8L, 9L)))
    assert(inc.keySet.exists { case (a, b) => a <= 3L || b <= 3L })
    // no store×store pair ever surfaces
    assert(!inc.keySet.exists { case (a, b) => a <= 3L && b <= 3L })
  }

  test("incremental dedup with a re-crawled id: no self-pairs, batch signature wins") {
    // id 2 exists in the store AND re-appears in the batch with edited
    // text; the stale store row must be ignored — no (2,2) pair, and 2's
    // pairs reflect the NEW text (near-dup of 1), not the old
    val store = MinHashDedup.signatures(docs.filter(col("doc_id") <= 3), "doc_id", "text")
    val batch = Seq(
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (7L, "entirely fresh material mentioning optimizers and columnar formats")
    ).toDF("doc_id", "text")
    val inc = MinHashDedup.incrementalNearDuplicates(batch, store, "doc_id", "text",
        numBands = 6, threshold = 0.4)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(!inc.keySet.exists { case (a, b) => a == b }, s"self-pair leaked: $inc")
    // batch text of 2 is exactly doc 1's text → jaccard 1.0 (old text was
    // the 'cat' variant, which would verify strictly below 1.0)
    assert(inc.get((1L, 2L)).contains(1.0), s"got $inc")
    assert(inc.size === 1)
  }

  test("simhash: buckets past the cap fall back to the join path with identical pairs") {
    // 12 signatures whose first band is identical → one 12-member bucket;
    // with bucketCap=4 that bucket must route through the self-join path
    // and still produce every qualifying pair (full recall), identically
    // to an uncapped run
    val sigs = (1L to 12L).map { i =>
      val tail = ("%024d".format(0) + i.toBinaryString).takeRight(24)
      (i, "10101010" + tail) // shared band 0 (8 bits), distinct tails
    }.toDF("doc_id", "sig")
    def pairs(cap: Int) = SimHashDedup.nearDuplicatesFromSigs(sigs, "doc_id",
        bits = 32, maxDist = 3, bucketCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val capped = pairs(4)
    val uncapped = pairs(1000)
    assert(capped === uncapped)
    // sanity: hamming(1,3) = popcount(01 xor 11) = 1 ⇒ the pair exists
    assert(capped.contains((1L, 3L)))
    assert(capped.nonEmpty)

    // prove the capped run's pairs came from the DISTRIBUTED JOIN path,
    // not the in-array path: reconstruct the banding independently (4
    // bands of 8 bits at maxDist=3) and check every multi-member bucket
    // exceeds the cap — the in-array branch (size <= cap) therefore saw
    // zero buckets and contributed zero pairs, so full recall above was
    // delivered entirely by the self-join branch
    val sigStrings = sigs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val bucketSizes = (0 until 4).flatMap { b =>
      sigStrings.values.groupBy(_.substring(b * 8, (b + 1) * 8)).values.map(_.size)
    }.filter(_ >= 2)
    assert(bucketSizes.nonEmpty && bucketSizes.forall(_ > 4),
      s"fixture must route every pair-producing bucket past the cap, got $bucketSizes")
  }

  test("minhash candidate buckets past the cap fall back to the join path") {
    val bandRows = (1L to 10L).map(i => (0, "k", i)).toDF("band_idx", "band_key", "doc_id")
    val got = MinHashDedup.candidatePairs(bandRows, "doc_id", bucketCap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for { a <- 1L to 10L; b <- a + 1 to 10L } yield (a, b)).toSet
    assert(got === want)
  }


  test("containment: superset dup found directionally, brute-force equal, jaccard misses it") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // 2 = doc 1 plus a page of extra text: containment(1->2) = 1, J small
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod " +
        "tempor incididunt ut labore et dolore magna aliqua ut enim ad minim"),
      (3L, "totally different words about engines and shuffles and scans here"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val got = NGramJaccard.containmentPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.7, minGrams = 5)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // brute-force reference over distinct 3-gram sets
    def grams(s: String): Set[String] =
      s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val texts = Map(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod " +
        "tempor incididunt ut labore et dolore magna aliqua ut enim ad minim"),
      3L -> "totally different words about engines and shuffles and scans here",
      4L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    val ref = (for {
      a <- texts.keys; b <- texts.keys if a != b
      ga = grams(texts(a)); gb = grams(texts(b))
      if ga.size >= 5 && gb.size >= 5
      c = ga.intersect(gb).size.toDouble / ga.size if c >= 0.7
    } yield (a, b) -> c).toMap
    assert(got === ref)
    // the asymmetric case: 1 contained in 2, NOT 2 in 1; exact dup both ways
    assert(got.contains((1L, 2L)) && got((1L, 2L)) === 1.0)
    assert(!got.contains((2L, 1L)))
    assert(got((1L, 4L)) === 1.0 && got((4L, 1L)) === 1.0)
    // symmetric jaccard at the same threshold misses the superset pair
    val jac = NGramJaccard.similarPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.7)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(!jac.contains((1L, 2L)) && !jac.contains((2L, 1L)))
  }

  test("shingles: empty below k, correct count at k") {
    val sh = docs.select(MinHashDedup.shingles(lit("a b"), 3).as("s")).head()
      .getAs[scala.collection.Seq[String]]("s")
    assert(sh.isEmpty)
    val sh2 = docs.limit(1).select(MinHashDedup.shingles(lit("a b c d"), 3).as("s")).head()
      .getAs[scala.collection.Seq[String]]("s")
    assert(sh2.toSeq === Seq("a b c", "b c d"))
  }

  test("simhash: exact dups identical, near-dups within small hamming, unrelated far") {
    val sigs = docs.select(col("doc_id"), SimHashDedup.signature(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(sigs(4L) === sigs(5L))
    assert(ham(sigs(1L), sigs(2L)) <= 6)
    assert(ham(sigs(1L), sigs(3L)) > 6)
  }

  test("simhash nearDuplicates pipeline returns the dup pairs") {
    val pairs = SimHashDedup.nearDuplicates(docs, "doc_id", "text", maxDist = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((4L, 5L)))
  }

  test("simhash 60-bit family: sha-derived width, exact-dup identity, pipeline = brute force") {
    // the wide (sha2-256-digit) family the scaled near-dup path runs on:
    // 15-bit bands instead of 8-bit, so bucket occupancy at corpus size N
    // is N/32k not N/256 — this pins its semantics, not its speed
    val sigs = docs.select(col("doc_id"), SimHashDedup.signature(col("text"), 60).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs.values.forall(s => s.length === 60 && s.forall(c => c == '0' || c == '1')))
    assert(sigs(4L) === sigs(5L))
    // md5 and sha families must genuinely differ (width aside): same text,
    // different digest → different bit pattern in the shared 32-bit prefix
    val sigs32 = docs.select(col("doc_id"), SimHashDedup.signature(col("text"), 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs(1L).take(32) !== sigs32(1L))
    // full pipeline at bits=60 ≡ brute-force all-pairs hamming ≤ maxDist
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }.toLong
    val want = (for {
      (ia, sa) <- sigs.toSeq; (ib, sb) <- sigs.toSeq
      if ia < ib && ham(sa, sb) <= 6
    } yield (ia, ib) -> ham(sa, sb)).toMap
    val got = SimHashDedup.nearDuplicates(docs, "doc_id", "text", bits = 60, maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === want)
    assert(got.contains((4L, 5L)) && got((4L, 5L)) === 0L)
  }

  test("simhash banding recall: diffs split across bands are still found (pigeonhole)") {
    // 8-bit sigs, maxDist=3 → 4 bands of 2 bits. Flip 3 bits spread over 3
    // DIFFERENT bands (positions 1, 3, 5) — the old two-half banding missed
    // any pair whose diffs touched both halves; pigeonhole banding must
    // find it because band 4 (bits 7-8) is untouched.
    val sigs = Seq(
      (1L, "00000000"),
      (2L, "10101000"), // hamming 3 vs id 1, diffs in bands 1,2,3
      (3L, "11111111")  // hamming 8 vs id 1 — beyond maxDist, must be absent
    ).toDF("doc_id", "sig")
    val pairs = SimHashDedup.nearDuplicatesFromSigs(sigs, "doc_id", bits = 8, maxDist = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "pair with diffs split across bands was missed")
    assert(!pairs.contains((1L, 3L)))
  }

  test("ngram jaccard prefix filtering: result equals brute force on a common-gram corpus") {
    // 30 docs sharing a heavy common phrase (the posting list prefix
    // filtering must eject) plus distinct tails of varying length, so
    // prefix lengths differ across the pair and exercise the
    // |g|−⌈t·|g|⌉+1 math on mixed sizes
    val base = (1L to 30L).map { i =>
      val common = "alpha beta gamma delta epsilon zeta"
      val tail = (0 until (i % 5).toInt + 1).map(j => s"w${i / 3}_$j").mkString(" ")
      (i, s"$common $tail")
    }
    // exact replicas exercise the gram-set collapse/expand path: 41/42
    // duplicate doc 1, 55 duplicates doc 5
    val corpus = (base ++ Seq((41L, base(0)._2), (42L, base(0)._2), (55L, base(4)._2)))
      .toDF("doc_id", "text")
    val t = 0.5
    val got = NGramJaccard.similarPairs(corpus, "doc_id", "text",
        n = 3, bucketWidth = 8, threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute force: same-bucket all pairs, exact distinct-3-gram jaccard
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    def grams(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    def bucket(s: String) = s.split(" ").length / 8
    val want = (for {
      (ia, ta) <- rows; (ib, tb) <- rows
      if ia < ib && bucket(ta) == bucket(tb)
      ga = grams(ta); gb = grams(tb)
      j = if ((ga ++ gb).isEmpty) 0.0 else (ga & gb).size.toDouble / (ga ++ gb).size
      if j >= t
    } yield (ia, ib) -> j).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-12) }
    assert(want.nonEmpty, "fixture produced no qualifying pairs — test is vacuous")
  }

  test("similarity join: R x S result equals brute force, no same-side pairs") {
    // left: two docs; right: a near-dup of left 1, an exact dup of left 2,
    // an unrelated doc; plus a short doc that survives the length filter
    val leftDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (20L, "spark flink trino duckdb engines compared on shuffle and scan speed")
    ).toDF("doc_id", "text")
    val rightDocs = Seq(
      (11L, "the quick brown fox jumps over the lazy cat near the river bank today"),
      (21L, "spark flink trino duckdb engines compared on shuffle and scan speed"),
      (31L, "completely unrelated content about database systems and query engines")
    ).toDF("doc_id", "text")
    val got = NGramJaccard.similarityJoin(leftDocs, "doc_id", "text",
        rightDocs, "doc_id", "text", n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute force over the full cross product
    def grams(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val lg = Map(10L -> grams("the quick brown fox jumps over the lazy dog near the river bank today"),
      20L -> grams("spark flink trino duckdb engines compared on shuffle and scan speed"))
    val rg = Map(11L -> grams("the quick brown fox jumps over the lazy cat near the river bank today"),
      21L -> grams("spark flink trino duckdb engines compared on shuffle and scan speed"),
      31L -> grams("completely unrelated content about database systems and query engines"))
    val expected = (for {
      (a, ga) <- lg; (b, gb) <- rg
      j = ga.intersect(gb).size.toDouble / ga.union(gb).size
      if j >= 0.3
    } yield (a, b) -> j).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-9, s"$k") }
    assert(got((20L, 21L)) === 1.0)
  }

  test("ngram jaccard: exact dup = 1.0, near-dup high, bucket blocks unrelated pairs") {
    val pairs = NGramJaccard.similarPairs(docs, "doc_id", "text", n = 2, bucketWidth = 8,
        threshold = 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((4L, 5L)) === 1.0)
    assert(pairs((1L, 2L)) > 0.5)
  }
}
