package graft.llm

import graft.SparkSpec

class CooccurrenceSpec extends SparkSpec {
  import spark.implicits._

  private def pmi(docs: Seq[(Long, String)], window: Int, minCount: Long = 1L)
      : Map[(String, String), (Long, Double)] =
    Cooccurrence.pmiPairs(docs.toDF("doc_id", "text"), "doc_id", "text",
        window, minCount)
      .as[(String, String, Long, Double)].collect()
      .map { case (a, b, c, p) => (a, b) -> (c, p) }.toMap

  test("hand-computed PMI on a three-token doc") {
    // T=3, P=3 pairs each once, every unigram count 1:
    // pmi = ln(1·3·3 / (3·1·1)) = ln 3 for all three pairs
    val r = pmi(Seq((1L, "a b c")), window = 2)
    assert(r.keySet === Set(("a", "b"), ("a", "c"), ("b", "c")))
    r.values.foreach { case (c, p) =>
      assert(c === 1L && math.abs(p - math.log(3.0)) < 1e-12)
    }
  }

  test("window=1 yields adjacent pairs only") {
    val r = pmi(Seq((1L, "a b c d")), window = 1)
    assert(r.keySet === Set(("a", "b"), ("b", "c"), ("c", "d")))
  }

  test("pairs are unordered-canonical and repeats accumulate") {
    // "b a b": (b,a) (b,b) (a,b) → (a,b)×2, (b,b)×1
    val r = pmi(Seq((1L, "b a b")), window = 2)
    assert(r(("a", "b"))._1 === 2L)
    assert(r(("b", "b"))._1 === 1L)
  }

  test("minPairCount prunes the tail") {
    val r = pmi(Seq((1L, "a b a b a b"), (2L, "c d")), window = 1, minCount = 2L)
    assert(!r.keySet.exists(_ == ("c", "d")))
    assert(r.keySet.contains(("a", "b")))
  }

  test("single-token docs count toward token mass but generate no pairs") {
    // corpus "a b" + "a": T=3, P=1; C(a)=2, C(b)=1 →
    // pmi(a,b) = ln(1·3·3 / (1·2·1)) = ln 4.5
    val r = pmi(Seq((1L, "a b"), (2L, "a")), window = 3)
    assert(r.keySet === Set(("a", "b")))
    assert(math.abs(r(("a", "b"))._2 - math.log(4.5)) < 1e-12)
  }

  test("negative PMI for anti-associated tokens") {
    // "a" and "d" co-occur once but both are frequent elsewhere
    val docs = Seq((1L, "a d"), (2L, "a a a a"), (3L, "d d d d"))
    val r = pmi(docs, window = 1)
    assert(r(("a", "d"))._2 < 0.0, r.toString)
  }

  test("partitioning-independent") {
    val docs = (1L to 40L).map(i => (i, s"w${i % 5} w${i % 7} w${i % 5} w${i % 3}"))
    val a = Cooccurrence.pmiPairs(docs.toDF("doc_id", "text").repartition(1),
      "doc_id", "text", 2, 1L).as[(String, String, Long, Double)].collect().toSet
    val b = Cooccurrence.pmiPairs(docs.toDF("doc_id", "text").repartition(13),
      "doc_id", "text", 2, 1L).as[(String, String, Long, Double)].collect().toSet
    assert(a === b)
  }

  test("textrank: the word adjacent to everything outranks the periphery") {
    // star: "hubword" sits next to a different satellite in every doc
    val docs = (1L to 6L).map(i => (i, s"hubword satellite$i"))
    val r = Cooccurrence.textRankKeywords(docs.toDF("doc_id", "text"),
      "doc_id", "text", minLen = 4, iterations = 5, topK = 3)
      .as[(String, Long)].collect()
    assert(r.head._1 === "hubword")
    assert(r.head._2 > r(1)._2)
  }

  test("textrank: short tokens are excluded; ranking is deterministic") {
    val docs = Seq((1L, "aa neural network bb"), (2L, "neural network training"))
    val r = Cooccurrence.textRankKeywords(docs.toDF("doc_id", "text"),
      "doc_id", "text", minLen = 4, iterations = 5, topK = 10)
      .as[(String, Long)].collect()
    assert(!r.exists(x => x._1 == "aa" || x._1 == "bb"))
    assert(r.map(_._1).toSet === Set("neural", "network", "training"))
    // symmetric star around "network": it carries the most rank
    assert(r.head._1 === "network")
  }

  test("textrank: partitioning-invariant, topK cut is (pr, word)-stable") {
    val docs = (1L to 60L).map(i =>
      (i, s"word${i % 7} word${(i + 1) % 7} word${(i * 3) % 11} word${i % 5}"))
    def run(parts: Int) =
      Cooccurrence.textRankKeywords(docs.toDF("doc_id", "text").repartition(parts),
        "doc_id", "text", 4, 5, 8)
        .as[(String, Long)].collect().toSeq
    assert(run(1) === run(13))
  }
}
