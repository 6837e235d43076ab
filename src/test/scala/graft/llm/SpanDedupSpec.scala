package graft.llm

import graft.SparkSpec

class SpanDedupSpec extends SparkSpec {
  import spark.implicits._

  // doc 1 and doc 2 share the 5-token span "alpha beta gamma delta epsilon";
  // doc 3 is disjoint; doc 4 repeats doc 1's span a second time WITHIN itself
  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon one two three four five"),
    (2L, "six seven alpha beta gamma delta epsilon eight nine ten"),
    (3L, "completely different words with no shared span at all here"),
    (4L, "alpha beta gamma delta epsilon pad alpha beta gamma delta epsilon tail")
  ).toDF("doc_id", "text")

  test("dupSpanStats: cross-document spans counted, disjoint doc reports zero") {
    val m = SpanDedup.dupSpanStats(docs, "doc_id", "text", k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // doc 1: exactly the one shared window, covering tokens 1..5 of 10
    assert(m(1L) === ((1L, 5L, 0.5)))
    // doc 2: same window at positions 3..7
    assert(m(2L)._1 === 1L && m(2L)._2 === 5L)
    // doc 3: nothing shared
    assert(m(3L) === ((0L, 0L, 0.0)))
    // doc 4: the span occurs twice (starts 1 and 7) → 2 windows, 10 tokens
    assert(m(4L)._1 === 2L && m(4L)._2 === 10L)
  }

  test("dupSpanStats: minDocs above the corpus replication yields no spans") {
    val m = SpanDedup.dupSpanStats(docs, "doc_id", "text", k = 5, minDocs = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(m.values.forall(_ === 0L))
  }

  test("scrubRepeatedSpans: keep-first removes later occurrences only") {
    val m = SpanDedup.scrubRepeatedSpans(docs, "doc_id", "text", k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 holds the globally first occurrence → untouched
    assert(m(1L) === ((10L, 0L, "alpha beta gamma delta epsilon one two three four five")))
    // doc 2 loses exactly the shared 5 tokens, surrounding text kept
    assert(m(2L) === ((5L, 5L, "six seven eight nine ten")))
    // doc 3 untouched
    assert(m(3L)._2 === 0L)
    // doc 4: both of its occurrences are later than doc 1's → both removed
    assert(m(4L) === ((2L, 10L, "pad tail")))
  }

  test("scrubRepeatedSpans: repeated span surviving corpus-wide exactly once") {
    val out = SpanDedup.scrubRepeatedSpans(docs, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val occurrences = out.values.map(
      t => "alpha beta gamma delta epsilon".r.findAllIn(t).length).sum
    assert(occurrences === 1)
  }

  test("incrementalScrub: sequential batches equal one batch scrub of the union") {
    // batch ids monotone across batches → arrival order = (doc_id, start)
    // order, so the incremental keep-first must equal the batch operator
    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon one two three four five"),
      (2L, "six seven alpha beta gamma delta epsilon eight nine ten")).toDF("doc_id", "text")
    val b2 = Seq(
      (3L, "fresh unrelated content alpha beta gamma delta epsilon trailing words"),
      (4L, "six seven alpha beta gamma delta epsilon eight nine ten")).toDF("doc_id", "text")
    val empty = spark.range(0).selectExpr("id AS h").filter("false")
    val (s1, h1) = SpanDedup.incrementalScrub(b1, empty, "doc_id", "text", k = 5)
    val (s2, _) = SpanDedup.incrementalScrub(b2, h1, "doc_id", "text", k = 5)
    val streamed = s1.unionByName(s2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val batch = SpanDedup.scrubRepeatedSpans(b1.unionByName(b2), "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(streamed === batch)
    // and the store precedence is visible: doc 4 (a replay of doc 2's
    // text arriving later) is scrubbed to nothing shared
    assert(streamed(4L)._3 === "")
  }

  test("lmScore: add-k bigram probabilities match a hand computation") {
    val tiny = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val m = TextAnalysis.lmScore(tiny, "doc_id", "text", addK = 0.5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toList
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // corpus: tokens a,b,a,b,a,b,c → C(a)=3, C(b)=3, C(c)=1, V=3
    // bigrams: (a,b)x3, (b,a)x1, (b,c)x1
    val V = 3.0
    def p(cbw: Double, cprev: Double) = math.log((cbw + 0.5) / (cprev + 0.5 * V))
    val d1 = (p(3, 3) + p(1, 3) + p(3, 3)) / 3 // a→b, b→a, a→b
    val d2 = (p(3, 3) + p(1, 3)) / 2 // a→b, b→c
    assert(m(1L)._1 === 4 && m(1L)._2 === 3L)
    assert(math.abs(m(1L)._3.get - d1) < 1e-12)
    assert(m(2L)._1 === 3 && m(2L)._2 === 2L)
    assert(math.abs(m(2L)._3.get - d2) < 1e-12)
  }

  test("lmScore: sub-2-token documents score null, counted rows complete") {
    val tiny = Seq((1L, "solo"), (2L, "two words")).toDF("doc_id", "text")
    val rows = TextAnalysis.lmScore(tiny, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.isNullAt(3)))).toMap
    assert(rows(1L) === ((0L, true)))
    assert(rows(2L)._1 === 1L && !rows(2L)._2)
  }
}
