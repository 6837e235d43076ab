package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "le chat est sur le tapis et la table"),
    (3L, "xyzzy plugh"),
    (4L, "a b? c3 d-4 e")
  ).toDF("doc_id", "text")

  test("token counts: whitespace and BPE-ish") {
    val r = docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.regexTokenCount(col("text")).as("nb")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(r(1L)._1 === 6L)
    // "a b? c3 d-4 e" → a, b, ?, c, 3, d, -, 4, e = 9 BPE-ish tokens
    assert(r(4L)._2 === 9L)
  }

  test("stopword ratio and quality bounded in [0,1]") {
    val en = TextAnalysis.langStopwords.head._2
    val r = docs.select(
      TextAnalysis.stopwordRatio(col("text"), en).as("sr"),
      TextAnalysis.qualityScore(col("text"), en).as("q")).collect()
    r.foreach { row =>
      assert(row.getDouble(0) >= 0 && row.getDouble(0) <= 1)
      assert(row.getDouble(1) >= 0 && row.getDouble(1) <= 1)
    }
  }

  test("language ID picks the language whose stopwords dominate") {
    val r = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r(1L) === "en")
    assert(r(2L) === "fr")
    // no stopword hits anywhere → all counts 0 → first language in table order
    assert(r(3L) === "en")
  }

  test("fingerprint folds case and whitespace, preserves content") {
    val fps = Seq("The  Cat", "the cat", "the dog").toDF("t")
      .select(TextAnalysis.fingerprint(col("t")).as("f")).collect().map(_.getString(0))
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("PII scan counts and redaction replace every match, clean text untouched") {
    val rows = Seq(
      (1L, "mail alice.smith+x@corp.example.com and bob@sub.domain.org now"),
      (2L, "server at 10.0.255.3 called +4915512345678 twice"),
      (3L, "plain text with no identifiers at all")
    ).toDF("doc_id", "text")
    val r = rows.select(col("doc_id"), TextAnalysis.piiSignals(col("text")).as("p"),
        TextAnalysis.redactPii(col("text")).as("red")).collect()
      .map(x => x.getLong(0) -> (x.getStruct(1), x.getString(2))).toMap
    assert(r(1L)._1.getLong(0) === 2L)  // two emails
    assert(r(1L)._2 === "mail <EMAIL> and <EMAIL> now")
    assert(r(2L)._1.getLong(1) === 1L && r(2L)._1.getLong(2) === 1L)
    assert(r(2L)._2 === "server at <IP> called <PHONE> twice")
    assert(r(3L)._1 === org.apache.spark.sql.Row(0L, 0L, 0L))
    assert(r(3L)._2 === "plain text with no identifiers at all")
  }

  test("tf-idf top terms: rare terms outrank common ones at equal tf") {
    // "rare" appears in 1 of 3 docs, "common" in all 3; within doc 1 both
    // have tf=1, so df-asc must rank "rare" first
    val corpus = Seq(
      (1L, "rare common"),
      (2L, "common filler2 filler2"),
      (3L, "common filler3 other")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopTerms(corpus, "doc_id", "text", k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(5)) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(top((2L, 1L))._1 === "filler2")  // tf=2 beats tf=1
    assert(top((1L, 1L))._1 === "rare")     // df=1 beats df=3 at tf=1
    assert(top((1L, 2L))._1 === "common")
    // smoothed idf: tf * (ln((1+N)/(1+df)) + 1), N=3
    val expRare = 1.0 * (math.log(4.0 / 2.0) + 1.0)
    assert(math.abs(top((1L, 1L))._4 - expRare) < 1e-12)
    // every doc emits at most k rows, ranks are 1..k without gaps
    assert(top.keys.groupBy(_._1).values.forall(ks => ks.map(_._2).toSet == (1L to ks.size).toSet))
  }

  test("tfidf cosine pairs: identical docs hit 1.0, disjoint vocabularies never pair") {
    val corpus = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple banana cherry"),        // identical to 1 -> cosine 1
      (3L, "apple banana date"),          // partial overlap with 1/2
      (4L, "xylo yurt zebra")             // disjoint -> no pair
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfCosinePairs(corpus, "doc_id", "text",
        maxDf = 10, minCosine = 0.0)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(math.abs(got((1L, 2L)) - 1.0) < 1e-12)
    assert(got.keys.forall { case (a, b) => a < b && a != 4L && b != 4L })
    assert(got((1L, 3L)) > 0 && got((1L, 3L)) < 1.0)
    assert(got((1L, 3L)) === got((2L, 3L)))  // identical docs score alike
    // hand check 1-3: shared terms apple, banana (df=3, tf=1 each side)
    val n = 4.0
    def w(df: Double) = math.log((1 + n) / (1 + df)) + 1.0
    val dot = 2 * w(3) * w(3)
    val n1 = math.sqrt(2 * w(3) * w(3) + w(2) * w(2))  // cherry df=2
    val n3 = math.sqrt(2 * w(3) * w(3) + w(1) * w(1))  // date df=1
    assert(math.abs(got((1L, 3L)) - dot / (n1 * n3)) < 1e-12)
  }

  test("tfidf cosine pairs: the df cap drops stopword-grade terms from pairing") {
    // 'the' is in every doc; with maxDf=2 it cannot pair anything
    val corpus = Seq((1L, "the alpha"), (2L, "the beta"), (3L, "the gamma"))
      .toDF("doc_id", "text")
    assert(TextAnalysis.tfidfCosinePairs(corpus, "doc_id", "text",
      maxDf = 2, minCosine = 0.0).count() === 0)
    // raising the cap lets the shared stopword pair them all
    assert(TextAnalysis.tfidfCosinePairs(corpus, "doc_id", "text",
      maxDf = 3, minCosine = 0.0).count() === 3)
  }

  test("decontamination flags exactly the docs sharing an n-gram with the benchmark") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix words alpha beta gamma delta epsilon more"),  // shares 5-grams
      (2L, "alpha beta gamma unrelated delta epsilon zeta oops"), // same words, no 5-gram run
      (3L, "completely different content here today folks")
    ).toDF("doc_id", "text")
    val hits = Decontaminate.contaminated(train, bench, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 contains "alpha beta gamma delta epsilon" — 1 shared 5-gram
    assert(hits === Map(1L -> 1L))
    val kept = Decontaminate.decontaminate(train, bench, "doc_id", "text", n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L))
  }

  test("novelty scores: seen/novel gram accounting per train doc") {
    val ref = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      // 4 distinct 5-grams, the first two appear in ref (ref has 2 grams)
      (1L, "alpha beta gamma delta epsilon zeta fresh words"),
      (2L, "completely different content here today folks"), // 2 grams, 0 seen
      (3L, "too short")                                      // < 5 words: absent
    ).toDF("doc_id", "text")
    val got = Decontaminate.noveltyScores(train, ref, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((4L, 2L, 2L)))
    assert(got(2L) === ((2L, 0L, 2L)))
    assert(!got.contains(3L))
    // novelty is monotone: a doc identical to the ref is 0% novel
    val same = Decontaminate.noveltyScores(ref, ref, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(1), r.getLong(3))).head
    assert(same._2 === 0L && same._1 === 2L)
  }

  test("vocabCoverage: cumulative token mass at each cut, ties broken by term") {
    // freqs: a×5, b×3, c×3, d×1 — total 12; b/c tie resolves b first
    val docs = Seq(
      (1L, "a a a b b c"),
      (2L, "a a b c c d")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(docs, "text", Seq(1L, 2L, 3L, 10L))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((5L, 12L, 5.0 / 12.0)))
    assert(got(2L) === ((8L, 12L, 8.0 / 12.0)))  // a + b (tie → 'b' before 'c')
    assert(got(3L) === ((11L, 12L, 11.0 / 12.0)))
    assert(got(10L) === ((12L, 12L, 1.0)))       // k past the vocab = everything
    // partitioning-independent
    val rep = TextAnalysis.vocabCoverage(docs.repartition(5), "text", Seq(2L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(rep === ((2L, 8L)))
  }

  test("vocab top grams: counts, doc frequencies, deterministic cut") {
    val corpus = Seq(
      (1L, "to be or not to be"),
      (2L, "to be is the question"),
      (3L, "be or")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.vocabTopGrams(corpus, "doc_id", "text", n = 2, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // "to be" occurs 3x across 2 docs; "be or" 2x across 2 docs; the k=3
    // boundary tie among 1-occurrence grams resolves gram-asc
    assert(top(0) === (("to be", 3L, 2L)))
    assert(top(1) === (("be or", 2L, 2L)))
    assert(top(2)._2 === 1L)
    assert(top(2)._1 === Seq("be is", "is the", "not to", "or not", "the question").min)
  }

  test("chunking: overlap, tail clipping, and full reconstruction") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 words
      (2L, "a b c"),                                  // shorter than one window
      (3L, (1 to 8).map(i => s"x$i").mkString(" "))   // exactly one window
    ).toDF("doc_id", "text")
    val ch = TextAnalysis.chunkByTokens(docs, "doc_id", "text", maxTokens = 8, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(3))).toMap
    // doc 1: stride 6 → starts 1, 7: w1..w8 then w7..w10 (clipped tail)
    assert(ch((1L, 1L)) === (((1 to 8).map(i => s"w$i").mkString(" "), 8L)))
    assert(ch((1L, 2L)) === (((7 to 10).map(i => s"w$i").mkString(" "), 4L)))
    // doc 2: single clipped chunk; doc 3: exactly one full window, no
    // spurious all-overlap tail chunk
    assert(ch((2L, 1L)) === (("a b c", 3L)))
    assert(ch((3L, 1L))._2 === 8L)
    assert(!ch.contains((3L, 2L)))
    // consecutive chunks overlap by exactly `overlap` words
    assert(ch((1L, 1L))._1.split(" ").takeRight(2).toSeq === ch((1L, 2L))._1.split(" ").take(2).toSeq)
  }

  test("vocabulary encode: frequency-ranked ids, OOV to 0, position order kept") {
    val corpus = Seq(
      (1L, "b a b c b a"),   // b×3, a×2, c×1
      (2L, "a b zz")
    ).toDF("doc_id", "text")
    val enc = TextAnalysis.encodeTokens(corpus, "doc_id", "text", vocabSize = 3)
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("token_ids").toSeq).toMap
    // vocab: b→1 (most frequent), a→2, c→3; zz is OOV
    assert(enc(1L) === Seq(1L, 2L, 1L, 3L, 1L, 2L))
    assert(enc(2L) === Seq(2L, 1L, 0L))
  }

  test("frequent-span scrub: corpus-wide spans removed, order kept, overlaps merge") {
    // "x y z" occurs in 3 docs (df=3 >= 2); "y z w" only in doc 1
    val corpus = Seq(
      (1L, "a x y z b x y z w c"),
      (2L, "x y z d e"),
      (3L, "f x y z"),
      (4L, "g h"),            // shorter than n=3: untouched
      (5L, "no common words here at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scrubFrequentSpans(corpus, "doc_id", "text", n = 3, minDf = 2L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1: spans at starts 1 and 5 cover tokens 2-4 and 6-8 → survivors
    assert(out(1L) === ((10L, 4L, "a b w c")))
    assert(out(2L) === ((5L, 2L, "d e")))
    assert(out(3L) === ((4L, 1L, "f")))
    assert(out(4L) === ((2L, 2L, "g h")))
    assert(out(5L) === ((6L, 6L, "no common words here at all")))
  }

  // ---- URL extraction / domain rollup ----

  test("extractUrls finds every URL in order; non-URL text yields none") {
    val df = Seq(
      ("see https://www.a.example.com/p/1 and http://cdn2.assets.example.org/img.png done"),
      ("no links here"),
      ("bare host http://localhost end")
    ).toDF("t")
    val got = df.select(TextAnalysis.extractUrls(col("t")))
      .as[Seq[String]].collect()
    assert(got(0) === Seq("https://www.a.example.com/p/1",
      "http://cdn2.assets.example.org/img.png"))
    assert(got(1) === Seq.empty)
    assert(got(2) === Seq("http://localhost"))
  }

  test("canonicalizeUrl: tracking params, fragments, host case, trailing slash all collapse") {
    val cases = Seq(
      // the full mess: uppercase host + leading utm + fragment
      "https://WWW.Ex.COM/p/5?utm_source=feed&sid=2#f" -> "https://www.ex.com/p/5?sid=2",
      // clean form of the same page → identical canonical
      "https://www.ex.com/p/5?sid=2" -> "https://www.ex.com/p/5?sid=2",
      // mid-query tracker: separators stay intact
      "https://ex.com/p?a=1&ref=x&b=2" -> "https://ex.com/p?a=1&b=2",
      // tracker-only query + root slash → bare origin
      "https://ex.com/?utm_campaign=x" -> "https://ex.com",
      // trailing path slash
      "http://ex.com/a/" -> "http://ex.com/a",
      // path/query case is PRESERVED (only scheme+host folds)
      "https://EX.com/CaseSensitive?Q=Vv" -> "https://ex.com/CaseSensitive?Q=Vv",
      // non-URL degrades to empty, like urlHost
      "not a url" -> "")
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), TextAnalysis.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) => assert(got(in) === want, s"input: $in") }
  }

  test("urlHost strips scheme and path; registrableDomain keeps last two labels") {
    val df = Seq(
      "https://www.a.example.com/p/1",
      "http://cdn2.assets.example.org/img.png",
      "http://localhost",
      "not a url").toDF("u")
    val got = df.select(
        TextAnalysis.urlHost(col("u")).as("h"),
        TextAnalysis.registrableDomain(TextAnalysis.urlHost(col("u"))).as("d"))
      .as[(String, String)].collect()
    assert(got(0) === (("www.a.example.com", "example.com")))
    assert(got(1) === (("cdn2.assets.example.org", "example.org")))
    // single-label host: the domain is the host itself (slice clamps)
    assert(got(2) === (("localhost", "localhost")))
    assert(got(3) === (("", ""))) // regexp_extract no-match contract
  }

  test("vocabOverlap: hand-computed jaccard/containment; repeats collapse") {
    val docs = Seq(
      ("s1", "alpha beta gamma alpha"), // V = {alpha, beta, gamma}
      ("s2", "beta gamma delta"),       // V = {beta, gamma, delta}
      ("s3", "omega"))                  // disjoint singleton
    val r = TextAnalysis.vocabOverlap(docs.toDF("src", "text"), "src", "text")
      .as[(String, String, Long, Long, Long, Double, Double)]
      .collect().map(x => (x._1, x._2) -> ((x._3, x._4, x._5, x._6, x._7))).toMap
    val (na, nb, i, j, c) = r(("s1", "s2"))
    assert((na, nb, i) === ((3L, 3L, 2L)))
    assert(j === 2.0 / 4 && c === 2.0 / 3)
    assert(!r.contains(("s1", "s3"))) // zero-intersection pairs don't materialize
  }

  test("vocabOverlap: minLen filters tokens before set formation; invariant") {
    val docs = (1 to 90).map(i => (s"s${i % 3}", s"ab word${i % 11} term${i % 7}"))
    def run(parts: Int) =
      TextAnalysis.vocabOverlap(docs.toDF("src", "text").repartition(parts),
        "src", "text", minLen = 4)
        .collect().map(_.toSeq.map {
          case d: Double => java.lang.Double.doubleToLongBits(d)
          case v => v
        }).sortBy(_.mkString("|"))
    assert(run(1) === run(13))
    // "ab" never counts toward any vocabulary
    val sizes = TextAnalysis.vocabOverlap(docs.toDF("src", "text"),
      "src", "text", minLen = 4)
      .select("na").as[Long].collect()
    assert(sizes.forall(_ <= 18)) // 11 words + 7 terms max, no "ab"
  }
}

class VocabRichnessSpec extends graft.SparkSpec {
  import spark.implicits._

  test("hand-computed Chao1 and Good-Turing unseen mass") {
    val docs = Seq(("g", "the cat sat on the mat"), ("g", "the dog sat"),
      ("g", "a cat ran")).toDF("src", "text")
    val r = TextAnalysis.vocabRichness(docs, "src", "text", minLen = 1)
      .collect().head
    // tf: the=3, cat=2, sat=2, on/mat/dog/a/ran=1 -> N=12 V=8 f1=5 f2=2
    assert(r.getLong(1) === 12L && r.getLong(2) === 8L)
    assert(r.getLong(3) === 5L && r.getLong(4) === 2L)
    assert(math.abs(r.getDouble(5) - (8.0 + 5.0 * 4.0 / (2.0 * 3.0))) < 1e-15)
    assert(math.abs(r.getDouble(6) - 5.0 / 12.0) < 1e-15)
  }

  test("no doubletons stays finite (the +1 correction), all-hapax corpus") {
    val docs = Seq(("g", "alpha beta gamma")).toDF("src", "text")
    val r = TextAnalysis.vocabRichness(docs, "src", "text").collect().head
    // V=3, f1=3, f2=0 -> chao1 = 3 + 3*2/2 = 6; gt = 1
    assert(r.getDouble(5) === 6.0 && r.getDouble(6) === 1.0)
  }

  test("minLen excludes short terms; null groups dropped; groups isolated") {
    val docs = Seq(("a", "ab abc abcd"), ("b", "abc abc"),
      (null.asInstanceOf[String], "abc")).toDF("src", "text")
    val out = TextAnalysis.vocabRichness(docs, "src", "text", minLen = 3)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.size === 2)
    assert(out("a").getLong(1) === 2L && out("a").getLong(2) === 2L)
    assert(out("b").getLong(2) === 1L && out("b").getLong(3) === 0L &&
      out("b").getLong(4) === 1L)
  }

  test("bit determinism under repartitioning") {
    val rng = new scala.util.Random(5)
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docs = (1 to 200).map { i =>
      (s"s${i % 3}", (1 to 10).map(_ => words(rng.nextInt(words.size))).mkString(" "))
    }.toDF("src", "text")
    def bits(p: Int) = TextAnalysis.vocabRichness(docs.repartition(p), "src", "text")
      .collect().map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case v => v
      }).sortBy(_.mkString("|")).toSeq
    assert(bits(1) === bits(11))
  }
}

class HeapsLawSpec extends graft.SparkSpec {
  import spark.implicits._

  test("power-law corpus recovers beta ~ the construction exponent") {
    // build a stream where V(n) = ceil(n^0.5) exactly: token i introduces
    // a new term when i is a perfect square
    val terms = (1 to 400).map { i =>
      val v = math.ceil(math.sqrt(i)).toInt
      s"term$v"
    }
    val docs = terms.grouped(40).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
    val out = TextAnalysis.heapsLaw(docs.toDF("doc_id", "text"),
        "doc_id", "text", minLen = 1, checkpoints = 8)
      .collect()
    val beta = out.head.getDouble(3)
    assert(beta > 0.42 && beta < 0.58, s"beta $beta")
    // V at the final checkpoint is the full vocabulary: ceil(sqrt(400)) = 20
    val last = out.map(r => (r.getLong(1), r.getLong(2))).maxBy(_._1)
    assert(last === ((400L, 20L)))
  }

  test("checkpoint prefixes count first occurrences in (doc, pos) order") {
    // stream: a b a c | b d -> V at n=3 is 2 (a,b), at n=6 is 4
    val docs = Seq((1L, "a b a c"), (2L, "b d"))
    val out = TextAnalysis.heapsLaw(docs.toDF("doc_id", "text"),
        "doc_id", "text", checkpoints = 2)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out === Map(3L -> 2L, 6L -> 4L))
  }

  test("bit determinism under repartitioning (PrefixScan offsets)") {
    val rng = new scala.util.Random(41)
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh", "ii", "jj")
    val docs = (1 to 60).map { i =>
      (i.toLong, (1 to 12).map(_ => words(rng.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    def bits(p: Int) = TextAnalysis.heapsLaw(docs.repartition(p),
        "doc_id", "text").collect().map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case v => v
      }).sortBy(_.mkString("|")).toSeq
    assert(bits(1) === bits(11))
  }
}

class ZipfFitSpec extends graft.SparkSpec {
  import spark.implicits._

  test("an exact power-law corpus recovers slope -1 and C = top frequency") {
    // term k appears floor(64/k) times for k = 1..64: tf(rank r) ~ 64/r
    val words = (1 to 64).flatMap(k => Seq.fill(64 / k)(f"w$k%03d"))
    val docs = words.grouped(50).map(ws => Tuple1(ws.mkString(" "))).toSeq
      .toDF("text")
    val out = TextAnalysis.zipfFit(docs, "text", topR = 64).collect()
    val slope = out.head.getDouble(2)
    assert(slope > -1.15 && slope < -0.85, s"slope $slope")
    // sample ranks are the powers of two within topR
    assert(out.map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L))
    // rank 1 is the most frequent term (64 occurrences)
    assert(out.find(_.getLong(0) == 1L).get.getLong(1) === 64L)
  }

  test("rank ties break on the term string; topR caps the fit") {
    val docs = Seq(Tuple1("b b a a c")).toDF("text")
    val out = TextAnalysis.zipfFit(docs, "text", topR = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a and b tie at 2 -> a gets rank 1; c rank 3 (not a 2^k, absent)
    assert(out === Map(1L -> 2L, 2L -> 2L))
  }

  test("plan prunes the rank cut below the window (top-k, not full sort)") {
    val docs = Seq(Tuple1("x y z")).toDF("text")
    val p = TextAnalysis.zipfFit(docs, "text", topR = 100)
      .queryExecution.executedPlan.toString
    // Catalyst lowers the rank <= topR filter all the way to a
    // TakeOrderedAndProject (per-partition heaps) feeding the window —
    // WindowGroupLimit is the acceptable weaker form
    assert(p.contains("TakeOrderedAndProject") || p.contains("WindowGroupLimit"),
      p.take(800))
  }

  test("bit determinism under repartitioning") {
    val rng = new scala.util.Random(61)
    val docs = (1 to 100).map(_ => Tuple1(
      (1 to 20).map(_ => s"t${rng.nextInt(40)}").mkString(" "))).toDF("text")
    def bits(p: Int) = TextAnalysis.zipfFit(docs.repartition(p), "text")
      .collect().map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case v => v
      }).sortBy(_.mkString("|")).toSeq
    assert(bits(1) === bits(7))
  }

  test("readability: hand-counted words/sentences/syllables and scores") {
    val docs = Seq(("g", "Hello world. Nice day!")).toDF("source", "text")
    val r = TextAnalysis.readability(docs, "source", "text").collect().head
    assert(r.getLong(1) === 1L)   // n_docs
    assert(r.getLong(2) === 4L)   // words
    assert(r.getLong(3) === 2L)   // sentences (. and !)
    assert(r.getLong(4) === 6L)   // vowel groups: he-llo(2) world(1) nice(2) day(1)
    val flesch = 206.835 - 1.015 * (4.0 / 2.0) - 84.6 * (6.0 / 4.0)
    val grade = 0.39 * (4.0 / 2.0) + 11.8 * (6.0 / 4.0) - 15.59
    assert(math.abs(r.getDouble(5) - flesch) < 1e-12)
    assert(math.abs(r.getDouble(6) - grade) < 1e-12)
    // no terminal punctuation: sentence count floors at 1 per doc
    val bare = Seq(("g", "no punctuation here")).toDF("source", "text")
    assert(TextAnalysis.readability(bare, "source", "text")
      .collect().head.getLong(3) === 1L)
  }

  test("charClassMix: stripped-length counts; shares sum to one") {
    val docs = Seq(("en", "ab1 c!")).toDF("lang", "text")
    val r = TextAnalysis.charClassMix(docs, "lang", "text").collect().head
    assert(r.getLong(2) === 6L)
    assert(math.abs(r.getDouble(3) - 3.0 / 6.0) < 1e-15) // letters
    assert(math.abs(r.getDouble(4) - 1.0 / 6.0) < 1e-15) // digits
    assert(math.abs(r.getDouble(5) - 1.0 / 6.0) < 1e-15) // spaces
    assert(math.abs(r.getDouble(6) - 1.0 / 6.0) < 1e-15) // other (!)
    assert(math.abs(r.getDouble(3) + r.getDouble(4) + r.getDouble(5) +
      r.getDouble(6) - 1.0) < 1e-12)
  }

  test("termBurstiness: even spread ~ Poisson, bursty content word rings") {
    // "the" once per doc (VMR = 0 — perfectly even beats Poisson);
    // "zebra" 4× in one doc of 8: mean .5, E[tf²]=2 -> var 1.75, VMR 3.5
    val docs = (1L to 8L).map { i =>
      (i, if (i == 1) "the zebra zebra zebra zebra" else "the filler")
    }.toDF("doc_id", "text")
    val out = TextAnalysis.termBurstiness(docs, "doc_id", "text", k = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("the") === ((8L, 8L, 0.0)))
    val (df, tot, vmr) = out("zebra")
    assert(df === 1L && tot === 4L)
    assert(math.abs(vmr - 3.5) < 1e-12)
  }

  test("charNgramEntropy: deterministic alternation has zero conditional entropy") {
    // "abab": bigrams {ab×2, ba×1}; next char is fully determined by the
    // current one, so H(next|char) = 0 even though H2, H1 > 0
    val docs = Seq(("g", "abab")).toDF("lang", "text")
    val r = TextAnalysis.charNgramEntropy(docs, "lang", "text").collect().head
    assert(r.getLong(1) === 3L)
    val h2 = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3))
    assert(math.abs(r.getDouble(2) - h2) < 1e-9)
    assert(math.abs(r.getDouble(3) - h2) < 1e-9, "first-char marginal matches")
    assert(math.abs(r.getDouble(4)) < 1e-9, "alternation is fully predictable")
    // constant text: single bigram, all entropies 0
    val const = Seq(("c", "aaaa")).toDF("lang", "text")
    val rc = TextAnalysis.charNgramEntropy(const, "lang", "text").collect().head
    assert(rc.getDouble(2) === 0.0 && rc.getDouble(4) === 0.0)
    // gibberish carries more conditional entropy than patterned text
    val rng = new scala.util.Random(79)
    val pair = Seq(
      ("pat", "abcabcabc" * 20),
      ("gib", Seq.fill(180)(('a' + rng.nextInt(6)).toChar).mkString))
      .toDF("lang", "text")
    val m = TextAnalysis.charNgramEntropy(pair, "lang", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(m("gib") > m("pat") + 0.5)
    // single-char docs are excluded (no bigram to count)
    assert(TextAnalysis.charNgramEntropy(
      Seq(("s", "x")).toDF("lang", "text"), "lang", "text").count() === 0)
  }

  test("termBurstiness: top-k cut is (tf_total desc, term asc) exact") {
    val docs = Seq((1L, "b b a a c"), (2L, "b a c")).toDF("doc_id", "text")
    val terms = TextAnalysis.termBurstiness(docs, "doc_id", "text", k = 2)
      .collect().map(_.getString(0)).toSeq
    assert(terms === Seq("a", "b"), "tie on 3 breaks to the smaller term")
  }

  test("keyness: slice-exclusive terms dominate, balanced terms score 0") {
    import org.apache.spark.sql.functions.col
    // A = "x x y", B = "y z z": x and z are slice-exclusive (G² =
    // 2·2·ln2 each), y is perfectly balanced (observed = expected → 0)
    val docs = Seq((0L, "x x y"), (1L, "y z z")).toDF("doc_id", "text")
    val out = TextAnalysis.keyness(docs, "text", col("doc_id") % 2 === 0, 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    val g = math.floor(2.0 * 2.0 * math.log(2.0) * 1e6 + 0.5) / 1e6
    assert(out("x") === ((2L, 0L, g, "A")))
    assert(out("z") === ((0L, 2L, g, "B")))
    assert(out("y")._3 === 0.0)
  }

  test("monroeLogOdds: prior shrinks rare terms; balanced terms score ~0") {
    import spark.implicits._
    // slice A says "x" a lot and "r" once; slice B mirrors with "z";
    // "y" is balanced; priorMass large relative to the rare counts
    val docs = Seq(
      (1L, true, "x x x x x x x x y r"),
      (2L, false, "z z z z z z z z y")).toDF("id", "a", "text")
    val out = TextAnalysis.monroeLogOdds(docs, "text", col("a"),
        priorMass = 20.0, k = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getString(5)))).toMap
    // direction: x enriched in A (positive delta/z), z in B (negative)
    assert(out("x")._3 > 0 && out("x")._4 > 0 && out("x")._5 === "A")
    assert(out("z")._3 < 0 && out("z")._4 < 0 && out("z")._5 === "B")
    // balanced term: |z| below both one-sided terms
    assert(math.abs(out("y")._4) < math.abs(out("x")._4))
    // shrinkage: the singleton "r" must score BELOW the 8-count "x"
    // (under G2 both are fully one-sided; the prior separates them)
    assert(math.abs(out("r")._4) < math.abs(out("x")._4))
    // z = delta / sigma replayed exactly for x: counts a=8, b=0
    val na = 10.0; val nb = 9.0; val a0 = 20.0
    val at = a0 * 8.0 / (na + nb)
    val delta = math.log((8.0 + at) / (na + a0 - 8.0 - at)) -
      math.log((0.0 + at) / (nb + a0 - 0.0 - at))
    val sigma = math.sqrt(1.0 / (8.0 + at) + 1.0 / (0.0 + at))
    assert(math.abs(out("x")._4 - math.floor(delta / sigma * 1e6 + 0.5) / 1e6) < 1e-12)
  }
}
