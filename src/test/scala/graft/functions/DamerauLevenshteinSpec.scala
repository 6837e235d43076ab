package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

class DamerauLevenshteinSpec extends SparkSpec {

  private def d(a: String, b: String): Long =
    DamerauLevenshtein.dist(UTF8String.fromString(a), UTF8String.fromString(b))

  test("unrestricted semantics: a transposed pair may be edited again") {
    // the discriminator vs optimal string alignment: OSA says 3
    assert(d("CA", "ABC") === 2L)
    assert(d("a cat", "an act") === 2L)
  }

  test("kernel contracts: identity, empty, symmetry, levenshtein fallback") {
    assert(d("same", "same") === 0L)
    assert(d("", "abc") === 3L && d("abc", "") === 3L)
    assert(d("teh", "the") === 1L)
    assert(d("abcdef", "badcfe") === 3L)
    assert(d("kitten", "sitting") === 3L) // no transpositions: plain edit dist
    val rng = new scala.util.Random(29)
    (1 to 50).foreach { _ =>
      val a = Seq.fill(rng.nextInt(12))(('a' + rng.nextInt(4)).toChar).mkString
      val b = Seq.fill(rng.nextInt(12))(('a' + rng.nextInt(4)).toChar).mkString
      assert(d(a, b) === d(b, a), s"symmetry on ($a, $b)")
      assert(d(a, b) <= math.max(a.length, b.length))
    }
  }

  test("byte-based over UTF-8, like the oracle engine's string distances") {
    assert(d("éa", "aé") === 2L) // 3 bytes vs 3 bytes, not 2-codepoint swap
    assert(d("é", "e") === 2L)
  }

  test("never exceeds levenshtein; saves exactly the transposition mass") {
    val rng = new scala.util.Random(31)
    (1 to 40).foreach { _ =>
      val a = Seq.fill(6 + rng.nextInt(6))(('a' + rng.nextInt(3)).toChar).mkString
      val b = rng.shuffle(a.toSeq).mkString
      val lev = brute(a, b)
      assert(d(a, b) <= lev, s"dl must be <= levenshtein on ($a, $b)")
    }
    def brute(a: String, b: String): Long = {
      val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length).toLong
    }
  }

  test("expression stays inside whole-stage codegen and handles NULLs strictly") {
    import org.apache.spark.sql.functions.{lit, when}
    // spark.range keeps the projection out of ConvertToLocalRelation's
    // constant folding, so the assert sees the real codegen stage
    val df = spark.range(3).select(
        when(col("id") === 0, lit("teh"))
          .when(col("id") === 2, lit("x")).as("a"),
        when(col("id") =!= 2, lit("the")).as("b"))
      .select(DamerauLevenshtein.damerauLevenshtein(col("a"), col("b")).as("d"))
    val rows = df.collect()
    assert(rows(0).getLong(0) === 1L)       // (teh, the)
    assert(rows(1).isNullAt(0))             // (null, the)
    assert(rows(2).isNullAt(0))             // (x, null)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"codegen stage missing:\n$plan")
  }
}
