package perfbench

import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val rows: Seq[Seq[(String, Any)]] = Seq(
    Seq("id" -> 1L, "score" -> 0.25, "label" -> "a"),
    Seq("id" -> 2L, "score" -> 1.0 / 3, "label" -> null),
    Seq("id" -> 3L, "score" -> -7.5, "label" -> "c"))

  test("the digest does not depend on row order") {
    rows.permutations.foreach(p => assert(Digest.of(p) == Digest.of(rows)))
  }

  test("the digest does not depend on column order") {
    assert(Digest.of(rows.map(_.reverse)) == Digest.of(rows))
  }

  test("a duplicated row changes the digest") {
    assert(Digest.of(rows :+ rows.head) != Digest.of(rows))
    assert(Digest.of(rows :+ rows.head).startsWith("4:"))
  }

  test("the same number in another type family changes the digest") {
    assert(Digest.of(Seq(Seq("x" -> 1L))) != Digest.of(Seq(Seq("x" -> 1.0))))
    assert(Digest.of(Seq(Seq("x" -> 1L))) == Digest.of(Seq(Seq("x" -> 1))))
  }

  test("doubles are compared on a 1e-6 grid") {
    assert(Digest.of(Seq(Seq("x" -> (0.1 + 0.2)))) == Digest.of(Seq(Seq("x" -> 0.3))))
    assert(Digest.of(Seq(Seq("x" -> 0.300001))) != Digest.of(Seq(Seq("x" -> 0.3))))
  }

  test("the digest matches the one oracle_check.py computes for the same rows") {
    // test_oracle_check.py asserts the same literal for the same rows
    assert(Digest.of(rows) == "3:05396d56c83662b4")
  }
}
