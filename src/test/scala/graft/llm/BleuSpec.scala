package graft.llm

import graft.SparkSpec

class BleuSpec extends SparkSpec {
  import spark.implicits._

  private def run(rows: Seq[(Long, String, String)], maxN: Int = 2) =
    Bleu.bleuPairs(rows.toDF("id", "c", "r"), "id", "c", "r", maxN)
      .collect().map(r => r.getLong(0) -> r).toMap

  test("identical pair scores 1; degenerate repetition is clipped to 0") {
    val out = run(Seq(
      (1L, "the cat sat", "the cat sat"),
      // clipped unigrams: min(3,1)/3; bigram "the the" never in ref → 0
      (2L, "the the the", "the cat")))
    val r1 = out(1L)
    assert(r1.getDouble(3) === 1.0 && r1.getDouble(4) === 1.0)
    assert(r1.getDouble(5) === 1.0 && r1.getDouble(6) === 1.0)
    val r2 = out(2L)
    assert(math.abs(r2.getDouble(3) - 1.0 / 3) < 1e-12)
    assert(r2.getDouble(4) === 0.0 && r2.getDouble(6) === 0.0)
  }

  test("brevity penalty fires only on short candidates") {
    val out = run(Seq(
      (1L, "the cat", "the cat sat"),          // short: BP = e^(1−3/2)
      (2L, "the cat sat here", "the cat sat"))) // long: BP = 1
    val short = out(1L)
    assert(short.getLong(1) === 2L && short.getLong(2) === 3L)
    assert(short.getDouble(3) === 1.0 && short.getDouble(4) === 1.0)
    assert(math.abs(short.getDouble(5) - math.exp(-0.5)) < 1e-12)
    assert(math.abs(short.getDouble(6) - math.exp(-0.5)) < 1e-12)
    val long = out(2L)
    assert(long.getDouble(5) === 1.0)
    // p1 = 3/4, p2 = 2/3, bleu = √(p1·p2)
    assert(math.abs(long.getDouble(6) -
      math.sqrt(0.75 * 2.0 / 3)) < 1e-12)
  }

  test("single-token candidate: bigram precision undefined → bleu 0") {
    val out = run(Seq((1L, "cat", "the cat")))
    val r = out(1L)
    assert(r.getDouble(3) === 1.0)
    assert(r.isNullAt(4), "no bigram mass → p2 NULL")
    assert(r.getDouble(6) === 0.0)
  }

  test("determinism under repartitioning") {
    val rng = new scala.util.Random(97)
    val vocab = Vector("a", "b", "c", "d", "e")
    val rows = (1L to 120L).map(i => (i,
      Seq.fill(rng.nextInt(12) + 1)(vocab(rng.nextInt(5))).mkString(" "),
      Seq.fill(rng.nextInt(12) + 1)(vocab(rng.nextInt(5))).mkString(" ")))
    val df = rows.toDF("id", "c", "r")
    def bits(p: Int) = Bleu.bleuPairs(df.repartition(p), "id", "c", "r", 2)
      .collect().map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case v => v
      }).sortBy(_.mkString("|")).toSeq
    assert(bits(1) === bits(9))
  }
}
