package graft.llm

import graft.SparkSpec

class SortedNeighborhoodSpec extends SparkSpec {
  import spark.implicits._

  private def pairs(rows: Seq[(Long, String)], w: Int): Set[(Long, Long, Long)] =
    SortedNeighborhood.candidatePairs(rows.toDF("id", "k"), "id", "k", w)
      .select("a_id", "b_id", "gap")
      .as[(Long, Long, Long)].collect().toSet

  test("pairs are exactly the rank-distance-< w pairs, each emitted once") {
    // sorted by (k, id): c1 a2 b3 d4 e5   (rank order)
    val rows = Seq((1L, "c"), (2L, "a"), (3L, "b"), (4L, "d"), (5L, "e"))
    val got = pairs(rows, w = 2)
    // gap 1 neighbors in rank order: (2,3),(3,1),(1,4),(4,5)
    assert(got === Set((2L, 3L, 1L), (3L, 1L, 1L), (1L, 4L, 1L), (4L, 5L, 1L)))
  }

  test("window 3 adds the gap-2 pairs; brute-force agreement on random data") {
    val rng = new scala.util.Random(11)
    val rows = (1L to 100L).map(i => i -> f"k${rng.nextInt(30)}%02d")
    val got = pairs(rows, w = 3)
    val ranked = rows.sortBy { case (id, k) => (k, id) }.zipWithIndex
    val expected = (for {
      (a, ia) <- ranked; (b, ib) <- ranked
      if ib > ia && ib - ia < 3
    } yield (a._1, b._1, (ib - ia).toLong)).toSet
    assert(got === expected)
  }

  test("null keys are excluded; pair volume is n·(w−1) bounded") {
    val rows = Seq((1L, Some("a")), (2L, None), (3L, Some("b")), (4L, Some("c")))
    val df = rows.toDF("id", "k")
    val got = SortedNeighborhood.candidatePairs(df, "id", "k", 2)
      .as[(Long, Long, Long, String, String)].collect()
    assert(got.map(r => (r._1, r._2)).toSet === Set((1L, 3L), (3L, 4L)))
    // volume bound: every row pairs with at most w−1 successors
    val many = (1L to 500L).map(i => i -> "same-key").toDF("id", "k")
    val n = SortedNeighborhood.candidatePairs(many, "id", "k", 5).count()
    assert(n === (499L + 498L + 497L + 496L)) // Σ min(w−1, remaining)
  }

  test("partitioning-independent (global rank, not per-partition)") {
    val rows = (1L to 200L).map(i => i -> f"k${i % 17}%02d")
    val a = pairs(rows, 4)
    val b = SortedNeighborhood.candidatePairs(
        rows.toDF("id", "k").repartition(13), "id", "k", 4)
      .select("a_id", "b_id", "gap")
      .as[(Long, Long, Long)].collect().toSet
    assert(a === b)
  }
}
