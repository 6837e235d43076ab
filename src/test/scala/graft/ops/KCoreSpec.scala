package graft.ops

import graft.SparkSpec

class KCoreSpec extends SparkSpec {
  import spark.implicits._

  /** The k-core, checked against [[brutePeel]]: every peel round deletes
    * at least one edge until the edge set is stable, so the edge count
    * bounds the peel depth.
    */
  private def core(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val got = GraphRank.kCorePeeled(edges.toDF("src", "dst"), k, rounds = math.max(1, edges.size))
      .as[(Long, Long)].collect().toMap
    assert(got === brutePeel(edges, k))
    got
  }

  /** Sequential peel to the fixpoint over the canonical edge set. */
  private def brutePeel(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var es = edges.map { case (a, b) => (a min b, a max b) }
      .filter(e => e._1 != e._2).distinct
    var changed = true
    while (changed) {
      val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (n, xs) => n -> xs.size }
      val keep = deg.filter(_._2 >= k).keySet
      val es2 = es.filter(e => keep(e._1) && keep(e._2))
      changed = es2.size != es.size
      es = es2
    }
    es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
  }

  test("K4 with a pendant chain: the 3-core is exactly the K4") {
    // K4 on 1-4, chain 4-5-6 hanging off
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = k4 ++ Seq((4L, 5L), (5L, 6L))
    assert(core(edges, 3) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // 2-core keeps only cycles: the chain still dies
    assert(core(edges, 2).keySet === Set(1L, 2L, 3L, 4L))
    // 1-core keeps everything with an edge
    assert(core(edges, 1).keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("cascading peel: removing one node re-exposes the next (chain collapse)") {
    // a triangle with a path 3-4-5-6 where each removal drops the next
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val got = core(edges, 2)
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got.values.toSet === Set(2L))
  }

  test("empty core when k exceeds every degree") {
    assert(core(Seq((1L, 2L), (2L, 3L)), 3).isEmpty)
  }

  test("peeled form reaches the converged core within its round budget") {
    val rng = new scala.util.Random(3)
    val edges = (1 to 300).map(_ => (rng.nextInt(60).toLong, rng.nextInt(60).toLong))
    val peeled = GraphRank.kCorePeeled(edges.toDF("src", "dst"), 3, rounds = 12)
      .as[(Long, Long)].collect().toMap
    assert(peeled.nonEmpty)
    assert(peeled === brutePeel(edges, 3))
  }

  test("duplicate/reversed/self-loop edges do not change the core") {
    val base = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val noisy = base ++ base.map(_.swap) ++ Seq((2L, 2L), (1L, 2L))
    assert(core(noisy, 2) === core(base, 2))
  }

  // ---- label propagation ----

  private def lpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    GraphRank.labelPropagationPinned(edges.toDF("src", "dst"), rounds)
      .as[(Long, Long)].collect().toMap

  test("two cliques joined by one bridge settle into two communities") {
    val c1 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val c2 = for (a <- 11L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val edges = c1 ++ c2 ++ Seq((4L, 11L))
    // stable from round 3 on: 5 pinned rounds settle both cliques
    val got = lpa(edges, rounds = 5)
    // each clique converges to one label; min-tie-break drives toward ids 1 / 11
    assert(Set(1L, 2L, 3L).map(got).size === 1)
    assert(Set(12L, 13L, 14L).map(got).size === 1)
    assert(got(2L) !== got(13L))
  }

  test("pinned rounds replay the deterministic recurrence (scala replay)") {
    val rng = new scala.util.Random(5)
    val edges = (1 to 120).map(_ => (rng.nextInt(30).toLong, rng.nextInt(30).toLong))
      .filter(e => e._1 != e._2)
    val got = lpa(edges, rounds = 3)
    // replay: synchronous min-tie-break majority over the canonical graph
    val canon = edges.map { case (a, b) => (a min b, a max b) }.distinct
    val adj = (canon ++ canon.map(_.swap)).groupBy(_._1)
      .map { case (n, es) => n -> es.map(_._2) }
    var labels = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      labels = adj.map { case (n, nbrs) =>
        val counts = nbrs.map(labels).groupBy(identity).map { case (l, xs) => l -> xs.size }
        val mx = counts.values.max
        n -> counts.filter(_._2 == mx).keys.min
      }
    }
    assert(got === labels)
  }

  // ---- link prediction ----

  test("link prediction: cn and jaccard match brute force; adjacent pairs excluded") {
    // square 1-2-3-4-1 plus a diagonal 1-3: predict 2-4 (cn=2 via 1 and 3)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val got = GraphRank.linkPredictionScores(edges.toDF("src", "dst"))
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // 2-4: common {1,3}, deg2=2, deg4=2 → jacc = 2/(2+2-2) = 1.0
    assert(got((2L, 4L)) === ((2L, 2L, 2L, 1.0)))
    // adjacent pairs never appear even with common neighbors (1-3 has {2,4})
    assert(!got.contains((1L, 3L)) && !got.contains((1L, 2L)))
  }

  test("link prediction: degree cap drops hub-apex wedges only (documented bound)") {
    // star hub 100 connected to 1..6; plus edge 1-2 (so {1,2} adjacent)
    val star = (1L to 6L).map(h => (100L, h))
    val edges = star ++ Seq((1L, 2L))
    // cap below the hub degree: no wedges survive except through nodes 1,2
    val capped = GraphRank.linkPredictionScores(edges.toDF("src", "dst"), maxDegree = 3)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    // 1 and 2 have degree 2 each: their wedges predict (100,?) pairs?
    // apex 1 neighbors {100, 2}: pair (2, 100) — adjacent, excluded.
    // apex 2 neighbors {100, 1}: pair (1, 100) — adjacent, excluded.
    assert(capped.isEmpty)
    // uncapped: leaf pairs through the hub appear
    val full = GraphRank.linkPredictionScores(edges.toDF("src", "dst"), maxDegree = 64)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2)).toSet
    assert(full.contains((3L, 4L)) && !full.contains((1L, 2L)))
  }

  test("LPA is partitioning-independent") {
    val edges = (1L to 50L).map(i => (i, i % 10 + 100))
    val a = lpa(edges, 2)
    val b = GraphRank.labelPropagationPinned(
        edges.toDF("src", "dst").repartition(7), 2)
      .as[(Long, Long)].collect().toMap
    assert(a === b)
  }
}
