package graft.ops

import graft.SparkSpec

class GraphRankSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    GraphRank.pageRankFixedPoint(edges.toDF("src", "dst"), iters)
      .as[(Long, Long)].collect().toMap

  /** Symmetrize a directed edge list. */
  private def sym(e: Seq[(Long, Long)]): Seq[(Long, Long)] =
    e ++ e.map { case (a, b) => (b, a) }

  test("symmetric two-node graph: equal ranks, mass conserved up to truncation") {
    val r = ranks(Seq((1L, 2L), (2L, 1L)), iters = 5)
    assert(r(1L) === r(2L))
    // total scale 1e12, per-node init 5e11; each round keeps
    // (15+85)/100 of it minus integer-division dust
    val total = r.values.sum
    assert(total <= 1000000000000L && total > 990000000000L, s"total=$total")
  }

  test("star graph: the hub outranks every leaf") {
    val star = sym((2L to 9L).map(l => (1L, l)))
    val r = ranks(star, iters = 5)
    assert((2L to 9L).forall(l => r(1L) > r(l)), r.toString)
    // all leaves are symmetric — identical rank
    assert((2L to 9L).map(r).toSet.size === 1)
  }

  test("iterations = 0 returns the uniform init") {
    val r = ranks(Seq((1L, 2L), (2L, 3L), (3L, 1L)), iters = 0)
    assert(r.values.toSet === Set(1000000000000L / 3))
  }

  test("dangling nodes leak mass but keep the teleport floor") {
    // 1→2, 2 has no out-edges
    val r = ranks(Seq((1L, 2L)), iters = 3)
    val init = 1000000000000L / 2
    val teleport = 15L * init / 100L
    assert(r(1L) === teleport) // nothing flows into 1 after round 1
    assert(r(2L) >= teleport)
  }

  test("result is partitioning-independent and run-deterministic") {
    val edges = sym(for (i <- 1L to 30L; j <- Seq(i % 7 + 100L)) yield (i, j))
    val a = GraphRank.pageRankFixedPoint(edges.toDF("src", "dst").repartition(1), 4)
      .as[(Long, Long)].collect().toMap
    val b = GraphRank.pageRankFixedPoint(edges.toDF("src", "dst").repartition(13), 4)
      .as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  private def tris(edges: Seq[(Long, Long)]): Map[Long, Long] =
    GraphRank.triangleCountsAdjacency(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  /** Brute-force per-node triangle counts over the canonical edge set. */
  private def bruteTris(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val e = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.toSet
    val nodes = e.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val t = for {
      x <- nodes; y <- nodes if y > x && e((x, y))
      z <- nodes if z > y && e((x, z)) && e((y, z))
    } yield Seq(x, y, z)
    t.flatten.groupBy(identity).map { case (n, l) => n -> l.size.toLong }
  }

  test("personalized pagerank with ALL nodes as seeds ≡ uniform pagerank") {
    val edges = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)))
    val df = edges.toDF("src", "dst")
    val allNodes = (1L to 4L).toDF("node")
    val uniform = GraphRank.pageRankFixedPoint(df, 4)
      .as[(Long, Long)].collect().toMap
    val ppr = GraphRank.personalizedPageRank(df, allNodes, 4)
      .as[(Long, Long)].collect().toMap
    assert(ppr === uniform)
  }

  test("personalized pagerank: mass concentrates near the seed; unreachable nodes at 0") {
    // two disconnected symmetric pairs; seed only in the first component
    val edges = sym(Seq((1L, 2L), (3L, 4L))).toDF("src", "dst")
    val r = GraphRank.personalizedPageRank(edges, Seq(1L).toDF("node"), 6)
      .as[(Long, Long)].collect().toMap
    assert(r(1L) > r(2L) && r(2L) > 0)   // seed outranks its neighbor
    assert(r(3L) === 0L && r(4L) === 0L) // unreachable from the seed
    // seeds not present in the graph are ignored; all-alien seeds throw
    val withAlien = GraphRank.personalizedPageRank(edges,
      Seq(1L, 99L).toDF("node"), 2).as[(Long, Long)].collect().toMap
    assert(withAlien.keySet === Set(1L, 2L, 3L, 4L))
    intercept[IllegalArgumentException] {
      GraphRank.personalizedPageRank(edges, Seq(99L).toDF("node"), 2)
    }
  }

  test("weighted pagerank: uniform weights ≡ unweighted; heavy edges pull rank") {
    import org.apache.spark.sql.functions.lit
    val edges = sym(Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)))
    // all weights equal → identical to the unweighted recurrence
    val uni = GraphRank.pageRankWeighted(
        edges.toDF("src", "dst").withColumn("weight", lit(7L)), iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(uni === ranks(edges, iters = 4))
    // skewed weights: node 2 sends almost everything to 3 → 3 outranks 1
    val w = Seq((1L, 2L, 1L), (2L, 1L, 1L), (2L, 3L, 99L), (3L, 2L, 1L))
      .toDF("src", "dst", "weight")
    val r = GraphRank.pageRankWeighted(w, iterations = 6)
      .as[(Long, Long)].collect().toMap
    assert(r(3L) > r(1L))
    // duplicate parallel edges collapse by summing weights
    val dup = Seq((1L, 2L, 50L), (1L, 2L, 49L), (2L, 1L, 1L), (2L, 3L, 99L), (3L, 2L, 1L))
      .toDF("src", "dst", "weight")
    val r2 = GraphRank.pageRankWeighted(dup, iterations = 6)
      .as[(Long, Long)].collect().toMap
    val single = Seq((1L, 2L, 99L), (2L, 1L, 1L), (2L, 3L, 99L), (3L, 2L, 1L))
      .toDF("src", "dst", "weight")
    val r3 = GraphRank.pageRankWeighted(single, iterations = 6)
      .as[(Long, Long)].collect().toMap
    assert(r2 === r3)
  }

  test("pagerank prelude: ONE edge-mass exchange (repartition-first reuse)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // mirrors degreeJoinedEdges (round-15 optimization): repartition(src)
    // runs FIRST, and distinct, the degree aggregate and the degree join
    // all reuse that layout — hash(src) satisfies the (src, dst)
    // clustering requirement (subset of grouping keys), so the whole
    // prelude plans exactly one ShuffleExchangeExec. The old shape
    // (distinct → groupBy → join → repartition) planned four.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val edges = s2.createDataFrame(
      sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))))
      .toDF("src", "dst")
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .repartition(col("src"))
      .distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val eDeg = e.join(deg, "src").select("src", "dst", "outdeg")
    val exchanges = eDeg.queryExecution.executedPlan
      .collect { case x: ShuffleExchangeExec => x }
    assert(exchanges.size === 1, eDeg.queryExecution.executedPlan.toString)
  }

  test("pagerank steady-state iteration adds exactly ONE shuffle to the plan") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // mirror pageRankFixedPoint's prelude, then chain un-materialized
    // steps: the marginal ShuffleExchangeExec count per extra step is the
    // per-iteration shuffle cost — the contribution join must stay
    // co-partitioned (eDeg hash(src) cached, ranks hash(node) from the
    // previous agg) and the teleport fold must not re-join the node table.
    // A cloned session pins the at-scale shape: broadcast disabled (a real
    // rank table never broadcasts) and AQE off so the static plan is
    // traversable; collect() does not descend into the cached eDeg subtree.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val edges = s2.createDataFrame(
      sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))))
      .toDF("src", "dst")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val eDeg = e.join(deg, "src").select("src", "dst", "outdeg")
      .repartition(col("src")).cache()
    val nodes = e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    val tele = nodes.withColumn("tele", lit(150L))
    def shuffles(steps: Int): Int = {
      var r = nodes.withColumn("pr", lit(1000L))
      (1 to steps).foreach(_ => r = GraphRank.step(eDeg, tele, r))
      r.queryExecution.executedPlan.collect { case x: ShuffleExchangeExec => x }.size
    }
    try assert(shuffles(3) - shuffles(2) === 1)
    finally eDeg.unpersist(false)
  }

  test("triangles: K4 gives every node C(3,2)=3 triangles") {
    val k4 = for (i <- 1L to 4L; j <- 1L to 4L if i < j) yield (i, j)
    val r = tris(k4)
    assert(r === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangles: triangle-free graphs (path, star, bipartite) return empty") {
    assert(tris(Seq((1L, 2L), (2L, 3L), (3L, 4L))).isEmpty)
    assert(tris((2L to 8L).map(l => (1L, l))).isEmpty)
    assert(tris(for (i <- 1L to 3L; j <- 10L to 12L) yield (i, j)).isEmpty)
  }

  test("triangles: duplicate, reversed, and self-loop edges do not change counts") {
    val base = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val noisy = base ++ base.map(_.swap) ++ Seq((2L, 2L), (1L, 2L), (3L, 1L))
    assert(tris(noisy) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangles: hub-skewed graph matches brute force (orientation exactness)") {
    // a hub (0) connected to everyone, plus a sparse ring with chords —
    // exercises the degree-orientation path where the hub's out-neighbor
    // list must stay short
    val hub = (1L to 20L).map(l => (0L, l))
    val ring = (1L to 20L).map(i => (i, i % 20 + 1))
    val chords = Seq((1L, 5L), (2L, 9L), (7L, 15L), (4L, 12L))
    val edges = hub ++ ring ++ chords
    assert(tris(edges) === bruteTris(edges))
  }

  test("adjacency triangles ≡ brute force on every shape") {
    val k4 = for (i <- 1L to 4L; j <- 1L to 4L if i < j) yield (i, j)
    val noisy = {
      val base = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      base ++ base.map(_.swap) ++ Seq((2L, 2L), (1L, 2L), (3L, 1L))
    }
    val hubby = (1L to 20L).map(l => (0L, l)) ++
      (1L to 20L).map(i => (i, i % 20 + 1)) ++
      Seq((1L, 5L), (2L, 9L), (7L, 15L), (4L, 12L))
    val dense = for (i <- 1L to 12L; j <- 1L to 12L if i < j && (i + j) % 3 != 0) yield (i, j)
    for (e <- Seq(k4, noisy, hubby, dense))
      assert(tris(e) === bruteTris(e), s"adjacency ≠ brute on ${e.take(5)}…")
  }

  test("adjacency triangles: triangle-free graphs return empty") {
    assert(tris(Seq((1L, 2L), (2L, 3L), (3L, 4L))).isEmpty)
    assert(tris(for (i <- 1L to 3L; j <- 10L to 12L) yield (i, j)).isEmpty)
  }

  test("triangles: partitioning-independent") {
    val edges = (for (i <- 1L to 12L; j <- 1L to 12L if i < j && (i + j) % 3 != 0)
      yield (i, j))
    val a = GraphRank.triangleCountsAdjacency(edges.toDF("src", "dst").repartition(1))
      .as[(Long, Long)].collect().toMap
    val b = GraphRank.triangleCountsAdjacency(edges.toDF("src", "dst").repartition(11))
      .as[(Long, Long)].collect().toMap
    assert(a === b && a === bruteTris(edges))
  }

  test("bfsHopsPinned: layer distances, unreached absent, multi-seed min") {
    // path 1-2-3-4-5 (undirected), plus isolated edge 8-9
    val path = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))).toDF("src", "dst")
    val d2 = GraphRank.bfsHopsPinned(path, Seq(1L).toDF("node"), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(d2 === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // two seeds: minimum hop count wins; 3 is equidistant
    val dm = GraphRank.bfsHopsPinned(path, Seq(1L, 5L).toDF("node"), rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(dm === Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L))
    // rounds=0 is just the seed set
    assert(GraphRank.bfsHopsPinned(path, Seq(1L).toDF("node"), 0)
      .as[(Long, Long)].collect().toMap === Map(1L -> 0L))
  }

  test("bfsHopsPinned at the diameter: full reach, directed edges respected") {
    val path = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))).toDF("src", "dst")
    val pinned = GraphRank.bfsHopsPinned(path, Seq(1L).toDF("node"), rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(pinned === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // directed chain 1→2→3: BFS follows arrows only
    val directed = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(GraphRank.bfsHopsPinned(directed, Seq(3L).toDF("node"), rounds = 2)
      .as[(Long, Long)].collect().toMap === Map(3L -> 0L))
    // partitioning-independent
    val rep = GraphRank.bfsHopsPinned(path.repartition(7), Seq(1L).toDF("node"), rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(rep === pinned)
  }

  test("hits: hand-unrolled two iterations on a small bipartite graph") {
    // hubs 1,2,3 → auths 10,20: 1→10, 2→10, 2→20, 3→20
    val e = Seq((1L, 10L), (2L, 10L), (2L, 20L), (3L, 20L)).toDF("src", "dst")
    val r = GraphRank.hitsScores(e, iterations = 2)
      .collect().map(x => (x.getString(0), x.getLong(1)) -> ((x.getDouble(2), x.getDouble(3)))).toMap
    // a1 = indeg = {10:2, 20:2}; h1 = {1:2, 2:4, 3:2}
    // a2 = {10: 2+4=6, 20: 4+2=6}; h2 = {1:6, 2:12, 3:6}
    assert(r(("authority", 10L))._1 === 6.0 && r(("authority", 20L))._1 === 6.0)
    assert(r(("hub", 1L))._1 === 6.0 && r(("hub", 2L))._1 === 12.0 &&
      r(("hub", 3L))._1 === 6.0)
    assert(r(("authority", 10L))._2 === 0.5)
    assert(r(("hub", 2L))._2 === 0.5 && r(("hub", 1L))._2 === 0.25)
  }

  test("hits: the better-connected hub dominates; scores L1-normalize per kind") {
    val star = (1L to 5L).map(i => (100L, i)) ++ Seq((200L, 1L)) // 100 points at 5, 200 at 1
    val r = GraphRank.hitsScores(star.toDF("src", "dst"), 2)
      .collect().map(x => (x.getString(0), x.getLong(1)) -> x.getDouble(3)).toMap
    assert(r(("hub", 100L)) > r(("hub", 200L)))
    val hubSum = r.collect { case (("hub", _), s) => s }.sum
    val authSum = r.collect { case (("authority", _), s) => s }.sum
    assert(math.abs(hubSum - 1.0) < 1e-12 && math.abs(authSum - 1.0) < 1e-12)
  }

  test("degree distribution: exact histogram, Hill alpha replays by hand") {
    // out-degrees: node 1 → 4 dsts, node 2 → 4, node 3 → 2, node 4 → 1
    val e = (1L to 4L).map((1L, _)) ++ (11L to 14L).map((2L, _)) ++
      Seq((3L, 1L), (3L, 2L), (4L, 9L))
    val r = GraphRank.degreeDistribution(e.toDF("src", "dst"), dmin = 2L)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2),
        x.getLong(3), Option(x.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(r(4L)._1 === 2L && r(2L)._1 === 1L && r(1L)._1 === 1L)
    assert(r(4L)._2 === 0.5 && r(4L)._3 === 3L)
    // alpha = 1 + 3 / ((2·q(ln 2) + q(ln 1)) / 1e9), q = 1e-9 half-up grid
    val lnsum = 2 * math.floor(math.log(2.0) * 1e9 + 0.5)
    val exp = 1.0 + 3.0 / (lnsum / 1e9)
    assert(math.abs(r(4L)._4.get - exp) < 1e-12)
    // degree-1 node sits below the tail: contributes to frac only
    assert(r(1L)._4 === r(4L)._4)
  }

  test("degree distribution: empty tail yields null alpha; bit-invariant") {
    val e = Seq((1L, 2L), (3L, 4L))
    val r0 = GraphRank.degreeDistribution(e.toDF("src", "dst"), dmin = 5L)
      .collect()
    assert(r0.forall(_.isNullAt(4)) && r0.forall(_.getLong(3) == 0L))
    val big = (1 to 300).map(i => ((i % 40).toLong, (i * 7 % 53).toLong))
    def run(parts: Int) =
      GraphRank.degreeDistribution(big.toDF("src", "dst").repartition(parts), 3L)
        .collect().map(_.toSeq.map {
          case d: Double => java.lang.Double.doubleToLongBits(d)
          case v => v
        }).sortBy(_.mkString("|"))
    assert(run(1) === run(11))
  }

  test("hits: duplicate edges collapse; partitioning-invariant bits") {
    val e = Seq((1L, 10L), (1L, 10L), (2L, 10L), (2L, 20L), (3L, 20L))
    def run(parts: Int) =
      GraphRank.hitsScores(e.toDF("src", "dst").repartition(parts), 2)
        .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2),
          java.lang.Double.doubleToLongBits(x.getDouble(3)))).toSet
    assert(run(1) === run(7))
    val dedup = GraphRank.hitsScores(
      Seq((1L, 10L), (2L, 10L), (2L, 20L), (3L, 20L)).toDF("src", "dst"), 2)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2),
        java.lang.Double.doubleToLongBits(x.getDouble(3)))).toSet
    assert(run(1) === dedup)
  }
}

class NegativeSamplesSpec extends graft.SparkSpec {
  import spark.implicits._

  private def md5u(key: String): Double =
    BigInt(java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
      .toDouble / 1152921504606846976.0

  test("every draw resolves to exactly one candidate; scala inverse-CDF replay") {
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 10L), (3L, 12L))
      .toDF("src", "dst")
    val out = GraphRank.negativeSamples(edges, k = 2, bucketWidth = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getBoolean(4))).toMap
    assert(out.size === 10) // 5 edges x 2 draws, each exactly once
    // replay: candidates 10(d=3), 11(d=1), 12(d=1); w = floor(d^.75*1e6+.5)
    val cands = Seq((10L, 3L), (11L, 1L), (12L, 1L)).map { case (n, d) =>
      (n, math.floor(math.pow(d.toDouble, 0.75) * 1e6 + 0.5).toLong)
    }
    val cum = cands.scanLeft((0L, 0L)) { case ((_, acc), (n, w)) => (n, acc + w) }.tail
    val wt = cands.map(_._2).sum
    for (((src, dst, j), (neg, _)) <- out) {
      val t = math.floor(md5u(s"$src:$dst:$j") * wt.toDouble).toLong
      val expect = cands.map(_._1).zip(cum.map(_._2))
        .find { case (_, hi) => t < hi }.get._1
      assert(neg === expect, s"edge ($src,$dst) draw $j")
    }
  }

  test("is_positive flags draws that land on a true neighbor of src") {
    val edges = Seq((1L, 10L), (2L, 10L)).toDF("src", "dst")
    // only candidate is node 10 -> every draw is a true neighbor
    val out = GraphRank.negativeSamples(edges, k = 3, bucketWidth = 100L)
    assert(out.collect().forall(r => r.getLong(3) === 10L && r.getBoolean(4)))
  }

  test("degree bias: the hub is drawn far more often than leaves") {
    val edges = ((1 to 300).map(i => (i.toLong, 500L)) ++
      (1 to 10).map(i => (i.toLong, 600L))).toDF("src", "dst")
    val counts = GraphRank.negativeSamples(edges, k = 1, bucketWidth = 1000000L)
      .groupBy("neg_id").count()
      .as[(Long, Long)].collect().toMap
    // w(500) = 300^.75 ~ 72x w(600) = 10^.75; expect hub dominance
    assert(counts.getOrElse(500L, 0L) > 10 * counts.getOrElse(600L, 0L),
      counts.toString)
  }

  test("bit determinism under repartitioning") {
    val rng = new scala.util.Random(51)
    val edges = (1 to 400).map(_ =>
      (rng.nextInt(50).toLong, (100 + rng.nextInt(20)).toLong)).toDF("src", "dst")
    def run(p: Int) = GraphRank.negativeSamples(edges.repartition(p), k = 2,
        bucketWidth = 5000000L)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(run(1) === run(13))
  }

  test("modularity: two clean triangles score 0.5; one blob scores 0") {
    // disjoint triangles {1,2,3} and {4,5,6}: m=6, per community
    // e_in=3, deg_sum=6 -> q_term = 3/6 - (6/12)^2 = 0.25, Q = 0.5
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("src", "dst")
    val comm2 = Seq((1L, 0L), (2L, 0L), (3L, 0L),
      (4L, 1L), (5L, 1L), (6L, 1L)).toDF("id", "comm")
    val got = GraphRank.modularity(edges, comm2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5), r.getDouble(6)))).toMap
    for (c <- Seq(0L, 1L)) {
      val (nNodes, eIn, degSum, qTerm, qTotal) = got(c)
      assert(nNodes === 3L && eIn === 3L && degSum === 6L)
      assert(math.abs(qTerm - 0.25) < 1e-12)
      assert(math.abs(qTotal - 0.5) < 1e-12)
    }
    // everything in one community: Q = 1 - 1 = 0 (no structure signal)
    val comm1 = (1L to 6L).map(i => (i, 9L)).toDF("id", "comm")
    val blob = GraphRank.modularity(edges, comm1).collect().head
    assert(math.abs(blob.getDouble(6) - 0.0) < 1e-12)
    // anti-community split (cross-cutting partition) goes NEGATIVE
    val commX = Seq((1L, 0L), (2L, 1L), (3L, 0L),
      (4L, 1L), (5L, 0L), (6L, 1L)).toDF("id", "comm")
    assert(GraphRank.modularity(edges, commX).collect().head.getDouble(6) < 0.0)
  }

  test("degreeAssortativity: star = -1, regular graph = NULL, mixed in between") {
    import spark.implicits._
    // star K1,4: every stub pairs (4,1) or (1,4) → perfect anticorrelation
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val s = GraphRank.degreeAssortativity(star).collect().head
    assert(s.getLong(0) === 5L && s.getLong(1) === 4L)
    assert(math.abs(s.getDouble(2) - (-1.0)) < 1e-12)
    // cycle C4: degree-regular → zero variance → NULL r
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    assert(GraphRank.degreeAssortativity(cyc).collect().head.isNullAt(2))
    // duplicate + self-loop edges are dropped before the moments
    val messy = Seq((0L, 1L), (1L, 0L), (0L, 0L), (0L, 2L), (0L, 3L),
      (0L, 4L)).toDF("src", "dst")
    val m = GraphRank.degreeAssortativity(messy).collect().head
    assert(m.getLong(1) === 4L && math.abs(m.getDouble(2) - (-1.0)) < 1e-12)
  }

  test("linkPredictionWeighted: AA/RA sum 1/ln(deg), 1/deg over shared wedges") {
    import spark.implicits._
    // path a(1) - w(2) - b(3) plus a second witness x(4) of degree 3:
    // a-w-b, a-x-b, x-c — candidates (a,b) share w (deg 2) and x (deg 3)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 4L), (4L, 3L), (4L, 5L))
      .toDF("src", "dst")
    val got = GraphRank.linkPredictionWeighted(edges, maxDegree = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val (cn, aa, ra) = got((1L, 3L))
    assert(cn === 2L)
    // grid-exact: floor(1e12/ln d + .5)/1e12 per witness
    def g(x: Double) = math.floor(1e12 / x + 0.5) / 1e12
    assert(math.abs(aa - (g(math.log(2.0)) + g(math.log(3.0)))) < 1e-12)
    assert(math.abs(ra - (g(2.0) + g(3.0))) < 1e-12)
    // adjacent pairs never score: (1,2) is an edge → absent
    assert(!got.contains((1L, 2L)))
  }
}
