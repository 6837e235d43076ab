package graft.llm

import graft.SparkSpec

class KMeansSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential reference assignment on the quantized grid to the k
    * lowest-id seeds — same tie rule (lower cell).
    */
  private def bruteAssign(vs: Seq[(Long, Seq[Double])], k: Int,
      scale: Int = 1000): Map[Long, Int] = {
    val q = vs.sortBy(_._1).map { case (id, v) =>
      id -> v.map(x => math.floor(x * scale + 0.5).toLong).toArray
    }
    val cents = q.take(k).map(_._2.map(_.toDouble))
    def d2(x: Array[Long], c: Array[Double]): Double =
      x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    q.map { case (id, x) =>
      id -> cents.zipWithIndex.minBy { case (c, i) => (d2(x, c), i) }._2
    }.toMap
  }

  private val vecs: Seq[(Long, Seq[Double])] = {
    // three well-separated blobs in 4-d plus deterministic jitter
    val centers = Seq(Seq(0.0, 0.0, 0.0, 0.0), Seq(5.0, 5.0, 0.0, 0.0), Seq(0.0, 0.0, 7.0, 7.0))
    (0L until 45L).map { i =>
      val c = centers((i % 3).toInt)
      i -> c.zipWithIndex.map { case (v, d) => v + ((i * 31 + d * 17) % 7) * 0.01 }
    }
  }

  test("assignment is partitioning-invariant and ties break to the lower cell") {
    val df = vecs.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    def run(parts: Int) = {
      val dfq = KMeans.quantized(df.repartition(parts), "vec_id", "embedding")
      KMeans.assign(dfq, "vec_id", KMeans.seedCentroids(dfq, "vec_id", 3))
        .select("vec_id", "cell", "dist2").as[(Long, Int, Double)]
        .collect().sortBy(_._1).toSeq
    }
    assert(run(1) === run(13))
    assert(run(1).map(r => r._1 -> r._2).toMap === bruteAssign(vecs, 3))
    // duplicated point equidistant to duplicated seeds → cell 0 (lower id wins)
    val dup = Seq((0L, Seq(1.0, 1.0)), (1L, Seq(1.0, 1.0)), (2L, Seq(1.0, 1.0)))
      .toDF("vec_id", "embedding")
    val dfq = KMeans.quantized(dup, "vec_id", "embedding")
    val seeds = KMeans.seedCentroids(dfq, "vec_id", 2)
    val cells = KMeans.assign(dfq, "vec_id", seeds)
      .select("cell").as[Int].collect().toSet
    assert(cells === Set(0))
  }

  test("IVF-trainer sizes (k=64, d=128) evaluate — one typedLit constant, no codegen blowup") {
    // k separate d-element array literals would put k·d = 8192 constants in
    // the generated projection class; the single typedLit matrix must keep
    // this evaluating (and matching the sequential reference) at IVF sizes
    val big: Seq[(Long, Seq[Double])] = (0L until 200L).map { i =>
      i -> (0 until 128).map(d => ((i * 37 + d * 13) % 29) * 0.1)
    }
    val df = big.toDF("vec_id", "embedding")
    val dfq = KMeans.quantized(df, "vec_id", "embedding")
    val seeds = KMeans.seedCentroids(dfq, "vec_id", 64)
    assert(seeds.length === 64 && seeds.head.length === 128)
    val got = KMeans.assign(dfq, "vec_id", seeds)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(got.size === 200)
    val ref = bruteAssign(big, 64)
    assert(got === ref)
  }

  test("silhouette: well-separated clusters score near 1, hand-checked point") {
    // centroids (0,0) and (10,0); points hug their own centroid
    val cents = Seq(Array(0.0, 0.0), Array(10.0, 0.0))
    val pts = Seq((0L, Seq(0L, 0L)), (1L, Seq(1L, 0L)),
      (2L, Seq(10L, 0L)), (3L, Seq(9L, 0L)))
    val dfq = pts.toDF("vec_id", "xq")
    val r = KMeans.silhouetteSimplified(dfq, "vec_id", cents)
      .as[(Long, Long, Double, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    // point 0: a=0, b=10 → s=1; point 1: a=1, b=9 → s=8/9
    val s0 = 1.0; val s1 = (9.0 - 1.0) / 9.0
    val exp = (math.floor(s0 * 1e9 + 0.5) + math.floor(s1 * 1e9 + 0.5)) / 1e9 / 2
    assert(r(0L)._1 === 2L && math.abs(r(0L)._2 - exp) < 1e-15)
    assert(math.abs(r(0L)._3 - math.floor(s1 * 1e9 + 0.5) / 1e9) < 1e-15)
    assert(r(1L)._1 === 2L && r(1L)._2 > 0.85)
  }

  test("silhouette: a point midway between centroids scores 0; ties go low cell") {
    val cents = Seq(Array(0.0), Array(10.0))
    val dfq = Seq((0L, Seq(5L))).toDF("vec_id", "xq")
    val r = KMeans.silhouetteSimplified(dfq, "vec_id", cents)
      .as[(Long, Long, Double, Double)].collect()
    assert(r.length === 1 && r.head._1 === 0L && r.head._3 === 0.0)
  }

  test("silhouette: bit-identical across partitionings; k=1 rejected") {
    val pts = (0L until 60L).map(i => (i, Seq(i % 7, (i * 3) % 11)))
    val cents = Seq(Array(1.0, 2.0), Array(5.0, 8.0), Array(3.0, 3.0))
    def run(parts: Int) =
      KMeans.silhouetteSimplified(pts.toDF("vec_id", "xq").repartition(parts),
        "vec_id", cents)
        .collect().map(_.toSeq.map {
          case d: Double => java.lang.Double.doubleToLongBits(d)
          case v => v
        }).sortBy(_.mkString("|"))
    assert(run(1) === run(7))
    intercept[IllegalArgumentException] {
      KMeans.silhouetteSimplified(pts.toDF("vec_id", "xq"), "vec_id",
        Seq(Array(0.0, 0.0)))
    }
  }

  test("daviesBouldin: hand clusters — tight far pair vs overlapping pair") {
    import spark.implicits._
    // three centroids on a line: c0=(0,0), c1=(100,0), c2=(110,0);
    // every point sits 1 away from its centroid -> S_i = 1;
    // R_0 = max(2/100, 2/110), R_1 = max(2/100, 2/10), R_2 = 2/10
    val cents = Seq(Array(0.0, 0.0), Array(100.0, 0.0), Array(110.0, 0.0))
    val pts = Seq(
      (1L, Seq(1L, 0L)), (2L, Seq(-1L, 0L)),
      (3L, Seq(101L, 0L)), (4L, Seq(99L, 0L)),
      (5L, Seq(111L, 0L)), (6L, Seq(109L, 0L)))
      .toDF("vec_id", "xq")
    val out = KMeans.daviesBouldin(pts, "vec_id", cents)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.keySet === Set(0L, 1L, 2L))
    assert(out.values.forall { case (n, s, _) => n == 2L && math.abs(s - 1.0) < 1e-9 })
    assert(math.abs(out(0L)._3 - 2.0 / 100) < 1e-9, "far pair barely couples")
    assert(math.abs(out(1L)._3 - 2.0 / 10) < 1e-9, "overlap pair dominates")
    assert(math.abs(out(2L)._3 - 2.0 / 10) < 1e-9)
  }

  test("daviesBouldin: determinism and the k >= 2 guard") {
    import spark.implicits._
    val rng = new scala.util.Random(71)
    val pts = (1L to 200L).map(i =>
      (i, Seq.fill(4)(rng.nextInt(100).toLong))).toDF("vec_id", "xq")
    val cents = KMeans.seedCentroids(pts, "vec_id", 4)
    def run(p: Int) = KMeans.daviesBouldin(pts.repartition(p), "vec_id", cents)
      .collect().map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case v => v
      }).sortBy(_.mkString("|"))
    assert(run(1) === run(9))
    intercept[IllegalArgumentException] {
      KMeans.daviesBouldin(pts, "vec_id", Seq(Array(0.0)))
    }
  }

  test("daviesBouldin: coincident centroids NULL out, never Infinity") {
    import spark.implicits._
    // c0 and c1 coincide (M_01 = 0); c2 sits far away. The (0,1) ratio
    // is undefined -> NULLed, so every r_max must stay finite (it comes
    // from the far pair), never Infinity.
    val cents = Seq(Array(0.0, 0.0), Array(0.0, 0.0), Array(100.0, 0.0))
    val pts = Seq(
      (1L, Seq(1L, 0L)), (2L, Seq(-1L, 0L)),
      (3L, Seq(101L, 0L)), (4L, Seq(99L, 0L))).toDF("vec_id", "xq")
    val out = KMeans.daviesBouldin(pts, "vec_id", cents).collect()
    out.foreach { r =>
      assert(r.isNullAt(3) || !r.getDouble(3).isInfinity,
        s"cell ${r.getLong(0)} leaked Infinity")
    }
    // the populated far cell couples to the near mass with a finite ratio
    val far = out.find(_.getLong(0) == 2L).get
    assert(math.abs(far.getDouble(3) - 2.0 / 100) < 1e-9)
  }
}
