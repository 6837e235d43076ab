package graft.ops

import graft.SparkSpec

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def naive(points: Seq[(Long, Long)], intervals: Seq[(Long, Long, Long)],
      sameKey: Boolean): Set[(Long, Long)] =
    (for {
      (pid, p) <- points
      (iid, s, e) <- intervals
      if p >= s && p < e && (!sameKey || pid % 3 == iid % 3)
    } yield (pid, iid)).toSet

  test("bucketized join ≡ naive theta-join across widths (seeded random)") {
    val rnd = new scala.util.Random(7)
    val points = Seq.tabulate(300)(i => (i.toLong, rnd.nextLong(100000L)))
    val intervals = Seq.tabulate(80) { i =>
      val s = rnd.nextLong(100000L); (i.toLong, s, s + rnd.nextLong(9000L))
    }
    val pDf = points.toDF("pid", "p")
    val iDf = intervals.toDF("iid", "s", "e")
    val want = naive(points, intervals, sameKey = false)
    // widths far below, near, and far above the typical interval length —
    // the result must be width-independent (only the plan shape changes)
    for (w <- Seq(100L, 4000L, 50000L)) {
      val got = RangeJoin.pointInInterval(pDf, "p", iDf, "s", "e", w)
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      assert(got === want, s"width=$w")
    }
  }

  test("half-open boundaries; exact-multiple timestamps land in the right bucket") {
    // p == start included, p == end excluded, and points sitting exactly on
    // a bucket boundary (the case integral `div` exists for: double
    // division can round these across the boundary)
    val pDf = Seq((1L, 1000L), (2L, 1999L), (3L, 2000L), (4L, 0L)).toDF("pid", "p")
    val iDf = Seq((10L, 1000L, 2000L)).toDF("iid", "s", "e")
    val got = RangeJoin.pointInInterval(pDf, "p", iDf, "s", "e", 1000L)
      .select("pid").as[Long].collect().toSet
    assert(got === Set(1L, 2L))
  }

  test("degenerate intervals (end <= start) match nothing") {
    val pDf = Seq((1L, 50L)).toDF("pid", "p")
    val iDf = Seq((10L, 50L, 50L), (11L, 60L, 40L)).toDF("iid", "s", "e")
    assert(RangeJoin.pointInInterval(pDf, "p", iDf, "s", "e", 10L).count() === 0)
  }

  test("an interval spanning many buckets still matches each point exactly once") {
    val pDf = Seq((1L, 5L), (2L, 95L)).toDF("pid", "p")
    val iDf = Seq((10L, 0L, 100L)).toDF("iid", "s", "e")
    val got = RangeJoin.pointInInterval(pDf, "p", iDf, "s", "e", 10L)
      .groupBy("pid").count().as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L))
  }

  test("extra equi-keys restrict matches to same-key pairs") {
    val rnd = new scala.util.Random(11)
    val points = Seq.tabulate(120)(i => (i.toLong, rnd.nextLong(10000L)))
    val intervals = Seq.tabulate(40) { i =>
      val s = rnd.nextLong(10000L); (i.toLong, s, s + 2000L)
    }
    val pDf = points.map { case (pid, p) => (pid, p, pid % 3) }.toDF("pid", "p", "k")
    val iDf = intervals.map { case (iid, s, e) => (iid, s, e, iid % 3) }.toDF("iid", "s", "e", "k")
    val got = RangeJoin.pointInInterval(pDf, "p", iDf, "s", "e", 1500L, keys = Seq("k"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(got === naive(points, intervals, sameKey = true))
  }
}
