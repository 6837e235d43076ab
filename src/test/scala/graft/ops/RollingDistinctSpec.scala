package graft.ops

import graft.SparkSpec

class RollingDistinctSpec extends SparkSpec {
  import spark.implicits._

  private def day(i: Int): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong))

  /** Sequential ground truth per (key, day present): distinct ids over the
    * trailing w days by direct set arithmetic.
    */
  private def brute(rows: Seq[(String, Int, Long)], w: Int)
      : Map[(String, Int), (Long, Long)] = {
    val byKey = rows.groupBy(_._1)
    (for {
      (k, rs) <- byKey.toSeq
      d <- rs.map(_._2).distinct
    } yield {
      val trail = rs.filter(r => r._2 <= d && r._2 > d - w).map(_._3).toSet
      val today = rs.filter(_._2 == d).map(_._3).toSet
      (k, d) -> ((today.size.toLong, trail.size.toLong))
    }).toMap
  }

  private def run(rows: Seq[(String, Int, Long)], w: Int)
      : Map[(String, Int), (Long, Long)] = {
    val df = rows.map { case (k, d, id) => (k, day(d), id) }.toDF("k", "day", "id")
    RollingDistinct.trailingDistinct(df, Seq("k"), "day", "id", w)
      .as[(String, java.sql.Date, Long, Long)].collect()
      .map { case (k, d, ud, ut) =>
        (k, d.toLocalDate.toEpochDay.toInt -
          java.time.LocalDate.of(2024, 1, 1).toEpochDay.toInt) -> ((ud, ut))
      }.toMap
  }

  test("matches brute force on a gappy multi-key calendar, duplicates collapsed") {
    // deterministic pseudo-random layout: gaps, repeats, ids shared across
    // days and keys
    val rows = for {
      i <- 0 until 400
      k = if (i % 3 == 0) "a" else "b"
      d = (i * 7 % 23) match { case x if x > 15 => x + 10; case x => x } // gap 16..25
      id = (i * 13 % 17).toLong
    } yield (k, d, id)
    val w = 7
    val got = run(rows, w)
    val want = brute(rows, w)
    assert(got === want)
    assert(got.nonEmpty && got.keySet === want.keySet)
  }

  test("window of 1 degenerates to the per-day distinct count") {
    val rows = Seq(("a", 0, 1L), ("a", 0, 1L), ("a", 0, 2L), ("a", 3, 1L))
    val got = run(rows, 1)
    assert(got === Map(("a", 0) -> ((2L, 2L)), ("a", 3) -> ((1L, 1L))))
  }

  test("gaps shrink the window: a burst more than w days back is invisible") {
    // 5 users on day 0, 1 new user on day 10; w=7 → day 10 sees only itself
    val rows = (1L to 5L).map(("a", 0, _)) :+ (("a", 10, 99L))
    val got = run(rows, 7)
    assert(got(("a", 0)) === ((5L, 5L)))
    assert(got(("a", 10)) === ((1L, 1L)))
  }

  test("trailing count is monotone-superset of the day count and keys don't mix") {
    val rows = Seq(("a", 0, 1L), ("a", 2, 2L), ("b", 2, 1L))
    val got = run(rows, 7)
    assert(got(("a", 2)) === ((1L, 2L))) // user 1 from day 0 still in window
    assert(got(("b", 2)) === ((1L, 1L))) // key b never sees key a's users
  }

  test("sketch-merge form tracks the exact counts within the HLL error bound") {
    val rows = for {
      i <- 0 until 600
      k = "k" + (i % 2)
      d = i * 5 % 17
      id = (i * 31 % 211).toLong
    } yield (k, d, id)
    val df = rows.map { case (k, d, id) => (k, day(d), id) }.toDF("k", "day", "id")
    val exact = RollingDistinct.trailingDistinct(df, Seq("k"), "day", "id", 7)
      .as[(String, java.sql.Date, Long, Long)].collect()
      .map(t => (t._1, t._2.toString) -> t._4).toMap
    val approx = RollingDistinct.trailingDistinctApprox(df, Seq("k"), "day", "id", 7)
      .as[(String, java.sql.Date, Double, Double)].collect()
      .map(t => (t._1, t._2.toString) -> t._4).toMap
    assert(approx.keySet === exact.keySet)
    // lgConfigK=12 → rsd ≈ 1.6%; 3× headroom mirrors the q_a3 scheme
    exact.foreach { case (key, ex) =>
      assert(math.abs(approx(key) - ex) / ex <= 0.06,
        s"$key: approx ${approx(key)} vs exact $ex")
    }
  }

  test("result is partitioning-independent") {
    val rows = (0 until 100).map(i => ("k" + (i % 2), i % 9, (i % 5).toLong))
    val df = rows.map { case (k, d, id) => (k, day(d), id) }.toDF("k", "day", "id")
    val once = RollingDistinct.trailingDistinct(df, Seq("k"), "day", "id", 3)
      .orderBy("k", "day").collect().toSeq
    val repart = RollingDistinct.trailingDistinct(df.repartition(7), Seq("k"), "day", "id", 3)
      .orderBy("k", "day").collect().toSeq
    assert(once === repart)
  }
}
