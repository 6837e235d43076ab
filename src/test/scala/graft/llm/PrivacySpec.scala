package graft.llm

import graft.SparkSpec

class PrivacySpec extends SparkSpec {
  import spark.implicits._

  test("kAnonymityAudit: exact class sizes, l-diversity, and risk flags") {
    // QI class (a,1): 6 rows / 2 sensitive values; (a,2): 2 rows / 1 value;
    // (b,1): 1 row / 1 value
    val rows = Seq.fill(4)(("a", 1L, "s1")) ++ Seq.fill(2)(("a", 1L, "s2")) ++
      Seq(("a", 2L, "s1"), ("a", 2L, "s1"), ("b", 1L, "s3"))
    val df = rows.toDF("g", "band", "sens")
    val got = Privacy.kAnonymityAudit(df, Seq("g", "band"), "sens", k = 5L)
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(("a", 1L)) === ((6L, 2L, false)))
    assert(got(("a", 2L)) === ((2L, 1L, true)))
    assert(got(("b", 1L)) === ((1L, 1L, true)))
  }

  test("laplaceNoisyCounts: deterministic, unbiased-ish, epsilon scales noise exactly") {
    val df = (1L to 3000L).map(i => (s"g${i % 50}", i)).toDF("g", "x")
    val a = Privacy.laplaceNoisyCounts(df, Seq("g"), epsilon = 1.0)
    val b = Privacy.laplaceNoisyCounts(df.repartition(17), Seq("g"), epsilon = 1.0)
    val am = a.collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    val bm = b.collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(am === bm, "noise must be a pure function of the group key")
    assert(am.size === 50)
    // every group's true count is 60; noise is centered — the released
    // values straddle it and stay within a plausible Laplace(1) envelope
    val noises = am.values.map { case (t, n, _) => n - t }.toSeq
    assert(noises.exists(_ > 0) && noises.exists(_ < 0))
    assert(math.abs(noises.sum / noises.size) < 1.0)
    // b = 1/eps: doubling epsilon exactly halves each draw (same uniform,
    // multiply by 0.5 is an exact IEEE op)
    val half = Privacy.laplaceNoisyCounts(df, Seq("g"), epsilon = 2.0)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    am.foreach { case (g, (t, n, _)) =>
      // (t + x) - t re-rounds, so compare within an ulp-scale tolerance
      assert(math.abs((half(g) - t) - (n - t) / 2.0) < 1e-9, s"group $g")
    }
    // released = round(noisy) clamped at 0
    am.values.foreach { case (_, n, rel) =>
      assert(rel === math.max(0L, math.floor(n + 0.5).toLong))
    }
  }

  test("generalizationLadder: risk strictly relaxes as bands widen, exact at both ends") {
    // 100 rows in one stratum, values 0..99: width 1 → 100 singleton
    // classes (all risky at k=5); width 100 → one class of 100 (none)
    val df = (0L until 100L).map(v => ("s", v)).toDF("g", "v")
    val got = Privacy.generalizationLadder(df, "g", "v", Seq(1L, 10L, 100L), k = 5L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) === ((100L, 100L, 100L, 1L)))
    assert(got(10L) === ((10L, 0L, 0L, 10L)))
    assert(got(100L) === ((1L, 0L, 0L, 100L)))
  }

  private def tc(rows: Seq[(String, Long)], t: Double)
      : Map[String, (Long, Long, Double, Boolean)] =
    Privacy.tClosenessAudit(rows.toDF("qi", "s"), Seq("qi"), "s", t)
      .as[(String, Long, Long, Double, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

  test("t-closeness: hand-computed EMD on a two-value domain") {
    // global: value 1 ×4, value 2 ×4 (q = ½,½); class a all-1s (p = 1,0)
    // EMD = |1−½| / (2−1) = 0.5; class b mirrors with 2s
    val rows = Seq.fill(4)(("a", 1L)) ++ Seq.fill(4)(("b", 2L))
    val r = tc(rows, t = 0.3)
    assert(r("a") === ((4L, 2L, 0.5, true)))
    assert(r("b") === ((4L, 2L, 0.5, true)))
  }

  test("t-closeness: class tracking the global distribution scores zero") {
    val rows = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L))
    val r = tc(rows, t = 0.1)
    assert(r("a") === ((2L, 2L, 0.0, false)))
    assert(r("b") === ((2L, 2L, 0.0, false)))
  }

  test("t-closeness: ordered EMD sees distance, not just disjointness") {
    // domain {0, 1, 2} uniform globally; class x concentrated at 0,
    // class y at 1 (the middle): EMD(x) = (|2/3| + |1/3|)/2 = 0.5,
    // EMD(y) = (|−1/3| + |1/3|)/2 = 1/3 — nearer distributions score less
    val rows = Seq(("x", 0L), ("x", 0L), ("y", 1L), ("y", 1L), ("z", 2L), ("z", 2L))
    val r = tc(rows, t = 0.4)
    assert(math.abs(r("x")._3 - 0.5) < 1e-12 && r("x")._4)
    assert(math.abs(r("y")._3 - 1.0 / 3) < 1e-12 && !r("y")._4)
  }

  test("t-closeness: a null QI value forms its own class with real cells") {
    val rows = Seq((Option("a"), 1L), (Option("a"), 2L),
      (Option.empty[String], 1L), (Option.empty[String], 1L))
    val r = Privacy.tClosenessAudit(rows.toDF("qi", "s"), Seq("qi"), "s", 0.3)
      .as[(Option[String], Long, Long, Double, Boolean)]
      .collect().map(x => x._1 -> ((x._2, x._4))).toMap
    // global q = (¾, ¼); null class p = (1, 0): EMD = |1 − ¾| = ¼
    assert(r(None)._1 === 2L && math.abs(r(None)._2 - 0.25) < 1e-12)
    // class a p = (½, ½): EMD = |½ − ¾| = ¼
    assert(math.abs(r(Some("a"))._2 - 0.25) < 1e-12)
  }

  test("t-closeness: single-value domain scores 0; invariant to partitioning") {
    val single = tc(Seq(("a", 5L), ("b", 5L)), 0.1)
    assert(single("a") === ((1L, 1L, 0.0, false)))
    val rows = (1 to 240).map(i => (s"c${i % 4}", (i * 7 % 11).toLong))
    def run(parts: Int) =
      Privacy.tClosenessAudit(rows.toDF("qi", "s").repartition(parts),
        Seq("qi"), "s", 0.2)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)), r.getBoolean(4))).toSet
    assert(run(1) === run(13))
  }
}
