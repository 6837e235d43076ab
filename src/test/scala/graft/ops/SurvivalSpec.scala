package graft.ops

import graft.SparkSpec

class SurvivalSpec extends SparkSpec {
  import spark.implicits._

  private def km(rows: Seq[(String, Long, Int)]): Map[(String, Long), (Long, Long, Long, Double)] =
    Survival.kaplanMeier(rows.toDF("g", "dur", "ev"), "g", "dur", "ev")
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap

  test("textbook example: censoring keeps subjects in the risk set until their time") {
    // classic KM: events at t=1 (1 of 5), t=3 (1 of 3); censored at t=2, t=3, t=4
    val rows = Seq(("a", 1L, 1), ("a", 2L, 0), ("a", 3L, 1), ("a", 3L, 0), ("a", 4L, 0))
    val r = km(rows)
    val (n1, d1, _, s1) = r(("a", 1L))
    assert(n1 === 5L && d1 === 1L && math.abs(s1 - 0.8) < 1e-12)
    val (n3, d3, c3, s3) = r(("a", 3L))
    // risk set at 3: 5 - 1(event@1) - 1(censored@2) = 3; S = 0.8 * (1 - 1/3)
    assert(n3 === 3L && d3 === 1L && c3 === 1L)
    assert(math.abs(s3 - 0.8 * (2.0 / 3)) < 1e-12)
    // censored-only times emit no curve row
    assert(!r.contains(("a", 2L)) && !r.contains(("a", 4L)))
  }

  test("no censoring degrades to plain survival fractions") {
    // durations for i=1..10 of (i%3 + 1): three 1s, four 2s, three 3s
    val rows = (1 to 10).map(i => ("g", (i % 3 + 1).toLong, 1))
    val r = km(rows)
    // t=1: 3 events of 10; t=2: 4 of 7; t=3: 3 of 3 → S hits exactly 0
    assert(r(("g", 1L))._1 === 10L && math.abs(r(("g", 1L))._4 - 0.7) < 1e-12)
    assert(math.abs(r(("g", 2L))._4 - 0.7 * (3.0 / 7)) < 1e-12)
    assert(r(("g", 3L))._4 === 0.0)
  }

  test("groups are independent; partitioning-invariant bits") {
    val rows = (1 to 200).map(i =>
      (s"g${i % 2}", (i * 13 % 17).toLong, if (i % 3 == 0) 0 else 1))
    val df = rows.toDF("g", "dur", "ev")
    def run(p: Int) = Survival.kaplanMeier(df.repartition(p), "g", "dur", "ev")
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5,
        java.lang.Double.doubleToLongBits(r._6))).toSet
    assert(run(1) === run(13))
    // a group's curve must not see the other group's subjects
    val solo = km(rows.filter(_._1 == "g0"))
    val both = km(rows)
    assert(solo.keySet.forall(k => solo(k) == both(k)))
  }

  private def na(rows: Seq[(String, Long, Int)])
      : Map[(String, Long), (Long, Long, Long, Double, Double, Double)] =
    Survival.nelsonAalen(rows.toDF("g", "dur", "ev"), "g", "dur", "ev")
      .as[(String, Long, Long, Long, Long, Double, Double, Double)]
      .collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7, r._8))).toMap

  test("nelson-aalen: textbook cumulative hazard with censoring") {
    // 10 subjects: events at t=1 (2), t=3 (1); censored at t=2 (3); rest
    // censored at t=5
    val rows = Seq.fill(2)(("g", 1L, 1)) ++ Seq.fill(3)(("g", 2L, 0)) ++
      Seq(("g", 3L, 1)) ++ Seq.fill(4)(("g", 5L, 0))
    val r = na(rows)
    // t=1: n=10, d=2 → h=0.2; t=3: n=5, d=1 → h=0.2, H=0.4
    val (n1, d1, _, h1, ch1, s1) = r(("g", 1L))
    assert(n1 === 10L && d1 === 2L && h1 === 0.2 && ch1 === 0.2)
    assert(math.abs(s1 - math.exp(-0.2)) < 1e-15)
    val (n3, d3, _, h3, ch3, s3) = r(("g", 3L))
    assert(n3 === 5L && d3 === 1L && h3 === 0.2)
    assert(math.abs(ch3 - 0.4) < 1e-15 && math.abs(s3 - math.exp(-0.4)) < 1e-15)
    assert(!r.contains(("g", 2L)) && !r.contains(("g", 5L))) // censor-only times
  }

  test("nelson-aalen: exhausted risk set stays finite (vs KM's hard zero)") {
    val rows = Seq(("g", 1L, 1), ("g", 1L, 1)) // both die at t=1
    val (n, d, _, h, ch, s) = na(rows)(("g", 1L))
    assert(n === 2L && d === 2L && h === 1.0 && ch === 1.0)
    assert(math.abs(s - math.exp(-1.0)) < 1e-15 && s > 0.0)
  }

  test("nelson-aalen: partitioning-invariant bits, groups independent") {
    val rows = (1 to 200).map(i =>
      (s"g${i % 2}", (i * 13 % 17).toLong, if (i % 3 == 0) 0 else 1))
    val df = rows.toDF("g", "dur", "ev")
    def run(p: Int) = Survival.nelsonAalen(df.repartition(p), "g", "dur", "ev")
      .as[(String, Long, Long, Long, Long, Double, Double, Double)].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5,
        java.lang.Double.doubleToLongBits(r._6),
        java.lang.Double.doubleToLongBits(r._7),
        java.lang.Double.doubleToLongBits(r._8))).toSet
    assert(run(1) === run(13))
    val solo = na(rows.filter(_._1 == "g1"))
    val both = na(rows)
    assert(solo.keySet.forall(k => solo(k) == both(k)))
  }

  test("weibullFit recovers (shape, scale) from an exact Weibull curve") {
    // feed synthetic KM points S(t) = exp(-(t/λ)^k): the plot is exactly
    // linear, so OLS recovers k and λ to grid precision and r = 1
    val k0 = 1.7; val lam = 40.0
    val km = (5L to 120L by 5L).map { t =>
      ("g", t, math.exp(-math.pow(t / lam, k0)))
    }.toDF("seg", "t", "survival")
    val r = Survival.weibullFit(km, "seg").collect().head
    assert(r.getLong(1) === 24L)
    assert(math.abs(r.getDouble(2) - k0) < 1e-6, s"shape ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - lam) < 1e-3, s"scale ${r.getDouble(3)}")
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-9, "perfect line -> r = 1")
  }

  test("weibullFit: exponential special case k=1; degenerate guards") {
    val km = (10L to 100L by 10L).map(t => ("g", t, math.exp(-t / 25.0)))
      .toDF("seg", "t", "survival")
    val r = Survival.weibullFit(km, "seg").collect().head
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-6)
    assert(math.abs(r.getDouble(3) - 25.0) < 1e-3)
    // S = 0 / S = 1 / t = 0 points are excluded from the fit
    val edged = (Seq(("g", 0L, 0.5), ("g", 7L, 1.0), ("g", 9L, 0.0)) ++
      Seq(("g", 10L, 0.6), ("g", 20L, 0.3))).toDF("seg", "t", "survival")
    assert(Survival.weibullFit(edged, "seg").collect().head.getLong(1) === 2L)
    // single usable point -> NULL fit
    val one = Seq(("g", 10L, 0.5)).toDF("seg", "t", "survival")
    val ro = Survival.weibullFit(one, "seg").collect().head
    assert(ro.isNullAt(2) && ro.isNullAt(3))
    // end-to-end composition over the KM output stays deterministic
    val rng = new scala.util.Random(59)
    val subj = (1 to 300).map(i => (s"s${i % 2}",
      (rng.nextInt(50) + 1).toLong, (i % 3 != 0).compareTo(false).toLong))
      .toDF("g", "dur", "ev")
    def bits(p: Int) = Survival.weibullFit(
        Survival.kaplanMeier(subj.repartition(p), "g", "dur", "ev"), "g")
      .collect().map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case v => v
      }).sortBy(_.mkString("|")).toSeq
    assert(bits(1) === bits(11))
  }

  test("logRank: hand-worked two-arm case (O, E, V, z, p)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // A: events at 1 and 2; B: censored at 1, event at 3.
    // t=1: n=4 (2+2), d=1 in A  ⇒ E += 0.5, V += 0.25
    // t=2: n=2 (1+1), d=1 in A  ⇒ E += 0.5, V += 0.25
    // t=3: n=1 (B only), d=1    ⇒ E += 0,   V += 0 (n_t = 1)
    // O_A = 2, E_A = 1, V = 0.5, z = √2, p = 2/(1+exp(1.702·√2))
    val subj = Seq((true, 1L, 1L), (true, 2L, 1L),
      (false, 1L, 0L), (false, 3L, 1L)).toDF("a", "dur", "ev")
    val r = Survival.logRank(subj, col("a"), "dur", "ev").collect().head
    assert(r.getLong(0) === 2L)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-9)
    assert(math.abs(r.getDouble(2) - 0.5) < 1e-9)
    assert(math.abs(r.getDouble(3) - math.sqrt(2.0)) < 1e-9)
    assert(math.abs(r.getDouble(4) - 0.16528222456431943) < 1e-9)
    // identical arms ⇒ z near 0; single-arm degenerate ⇒ NULL z
    val same = Seq((true, 1L, 1L), (false, 1L, 1L),
      (true, 2L, 1L), (false, 2L, 1L)).toDF("a", "dur", "ev")
    val rs = Survival.logRank(same, col("a"), "dur", "ev").collect().head
    assert(math.abs(rs.getDouble(3)) < 1e-9)
    val solo = Seq((true, 1L, 1L), (true, 2L, 1L)).toDF("a", "dur", "ev")
    assert(Survival.logRank(solo, col("a"), "dur", "ev")
      .collect().head.isNullAt(3))
    // determinism under repartitioning
    val rng = new scala.util.Random(31)
    val big = (1 to 400).map(i => (i % 2 == 0,
      (rng.nextInt(30) + 1).toLong, rng.nextInt(2).toLong))
      .toDF("a", "dur", "ev")
    def bits(p: Int) = Survival.logRank(big.repartition(p), col("a"), "dur", "ev")
      .collect().map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case v => v
      }).toSeq
    assert(bits(1) === bits(13))
  }
}
