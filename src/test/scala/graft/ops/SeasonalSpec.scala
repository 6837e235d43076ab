package graft.ops

import graft.SparkSpec
import java.sql.Date

class SeasonalSpec extends SparkSpec {
  import spark.implicits._

  private def day(i: Int): Date = Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))

  private def decompose(rows: Seq[(String, Date, Long)]) =
    Seasonal.weekdayDecompose(rows.toDF("g", "day", "x"), "g", "day", "x")
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Double]))))
      .toMap

  test("constant series: trend = x, seasonal = 0, residual = 0 at interior points") {
    val rows = (0 until 21).map(i => ("a", day(i), 500L))
    val out = decompose(rows)
    assert(out.size === 21)
    val interior = out("a" -> day(10).toString)
    assert(interior._2 === Some(500.0) && interior._3 === Some(0.0) && interior._4 === Some(0.0))
    // first/last 3 days: incomplete centered window -> null trend/residual
    assert(out("a" -> day(0).toString)._2.isEmpty)
    assert(out("a" -> day(20).toString)._2.isEmpty)
  }

  test("pure weekly pattern is absorbed entirely by the seasonal component") {
    // 2024-01-01 is a Monday; offsets keyed by ISO dow (Mon=1..Sun=7)
    val offsets = Array(700L, -300L, 100L, 0L, -200L, 400L, -700L)
    val rows = (0 until 28).map(i => ("a", day(i), 10000L + offsets(i % 7)))
    val out = decompose(rows)
    // weekly pattern sums to 0 over any 7-day window -> trend = base exactly
    (3 until 25).foreach { i =>
      val (_, trend, seasonal, residual) = out("a" -> day(i).toString)
      assert(trend === Some(10000.0), s"day $i")
      assert(seasonal === Some(offsets(i % 7).toDouble), s"day $i")
      assert(residual === Some(0.0), s"day $i")
    }
  }

  test("a level shift shows up in the residual, not the seasonal") {
    val rows = (0 until 28).map(i => ("a", day(i), if (i == 14) 20000L else 10000L))
    val out = decompose(rows)
    val spikeResidual = out("a" -> day(14).toString)._4.get
    // day 10 is a different weekday whose window excludes the spike
    val quietResidual = out("a" -> day(10).toString)._4.get
    assert(spikeResidual > 5000.0) // spike mostly survives detrending
    assert(math.abs(quietResidual) < 1500.0)
  }

  test("groups too short for a complete window emit null components; null rows drop") {
    val rows = (0 until 5).map(i => ("tiny", day(i), 100L)) ++
      Seq(("tiny", null.asInstanceOf[Date], 1L))
    val df = rows.toDF("g", "day", "x")
    val out = Seasonal.weekdayDecompose(df, "g", "day", "x").collect()
    assert(out.length === 5) // the null-day row is excluded
    assert(out.forall(r => r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5)))
  }

  test("decomposition identity: trend + seasonal + residual = x at every interior point") {
    // algebraically exact: w7/7 + sd/(7nd) + (det7/7 − sd/(7nd)) = (w7 + det7)/7 = x;
    // IEEE rounding leaves at most a few ulps
    val rows = (0 until 40).flatMap { i =>
      Seq(("a", day(i), ((i * 7919L) % 4001L) - 2000L),
        ("b", day(i), (i * i * 31L) % 9973L))
    }
    val out = Seasonal.weekdayDecompose(rows.toDF("g", "day", "x"), "g", "day", "x")
      .collect()
    val interior = out.filter(r => !r.isNullAt(3))
    assert(interior.length === 2 * (40 - 6))
    interior.foreach { r =>
      val x = r.getLong(2).toDouble
      val recomposed = r.getDouble(3) + r.getDouble(4) + r.getDouble(5)
      assert(math.abs(recomposed - x) <= math.max(1e-9, math.abs(x) * 1e-12),
        s"identity broke at ${r.get(0)}/${r.get(1)}: $recomposed vs $x")
    }
  }

  test("calendar gaps shrink the RANGE window instead of stretching it") {
    // days 0..20 minus day 10: a ROWS frame would quietly pull days 6 and
    // 14 into windows claiming to be centered 7-day spans; the RANGE
    // frame leaves every window touching the gap with n7 < 7 -> null
    val rows = (0 until 21).filter(_ != 10).map(i => ("a", day(i), 500L))
    val out = decompose(rows)
    assert(out.size === 20)
    (7 to 13).filter(_ != 10).foreach { i =>
      assert(out("a" -> day(i).toString)._2.isEmpty, s"day $i should gate null")
    }
    // windows clear of the gap stay complete and exact
    assert(out("a" -> day(5).toString)._2 === Some(500.0))
    assert(out("a" -> day(16).toString)._2 === Some(500.0))
  }

  test("bit-identical across partitionings") {
    val offsets = Array(700L, -300L, 100L, 0L, -200L, 400L, -700L)
    val rows = (0 until 28).flatMap(i =>
      Seq(("a", day(i), 10000L + offsets(i % 7)), ("b", day(i), 500L + 13L * i)))
    def run(parts: Int) =
      Seasonal.weekdayDecompose(rows.toDF("g", "day", "x").repartition(parts), "g", "day", "x")
        .collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(run(1) === run(11))
  }

  private def acfOf(rows: Seq[(String, Long, Long)], maxLag: Int)
      : Map[(String, Long), (Long, Option[Double])] =
    Seasonal.acf(rows.toDF("g", "t", "x"), "g", "t", "x", maxLag)
      .as[(String, Long, Long, Option[Double])]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4))).toMap

  test("acf: hand-computed ramp series") {
    // x_t = t for t = 1..5: r1 = 4/10 = 0.4, r2 = -1/10 = -0.1
    val rows = (1L to 5L).map(t => ("g", t, t))
    val r = acfOf(rows, 2)
    assert(r(("g", 1L))._1 === 4L)
    assert(math.abs(r(("g", 1L))._2.get - 0.4) < 1e-15)
    assert(r(("g", 2L))._1 === 3L)
    assert(math.abs(r(("g", 2L))._2.get - (-0.1)) < 1e-15)
  }

  test("acf: alternating series is negative at lag 1, positive at lag 2") {
    val rows = (0L until 12L).map(t => ("g", t, if (t % 2 == 0) 10L else 20L))
    val r = acfOf(rows, 2)
    assert(r(("g", 1L))._2.get < -0.8 && r(("g", 2L))._2.get > 0.8)
  }

  test("acf: constant series yields null; time gaps drop pairs") {
    val r = acfOf(Seq(("c", 1L, 7L), ("c", 2L, 7L), ("c", 3L, 7L)), 1)
    assert(r(("c", 1L))._2.isEmpty)
    // t = 1, 2, 4: lag-1 pairs only (1,2); lag-2 only (2,4); lag-3 (1,4)
    val g = acfOf(Seq(("g", 1L, 1L), ("g", 2L, 5L), ("g", 4L, 3L)), 3)
    assert(g(("g", 1L))._1 === 1L && g(("g", 2L))._1 === 1L &&
      g(("g", 3L))._1 === 1L)
  }

  test("acf: groups independent; bit-identical across partitionings") {
    val rows = (0 until 90).map(i =>
      (s"g${i % 2}", (i / 2).toLong, (i * 13 % 37).toLong))
    val df = rows.toDF("g", "t", "x")
    def run(parts: Int) =
      Seasonal.acf(df.repartition(parts), "g", "t", "x", 7)
        .collect().map(_.toSeq.map {
          case d: Double => java.lang.Double.doubleToLongBits(d)
          case x => x
        }).sortBy(_.mkString("|"))
    assert(run(1) === run(11))
    val solo = acfOf(rows.filter(_._1 == "g0"), 7)
    val both = acfOf(rows, 7)
    assert(solo.keySet.forall(k => solo(k) == both(k)))
  }

  test("xcf: a shifted copy peaks at its lead; lag coverage is symmetric") {
    // y_t = x_{t-1}: at k = +1 the pairs are (x_t, x_t) -> corr 1
    val xs = (0 until 40).map(t => t.toLong -> ((t * 17 % 23) + 1).toLong).toMap
    val rows = (1 until 40).map(t => ("s", t.toLong, xs(t), xs(t - 1)))
    val df = rows.toDF("g", "t", "x", "y")
    val got = Seasonal.xcf(df, "g", "t", "x", "y", maxLag = 3)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet === (-3L to 3L).toSet)
    assert(math.abs(got(1L)._2 - 1.0) < 1e-9, s"lead-1 ${got(1L)}")
    assert(got(0L)._2 < 0.999) // same-day correlation is not the peak
    assert(got(1L)._1 === 38L) // 39 points, lag-1 overlap = 38 pairs
  }

  test("xcf: bit determinism under repartitioning") {
    val rows = (0 until 60).map(i =>
      ("s", i.toLong, (i * 13 % 37).toLong, (i * 7 % 29).toLong))
    val df = rows.toDF("g", "t", "x", "y")
    def run(p: Int) = Seasonal.xcf(df.repartition(p), "g", "t", "x", "y", 5)
      .collect().map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case v => v
      }).sortBy(_.mkString("|"))
    assert(run(1) === run(9))
  }

  test("mase: perfectly weekly series scores 0; shuffled series scores ~1+") {
    // x_t = pattern[t mod 7]: seasonal-naive error 0, persistence error > 0
    val pattern = Seq(10L, 30L, 20L, 50L, 40L, 70L, 60L)
    val weekly = (0L until 56L).map(t => ("g", t, pattern((t % 7).toInt)))
      .toDF("g", "t", "x")
    val r = Seasonal.mase(weekly, "g", "t", "x", season = 7).collect().head
    assert(r.getLong(1) === 56L && r.getLong(2) === 49L)
    assert(r.getDouble(5) === 0.0, "perfect weekly pattern -> MASE 0")
    // a pattern-free series: seasonal lag buys nothing (MASE around 1)
    val rng = new scala.util.Random(41)
    val flat = (0L until 200L).map(t => ("g", t, rng.nextInt(100).toLong))
      .toDF("g", "t", "x")
    val rf = Seasonal.mase(flat, "g", "t", "x", 7).collect().head
    assert(rf.getDouble(5) > 0.7 && rf.getDouble(5) < 1.4)
  }

  test("mase: day gaps drop terms instead of misaligning the lags") {
    // days 0..9 with day 5 missing: t=6 has no t-1 term
    val rows = (0L until 10L).filter(_ != 5L).map(t => ("g", t, t * t))
      .toDF("g", "t", "x")
    val r = Seasonal.mase(rows, "g", "t", "x", season = 7).collect().head
    assert(r.getLong(1) === 9L)
    // one-step pairs: (0,1)..(4,5 missing)..(6 missing prev)..(6,7)(7,8)(8,9) = 7
    val mae = r.getDouble(3)
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L),
      (7L, 8L), (8L, 9L))
    val expect = pairs.map { case (a, b) => math.abs(b * b - a * a) }.sum.toDouble / 7
    assert(mae === expect)
    // constant series: naive MAE 0 -> NULL mase
    val const = (0L until 20L).map(t => ("g", t, 5L)).toDF("g", "t", "x")
    assert(Seasonal.mase(const, "g", "t", "x", 7).collect().head.isNullAt(5))
  }

  test("saxSymbols: staircase series spells the full alphabet") {
    // 4 seven-day plateaus at 0/10/20/30: μ=15, σ=√125; PAA z-scores
    // ±1.342, ±0.447 -> letters a, b, c, d
    val rows = (0L until 28L).map(t => ("g", t, (t / 7) * 10)).toDF("g", "t", "x")
    val out = Seasonal.saxSymbols(rows, "g", "t", "x", segLen = 7,
        breakpoints = Seq(-0.6744897501960817, 0.0, 0.6744897501960817))
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L))
    assert(out.values.forall(_._1 === 7L))
    val sigma = math.sqrt(125.0)
    assert(math.abs(out(0L)._2 - (0.0 - 15) / sigma) < 1e-12)
    assert(Seq(0L, 1L, 2L, 3L).map(out(_)._3) === Seq("a", "b", "c", "d"))
    // gaps shrink a segment's count, never shift frames
    val gapped = rows.filter($"t" =!= 3L)
    val g0 = Seasonal.saxSymbols(gapped, "g", "t", "x", 7,
        Seq(-0.6744897501960817, 0.0, 0.6744897501960817))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(g0(0L) === 6L && g0(1L) === 7L)
    // constant series: σ = 0 -> NULL paa and sym
    val const = (0L until 14L).map(t => ("c", t, 9L)).toDF("g", "t", "x")
    val rc = Seasonal.saxSymbols(const, "g", "t", "x", 7, Seq(0.0)).collect()
    assert(rc.forall(r => r.isNullAt(3) && r.isNullAt(4)))
  }

  test("medianPolish: hand 2x3 table — lower medians, effects, worst residual") {
    // a: (1,2,3) -> row med 2, residuals (-1,0,1)
    // b: (11,14,13) -> row med 13, residuals (-2,1,0)
    // col lower medians of residuals: x=-2, y=0, z=0
    // overall = lower median of row effects (2,13) = 2
    // final residuals: a=(1,0,1), b=(0,1,0) -> max |r| = 1 at min cell a:x
    val rows = Seq(
      ("a", "x", 1L), ("a", "y", 2L), ("a", "z", 3L),
      ("b", "x", 11L), ("b", "y", 14L), ("b", "z", 13L)).toDF("r", "c", "v")
    val got = Seasonal.medianPolish(rows, "r", "c", "v").collect()
      .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("")) ->
        r.getLong(2)).toMap
    assert(got(("overall", "")) === 2L)
    assert(got(("row", "a")) === 0L && got(("row", "b")) === 11L)
    assert(got(("col", "x")) === -2L && got(("col", "y")) === 0L &&
      got(("col", "z")) === 0L)
    assert(got(("resid", "a:x")) === 1L)
    // reconstruction identity at the worst cell:
    // overall + row_a + col_x + resid = 2 + 0 - 2 + 1 = 1 = x(a,x)
    assert(got(("overall", "")) + got(("row", "a")) + got(("col", "x")) +
      got(("resid", "a:x")) === 1L)
    // determinism under repartitioning
    val again = Seasonal.medianPolish(rows.repartition(5), "r", "c", "v")
      .collect().map(r => (r.getString(0),
        Option(r.getString(1)).getOrElse("")) -> r.getLong(2)).toMap
    assert(again === got)
  }
}
