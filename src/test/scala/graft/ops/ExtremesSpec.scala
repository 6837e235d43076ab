package graft.ops

import graft.SparkSpec

class ExtremesSpec extends SparkSpec {
  import spark.implicits._

  test("gumbelFit: method-of-moments on hand block maxima, degenerate guard") {
    // per-block maxima {10, 20, 30}: mean 20, sample std 10
    val rows = Seq(
      ("g", 1L, 10L), ("g", 1L, 3L),
      ("g", 2L, 20L), ("g", 2L, 19L),
      ("g", 3L, 30L)).toDF("g", "b", "v")
    val r = Extremes.gumbelFit(rows, "g", "b", "v", returnPeriod = 10)
      .collect().head
    assert(r.getLong(1) === 3L)
    assert(math.abs(r.getDouble(2) - 20.0) < 1e-9)
    val beta = 10.0 * Extremes.Sqrt6OverPi
    val mu = 20.0 - Extremes.EulerGamma * beta
    assert(math.abs(r.getDouble(3) - mu) < 1e-9)
    assert(math.abs(r.getDouble(4) - beta) < 1e-9)
    val x10 = mu - beta * math.log(-math.log(1.0 - 1.0 / 10))
    assert(math.abs(r.getDouble(5) - x10) < 1e-9)
    // the 10-block return level sits above the mean block maximum
    assert(r.getDouble(5) > r.getDouble(2))
    // constant maxima: s = 0 → NULL fit, mean still emitted
    val flat = Seq(("g", 1L, 5L), ("g", 2L, 5L)).toDF("g", "b", "v")
    val f = Extremes.gumbelFit(flat, "g", "b", "v").collect().head
    assert(f.getDouble(2) === 5.0 && f.isNullAt(3) && f.isNullAt(5))
  }

  test("meanExcess: exact exceedance counts and mean excesses per threshold") {
    val rows = Seq(("g", 5L), ("g", 15L), ("g", 25L)).toDF("g", "x")
    val got = Extremes.meanExcess(rows, "g", "x", Seq(10L, 20L))
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got(10L) === ((2L, 10.0))) // (15−10 + 25−10)/2
    assert(got(20L) === ((1L, 5.0)))  // 25−20
    // a threshold past the max simply emits no row (0 exceedances)
    assert(!Extremes.meanExcess(rows, "g", "x", Seq(100L)).collect()
      .exists(_.getLong(1) == 100L))
  }
}

class ConcentrationSpec extends SparkSpec {
  import spark.implicits._

  test("concentrationIndex: hand HHI and Atkinson, zero-unit bookkeeping") {
    // units 2 and 8: HHI = (4+64)/100 = 0.68;
    // Atkinson(1) = 1 − geomean/mean = 1 − 4/5 = 0.2
    val rows = Seq(("g", "u1", 2L), ("g", "u2", 8L), ("g", "u3", 0L))
      .toDF("g", "u", "v")
    val r = Aggregates.concentrationIndex(rows, "g", "u", "v")
      .collect().head
    assert(r.getLong(1) === 3L && r.getLong(2) === 2L)
    assert(math.abs(r.getDouble(3) - 0.68) < 1e-9)
    assert(math.abs(r.getDouble(4) - 0.2) < 1e-6) // 1e-9 ln grid
    // perfectly even units: HHI = 1/n, Atkinson = 0
    val even = Seq(("g", "a", 5L), ("g", "b", 5L), ("g", "c", 5L), ("g", "d", 5L))
      .toDF("g", "u", "v")
    val e = Aggregates.concentrationIndex(even, "g", "u", "v").collect().head
    assert(math.abs(e.getDouble(3) - 0.25) < 1e-9)
    assert(math.abs(e.getDouble(4) - 0.0) < 1e-6)
    // monopoly: HHI = 1
    val mono = Seq(("g", "a", 9L)).toDF("g", "u", "v")
    assert(math.abs(Aggregates.concentrationIndex(mono, "g", "u", "v")
      .collect().head.getDouble(3) - 1.0) < 1e-9)
  }
}
