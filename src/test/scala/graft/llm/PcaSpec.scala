package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PcaSpec extends SparkSpec {
  import spark.implicits._

  test("covCells: hand covariance on a 2-dim fixture, exact") {
    // x = (1, 3), y = (2, 6): population cov(x,y) = 10 − 8 = 2,
    // var(x) = 5 − 4 = 1, var(y) = 20 − 16 = 4 — all exact on the grid
    val df = Seq(Tuple1(Seq(1.0, 2.0)), Tuple1(Seq(3.0, 6.0))).toDF("v")
    val c = Pca.covCells(df, "v", dims = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(c((0L, 0L)) === 1.0)
    assert(c((1L, 1L)) === 4.0)
    assert(c((0L, 1L)) === 2.0 && c((1L, 0L)) === 2.0)
  }

  test("covCells: short and null vectors are excluded") {
    val df = Seq(Some(Seq(1.0, 2.0)), Some(Seq(9.0)), None)
      .toDF("v")
    val n = Pca.covCells(df, "v", dims = 2).collect().head.getLong(2)
    assert(n === 1L)
  }

  test("topComponent: recovers a dominant axis, unit norm, sign-positive") {
    // variance concentrated on dim 0 with a small dim-1 admixture: the
    // top component must align with e0 (positive after sign fixing)
    val rng = new scala.util.Random(17)
    val rows = (1 to 200).map { _ =>
      val t = rng.nextDouble() * 2 - 1
      Tuple1(Seq(t, 0.05 * t) ++ Seq.fill(14)(rng.nextDouble() * 0.01))
    }
    val df = rows.toDF("v")
    val comp = Pca.topComponent(df, "v", dims = 16, iters = 3)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(comp.size === 16)
    assert(comp(0L)._1 > 0.99, s"dim0 component ${comp(0L)._1}")
    val norm = math.sqrt(comp.values.map { case (v, _) => v * v }.sum)
    assert(math.abs(norm - 1.0) < 1e-6)
    assert(comp(0L)._2 > 0.0) // eigval ≈ var along the axis
  }

  test("covCells: Gram fold emits bit-identical cells to the explode path") {
    val rng = new scala.util.Random(41)
    val rows = (1 to 300).map(_ =>
      Tuple1(Seq.fill(8)(rng.nextDouble() * 2 - 1)))
    val df = rows.toDF("v").repartition(7)
    def cells(gramFold: Boolean) = Pca.covCells(df, "v", dims = 8, gramFold)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .sortBy(t => (t._1, t._2)).toSeq
    val explode = cells(gramFold = false)
    val fold = cells(gramFold = true)
    assert(explode.size === 64 && explode === fold)
  }

  test("topComponent at d=64 dispatches to the fold and stays well-formed") {
    // d=64 must route through the Gram fold (no ×d² row explode);
    // variance is planted on dim 3 so the component is checkable
    val rng = new scala.util.Random(59)
    val rows = (1 to 400).map { _ =>
      val t = rng.nextDouble() * 2 - 1
      Tuple1(Seq.tabulate(64)(i =>
        if (i == 3) t else rng.nextDouble() * 0.01))
    }
    val df = rows.toDF("v").repartition(5)
    val comp = Pca.topComponent(df, "v", dims = 64, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(comp.size === 64)
    assert(comp(3L) > 0.99, s"dim3 component ${comp(3L)}")
    val norm = math.sqrt(comp.values.map(v => v * v).sum)
    assert(math.abs(norm - 1.0) < 1e-6)
    // the width-chosen path skips the ×d² product explode, and its cells
    // equal the explode path's bit for bit at this width too (the power
    // sweeps are a fixed function of them)
    val auto = Pca.covCells(df, "v", 64)
    val explode = Pca.covCells(df, "v", 64, gramFold = false)
    def generates(c: org.apache.spark.sql.DataFrame) =
      "Generate".r.findAllIn(c.queryExecution.executedPlan.toString).size
    assert(generates(auto) < generates(explode))
    def bits(c: org.apache.spark.sql.DataFrame) = c.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    assert(bits(auto) === bits(explode))
  }

  test("topComponents: deflation recovers the second planted axis") {
    // dim 0 carries the dominant variance, dim 5 an independent weaker
    // axis; everything else is tiny noise — comp 1 → e0, comp 2 → e5
    val rng = new scala.util.Random(67)
    val rows = (1 to 500).map { _ =>
      val t = rng.nextDouble() * 2 - 1
      val u = (rng.nextDouble() * 2 - 1) * 0.5
      Tuple1(Seq.tabulate(8)(i =>
        if (i == 0) t else if (i == 5) u else rng.nextDouble() * 0.01))
    }
    val df = rows.toDF("v")
    val out = Pca.topComponents(df, "v", dims = 8, nComp = 2, iters = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(out.size === 16)
    assert(out((1L, 0L))._1 > 0.99, "comp 1 aligns with dim 0")
    assert(out((2L, 5L))._1 > 0.99, "comp 2 aligns with dim 5")
    assert(out((1L, 0L))._2 > out((2L, 5L))._2, "eigvals ordered")
    // both components unit-norm
    (1L to 2L).foreach { c =>
      val nrm = math.sqrt((0L until 8L)
        .map(dd => out((c, dd))._1).map(x => x * x).sum)
      assert(math.abs(nrm - 1.0) < 1e-6, s"comp $c norm $nrm")
    }
    // comp 1 must equal topComponent bit-for-bit (same recurrence)
    val single = Pca.topComponent(df, "v", 8, 4).collect()
      .map(r => r.getLong(0) ->
        java.lang.Double.doubleToLongBits(r.getDouble(1))).toMap
    (0L until 8L).foreach { dd =>
      assert(single(dd) ===
        java.lang.Double.doubleToLongBits(out((1L, dd))._1))
    }
  }

  test("topComponent: bit determinism under repartitioning") {
    val rng = new scala.util.Random(23)
    val rows = (1 to 150).map(_ =>
      Tuple1(Seq.fill(16)(rng.nextDouble() * 2 - 1)))
    val df = rows.toDF("v")
    def bits(p: Int) = Pca.topComponent(df.repartition(p), "v", 16, 3)
      .collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        java.lang.Double.doubleToLongBits(r.getDouble(2))))
      .sortBy(_._1).toSeq
    assert(bits(1) === bits(11))
  }
}
