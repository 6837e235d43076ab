package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Direct coverage for the thin ops helpers not already pinned by an
  * oracle query's exact compare.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    ("a", 1.0), ("a", 3.0), ("b", 2.0), ("b", 6.0), ("b", 4.0)
  ).toDF("k", "v")

  test("scan composes filter then projection") {
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val out = Relational.scan(li, col("l_quantity") > 45, Seq(col("l_orderkey"), col("l_quantity")))
    assert(out.columns.toSeq === Seq("l_orderkey", "l_quantity"))
    assert(out.filter(col("l_quantity") <= 45).count() === 0)
    assert(out.count() > 0)
  }

  test("sortedLimit is deterministic across partitionings") {
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val a = Relational.sortedLimit(li.repartition(7), Seq("l_orderkey", "l_linenumber"), 50)
      .select("l_orderkey", "l_linenumber").collect().toSeq
    val b = Relational.sortedLimit(li.coalesce(1), Seq("l_orderkey", "l_linenumber"), 50)
      .select("l_orderkey", "l_linenumber").collect().toSeq
    assert(a === b)
  }

  test("aggBackJoin broadcast and shuffle variants agree") {
    val x = Joins.aggBackJoin(df, Seq("k"), Seq(sum(col("v")).as("total")), broadcastAgg = true)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    val y = Joins.aggBackJoin(df, Seq("k"), Seq(sum(col("v")).as("total")), broadcastAgg = false)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(x === y)
    assert(x.forall { case (k, _, t) => t === (if (k == "a") 4.0 else 12.0) })
  }

  test("semi and anti joins partition the input") {
    val keys = Seq("a").toDF("k")
    val semi = Joins.semiJoinByKeys(df, keys, Seq("k")).count()
    val anti = Joins.antiJoinByKeys(df, keys, Seq("k")).count()
    assert(semi === 2 && anti === 3 && semi + anti === df.count())
  }
}

class RecencyWeightedSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def run(rows: Seq[(String, Int, Long)], depth: Int): Map[(String, Int), Double] =
    Windows.recencyWeightedAvg(rows.toDF("k", "i", "v"), Seq("k"),
        Seq(col("i").asc), "v", depth, "ewma")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(3)).toMap

  test("matches the brute-force decayed average at every row") {
    val rows = Seq(("u", 1, 100L), ("u", 2, 200L), ("u", 3, 50L), ("u", 4, 400L))
    val got = run(rows, 3)
    for (i <- 1 to 4) {
      val hist = rows.filter(_._2 <= i).takeRight(3).reverse // newest first
      val num = hist.zipWithIndex.map { case ((_, _, v), k) => v * math.pow(0.5, k) }.sum
      val den = hist.indices.map(k => math.pow(0.5, k)).sum
      assert(math.abs(got(("u", i)) - num / den) < 1e-12, s"row $i")
    }
  }

  test("first row of a partition is its own average; partitions independent") {
    val rows = Seq(("a", 1, 10L), ("a", 2, 20L), ("b", 1, 999L))
    val got = run(rows, 8)
    assert(got(("a", 1)) === 10.0)
    assert(got(("b", 1)) === 999.0)      // b never sees a's history
    assert(math.abs(got(("a", 2)) - (20.0 * 1 + 10.0 * 0.5) / 1.5) < 1e-12)
  }

  test("exactness contract: result is partitioning-invariant bit-for-bit") {
    val rows = (1 to 200).map(i => (s"k${i % 5}", i, (i * 37 % 1000).toLong))
    def bits(parts: Int) = Windows.recencyWeightedAvg(
        rows.toDF("k", "i", "v").repartition(parts), Seq("k"),
        Seq(col("i").asc), "v", 8, "ewma")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        java.lang.Double.doubleToLongBits(r.getDouble(3))).toMap
    assert(bits(1) === bits(13))
  }
}

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("fine-grain sketches merge to the coarse distinct count within the HLL bound") {
    val rows = for (day <- 1 to 14; u <- 1 to (day * 20)) yield
      (s"w${(day - 1) / 7}", s"d$day", u.toLong)
    val df = rows.toDF("week", "day", "uid")
    val got = Sketches.hllRollup(df, Seq("day"), Seq("week"), "uid")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact per-week distinct: union of 1..max(day*20) within the week
    val exact = rows.groupBy(_._1).view.mapValues(_.map(_._3).distinct.size.toLong).toMap
    for ((w, e) <- exact)
      assert(math.abs(got(w) - e).toDouble / e < 0.05, s"week $w: got ${got(w)} vs $e")
  }

  test("merging sketches equals sketching the union (same estimate either way)") {
    val df = (1 to 500).map(u => ("w", s"d${u % 5}", u.toLong)).toDF("week", "day", "uid")
    val merged = Sketches.hllRollup(df, Seq("day"), Seq("week"), "uid")
      .collect().head.getLong(1)
    val direct = df.groupBy("week")
      .agg(org.apache.spark.sql.functions.expr(
        "hll_sketch_estimate(hll_sketch_agg(uid, 14))").as("e"))
      .collect().head.getLong(1)
    assert(merged === direct)
  }

  test("null keys are ignored, not sketched") {
    val df = Seq((Some(1L)), (None), (Some(2L)), (None))
      .map(u => ("w", "d", u)).toDF("week", "day", "uid")
    val got = Sketches.hllRollup(df, Seq("day"), Seq("week"), "uid")
      .collect().head.getLong(1)
    assert(got === 2L)
  }

  test("kmv: estimate within the sketch error band; exact below k") {
    val rows = (1 to 2000).map(u => ("big", u.toLong)) ++
      (1 to 30).map(u => ("small", u.toLong))
    val df = rows.toDF("g", "k")
    val got = Sketches.kmvEstimates(df, "g", "k", k = 128)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val (bigExact, bigKept, bigEst) = got("big")
    assert(bigExact === 2000L && bigKept === 128L)
    assert(math.abs(bigEst - 2000.0) / 2000.0 < 0.3) // rse ≈ 1/√(k−2) ≈ 9%
    val (smallExact, smallKept, smallEst) = got("small")
    assert(smallExact === 30L && smallKept === 30L && smallEst === 30.0)
  }

  test("kmv: union row = bottom-k of MERGED per-group sketches, bit-stable") {
    val rows = (1 to 700).map(u => (s"g${u % 3}", u.toLong))
    val df = rows.toDF("g", "k")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sketches.kmvEstimates(d, "g", "k", k = 64)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2),
            java.lang.Double.doubleToLongBits(r.getDouble(3))))).toMap
    val a = run(df)
    assert(a === run(df.repartition(7))) // bit-identical estimates
    val (uExact, uKept, _) = a("__union__")
    assert(uExact === 700L && uKept === 64L)
    // mergeability: union estimate ≈ truth through the per-group sketches
    val est = Sketches.kmvEstimates(df, "g", "k", k = 64)
      .filter(org.apache.spark.sql.functions.col("g") === "__union__")
      .collect().head.getDouble(3)
    assert(math.abs(est - 700.0) / 700.0 < 0.4)
  }
}

class SketchStoreSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("incremental merge reproduces the full rollup within the HLL bound; one-sided keys pass through") {
    // 5 weeks × 12 days with gcd(5,12)=1: every week sees both even and
    // odd day indices, so both split halves cover every week
    val rows = (1 to 1000).map(i => (s"w${i % 5}", s"d${i % 12}", (i % 211).toLong))
    val fine = Sketches.fineSketches(rows.toDF("week", "day", "uid"), Seq("week", "day"), "uid")
    val store = Sketches.rollup(fine.filter(substring(col("day"), 2, 2).cast("int") % 2 === 0), Seq("week"))
    val delta = Sketches.rollup(fine.filter(substring(col("day"), 2, 2).cast("int") % 2 === 1), Seq("week"))
    val merged = Sketches.estimate(Sketches.mergeSketchStores(store, delta, Seq("week")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = rows.groupBy(_._1).view.mapValues(_.map(_._3).distinct.size).toMap
    for ((w, e) <- exact)
      assert(math.abs(merged(w) - e).toDouble / e < 0.05, s"week $w: ${merged(w)} vs $e")
    // a key only in the delta must arrive unchanged
    val newWeek = Sketches.rollup(
      Sketches.fineSketches(Seq(("w9", "d1", 1L), ("w9", "d1", 2L))
        .toDF("week", "day", "uid"), Seq("week", "day"), "uid"), Seq("week"))
    val withNew = Sketches.estimate(Sketches.mergeSketchStores(store, newWeek, Seq("week")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(withNew("w9") === 2L)
    assert(withNew.keySet === exact.keySet + "w9")
  }

  test("intersect estimate: inclusion-exclusion lands near exact, clamps at 0 when disjoint") {
    val a = (1 to 600).map(i => i.toLong).toDF("k")
    val b = (401 to 1000).map(i => i.toLong).toDF("k") // overlap = 200
    val r = Sketches.intersectEstimate(a, b, "k").collect().head
    val approx = r.getLong(3)
    assert(math.abs(approx - 200L) <= 0.05 * 1000 + 8, s"approx=$approx")
    // disjoint sets: clamped at 0, never negative
    val c = (2000 to 2400).map(i => i.toLong).toDF("k")
    val rd = Sketches.intersectEstimate(a, c, "k").collect().head
    assert(rd.getLong(3) >= 0L)
    assert(rd.getLong(3) <= (0.05 * 1001 + 8).toLong)
  }

  test("bucketed store side joins exchange-free: only the delta shuffles") {
    val rows = (1 to 400).map(i => (s"w${i % 8}", s"d${i % 16}", (i % 97).toLong))
    val fine = Sketches.fineSketches(rows.toDF("week", "day", "uid"), Seq("week", "day"), "uid")
    val t = "sketch_store_weekly"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t))
    Sketches.rollup(fine, Seq("week")).write.mode("overwrite").format("parquet")
      .bucketBy(4, "week").sortBy("week").saveAsTable(t)
    val delta = Sketches.rollup(
      Sketches.fineSketches(Seq(("w1", "dX", 5000L), ("w9", "dX", 1L))
        .toDF("week", "day", "uid"), Seq("week", "day"), "uid"), Seq("week"))
    val merged = Sketches.mergeSketchStores(spark.table(t), delta, Seq("week"))
    val p = merged.queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"), s"store scan not bucketed:\n${p.take(1200)}")
    // exactly one week-keyed exchange (the delta's final rollup; the
    // (week, day) fine-grain exchange is a different partitioning) —
    // the bucketed store side must contribute none
    assert("Exchange hashpartitioning\\(week#\\d+, \\d+\\)".r.findAllIn(p).size <= 1,
      s"store side re-shuffled:\n${p.take(1500)}")
    // and the merge is still correct through the bucketed path
    val est = Sketches.estimate(merged).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("w9") === 1L)
    val w1Exact = rows.filter(_._1 == "w1").map(_._3).distinct.size + 1 // + uid 5000
    assert(math.abs(est("w1") - w1Exact).toDouble / w1Exact < 0.05)
  }

  test("chapmanEstimate: textbook counts, exact-recovery case, disjoint NULL") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // population 1..100; list A sees 1..60, list B sees 41..100 -> m=20
    val df = (1L to 100L).map(k => (k, k <= 60, k >= 41)).toDF("k", "a", "b")
    val r = Sketches.chapmanEstimate(df, "k", col("a"), col("b")).collect().head
    assert(r.getLong(0) === 60L && r.getLong(1) === 60L &&
      r.getLong(2) === 20L && r.getLong(3) === 100L)
    assert(math.abs(r.getDouble(4) - (61.0 * 61 / 21 - 1)) < 1e-12)
    assert(r.getDouble(5) > 0)
    // both lists see everything -> estimate = truth, SE = 0
    val full = (1L to 50L).map(k => (k, true, true)).toDF("k", "a", "b")
    val rf = Sketches.chapmanEstimate(full, "k", col("a"), col("b"))
      .collect().head
    assert(math.abs(rf.getDouble(4) - 50.0) < 1e-12 && rf.getDouble(5) === 0.0)
    // disjoint sightings estimate nothing
    val dj = (1L to 40L).map(k => (k, k <= 20, k > 20)).toDF("k", "a", "b")
    val rd = Sketches.chapmanEstimate(dj, "k", col("a"), col("b")).collect().head
    assert(rd.isNullAt(4) && rd.isNullAt(5))
    // keys sighted by neither list are not part of any count
    val pad = df.union((101L to 120L).map(k => (k, false, false)).toDF("k", "a", "b"))
    val rp = Sketches.chapmanEstimate(pad, "k", col("a"), col("b")).collect().head
    assert(rp.getLong(3) === 100L)
  }

  test("smoothedRates: shrinkage re-ranks the 1-for-1 below the 90-for-100") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rows = (Seq(("u1", true)) ++
      (1 to 100).map(i => ("u2", i <= 90)) ++
      (1 to 99).map(_ => ("u3", false))).toDF("u", "y")
    val out = Aggregates.smoothedRates(rows, "u", col("y"), strength = 20.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val (n1, p1, raw1, sm1) = out("u1")
    val (_, _, raw2, sm2) = out("u2")
    assert(n1 === 1L && p1 === 1L && raw1 === 1.0)
    assert(raw1 > raw2, "raw rate crowns the 1-for-1 user")
    assert(sm2 > sm1, "shrinkage ranks by evidence instead")
    // exact algebra: pbar = 91/200
    val pbar = 91.0 / 200
    assert(math.abs(sm1 - (1 + pbar * 20.0) / (1 + 20.0)) < 1e-15)
    assert(math.abs(sm2 - (90 + pbar * 20.0) / (100 + 20.0)) < 1e-15)
    // zero-evidence group lands near (below) the prior mean
    assert(math.abs(out("u3")._4 - pbar * 20.0 / 119.0) < 1e-15)
  }
}
