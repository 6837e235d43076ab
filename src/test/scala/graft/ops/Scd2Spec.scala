package graft.ops

import graft.SparkSpec

class Scd2Spec extends SparkSpec {
  import spark.implicits._

  // (key, ts, tie, attr)
  private def build(rows: Seq[(String, Long, Long, String)]) =
    Scd2.build(rows.toDF("k", "ts", "id", "a"),
      keyCols = Seq("k"), tsCol = "ts", tieCols = Seq("id"), attrCols = Seq("a"))
      .select($"k", $"a", $"valid_from", $"valid_to", $"version")
      .as[(String, String, Long, Option[Long], Long)].collect().toSet

  test("runs of unchanged attributes collapse into one version") {
    val r = build(Seq(
      ("u", 1L, 1L, "x"), ("u", 2L, 2L, "x"), ("u", 3L, 3L, "y"),
      ("u", 4L, 4L, "y"), ("u", 5L, 5L, "x")))
    assert(r === Set(
      ("u", "x", 1L, Some(3L), 1L),
      ("u", "y", 3L, Some(5L), 2L),
      ("u", "x", 5L, None, 3L)))
  }

  test("intervals abut exactly and only the last version is open") {
    val obs = for (i <- 1L to 40L) yield ("u", i, i, s"v${i / 7}")
    val r = build(obs).toSeq.sortBy(_._5)
    r.sliding(2).foreach {
      case Seq(prev, next) => assert(prev._4.contains(next._3))
      case _ =>
    }
    assert(r.count(_._4.isEmpty) === 1 && r.last._4.isEmpty)
    assert(r.map(_._5) === (1L to r.size))
  }

  test("keys are independent; a single observation is one open version") {
    val r = build(Seq(("a", 1L, 1L, "x"), ("b", 9L, 1L, "z"), ("a", 5L, 2L, "y")))
    assert(r === Set(
      ("a", "x", 1L, Some(5L), 1L),
      ("a", "y", 5L, None, 2L),
      ("b", "z", 9L, None, 1L)))
  }

  test("null attributes are compared null-safely") {
    val rows = Seq(
      ("u", 1L, 1L, "x"), ("u", 2L, 2L, null), ("u", 3L, 3L, null),
      ("u", 4L, 4L, "x")).asInstanceOf[Seq[(String, Long, Long, String)]]
    val r = build(rows)
    assert(r.map(v => (v._2, v._3, v._4, v._5)) === Set(
      ("x", 1L, Some(2L), 1L), (null, 2L, Some(4L), 2L), ("x", 4L, None, 3L)))
  }

  test("equal timestamps break ties deterministically on the tie column") {
    val r = build(Seq(("u", 1L, 2L, "b"), ("u", 1L, 1L, "a")))
    assert(r === Set(
      ("u", "a", 1L, Some(1L), 1L),
      ("u", "b", 1L, None, 2L)))
  }

  test("multi-attribute change detection: any attribute opens a version") {
    val df = Seq(
      ("u", 1L, 1L, "x", 10), ("u", 2L, 2L, "x", 10),
      ("u", 3L, 3L, "x", 20), ("u", 4L, 4L, "y", 20))
      .toDF("k", "ts", "id", "a", "b")
    val r = Scd2.build(df, Seq("k"), "ts", Seq("id"), Seq("a", "b"))
      .select($"a", $"b", $"valid_from", $"version")
      .as[(String, Int, Long, Long)].collect().toSet
    assert(r === Set(("x", 10, 1L, 1L), ("x", 20, 3L, 2L), ("y", 20, 4L, 3L)))
  }

  test("one exchange: exactly one shuffle in the physical plan") {
    val df = Seq(("u", 1L, 1L, "x"), ("u", 2L, 2L, "y")).toDF("k", "ts", "id", "a")
    val plan = Scd2.build(df, Seq("k"), "ts", Seq("id"), Seq("a"))
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 === 1, plan)
  }

  test("partitioning-independent") {
    val obs = for (i <- 1L to 200L) yield (s"k${i % 9}", i, i, s"v${i % 4}")
    val a = Scd2.build(obs.toDF("k", "ts", "id", "a").repartition(1),
      Seq("k"), "ts", Seq("id"), Seq("a"))
      .as[(String, String, Long, Option[Long], Long)].collect().toSet
    val b = Scd2.build(obs.toDF("k", "ts", "id", "a").repartition(17),
      Seq("k"), "ts", Seq("id"), Seq("a"))
      .as[(String, String, Long, Option[Long], Long)].collect().toSet
    assert(a === b)
  }
}
