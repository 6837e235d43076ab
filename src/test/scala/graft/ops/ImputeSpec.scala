package graft.ops

import graft.SparkSpec

class ImputeSpec extends SparkSpec {
  import spark.implicits._

  // (group, value) with nulls to fill
  private val df = Seq(
    ("a", Some(10L)), ("a", Some(20L)), ("a", Some(30L)), ("a", None),
    ("b", Some(1L)), ("b", Some(3L)), ("b", None), ("b", None),
    ("c", None)) // group with no observed values
    .toDF("g", "v")

  test("fit: exact per-group medians, interpolated on even counts") {
    val med = Impute.fitGroupMedian(df, "g", "v")
      .as[(String, Double)].collect().toMap
    assert(med("a") === 20.0)
    assert(med("b") === 2.0)     // (1+3)/2 — .5-exact interpolation
    assert(!med.contains("c"))   // nothing observed → nothing fitted
  }

  test("apply: nulls take the group median; unseen groups keep null") {
    val med = Impute.fitGroupMedian(df, "g", "v")
    val out = Impute.applyGroupMedian(df, med, "g", "v", "f")
      .collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(out.contains(("a", None, Some(20.0))))
    assert(out.contains(("b", None, Some(2.0))))
    assert(out.contains(("c", None, None)))           // no silent global fill
    assert(out.contains(("a", Some(10L), Some(10.0)))) // non-nulls pass through
  }

  test("fit/apply is partitioning-independent") {
    val med = Impute.fitGroupMedian(df.repartition(7), "g", "v")
    val a = Impute.applyGroupMedian(df.repartition(3), med, "g", "v", "f")
      .orderBy("g", "v").collect().toSeq
    val b = Impute.applyGroupMedian(df, Impute.fitGroupMedian(df, "g", "v"),
        "g", "v", "f")
      .orderBy("g", "v").collect().toSeq
    assert(a === b)
  }
}
