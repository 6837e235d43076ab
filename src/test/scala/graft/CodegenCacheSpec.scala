package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A repeated pass must reuse its generated classes. Spark's generated-class
  * cache is a JVM-wide LRU, and a pass whose classes outnumber it misses on
  * every lookup, so every repeat compiles all of them again: at the default
  * 100 entries the second round below compiled 181 of the first round's 195.
  */
class CodegenCacheSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** The two iterative graph queries of the benchmark: classes compiled. */
  private def round(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Seq("q_label_prop", "q_dup_clusters").foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second round of the same queries compiles no class") {
    // AQE re-plans by stage completion order (a broadcast join is fused
    // into an aggregate's stage or not), so with it on a round can add a
    // few new plans, and their classes, to a warm cache. Without AQE the
    // plans are fixed and the count measures reuse alone.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val first = round()
      val second = round()
      assert(second === 0, s"(first round compiled $first)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
