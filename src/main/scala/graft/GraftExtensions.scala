package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{CosineSimilarity, PerformanceScoreExpr}

/** SparkSessionExtensions entry point — the deployment-grade way to ship
  * the engine's custom Catalyst surface: any session built with
  * `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions` on spark-submit) gets
  * `performance_score(...)` as a first-class SQL function, resolved at
  * analysis time like a builtin — no per-session registration calls.
  * Complements the runtime registration path
  * (`PerformanceScoreExpr.register`) used by notebooks/tests.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("performance_score"),
      new ExpressionInfo(classOf[PerformanceScoreExpr].getName, "performance_score"),
      PerformanceScoreExpr.sqlBuilder))
    e.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      CosineSimilarity.sqlBuilder))
    // whole-operator tier: the native as-of join's planner strategy
    // (AsOfJoinPlan → AsOfJoinExec); the AsOfJoinNative.backward wrapper
    // also self-registers via experimental.extraStrategies for sessions
    // built without extensions
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // ...and the pruning rule that restores column pruning through the
    // custom node (Catalyst can't see inside it)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinPruneRule)
  }
}

/** Fresh-JVM smoke for the extensions path (the existing test session can't
  * re-apply extensions): builds a session WITH the extensions and runs the
  * SQL function. `sbt "runMain graft.ExtensionsCheck"` prints OK/FAIL.
  */
object ExtensionsCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("graft-ext-check", "local[2]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val got = spark.sql(
      "SELECT performance_score(2.0, 500.0, 0.5, 300.0, 0.2, 1.5, true) AS s").head().getDouble(0)
    val want = (2.0 * 0.25 + 500.0 / 1000 * 0.20 + 0.5 * 0.15 + 300.0 / 500 * 0.10 +
      (1 - 0.2) * 0.15 + 1.5 * 0.15) * 1.1
    println(if (math.abs(got - want) < 1e-12) s"OK performance_score=$got"
            else s"FAIL got=$got want=$want")
    val cos = spark.sql(
      "SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").head().getDouble(0)
    println(if (math.abs(cos - 1.0) < 1e-12) s"OK cosine_similarity=$cos"
            else s"FAIL cosine_similarity=$cos want=1.0")
    // the injected planner strategy: build AsOfJoinPlan DIRECTLY (no
    // experimental.extraStrategies fallback) — only injection can plan it
    import org.apache.spark.sql.graft.Bridge
    import spark.implicits._
    val l = Seq((1L, 10L, "a")).toDF("k", "ts", "lp")
    val r = Seq((1L, 8L, 0.5)).toDF("k", "ts", "rp")
      .select(org.apache.spark.sql.functions.col("k").as("rk"),
        org.apache.spark.sql.functions.col("ts").as("r_ts"),
        org.apache.spark.sql.functions.col("rp").as("r_rp"))
    val lp = Bridge.analyzed(l); val rp = Bridge.analyzed(r)
    val plan = graft.plans.AsOfJoinPlan(lp, rp,
      Seq(lp.output.head), Seq(rp.output.head),
      lp.output(1), rp.output(1))
    val n = Bridge.ofRows(spark, plan).count()
    println(if (n == 1) "OK asof_strategy planned via extensions"
            else s"FAIL asof_strategy count=$n")
    spark.stop()
  }
}
