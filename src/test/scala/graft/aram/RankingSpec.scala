package graft.aram

import graft.SparkSpec

class RankingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val scores = Seq(
    ("m1", "a", 3.0), ("m1", "b", 3.0), ("m1", "c", 1.0),
    ("m2", "d", 5.0), ("m2", "e", 2.0)
  ).toDF("match_id", "puuid", "predicted_score")

  test("W2 ordinal semantics: ties broken by tie-break column, no shared ranks") {
    val ranked = Ranking.predictedRanks(scores, "predicted_score", Seq("match_id"), "puuid")
    val m1 = ranked.filter($"match_id" === "m1").collect()
      .map(r => r.getAs[String]("puuid") -> r.getAs[Double]("predicted_rank")).toMap
    assert(m1("a") === 1.0 && m1("b") === 2.0 && m1("c") === 3.0) // a<b lexicographically
  }

  test("ungrouped variant ranks globally") {
    val ranked = Ranking.predictedRanks(scores, "predicted_score", Nil, "puuid")
    val all = ranked.select("predicted_rank").collect().map(_.getDouble(0)).sorted
    assert(all.toSeq === (1 to 5).map(_.toDouble))
  }

  test("inverse-error weights: normalized, smaller error → larger weight") {
    val w = Ranking.inverseErrorWeights(Map("a" -> 0.1, "b" -> 0.5, "c" -> 0.05))
    assert(math.abs(w.values.sum - 1.0) < 1e-12)
    assert(w("c") > w("a") && w("a") > w("b"))
    // exact reference formula: w_i = (1/mse_i) / sum_j (1/mse_j)
    assert(math.abs(w("a") - (1 / 0.1) / (1 / 0.1 + 1 / 0.5 + 1 / 0.05)) < 1e-12)
  }

  test("ensemble score is the weighted sum of score columns") {
    val df = Seq((1.0, 2.0, 3.0)).toDF("s1", "s2", "s3")
    val w = Map("s1" -> 0.5, "s2" -> 0.3, "s3" -> 0.2)
    val got = df.select(Ranking.ensembleScore(w).as("s")).head().getDouble(0)
    assert(math.abs(got - (1.0 * 0.5 + 2.0 * 0.3 + 3.0 * 0.2)) < 1e-12)
  }

  test("top-k importances: mean/std across models, desc order, limit k") {
    val long = Seq(
      ("f1", "m1", 0.9), ("f1", "m2", 0.8),
      ("f2", "m1", 0.5), ("f2", "m2", 0.7),
      ("f3", "m1", 0.1), ("f3", "m2", 0.2)
    ).toDF("feature", "model", "importance")
    val top = Ranking.topImportances(long, k = 2).collect()
    assert(top.map(_.getString(0)).toSeq === Seq("f1", "f2"))
    assert(math.abs(top.head.getAs[Double]("mean_importance") - 0.85) < 1e-12)
  }
}
