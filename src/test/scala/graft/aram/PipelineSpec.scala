package graft.aram

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Golden end-to-end replay of the reference's full pipeline shapes
  * (`test_modeling.py` / `test_labeling.py`): dataset shapes, metric
  * computability, save/load determinism.
  */
class PipelineSpec extends SparkSpec {

  private lazy val matches = MatchFixtures.matches(spark, 120).cache()

  test("E3: full pipeline runs; ranked test split has sane shapes and metrics") {
    val weights = Map("kda" -> 0.4, "damage_per_min" -> 0.3, "team_contribution" -> 0.3)
    val (ranked, metrics) = Pipeline.run(matches, Pipeline.ruleScorer(weights))
    val r = ranked.cache()
    // 10 rows per test match, ranks are 1..10 ordinals
    val badCounts = r.groupBy("match_id").count().filter(col("count") =!= 10).count()
    assert(badCounts === 0)
    val m = metrics.head()
    assert(m.getAs[Double]("exact_acc") >= 0.0 && m.getAs[Double]("exact_acc") <= 1.0)
    assert(m.getAs[Double]("within2_acc") >= m.getAs[Double]("within1_acc"))
    // scoring a labeled split never drops or duplicates players
    assert(r.select("puuid").distinct().count() === r.count())
  }

  test("labeling check (test_labeling shapes): win-team mean rank beats lose-team") {
    val labeled = Labeling.label(PlayerFeatures.extract(matches))
    val byWin = labeled.groupBy("win").agg(avg("rank_in_match").as("mean_rank"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // the ×1.1 win bonus must push winners' mean rank below (better than) losers'
    assert(byWin(true) < byWin(false))
    // null diagnostics: no nulls in any feature column
    val nullCounts = graft.ops.Aggregates.nullDiagnostics(labeled,
      PlayerFeatures.featureCols.filterNot(_ == "timestamp")).head()
    assert(nullCounts.toSeq.forall(_ == 0L))
  }

  test("S6: fitted models round-trip through parquet side tables exactly") {
    val labeled = Labeling.label(PlayerFeatures.extract(matches))
    val fitted = Pipeline.fit(labeled)
    val dir = Files.createTempDirectory("models").toString

    ModelStore.saveClip(spark, fitted.clip, s"$dir/clip")
    ModelStore.saveScaler(spark, fitted.scaler, s"$dir/scaler")
    ModelStore.saveEncoder(fitted.encoder, s"$dir/encoder")

    assert(ModelStore.loadClip(spark, s"$dir/clip").bounds === fitted.clip.bounds)
    assert(ModelStore.loadScaler(spark, s"$dir/scaler").stats === fitted.scaler.stats)

    // save/load determinism (the reference's "max diff = 0.0" check): the
    // reloaded pipeline transforms identically
    val loaded = Pipeline.Fitted(
      ModelStore.loadEncoder(spark, s"$dir/encoder", "champion"),
      ModelStore.loadClip(spark, s"$dir/clip"),
      ModelStore.loadScaler(spark, s"$dir/scaler"))
    val a = Pipeline.transform(fitted, labeled).drop("timestamp")
    val b = Pipeline.transform(loaded, labeled).drop("timestamp")
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }
}
