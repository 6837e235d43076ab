package graft.aram

import org.apache.spark.sql.DataFrame

/** End-to-end analytics pipeline — the reference's
  * `test_modeling.test_full_pipeline` (E3, SURVEY.md §3): raw match docs →
  * features → labels → leak-safe split → fitted preprocessing → scoring →
  * per-match predicted ranks → evaluation. The sklearn/xgb model internals
  * are out of engine scope (SURVEY.md §2.9); scoring is pluggable — any
  * function producing a `predicted_score` column (an MLlib model's
  * prediction, a rule expression, precomputed columns) slots in.
  *
  * Plan shape: the shuffles are the labeling windows (match_id×team for
  * the features, match_id for the rank label), the split's key
  * repartition + distinct (and its semi-joins, unless AQE broadcasts the
  * keys), the encoder's distinct, the fit's one range sort, the
  * predicted-rank window (match_id) and the final metric aggregate.
  * Everything else is narrow projections, and the fitted state reaches
  * the transform as literals and a broadcast local dimension table, so the
  * pipeline scales with input size, not with operator count.
  *
  * The lineage runs once: the flow fans out at one point, an eager local
  * checkpoint. [[Preprocess.splitByGroup]] materializes the labeled input,
  * which the split key table, both semi-joins and — through `train`/`test`
  * — the encoder fit, `transform` and the ranking read. The encoded,
  * derived train table has one consumer, the order-statistics sort of
  * [[Preprocess.fitClipAndScaler]], so [[fit]] does not materialize it.
  */
object Pipeline {

  /** All fitted state for the transform side, learned on train ONLY. */
  final case class Fitted(
      encoder: Preprocess.EncoderModel,
      clip: Preprocess.ClipModel,
      scaler: Preprocess.RobustScalerModel)

  val clipCols: Seq[String] = Seq("kda", "damage_per_min", "gold_per_min")

  /** Fit preprocessing on the train split (encode → derive → clip → scale
    * over the 23 model features) — `feature_factory.prepare_features` +
    * `fit_transform`. The clip bounds and the scaler statistics over the
    * clipped table come from one range sort.
    */
  def fit(train: DataFrame): Fitted = {
    val encoder = Preprocess.fitEncoder(train, "champion")
    val (clip, scaler) = Preprocess.fitClipAndScaler(
      Preprocess.derivedFeatures(encoder(train)), clipCols, Preprocess.modelFeatureCols)
    Fitted(encoder, clip, scaler)
  }

  /** Apply fitted preprocessing (same transforms, train statistics). */
  def transform(fitted: Fitted, df: DataFrame): DataFrame =
    fitted.scaler(fitted.clip(Preprocess.derivedFeatures(fitted.encoder(df))))

  /** A deterministic rule-based scorer standing in for the model ensemble:
    * a weighted sum over scaled features (the ensemble-combination algebra
    * `modeling.py:145-169` with rule "models").
    */
  def ruleScorer(weights: Map[String, Double]): DataFrame => DataFrame =
    df => df.withColumn("predicted_score", Ranking.ensembleScore(weights))

  /** Full run: label, split, fit on train, score both sides, rank, report.
    * Returns (labeled+ranked test split, evaluation metrics row).
    */
  def run(matches: DataFrame, scorer: DataFrame => DataFrame,
      testFraction: Double = 0.2, seed: Long = 42L): (DataFrame, DataFrame) = {
    val labeled = Labeling.label(PlayerFeatures.extract(matches))
    val (train, test) = Preprocess.splitByGroup(labeled, "match_id", testFraction, seed)
    val fitted = fit(train)
    val scoredTest = scorer(transform(fitted, test))
    val ranked = Ranking.predictedRanks(scoredTest, "predicted_score",
      Seq("match_id"), "puuid")
    val metrics = graft.ops.Aggregates.rankAccuracy(ranked, "rank_in_match", "predicted_rank")
    (ranked, metrics)
  }
}
