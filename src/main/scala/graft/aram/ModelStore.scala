package graft.aram

import org.apache.spark.sql.SparkSession

/** S6 — model/preprocessor persistence: the reference's joblib pickles
  * (`transformer/ranking/feature_factory.py:316-339`, `transformer/ranking/
  * modeling.py:246-277`) re-expressed as small parquet side tables — the
  * engine-native form: a fitted model is DATA (per-column statistics, a
  * dimension table), so it round-trips through the same
  * storage layer as everything else and broadcasts to any cluster size.
  */
object ModelStore {

  def saveClip(spark: SparkSession, model: Preprocess.ClipModel, path: String): Unit = {
    import spark.implicits._
    model.bounds.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) }
      .toDF("column", "lo", "hi").coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadClip(spark: SparkSession, path: String): Preprocess.ClipModel =
    Preprocess.ClipModel(spark.read.parquet(path).collect()
      .map(r => r.getAs[String]("column") -> (r.getAs[Double]("lo"), r.getAs[Double]("hi"))).toMap)

  def saveScaler(spark: SparkSession, model: Preprocess.RobustScalerModel, path: String): Unit = {
    import spark.implicits._
    model.stats.toSeq.map { case (c, (m, iqr)) => (c, m, iqr) }
      .toDF("column", "median", "iqr").coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadScaler(spark: SparkSession, path: String): Preprocess.RobustScalerModel =
    Preprocess.RobustScalerModel(spark.read.parquet(path).collect()
      .map(r => r.getAs[String]("column") -> (r.getAs[Double]("median"), r.getAs[Double]("iqr"))).toMap)

  def saveEncoder(model: Preprocess.EncoderModel, path: String): Unit =
    model.dim.coalesce(1).write.mode("overwrite").parquet(path)

  def loadEncoder(spark: SparkSession, path: String, keyCol: String,
      idCol: String = "champion_id"): Preprocess.EncoderModel =
    Preprocess.EncoderModel(spark.read.parquet(path), keyCol, idCol)
}
