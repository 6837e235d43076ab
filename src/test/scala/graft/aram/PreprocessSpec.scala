package graft.aram

import java.lang.Double.doubleToRawLongBits

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

class PreprocessSpec extends SparkSpec {
  import spark.implicits._

  private lazy val features = {
    val f = PlayerFeatures.extract(MatchFixtures.matches(spark, 80))
    Preprocess.derivedFeatures(Labeling.label(f)).cache()
  }

  test("P6 derived features match their formulas") {
    val r = features.select("kills", "assists", "game_duration", "longest_time_alive",
      "kill_participation", "total_damage_share", "death_share",
      "damage_per_min", "damage_taken_per_min",
      "aggression_index", "survival_index", "team_contribution", "combat_efficiency").head()
    val (k, a, gd) = (r.getInt(0), r.getInt(1), r.getDouble(2))
    assert(math.abs(r.getAs[Double]("aggression_index") - (k + a * 0.5) / gd) < 1e-12)
    assert(math.abs(r.getAs[Double]("survival_index") - r.getAs[Double]("longest_time_alive") / (gd * 60)) < 1e-12)
    val tc = r.getAs[Double]("kill_participation") * 0.4 +
      r.getAs[Double]("total_damage_share") * 0.4 + (1 - r.getAs[Double]("death_share")) * 0.2
    assert(math.abs(r.getAs[Double]("team_contribution") - tc) < 1e-12)
  }

  test("P7 clip: train/apply asymmetry + idempotence") {
    val model = Preprocess.fitClip(features, Seq("kda", "damage_per_min", "gold_per_min"))
    val clipped = model(features)
    // bounds respected
    val (lo, hi) = model.bounds("kda")
    val Array(mn, mx) = clipped.agg(min("kda"), max("kda")).head().toSeq.map(_.asInstanceOf[Double]).toArray
    assert(mn >= lo - 1e-12 && mx <= hi + 1e-12)
    // applying the SAME model twice is a no-op (apply never re-fits)
    val twice = model(clipped)
    assert(clipped.drop("timestamp").exceptAll(twice.drop("timestamp")).count() === 0)
    // a model fit on a skewed subset carries ITS bounds to new data (asymmetry)
    val low = features.filter($"kda" < 2.0)
    val m2 = Preprocess.fitClip(low, Seq("kda"))
    assert(m2.bounds("kda")._2 < model.bounds("kda")._2)
    val reclipped = m2(features)
    val mx2 = reclipped.agg(max("kda")).head().getDouble(0)
    assert(mx2 <= m2.bounds("kda")._2 + 1e-12)
  }

  test("P7 clip keeps a null and a NaN as they are, as pandas clip keeps NaN") {
    val df = Seq(Some(1.0), None, Some(5.0), Some(-3.0), Some(Double.NaN)).toDF("x")
    val out = Preprocess.ClipModel(Map("x" -> (0.0, 2.0)))(df).collect()
      .map(r => if (r.isNullAt(0)) None else Some(doubleToRawLongBits(r.getDouble(0))))
    assert(out.toSeq === Seq(Some(1.0), None, Some(2.0), Some(0.0), Some(Double.NaN))
      .map(_.map(doubleToRawLongBits)))
  }

  private def rawBits(m: Map[String, (Double, Double)]): Map[String, (Long, Long)] =
    m.map { case (c, (a, b)) => c -> (doubleToRawLongBits(a), doubleToRawLongBits(b)) }

  /** The fused fit against `fitClip` then `fitRobustScaler` over the
    * clipped table, bit for bit. */
  private def assertFusedFitExact(df: DataFrame, clipCols: Seq[String],
      scaleCols: Seq[String]): (Preprocess.ClipModel, Preprocess.RobustScalerModel) = {
    val clip = Preprocess.fitClip(df, clipCols)
    val scaler = Preprocess.fitRobustScaler(clip(df), scaleCols)
    val (fusedClip, fusedScaler) = Preprocess.fitClipAndScaler(df, clipCols, scaleCols)
    assert(rawBits(fusedClip.bounds) === rawBits(clip.bounds))
    assert(rawBits(fusedScaler.stats) === rawBits(scaler.stats))
    (fusedClip, fusedScaler)
  }

  test("P7+P9 fused fit ≡ clip fit then scaler fit over the clipped table, on match fixtures") {
    val encoded = Preprocess.fitEncoder(features, "champion")(features)
    assertFusedFitExact(encoded, Pipeline.clipCols, Preprocess.modelFeatureCols)
  }

  test("P7+P9 fused fit ≡ two fits at ties, outliers, null, NaN and −0.0 beside a 0.0 bound") {
    // 151 rows in 3 partitions, so q = p·150: the 1%/99% bounds
    // interpolate ranks 1-2 and 148-149, the median is rank 75 exactly
    val rows = (0 to 150).map { i =>
      // a: ties across both bound ranks, one outlier beyond each bound
      val a = if (i == 0) -100.0 else if (i <= 3) -5.0 else if (i == 150) 900.0
        else if (i >= 147) 50.0 else (i % 9).toDouble
      // b: a 0.0 lower bound; the one value below it comes first, so its
      // clipped copy keeps rank 0 in both sorts, and the −0.0 at rank 75
      // is the median (greatest keeps the −0.0; math.max would not)
      val b = if (i == 0) -3.0 else if (i == 75) -0.0 else if (i <= 80) 0.0 else i.toDouble
      // c: a null and a NaN, which the clip keeps and both fits skip
      val c = if (i == 10) null else if (i == 20) Double.NaN else i * 1.5
      Row(a, b, c, (i % 13).toDouble)
    }
    val schema = StructType(Seq("a", "b", "c", "d").map(StructField(_, DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val (clip, scaler) = assertFusedFitExact(df, Seq("a", "b", "c"), Seq("a", "b", "c", "d"))
    assert(clip.bounds("a") === ((-5.0, 50.0)))
    assert(doubleToRawLongBits(clip.bounds("b")._1) === doubleToRawLongBits(0.0))
    assert(doubleToRawLongBits(scaler.stats("b")._1) === doubleToRawLongBits(-0.0))
  }

  test("grid fit ≡ exact fit when values already sit on the grid") {
    // integer-valued column: quantizing at gridScale 100 is lossless, so
    // the collapse-based grid path must reproduce the sort-based exact
    // path bit-for-bit (same quantile_cont interpolation formula)
    val df = (1 to 500).map(i => (i % 37).toDouble).toDF("x")
    val exact = Preprocess.fitClip(df, Seq("x")).bounds("x")
    val grid = Preprocess.fitClipGrid(df, Seq("x")).bounds("x")
    assert(grid === exact)
    val exactS = Preprocess.fitRobustScaler(df, Seq("x")).stats("x")
    val gridS = Preprocess.fitRobustScalerGrid(df, Seq("x")).stats("x")
    assert(gridS === exactS)
    // off-grid values land within half a grid step of the exact bounds
    val cont = (1 to 500).map(i => i * 0.0123).toDF("x")
    val (elo, ehi) = Preprocess.fitClip(cont, Seq("x")).bounds("x")
    val (glo, ghi) = Preprocess.fitClipGrid(cont, Seq("x")).bounds("x")
    assert(math.abs(glo - elo) <= 0.005 + 1e-12 && math.abs(ghi - ehi) <= 0.005 + 1e-12)
  }

  test("quantile normalization: identical distributions map to themselves; shifted map onto the reference") {
    // normalize x against a reference that is x + 1000: mid-rank
    // percentiles land each value on the shifted counterpart
    val xs = (1 to 101).map(_.toDouble)
    val x = xs.map(v => (v.toLong, v)).toDF("id", "v")
    val ref = xs.map(v => v + 1000).toDF("r")
    val got = Preprocess.quantileNormalizeGrid(x, "v", ref, "r", k = 100)
      .select("id", "qn").as[(Long, Double)].collect().toMap
    // value i has mid-rank percentile (i-1)/100 → maps to ref quantile
    // (i-1)/100 = 1000 + i exactly (uniform grid, k=100 aligns)
    xs.foreach(v => assert(math.abs(got(v.toLong) - (1000 + v)) < 1e-9,
      s"v=$v got=${got(v.toLong)}"))
    // self-normalization is the identity on the same grid
    val self = Preprocess.quantileNormalizeGrid(x, "v", xs.toDF("r"), "r", k = 100)
      .select("id", "qn").as[(Long, Double)].collect().toMap
    xs.foreach(v => assert(math.abs(self(v.toLong) - v) < 1e-9))
    // ties share one mapped value; output preserves row count
    val tied = Seq(1L -> 5.0, 2L -> 5.0, 3L -> 9.0).toDF("id", "v")
    val t = Preprocess.quantileNormalizeGrid(tied, "v", xs.toDF("r"), "r")
      .select("id", "qn").as[(Long, Double)].collect().toMap
    assert(t.size === 3 && t(1L) === t(2L) && t(1L) < t(3L))
  }

  test("P8 encoder: dense ids, unseen → -1, no rows dropped") {
    val train = features.filter($"champion" =!= "Ahri")
    val model = Preprocess.fitEncoder(train, "champion")
    val encoded = model(features)
    assert(encoded.count() === features.count())
    val ahri = encoded.filter($"champion" === "Ahri").select("champion_id").distinct().collect()
    assert(ahri.map(_.getLong(0)).toSeq === Seq(-1L))
    val ids = model.dim.select("champion_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === ids.indices.map(_.toLong)) // dense 0..n-1
  }

  test("P8 encoder ids equal a range sort numbered by zipWithIndex: nulls first, UTF-8 byte order") {
    // U+FF5E sorts before U+1F600 in UTF-8 bytes but after it in UTF-16
    // code units (a surrogate pair), so a driver-side String sort would
    // number them the other way round
    val keys = Seq(Some("b"), None, Some("\u00e9"), Some("z"), Some("\uD83D\uDE00"),
      Some("\uFF5E"), Some("a"), Some("\u00e9"), None, Some("\uD835\uDD38"), Some("\u03a9"), Some("b"))
    val train = spark.sparkContext.parallelize(keys, 3).toDF("k")
    val model = Preprocess.fitEncoder(train, "k", "id")
    val sorted = train.select(col("k")).distinct().orderBy(col("k"))
    val expected = sorted.rdd.zipWithIndex().map { case (r, i) => (Option(r.getString(0)), i) }
      .collect().toSeq
    val got = model.dim.collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSeq
    assert(got.sortBy(_._2) === expected)
    assert(expected.size === 9 && expected.head === ((None, 0L)))
    assert(model.dim.schema("id").dataType === LongType && !model.dim.schema("id").nullable)
  }

  test("P9 robust scaler: median → 0, IQR → 1 on the train set") {
    val model = Preprocess.fitRobustScaler(features, Seq("kda", "gold_per_min"))
    val scaled = model(features)
    val med = scaled.agg(expr("percentile(kda, 0.5)"), expr("percentile(kda, 0.75) - percentile(kda, 0.25)")).head()
    assert(math.abs(med.getDouble(0)) < 1e-9)
    assert(math.abs(med.getDouble(1) - 1.0) < 1e-9)
  }

  test("J2 group split: disjoint match ids, roughly 80/20, leak-free") {
    val (train, test) = Preprocess.splitByGroup(features, "match_id", 0.2, seed = 42L)
    val trainIds = train.select("match_id").distinct().collect().map(_.getString(0)).toSet
    val testIds = test.select("match_id").distinct().collect().map(_.getString(0)).toSet
    assert(trainIds.intersect(testIds).isEmpty)
    assert(trainIds.size + testIds.size === features.select("match_id").distinct().count())
    val frac = testIds.size.toDouble / (trainIds.size + testIds.size)
    assert(frac > 0.05 && frac < 0.45) // seeded binomial split on small n is noisy
    // every row landed somewhere
    assert(train.count() + test.count() === features.count())
  }

  test("J2 group split leaves no cache entry; memberships match a cached key table") {
    val input = PlayerFeatures.extract(MatchFixtures.matches(spark, 80))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("match_id").distinct().collect().map(_.getString(0)).toSet
    val (train, test) = Preprocess.splitByGroup(input, "match_id", 0.2, seed = 42L)
    val (trainIds, testIds) = (ids(train), ids(test))
    val keyTable = input.select("match_id").distinct()
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    assert(spark.sharedState.cacheManager.lookupCachedData(keyTable).isEmpty)
    // the split over a cached key table draws the same memberships
    val cached = keyTable.cache()
    try {
      val Array(refTrain, refTest) = cached.randomSplit(Array(0.8, 0.2), 42L)
      assert(trainIds === ids(refTrain))
      assert(testIds === ids(refTest))
    } finally cached.unpersist(blocking = true)
  }

  test("hash folds: deterministic, complete, k classes") {
    val folded = Preprocess.hashFold(features, "match_id", 5)
    val folds = folded.select("fold").distinct().collect().map(_.getLong(0)).sorted
    assert(folds.forall(f => f >= 0 && f < 5))
    // same match always in the same fold
    val perMatch = folded.groupBy("match_id").agg(countDistinct("fold").as("n"))
      .filter($"n" > 1).count()
    assert(perMatch === 0)
  }
}
