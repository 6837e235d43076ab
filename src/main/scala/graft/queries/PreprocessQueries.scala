package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.aram.Preprocess

/** Fit/apply preprocessing operators (SURVEY.md §2.2 P6–P9) exercised
  * through the real `graft.aram.Preprocess` code paths over testdata
  * columns renamed into the domain's vocabulary. The fit side collects a
  * one-row statistics aggregate (or a distinct dimension) and the apply
  * side is pure broadcast expressions — the collect-stats-then-broadcast
  * pattern under oracle verification.
  */
object PreprocessQueries {

  /** lineitem renamed into player-feature vocabulary (deterministic). */
  private def pseudoFeatures(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").as("kills"),
      col("l_linenumber").as("assists"),
      (col("l_tax") * 100 + 1).as("game_duration"),
      (col("l_extendedprice") / 100).as("longest_time_alive"),
      (col("l_discount") * 10).as("kill_participation"),
      (col("l_discount") * 5).as("total_damage_share"),
      col("l_discount").as("death_share"),
      (col("l_extendedprice") / 100).as("damage_per_min"),
      col("l_quantity").as("damage_taken_per_min"))

  val specs: Seq[QuerySpec] = Seq(
    // P6 — derived feature formulas via the real library function.
    QuerySpec("q_p6_derived_features", (s, d) => {
      Preprocess.derivedFeatures(pseudoFeatures(s, d)).select(
        col("l_orderkey"), col("l_linenumber"),
        qround(col("aggression_index"), 6).as("aggression_index"),
        qround(col("survival_index"), 6).as("survival_index"),
        qround(col("team_contribution"), 6).as("team_contribution"),
        qround(col("combat_efficiency"), 6).as("combat_efficiency"))
    },
    oracle = Some(
      """WITH f AS (
        |  SELECT l_orderkey, l_linenumber,
        |    l_quantity AS kills, l_linenumber AS assists,
        |    l_tax * 100 + 1 AS game_duration,
        |    l_extendedprice / 100 AS longest_time_alive,
        |    l_discount * 10 AS kill_participation,
        |    l_discount * 5 AS total_damage_share,
        |    l_discount AS death_share,
        |    l_extendedprice / 100 AS damage_per_min,
        |    l_quantity AS damage_taken_per_min
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  floor(((kills + assists * 0.5) / game_duration) * 1000000.0 + 0.5) / 1000000.0 AS aggression_index,
        |  floor((longest_time_alive / (game_duration * 60)) * 1000000.0 + 0.5) / 1000000.0 AS survival_index,
        |  floor((kill_participation * 0.4 + total_damage_share * 0.4 + (1 - death_share) * 0.2) * 1000000.0 + 0.5) / 1000000.0 AS team_contribution,
        |  floor((damage_per_min / (CASE WHEN damage_taken_per_min = 0 THEN 1.0 ELSE damage_taken_per_min END)) * 1000000.0 + 0.5) / 1000000.0 AS combat_efficiency
        |FROM f""".stripMargin)),

    // P7 — exact-percentile clip: fit on the full column, apply, aggregate.
    QuerySpec("q_p7_quantile_clip", (s, d) => {
      val li = Tables.lineitem(s, d)
      val model = Preprocess.fitClip(li, Seq("l_extendedprice"))
      model(li).groupBy("l_returnflag")
        .agg(qround(avg(col("l_extendedprice")), 2).as("avg_clipped"),
          qround(min(col("l_extendedprice")), 2).as("min_clipped"),
          qround(max(col("l_extendedprice")), 2).as("max_clipped"))
    },
    oracle = Some(
      """WITH b AS (SELECT quantile_cont(l_extendedprice, 0.01) AS lo, quantile_cont(l_extendedprice, 0.99) AS hi FROM lineitem)
        |SELECT l_returnflag,
        |  floor((AVG(least(greatest(l_extendedprice, b.lo), b.hi))) * 100.0 + 0.5) / 100.0 AS avg_clipped,
        |  floor((MIN(least(greatest(l_extendedprice, b.lo), b.hi))) * 100.0 + 0.5) / 100.0 AS min_clipped,
        |  floor((MAX(least(greatest(l_extendedprice, b.lo), b.hi))) * 100.0 + 0.5) / 100.0 AS max_clipped
        |FROM lineitem, b GROUP BY l_returnflag""".stripMargin)),

    // P8 — learned dimension encode, unseen key → -1.
    QuerySpec("q_p8_encode_dim", (s, d) => {
      val part = Tables.part(s, d)
      val model = Preprocess.fitEncoder(part.filter(col("p_size") > 25)
        .select(col("p_brand")), "p_brand", "brand_id")
      model(part).groupBy("brand_id").agg(count(lit(1)).as("cnt"))
    },
    oracle = Some(
      """WITH dim AS (
        |  SELECT p_brand, CAST(row_number() OVER (ORDER BY p_brand) - 1 AS BIGINT) AS brand_id
        |  FROM (SELECT DISTINCT p_brand FROM part WHERE p_size > 25))
        |SELECT coalesce(d.brand_id, -1) AS brand_id, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM part p LEFT JOIN dim d ON p.p_brand = d.p_brand GROUP BY 1""".stripMargin)),

    // P9 — robust scaling (median/IQR) fit on train stats, applied as exprs.
    QuerySpec("q_p9_robust_scale", (s, d) => {
      val li = Tables.lineitem(s, d)
      val model = Preprocess.fitRobustScaler(li, Seq("l_quantity", "l_extendedprice"))
      model(li).groupBy("l_linestatus")
        .agg(qround(avg(col("l_quantity")), 6).as("avg_scaled_qty"),
          qround(min(col("l_quantity")), 6).as("min_scaled_qty"),
          qround(max(col("l_quantity")), 6).as("max_scaled_qty"),
          qround(avg(col("l_extendedprice")), 6).as("avg_scaled_price"))
    },
    oracle = Some(
      """WITH st AS (
        |  SELECT quantile_cont(l_quantity, 0.5) AS q_med, quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25) AS q_iqr,
        |         quantile_cont(l_extendedprice, 0.5) AS p_med, quantile_cont(l_extendedprice, 0.75) - quantile_cont(l_extendedprice, 0.25) AS p_iqr
        |  FROM lineitem)
        |SELECT l_linestatus,
        |  floor((AVG((l_quantity - st.q_med) / st.q_iqr)) * 1000000.0 + 0.5) / 1000000.0 AS avg_scaled_qty,
        |  floor((MIN((l_quantity - st.q_med) / st.q_iqr)) * 1000000.0 + 0.5) / 1000000.0 AS min_scaled_qty,
        |  floor((MAX((l_quantity - st.q_med) / st.q_iqr)) * 1000000.0 + 0.5) / 1000000.0 AS max_scaled_qty,
        |  floor((AVG((l_extendedprice - st.p_med) / st.p_iqr)) * 1000000.0 + 0.5) / 1000000.0 AS avg_scaled_price
        |FROM lineitem, st GROUP BY l_linestatus""".stripMargin)),

    // S6 — model persistence round-trip: fit clip + scaler, SAVE the side
    // tables, LOAD them back, and emit the loaded statistics. The oracle
    // recomputes the same statistics directly from the data, so the whole
    // persist/restore path (not just the fit) is under oracle verification.
    // Fit uses the GRID quantile path (values quantized to cents): the
    // collapse-to-distinct-grid-values shape is the 100 TB fit — work ∝
    // distinct grid values, not rows — and the oracle mirrors the
    // quantization exactly (quantile_cont over the same integer grid), so
    // the round-trip stays hash-verified. The continuous-sort exact path
    // remains oracled by q_p7/q_p9.
    QuerySpec("q_s6_model_roundtrip", (s, d) => {
      import graft.aram.ModelStore
      val li = Tables.lineitem(s, d)
      val base = s"${sys.props("java.io.tmpdir")}/graft_models_${math.abs(d.hashCode)}"
      ModelStore.saveClip(s, Preprocess.fitClipGrid(li, Seq("l_quantity", "l_extendedprice")), s"$base/clip")
      ModelStore.saveScaler(s, Preprocess.fitRobustScalerGrid(li, Seq("l_discount")), s"$base/scaler")
      val clip = ModelStore.loadClip(s, s"$base/clip")
      val scaler = ModelStore.loadScaler(s, s"$base/scaler")
      import s.implicits._
      (clip.bounds.toSeq.flatMap { case (c, (lo, hi)) =>
        Seq((c, "lo", lo), (c, "hi", hi))
      } ++ scaler.stats.toSeq.flatMap { case (c, (m, iqr)) =>
        Seq((c, "median", m), (c, "iqr", iqr))
      }).toDF("name", "stat", "raw")
        .select(col("name"), col("stat"), qround(col("raw"), 6).as("value"))
    },
    oracle = Some(
      """WITH g AS (SELECT
        |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
        |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dd
        |  FROM lineitem)
        |SELECT 'l_quantity' AS name, 'lo' AS stat, floor((quantile_cont(q, 0.01) / 100) * 1000000.0 + 0.5) / 1000000.0 AS value FROM g
        |UNION ALL SELECT 'l_quantity', 'hi', floor((quantile_cont(q, 0.99) / 100) * 1000000.0 + 0.5) / 1000000.0 FROM g
        |UNION ALL SELECT 'l_extendedprice', 'lo', floor((quantile_cont(p, 0.01) / 100) * 1000000.0 + 0.5) / 1000000.0 FROM g
        |UNION ALL SELECT 'l_extendedprice', 'hi', floor((quantile_cont(p, 0.99) / 100) * 1000000.0 + 0.5) / 1000000.0 FROM g
        |UNION ALL SELECT 'l_discount', 'median', floor((quantile_cont(dd, 0.5) / 100) * 1000000.0 + 0.5) / 1000000.0 FROM g
        |UNION ALL SELECT 'l_discount', 'iqr', floor((quantile_cont(dd, 0.75) / 100 - quantile_cont(dd, 0.25) / 100) * 1000000.0 + 0.5) / 1000000.0 FROM g""".stripMargin),
    sf1 = true)
  )
}
