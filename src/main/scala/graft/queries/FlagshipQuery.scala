package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.aram.Labeling

/** The flagship query — the reference's end-to-end labeling path ("from raw
  * match data, produce the per-match player ranking", SURVEY.md §7.1 M1) —
  * mapped onto the driver's testdata: orders play matches, lineitems play
  * participants. Exercises scan → join → window team-total → 6-term
  * weighted score with win bonus → RANK() per match, i.e. S1+P2+J1/A1+P5+
  * W3+W1 in one plan. The real Match-V5 version of the same pipeline runs
  * over synthetic match documents in the test suite
  * (`graft.aram.PlayerFeatures` / `Labeling`).
  *
  * Column analogies: quantity→kills-ish, discount→participation, tax→damage
  * taken, extendedprice→damage/gold; win ⇔ order fully shipped ('F').
  */
object FlagshipQuery {

  def flagship(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
      (col("o_orderstatus") === "F").as("win"))
    val joined = li.join(o, "l_orderkey")

    val wOrder = Window.partitionBy(col("l_orderkey"))
    val feat = joined
      .withColumn("kda", (col("l_quantity") + col("l_tax") * 100) / greatest(col("l_discount") * 100, lit(1.0)))
      .withColumn("dpm", col("l_extendedprice") / 100)
      .withColumn("kp", col("l_discount") * 10)
      .withColumn("gpm", col("l_extendedprice") * (lit(1) - col("l_discount")) / 100)
      .withColumn("death_share", col("l_quantity") / greatest(sum(col("l_quantity")).over(wOrder), lit(1.0)))
      .withColumn("gold_eff", when(col("gpm") > 0, (col("dpm") + col("l_tax") * 10) / col("gpm")).otherwise(0.0))

    val scored = feat.withColumn("performance_score",
      Labeling.performanceScore(col("kda"), col("dpm"), col("kp"), col("gpm"),
        col("death_share"), col("gold_eff"), col("win")))

    scored
      .withColumn("rank_in_match",
        rank().over(Window.partitionBy(col("l_orderkey")).orderBy(col("performance_score").desc)).cast("long"))
      .select(col("l_orderkey"), col("l_linenumber"),
        qround(col("performance_score"), 4).as("performance_score"), col("rank_in_match"))
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_flagship_rank", flagship(_, _),
    oracle = Some(
      """WITH feat AS (
        |  SELECT l.l_orderkey, l.l_linenumber,
        |    (l.l_quantity + l.l_tax * 100) / greatest(l.l_discount * 100, 1.0) AS kda,
        |    l.l_extendedprice / 100 AS dpm,
        |    l.l_discount * 10 AS kp,
        |    l.l_extendedprice * (1 - l.l_discount) / 100 AS gpm,
        |    l.l_quantity / greatest(SUM(l.l_quantity) OVER (PARTITION BY l.l_orderkey), 1.0) AS death_share,
        |    l.l_tax AS tax,
        |    (o.o_orderstatus = 'F') AS win
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |), scored AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN win
        |      THEN (kda * 0.25 + dpm / 1000 * 0.20 + kp * 0.15 + gpm / 500 * 0.10 + (1 - death_share) * 0.15 + (CASE WHEN gpm > 0 THEN (dpm + tax * 10) / gpm ELSE 0.0 END) * 0.15) * 1.1
        |      ELSE (kda * 0.25 + dpm / 1000 * 0.20 + kp * 0.15 + gpm / 500 * 0.10 + (1 - death_share) * 0.15 + (CASE WHEN gpm > 0 THEN (dpm + tax * 10) / gpm ELSE 0.0 END) * 0.15)
        |    END AS performance_score
        |  FROM feat
        |)
        |SELECT l_orderkey, l_linenumber, floor((performance_score) * 10000.0 + 0.5) / 10000.0 AS performance_score,
        |  CAST(rank() OVER (PARTITION BY l_orderkey ORDER BY performance_score DESC) AS BIGINT) AS rank_in_match
        |FROM scored""".stripMargin))
  )
}
