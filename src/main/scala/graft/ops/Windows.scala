package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function operators (SURVEY.md §2.4).
  *
  * The reference computes two distinct rankings whose tie semantics differ —
  * the single most test-worthy distinction in the pipeline:
  *
  *  - W1: pandas `rank(method='min', ascending=False)` per match
  *    (`transformer/ranking/feature_factory.py:139-142`) ≡ SQL `RANK()` —
  *    ties share the lowest rank, gaps follow.
  *  - W2: numpy double-argsort per match (`transformer/ranking/modeling.py:
  *    172-212`) ≡ SQL `ROW_NUMBER()` — ordinal, ties broken by input order.
  *    Input order is nondeterministic in a distributed engine, so we require
  *    an explicit deterministic tie-break column (the reference's "input
  *    order" is itself Mongo cursor order, i.e. unspecified).
  *
  * Also A1: the per-(match, team) death total that the reference builds as a
  * Python dict and probes per row (`data_extractor.py:75-81` →
  * `feature_factory.py:57-60`). A window sum avoids the join entirely — one
  * shuffle on the partition keys, then a streaming aggregation within each
  * partition. At 100 TB this is the right shape: no second shuffle, no
  * broadcast of an unboundedly-growing aggregate table.
  */
object Windows {

  /** W1 — `RANK()` over a partition, descending. Ties share the min rank. */
  def rankMinDesc(df: DataFrame, partitionCols: Seq[String], orderCol: String, as: String): DataFrame =
    df.withColumn(as, rank().over(Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol).desc)))

  /** W2 — `ROW_NUMBER()` over a partition, descending, with explicit
    * deterministic tie-break columns (ascending).
    */
  def ordinalRankDesc(df: DataFrame, partitionCols: Seq[String], orderCol: String, tieBreak: Seq[String], as: String): DataFrame = {
    val ordering = col(orderCol).desc +: tieBreak.map(col(_).asc)
    df.withColumn(as, row_number().over(Window.partitionBy(partitionCols.map(col): _*).orderBy(ordering: _*)))
  }

  /** A1/J1 — partition-total share: `x / max(sum(x) over partition, floor)`.
    * The reference's team-death-share (`feature_factory.py:57-60`) with the
    * same divide-by-zero floor of 1.
    */
  def partitionShare(df: DataFrame, partitionCols: Seq[String], valueCol: String, as: String, floor: Double = 1.0): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
    df.withColumn(as, col(valueCol) / greatest(sum(col(valueCol)).over(w), lit(floor)))
  }

  /** Recency-weighted (exponentially decayed) running average: at each row,
    * the average of the last `depth` values in the partition with weight
    * 2^−k on the value k steps back (half-life = one step), renormalized
    * over the values actually present — the "recent behavior" feature a
    * training pipeline attaches to every event (spend velocity, recent
    * quality, engagement decay).
    *
    * Determinism/exactness contract: `valueCol` integral (fixed-point
    * idiom) with |value| < 2^40 and `depth` ≤ 12. Each term value·2^−k is
    * then an exact multiple of 2^−(depth−1) well inside double precision,
    * so the numerator and denominator sums are EXACT regardless of
    * association order, and the final division is the single rounding
    * site — bit-identical on any engine and any partitioning. (A general
    * α would make every term inexact and the result order-sensitive;
    * the α=½ special case buys cross-engine reproducibility.)
    *
    * Scale shape: `depth` lag() expressions over ONE window — one hash
    * exchange on the partition keys, one sort, then a narrow codegen'd
    * projection. No self-join, no per-row state; the frame never
    * materializes (lag is O(1) per row at any depth the contract allows).
    */
  def recencyWeightedAvg(df: DataFrame, partitionCols: Seq[String],
      orderCols: Seq[Column], valueCol: String, depth: Int,
      as: String): DataFrame = {
    require(depth >= 1 && depth <= 12, s"depth $depth outside the exactness contract [1,12]")
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols: _*)
    val terms = (0 until depth).map { k =>
      val t = if (k == 0) col(valueCol) else lag(col(valueCol), k).over(w)
      (t, math.pow(0.5, k))
    }
    val num = terms.map { case (t, wk) =>
      when(t.isNotNull, t.cast("double") * lit(wk)).otherwise(lit(0.0))
    }.reduce(_ + _)
    val den = terms.map { case (t, wk) =>
      when(t.isNotNull, lit(wk)).otherwise(lit(0.0))
    }.reduce(_ + _)
    df.withColumn(as, num / den)
  }
}
