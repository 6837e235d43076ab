package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join: for every left row, the right row with the
  * greatest timestamp ≤ the left row's timestamp, per key — the canonical
  * event-alignment operator (each purchase matched to the most recent
  * prior page view; each trade to the prevailing quote).
  *
  * Built by COMPOSITION (tier (a) of the custom-operator ladder — no
  * custom strategy needed): union both sides tagged, sort each key
  * partition by (ts, side) with right rows ordered before left rows at
  * equal timestamps (≤ semantics), carry the last non-null right payload
  * forward with an ordered window, then keep the left rows. One shuffle on
  * the key — the same cost as a plain sort-merge join, with none of the
  * range-condition blowup a theta-join formulation would pay. Matches
  * DuckDB's native `ASOF JOIN` row-for-row (the oracle for `q_asof_join`).
  */
object AsOfJoin {

  /** `left`/`right` must share `keyCols` and `tsCol`; all other columns are
    * carried through — left columns as-is, right columns prefixed `r_`.
    * Unmatched left rows keep null right columns (left-outer semantics;
    * filter `r_<ts> IS NOT NULL` for inner).
    */
  def backward(left: DataFrame, right: DataFrame, keyCols: Seq[String], tsCol: String): DataFrame =
    carryRight(left, right, keyCols, tsCol, col("__ts").asc)

  /** Forward as-of join: for every left row, the right row with the
    * SMALLEST timestamp ≥ the left row's timestamp per key — next-touch
    * alignment (each view matched to the next purchase; each alert to
    * the next deploy). The mirror of [[backward]]: the combined stream
    * sorts time-DESCENDING with right rows still first at equal
    * timestamps (≥ inclusive), and the same last-non-null carry walks
    * the future side. Identical one-shuffle cost.
    */
  def forward(left: DataFrame, right: DataFrame, keyCols: Seq[String], tsCol: String): DataFrame =
    carryRight(left, right, keyCols, tsCol, col("__ts").desc)

  /** The as-of composition both directions share: the tagged union sorted
    * per key by `tsOrder` (on the unified timestamp `__ts`), right rows
    * first at equal timestamps, with the last non-null right payload
    * carried onto each left row.
    */
  private def carryRight(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, tsOrder: Column): DataFrame = {
    val leftPayload = left.columns.filterNot(c => keyCols.contains(c))
    val rightPayload = right.columns.filterNot(c => keyCols.contains(c))

    val l = left.select(
      keyCols.map(col) ++ Seq(col(tsCol).as("__ts"), lit(1).as("__side"),
        struct(leftPayload.map(col): _*).as("__l"), lit(null).cast(
          right.select(struct(rightPayload.map(col): _*)).schema.head.dataType).as("__r")): _*)
    val r = right.select(
      keyCols.map(col) ++ Seq(col(tsCol).as("__ts"), lit(0).as("__side"),
        lit(null).cast(left.select(struct(leftPayload.map(col): _*)).schema.head.dataType).as("__l"),
        struct(rightPayload.map(col): _*).as("__r")): _*)

    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(tsOrder, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matched = l.unionByName(r)
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)

    val leftCols = keyCols.map(col) ++ leftPayload.map(c => col(s"__l.$c").as(c))
    val rightCols = rightPayload.map(c => col(s"__match.$c").as(s"r_$c"))
    matched.select(leftCols ++ rightCols: _*)
  }

  /** Tolerance gate over an as-of result (the `merge_asof(tolerance=…)`
    * surface): a match older than `toleranceMicros` relative to the left
    * timestamp reverts to unmatched — every `r_`-prefixed column nulls
    * out together, so downstream code sees exactly the left-outer miss
    * shape. A pure projection over the joined rows (no extra shuffle);
    * works identically over [[backward]], [[forward]] and
    * [[graft.plans.AsOfJoinNative.backward]] output (the distance is
    * absolute, so it bounds staleness backward and lead-time forward).
    * Integer-microsecond comparison, mirrored by the oracle's
    * `epoch_us` arithmetic.
    *
    * This convention form derives the right-payload columns by the
    * `r_` name prefix — valid ONLY on the direct output of
    * [[backward]]/[[forward]]/[[graft.plans.AsOfJoinNative]], where
    * every `r_*` column is by construction a right payload. If the LEFT
    * side carries its own `r_*`-named columns (so the prefix is
    * ambiguous), pass the right payload explicitly via the
    * `rightPayload` overload instead — prefix matching would clobber
    * the left column on a tolerance miss.
    */
  def withTolerance(joined: DataFrame, tsCol: String,
                    toleranceMicros: Long): DataFrame =
    withTolerance(joined, tsCol, toleranceMicros,
      joined.columns.filter(_.startsWith("r_")).map(_.stripPrefix("r_")).toSeq)

  /** [[withTolerance]] with the right-payload column list passed
    * explicitly (pre-`r_` names, as on the right input to the join) —
    * the generic-safe form: only `r_<name>` for names in `rightPayload`
    * null out, so left-side columns that happen to start with `r_` are
    * untouched. Both timestamp columns must already be TimestampType:
    * a silent cast of epoch-long columns would reinterpret micros as
    * seconds and break the microsecond comparison, so non-timestamp
    * inputs are rejected rather than guessed at.
    */
  def withTolerance(joined: DataFrame, tsCol: String, toleranceMicros: Long,
                    rightPayload: Seq[String]): DataFrame = {
    require(toleranceMicros >= 0, s"tolerance must be >= 0, got $toleranceMicros")
    def assertTs(c: String): Unit = {
      val dt = joined.schema(c).dataType
      require(dt == org.apache.spark.sql.types.TimestampType,
        s"withTolerance: column $c must be TIMESTAMP, got ${dt.simpleString}")
    }
    assertTs(tsCol); assertTs(s"r_$tsCol")
    val rTs = col(s"r_$tsCol")
    val ok = rTs.isNotNull &&
      abs(unix_micros(col(tsCol)) - unix_micros(rTs)) <= toleranceMicros
    val targets = rightPayload.map(c => s"r_$c").toSet
    joined.columns.filter(targets)
      .foldLeft(joined)((df, c) => df.withColumn(c, when(ok, col(c))))
  }
}
