package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact distinct counts over trailing time windows — "7-day active
  * users per segment", the rolling-reach metric every event pipeline
  * publishes (reference analogue: the per-batch saved/participant
  * counters in `extractor/riot/tasks.py:62-64,127-131`, which only ever
  * count within one batch; this is the cross-day distinct
  * generalisation).
  *
  * COUNT(DISTINCT) is not a window function in Spark (or the standard),
  * and the naive rewrites are both scale traps at 100 TB:
  *   - self-join days × trailing days re-shuffles the id universe once
  *     per window slot with a day-range theta condition;
  *   - collect_set over a RANGE frame materialises every id list per
  *     (key, day) row in executor memory.
  *
  * Shape used here instead — bounded forward replication:
  *   1. collapse to distinct (key, day, id) — ONE map-side-combined
  *      aggregate, the only corpus-mass shuffle;
  *   2. each distinct triple contributes to exactly `windowDays` window
  *      end-days via `explode(sequence(day, day+w−1))` — a narrow ×w
  *      expansion, no shuffle;
  *   3. count DISTINCT ids per (key, window-day) — the partial-distinct
  *      Expand path dedups BEFORE the exchange, so the second shuffle
  *      carries ≤ w distinct rows per surviving (key, day, id), never
  *      raw events;
  *   4. keep only window-days the key actually has events on (inner join
  *      with the distinct (key, day) table — tiny, taxonomy × days).
  *
  * Replication factor = window length: cost is linear in w and in the
  * DISTINCT triple count, independent of per-day event volume — the
  * property that survives a 100× scale-up. Hot ids fan out per day, not
  * per event, so skew follows the calendar, not the traffic.
  */
object RollingDistinct {

  /** Per (keys…, day present in `df`): `u_day` = exact distinct `idCol`
    * that day, `u_trail` = exact distinct `idCol` over the trailing
    * `windowDays` days (inclusive). `dayCol` must be a date column.
    * Null keys/days don't survive the equality join — filter or coalesce
    * them upstream if they must be reported (the q_corpus_stats sentinel
    * pattern).
    */
  def trailingDistinct(df: DataFrame, keys: Seq[String], dayCol: String,
                       idCol: String, windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val kc = keys.map(col)
    // 1. the one corpus-mass shuffle: distinct contribution triples —
    // materialized (keySkew precedent) so the trailing and same-day
    // aggregates both read it instead of re-scanning the corpus twice
    val dd = df.select(kc :+ col(dayCol).as("__day") :+ col(idCol).as("__id"): _*)
      .distinct()
      .localCheckpoint(false)

    // 2–3. ×w forward replication, then partial-distinct count per end-day
    val trail = dd
      .withColumn("__wday",
        explode(sequence(col("__day"), date_add(col("__day"), windowDays - 1))))
      .groupBy(kc :+ col("__wday"): _*)
      .agg(count_distinct(col("__id")).as("u_trail"))

    // same-day counts ride the already-distinct triples (cheap re-agg)
    val daily = dd.groupBy(kc :+ col("__day"): _*)
      .agg(count_distinct(col("__id")).as("u_day"))

    // 4. report only (key, day) pairs that actually occur — a name-based
    // using-join (both sides share lineage, so positional df("c")
    // disambiguation would be fragile; the name join is unambiguous)
    daily
      .join(trail.withColumnRenamed("__wday", "__day"), keys :+ "__day")
      .select(kc ++ Seq(col("__day").as(dayCol), col("u_day"), col("u_trail")): _*)
  }

  /** The sketch-merge form — the shape that actually runs at 100 TB.
    *
    * [[trailingDistinct]] replicates every distinct (key, day, id)
    * triple w× and re-dedups per window; exact, but the second exchange
    * still carries O(distinct-triples × w). Here the corpus collapses
    * ONCE to a per-(key, day) HLL sketch (Datasketches `hll_sketch_agg`
    * — a few KB each, mergeable), and the trailing union explodes only
    * the |keys| × |days| sketch table: merging 7 daily sketches per
    * output day costs nothing corpus-sized, and the same daily-sketch
    * table serves ANY window length, weekly/monthly reach, or an
    * incremental refresh (yesterday's sketches never recompute).
    *
    * Output: (keys…, dayCol, u_day_approx, u_trail_approx) — estimates,
    * not exact counts (cross-engine bit-reproducibility is not a sketch
    * property; callers needing an oracle-comparable result pair this
    * with [[trailingDistinct]] and assert the rsd bound, the
    * q_a3_approx_hll flag scheme).
    */
  def trailingDistinctApprox(df: DataFrame, keys: Seq[String], dayCol: String,
                             idCol: String, windowDays: Int,
                             lgConfigK: Int = 12): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val kc = keys.map(col)
    // the one corpus-mass pass: daily sketches, map-side combined
    val daily = df
      .select(kc :+ col(dayCol).as("__day") :+ col(idCol).as("__id"): _*)
      .groupBy(kc :+ col("__day"): _*)
      .agg(hll_sketch_agg(col("__id"), lit(lgConfigK)).as("__sk"))
      .localCheckpoint(false) // consumed by the union pass AND the report join
    // sketch-table-sized from here on: ×w explode of (keys × days) rows
    val trail = daily
      .withColumn("__wday",
        explode(sequence(col("__day"), date_add(col("__day"), windowDays - 1))))
      .groupBy(kc :+ col("__wday").as("__day"): _*)
      .agg(hll_union_agg(col("__sk")).as("__msk"))
    daily
      .join(trail, keys :+ "__day")
      .select(kc ++ Seq(col("__day").as(dayCol),
        hll_sketch_estimate(col("__sk")).as("u_day_approx"),
        hll_sketch_estimate(col("__msk")).as("u_trail_approx")): _*)
  }
}
