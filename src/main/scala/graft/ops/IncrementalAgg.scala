package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance ("incremental view maintenance"):
  * keep a keyed aggregate table up to date by merging each new batch's
  * PARTIAL aggregates into the persisted state, instead of re-scanning the
  * full history. The batch form of what the reference's per-trigger
  * counters accumulate imperatively (`extractor/riot/tasks.py:62-64,
  * 127-131` — counts bumped batch by batch, never recomputed from scratch).
  *
  * Only works for algebraic aggregates — those with a merge function over
  * partial states: count/sum merge by sum, min by min, max by max; avg is
  * maintained as (sum, count) and derived at read. That's the same algebra
  * Spark's partial/final HashAggregate pairs and [[Partitioning.saltedAgg]]
  * exploit, lifted across batches.
  *
  * Scale shape: each refresh costs one aggregate of the NEW batch plus a
  * keyed merge against the state — never a rescan of history. The merge is
  * a union + re-aggregate (one shuffle of state ∪ batch-partials); with the
  * state persisted bucketed by key (`DataFrameWriter.bucketBy`) the
  * state side ships no rows at all and the refresh cost is O(batch).
  */
object IncrementalAgg {

  /** One refresh step: fold `batch` into `state`.
    *
    * @param partials per-key aggregates computed on the batch (e.g.
    *                 `count(lit(1)).as("n")`, `sum($"cents").as("s")`)
    * @param merges   how two partial rows combine, referencing the partial
    *                 column names (e.g. `sum($"n").as("n")`,
    *                 `min($"mn").as("mn")`) — must be closed under merging
    */
  def update(state: Option[DataFrame], batch: DataFrame, keys: Seq[String],
      partials: Seq[Column], merges: Seq[Column]): DataFrame = {
    val p = batch.groupBy(keys.map(col): _*).agg(partials.head, partials.tail: _*)
    state match {
      case None => p
      case Some(st) =>
        st.unionByName(p).groupBy(keys.map(col): _*).agg(merges.head, merges.tail: _*)
    }
  }

  /** Fold a sequence of batches from empty state — the replay/backfill
    * path, and the associativity contract in executable form: any batch
    * split must yield the state a single full-history aggregate would.
    */
  def replay(batches: Seq[DataFrame], keys: Seq[String],
      partials: Seq[Column], merges: Seq[Column]): DataFrame =
    batches.foldLeft(Option.empty[DataFrame]) { (st, b) =>
      Some(update(st, b, keys, partials, merges))
    }.getOrElse(throw new IllegalArgumentException("no batches"))
}
