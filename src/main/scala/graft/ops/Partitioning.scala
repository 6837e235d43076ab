package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Partitioning and skew control — the knobs that decide whether a plan
  * that is correct at sf0.1 is still alive at 100 TB.
  *
  * - Salting: a hot key (one match id with millions of rows, one n-gram in
  *   every document) turns a keyed shuffle into a single straggler task.
  *   Salted two-phase aggregation splits each key into `salt` subkeys,
  *   aggregates partials in parallel, then combines per original key —
  *   the map-side-combine idea applied one level deeper. AQE's skew-join
  *   splitting handles the JOIN case at runtime; salting is for the
  *   aggregate case AQE does not rewrite.
  * - Salted broadcast-replicate join: for a skewed LEFT side joining a
  *   small-but-not-tiny right side, replicate the right side `salt` times
  *   so every left subkey finds its partner without one reducer owning the
  *   hot key.
  * - Bucketing: pre-shuffling a fact table into hash buckets on its join
  *   key turns every later equi-join/agg on that key into a shuffle-free
  *   co-partitioned plan — pay the shuffle once at write time.
  */
object Partitioning {

  /** Scale-adaptive parallelism floor for CPU-heavy per-row stages
    * (round-15 optimization, guide §2.5 "input skew — one huge
    * unsplittable file ... repartition immediately after the read").
    *
    * A single-row-group parquet file yields ONE scan partition no matter
    * the split config, so a digest-heavy derivation (MinHash word hashes,
    * bootstrap draws, brute-force cosine) downstream of a small/compacted
    * input serializes on one core — the round-15 stage profile measured
    * q_bootstrap_ci and q_mutual_nn spending >80% of their wall in one
    * single-task stage on a 32-core box. `spread` round-robins the rows
    * up to `defaultParallelism` ONLY when the current partition count is
    * below it, so at production scale (scans already thousands of
    * partitions) it is a provable no-op — never a tuned-for-local constant
    * in the plan. Streaming inputs pass through untouched (no static
    * partitioning to inspect).
    *
    * Exchange-free gate (round-15 ADVICE): `.rdd` on a plan that contains
    * exchanges would — with AQE on — submit and run every upstream
    * shuffle stage eagerly at DataFrame-construction time, and run them
    * AGAIN at action time (no cross-execution shuffle reuse). So the RDD
    * partition count is only inspected when the analyzed plan is a pure
    * scan/project/filter/generate chain; an input that already went
    * through a join/aggregate/window/repartition has reducer-side
    * parallelism and passes through untouched.
    *
    * Float-sum caveat (round-15 ADVICE): the round-robin targets
    * `defaultParallelism`, so the row-to-partition layout — and with it
    * the reduction order of any downstream floating-point sum — varies
    * with the core count. Integer/decimal aggregates and
    * median/percentile paths are unaffected; float outputs (e.g.
    * Bootstrap.meanCI's sum(w*x)) are deterministic for a FIXED core
    * count but may drift at the ULP level across machines with different
    * SPARK_GRAFT_CPUS. Oracle comparisons of float CI columns stay
    * tolerance-based for exactly this reason.
    */
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    import org.apache.spark.sql.catalyst.plans.logical._
    val exchangeSuspect = df.queryExecution.analyzed.exists {
      case _: Join | _: Aggregate | _: Window | _: Sort | _: Distinct |
           _: Deduplicate | _: RepartitionOperation | _: Intersect |
           _: Except | _: GlobalLimit | _: FlatMapGroupsWithState |
           _: MapGroups | _: CoGroup => true
      case _ => false
    }
    if (exchangeSuspect) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Two-phase salted aggregation: partial aggregate on (keys, salt), final
    * combine on keys. `partials` and `finals` must compose (sum/sum,
    * count/sum, min/min, ...): pass the partial aggs and the matching
    * recombiners over the partial column names.
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], salt: Int,
      partials: Seq[Column], finals: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salt)))
    val partial = salted.groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(partials.head, partials.tail: _*)
    partial.groupBy(keys.map(col): _*).agg(finals.head, finals.tail: _*)
  }

  /** Skew-safe join of a skewed left side against a modest right side:
    * left rows get a random-ish salt in [0, salt); right rows are
    * replicated once per salt value; the join key becomes (key, salt).
    * Right side stays broadcastable as long as |right| × salt is small.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String], salt: Int,
      joinType: String = "inner"): DataFrame = {
    val saltedLeft = left.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(salt)))
    val replicatedRight = right
      .withColumn("__salt_i", explode(sequence(lit(0), lit(salt - 1))))
      .withColumn("__salt", col("__salt_i").cast("long")).drop("__salt_i")
    saltedLeft.join(broadcast(replicatedRight), keys :+ "__salt", joinType)
      .drop("__salt")
  }

  /** Rendezvous (highest-random-weight) shard assignment: each key goes to
    * the shard s maximizing hash(key, s) — Thaler & Ravishankar 1998, the
    * consistent-placement scheme behind cache rings and shard routers.
    * Unlike `hash(key) mod n`, adding or removing ONE shard moves only the
    * keys whose argmax changed — an expected 1/(n+1) of them — so a
    * 100 TB keyed store reshards by streaming ~1/(n+1) of its data
    * instead of rewriting everything.
    *
    * Determinism: the per-(key, shard) weight is the shared md5-60
    * derivation (`md5(key ∥ ':' ∥ shard)` first 15 hex digits as a long
    * — the same expression every DuckDB oracle replays); argmax ties
    * break on shard name, though a 60-bit tie never fires in practice.
    *
    * Scale shape: a NARROW ×|shards| expression per row — `greatest`
    * over |shards| (weight, shard) structs, no explode, no shuffle, no
    * state. |shards| is a deployment constant (tens), never data-sized.
    */
  def rendezvousAssign(df: DataFrame, keyCol: String, shards: Seq[String],
      outCol: String = "shard"): DataFrame = {
    require(shards.nonEmpty && shards.distinct.size == shards.size,
      "shards must be non-empty and unique")
    val weighted = shards.map { s =>
      struct(
        graft.functions.Md5Hash60.hash60(
          concat(col(keyCol).cast("string"), lit(":"), lit(s))).as("w"),
        lit(s).as("s"))
    }
    val pick =
      if (weighted.size == 1) lit(shards.head)
      else greatest(weighted: _*).getField("s")
    df.withColumn(outCol, pick)
  }
}
