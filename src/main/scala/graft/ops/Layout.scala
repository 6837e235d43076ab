package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout clustering for scan locality — Z-order (Morton) curves.
  * Sorting a table by one column makes parquet min/max skipping perfect for
  * that column and useless for every other; sorting by the bit-interleaved
  * z-value of several columns keeps EVERY interleaved column's per-file
  * range narrow, so predicates on any of them skip most row groups. At
  * 100 TB the difference between "scan 1% of files" and "scan all files"
  * is this write-side sort — it costs one range exchange at write time and
  * nothing at read time.
  *
  * All bit math is plain integer Column arithmetic (shift/and/or), so it
  * stays inside whole-stage codegen and is engine-portable (the DuckDB
  * oracle states the identical formula).
  */
object Layout {

  /** Interleave the low `bits` bits of the given non-negative integer
    * columns: result bit (k·n + i) = bit k of column i (column 0 gets the
    * high lanes). Inputs must already be quantized to [0, 2^bits).
    */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    // Long shifts mask the amount mod 64: past 63 total bits the lanes
    // would silently wrap onto each other (and bit 63 flips the sign,
    // inverting range order) — refuse rather than corrupt the curve.
    require(n * bits <= 63, s"$n cols x $bits bits = ${n * bits} > 63 interleaved bits")
    val terms = for {
      k <- 0 until bits
      (c, i) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c, k).bitwiseAND(lit(1L)), k * n + (n - 1 - i))
    terms.reduce(_.bitwiseOR(_)).cast("long")
  }

  /** The full 2^bits × 2^bits Hilbert curve as a DIMENSION table
    * (hx, hy, hval) — the locality-superior alternative to [[zValue]]: the
    * Hilbert walk never takes the long diagonal jumps the Z curve takes
    * at quadrant boundaries, so equal-size curve ranges touch fewer
    * distinct row-group rectangles (Faloutsos & Roseman 1989 — the
    * classic data-layout result). Driver-built with the standard
    * rotate-and-accumulate xy2d loop (a pure integer function, 65 536
    * rows ≈ 1.5 MB at bits = 8 — the BPE-merge-table / quantile-fit
    * contract), broadcast-joined under the fact table on the lattice key
    * (inputs on the [0, 2^bits) lattice, the [[zValue]] contract). An
    * unrolled Column expression would be a Θ(3^bits) tree that falls out
    * of codegen past ~5 bits; one broadcast hash join beats it in codegen
    * AND on the wire.
    */
  def hilbertLattice(spark: org.apache.spark.sql.SparkSession,
      bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 10, s"bits in [1,10], got $bits")
    val n = 1 << bits
    def xy2d(x0: Int, y0: Int): Long = {
      var x = x0; var y = y0; var d = 0L
      var s = n >> 1
      while (s > 0) {
        val rx = if ((x & s) > 0) 1 else 0
        val ry = if ((y & s) > 0) 1 else 0
        d += s.toLong * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    import spark.implicits._
    (for (x <- 0 until n; y <- 0 until n)
      yield (x.toLong, y.toLong, xy2d(x, y)))
      .toDF("hx", "hy", "hval")
  }

  /** Quantize a numeric column to [0, nBuckets) by min-max scaling against
    * known bounds (collect-stats-then-broadcast: compute lo/hi with one
    * 1-row aggregate first). The equi-width binning primitive — every step
    * is a plain IEEE-754 double op, identical across engines.
    */
  def quantizeN(c: Column, lo: Column, hi: Column, nBuckets: Int): Column = {
    val buckets = nBuckets.toDouble
    // hi==lo (constant column) would make the scale 0/0 = NaN, which
    // least() resolves to buckets-1 (NaN sorts greatest) — bin the
    // degenerate single-valued case to bucket 0 explicitly instead.
    when(hi === lo, lit(0L))
      .otherwise(least(floor(((c - lo) / (hi - lo)) * buckets), lit(buckets - 1)))
      .cast("long")
  }

  /** [[quantizeN]] with a power-of-two bucket count, for [[zValue]] lanes. */
  def quantize(c: Column, lo: Column, hi: Column, bits: Int): Column =
    quantizeN(c, lo, hi, 1 << bits)

  /** Cluster `df` by the z-value of `cols` (each min-max quantized to
    * `bits` bits): range-partition + sort within partitions, ready for a
    * partitioned write. One extra pass for the bounds, one range exchange.
    *
    * `bits` is a per-lane CAP: the effective lane width is
    * `min(bits, 63 / cols.size)` so the interleave always fits a signed
    * long — the default 16 works for any column count instead of tripping
    * [[zValue]]'s hard require at 4+ columns.
    */
  def zOrderBy(df: DataFrame, cols: Seq[String], bits: Int = 16,
      numPartitions: Int = 0): DataFrame = {
    require(cols.nonEmpty, "zOrderBy needs at least one cluster column")
    val laneBits = math.min(bits, 63 / cols.size)
    val statExprs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).as(s"__lo$i"), max(col(c)).as(s"__hi$i"))
    }
    val stats = df.agg(statExprs.head, statExprs.tail: _*)
    val withZ = df.crossJoin(broadcast(stats))
      .withColumn("__z", zValue(
        cols.zipWithIndex.map { case (c, i) =>
          quantize(col(c).cast("double"), col(s"__lo$i"), col(s"__hi$i"), laneBits)
        }, laneBits))
      .drop(cols.indices.flatMap(i => Seq(s"__lo$i", s"__hi$i")): _*)
    val parted =
      if (numPartitions > 0) withZ.repartitionByRange(numPartitions, col("__z"))
      else withZ.repartitionByRange(col("__z"))
    parted.sortWithinPartitions("__z").drop("__z")
  }

  /** Small-file compaction plan: assign each file (row) of a group to an
    * output bin of ~`targetBytes`, by walking the group's files in
    * deterministic hash order and opening a new bin whenever the running
    * byte total crosses the target — `bin = floor(bytes_before / target)`.
    * The table-maintenance primitive behind every "too many small parquet
    * files" compaction job: the plan is reproducible (re-running it
    * tomorrow groups unchanged files identically), and each bin's content
    * is independent of every other group.
    *
    * Scale shape: the sequential-looking running total is the
    * [[PrefixScan]] two-pass cumulative sum over (group, hash, key) order
    * — range-partitioned parallel windows, NEVER a one-reducer global (or
    * one-reducer-per-group) window, so a group with a billion files scans
    * at full cluster width. The per-group offset subtraction joins a
    * |groups|-sized side. Output keeps one row per file: (group, key,
    * size, bin).
    */
  def compactionPlan(df: DataFrame, groupCol: String, keyCol: String,
      sizeCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    val hashed = df.select(col(groupCol), col(keyCol), col(sizeCol))
      .withColumn("__h", graft.llm.Sampling.hash60(col(keyCol)))
    val scanned = PrefixScan.cumulativeSum(hashed,
      Seq(groupCol, "__h", keyCol), sizeCol, "__gcum")
    // exclusive byte offset of each group in the scan's global order —
    // one tiny row per group
    val offsets = df.groupBy(groupCol).agg(sum(col(sizeCol)).as("__gtot"))
      .withColumn("__goff", coalesce(
        sum(col("__gtot")).over(org.apache.spark.sql.expressions.Window
          .orderBy(groupCol).rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col(groupCol), col("__goff"))
    scanned.join(broadcast(offsets), groupCol)
      .withColumn("__cum", col("__gcum") - col("__goff"))
      .withColumn("bin",
        floor((col("__cum") - col(sizeCol)) / lit(targetBytes.toDouble)).cast("long"))
      .drop("__h", "__gcum", "__goff", "__cum")
  }

  /** Zone-map pruning audit — measures what a candidate clustering layout
    * is WORTH before paying for the write-side sort. Parquet/ORC data
    * skipping reads a file iff its [min, max] zone on the predicate column
    * overlaps the predicate range; how many files that skips is purely a
    * function of the layout. This audit simulates it: each layout maps
    * every row to a bucket ("file") via its caller-built bucket-id column
    * (range buckets over a cluster key, a [[zValue]] curve cell, a hash —
    * anything); per bucket we keep the zone (min, max of the predicate
    * column) and report, per layout, how many buckets and rows a
    * `scanCol ∈ [lo, hi]` scan must touch vs. how many rows actually
    * match. `rows_scanned / rows_matched` ≈ the read amplification the
    * layout leaves on the table — the number that justifies (or kills) a
    * 100 TB re-cluster.
    *
    * Determinism: bucket ids, zones, and counts are exact integer
    * aggregates; overlap is integer comparison — every output column is a
    * BIGINT, exact cross-engine by construction.
    *
    * Scale shape: all L layouts stream through ONE stacked
    * (layout, bucket) aggregate (map-side combined; output is
    * L × |buckets| rows, never row-proportional), then a ≤L-row readout.
    * The audit never sorts the data — that is the point: it prices the
    * sort before running it.
    */
  def zoneMapAudit(df: DataFrame, layouts: Seq[(String, Column)],
      scanCol: Column, lo: Long, hi: Long): DataFrame = {
    require(layouts.nonEmpty, "need at least one layout")
    val base = df
      .select(layouts.map { case (n, c) =>
        c.cast("long").as(s"__b_$n") } :+ scanCol.cast("long").as("__s"): _*)
      .filter(layouts.map { case (n, _) => col(s"__b_$n").isNotNull }
        .reduce(_ && _) && col("__s").isNotNull)
    val stacked = base
      .select(explode(array(layouts.map { case (n, _) =>
        struct(lit(n).as("l"), col(s"__b_$n").as("b")) }: _*)).as("lb"),
        col("__s").as("s"))
      .select(col("lb.l").as("l"), col("lb.b").as("b"), col("s"))
    val zones = stacked.groupBy("l", "b").agg(
      count(lit(1)).as("c"),
      min(col("s")).as("zmin"), max(col("s")).as("zmax"),
      sum(when(col("s").between(lo, hi), 1L).otherwise(0L)).as("m"))
    val scanned = col("zmax") >= lo && col("zmin") <= hi
    zones.groupBy(col("l").as("layout")).agg(
      count(lit(1)).as("n_buckets"),
      sum(when(scanned, 1L).otherwise(0L)).as("buckets_scanned"),
      sum(when(scanned, col("c")).otherwise(0L)).as("rows_scanned"),
      sum(col("m")).as("rows_matched"))
  }

  /** Run-length compression dividend — [[zoneMapAudit]]'s write-side
    * twin: zone maps price what a layout saves at READ time; this prices
    * what it saves ON DISK. Parquet RLE/dictionary encoding pays off
    * exactly when equal values land adjacently within a file, which is
    * again purely a function of the layout: per candidate layout, order
    * each bucket ("file") by the cluster key and count the value RUNS of
    * `valueCol` — runs ≈ RLE tokens, so rows/runs is the average run
    * length the encoder gets to exploit. A layout that cuts runs 10×
    * cuts that column's storage nearly 10× — at 100 TB that's the
    * difference measured in racks.
    *
    * Determinism: `orderCols` must totally order rows within a bucket
    * (cluster key + a unique tie-break); runs are then exact integer
    * counts — all-BIGINT output except the one avg ratio.
    *
    * Scale shape: all layouts stream through ONE stacked lag() window
    * partitioned by (layout, bucket) — partition size = bucket = file,
    * bounded by the layout job's own file sizing, never the table; a
    * ≤L-row aggregate ends it.
    */
  def rleAudit(df: DataFrame, layouts: Seq[(String, Column)],
      orderCols: Seq[Column], valueCol: Column): DataFrame = {
    require(layouts.nonEmpty, "need at least one layout")
    require(orderCols.nonEmpty, "need an in-bucket order")
    import org.apache.spark.sql.expressions.Window
    val ords = orderCols.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }
    val base = df
      .select(layouts.map { case (n, c) =>
        c.cast("long").as(s"__b_$n") } ++ ords :+
        valueCol.cast("string").as("__v"): _*)
      .filter(layouts.map { case (n, _) => col(s"__b_$n").isNotNull }
        .reduce(_ && _) && col("__v").isNotNull)
    val stacked = base
      .select(explode(array(layouts.map { case (n, _) =>
        struct(lit(n).as("l"), col(s"__b_$n").as("b")) }: _*)).as("lb"),
        struct(ords.indices.map(i => col(s"__o$i")): _*).as("o"), col("__v"))
      .select(col("lb.l").as("l"), col("lb.b").as("b"), col("o"), col("__v"))
    val w = Window.partitionBy("l", "b").orderBy(col("o").asc)
    stacked
      .withColumn("__run",
        when(lag(col("__v"), 1).over(w).isNull ||
          lag(col("__v"), 1).over(w) =!= col("__v"), 1L).otherwise(0L))
      .groupBy(col("l").as("layout"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__run")).as("n_runs"))
      .withColumn("avg_run_len",
        col("n_rows").cast("double") / col("n_runs"))
  }
}
