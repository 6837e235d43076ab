package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Exact frequent-key detection without a full-cardinality shuffle.
  *
  * The naive plan — `GROUP BY key HAVING count(*) > N*ratio` — shuffles one
  * row per DISTINCT key. At 100 TB with billions of keys that shuffle IS the
  * job, even though the answer is a handful of rows. This operator uses the
  * two-phase exact heavy-hitters scheme instead:
  *
  *   1. A Misra-Gries summary of capacity k runs as a typed `Aggregator`
  *      (map-side partials, associative merge — the "mergeable summaries"
  *      construction), producing ≤ k candidate keys plus the exact row
  *      count. State is O(k) per partition regardless of input cardinality,
  *      and the only thing shuffled is the k-entry summary itself.
  *   2. A second scan counts ONLY the candidates (the `isin` filter pushes
  *      to the parquet scan; the shuffle carries ≤ k distinct keys) and
  *      applies the exact threshold.
  *
  * Exactness: Misra-Gries undercounts any key by at most N/k, so every key
  * with true frequency > N/k survives phase 1; with k = ceil(denom/numer)
  * the candidate set provably contains every key exceeding N·numer/denom,
  * and phase 2 restores exact counts. The threshold test is pure integer
  * arithmetic (`cnt·denom > N·numer`) so results are bit-stable across
  * engines — no float ratio anywhere.
  *
  * Reference anchor: the reference keeps per-key counters in driver-side
  * dicts (`data_extractor.py` team/participant tallies), which caps it at
  * single-node cardinality; this is the distributed, bounded-state
  * equivalent.
  */
object HeavyHitters {

  /** Misra-Gries summary over long keys: buffer is (counter map, rows seen).
    * `reduce` does the classic decrement-all on overflow (amortized O(1):
    * each trigger retires ≥ k count units and ≤ N units ever enter).
    * `merge` adds counts then subtracts the (k+1)-th largest count from
    * all — the mergeability construction that preserves the N/k error
    * bound under arbitrary merge trees.
    */
  final case class MisraGries(k: Int)
    extends Aggregator[Long, (Map[Long, Long], Long), (Array[Long], Long)] {
    require(k > 0, "capacity must be positive")

    override def zero: (Map[Long, Long], Long) = (Map.empty, 0L)

    override def reduce(buf: (Map[Long, Long], Long), key: Long): (Map[Long, Long], Long) = {
      val (m, n) = buf
      m.get(key) match {
        case Some(c) => (m.updated(key, c + 1), n + 1)
        case None if m.size < k => (m.updated(key, 1L), n + 1)
        case None =>
          // decrement every counter; drop the ones that hit zero
          val dec = m.flatMap { case (kk, c) => if (c > 1) Some(kk -> (c - 1)) else None }
          (dec, n + 1)
      }
    }

    override def merge(a: (Map[Long, Long], Long), b: (Map[Long, Long], Long)): (Map[Long, Long], Long) = {
      val summed = b._1.foldLeft(a._1) { case (acc, (kk, c)) =>
        acc.updated(kk, acc.getOrElse(kk, 0L) + c)
      }
      val trimmed =
        if (summed.size <= k) summed
        else {
          val cut = summed.values.toArray.sorted(Ordering[Long].reverse).apply(k)
          summed.flatMap { case (kk, c) => if (c > cut) Some(kk -> (c - cut)) else None }
        }
      (trimmed, a._2 + b._2)
    }

    override def finish(buf: (Map[Long, Long], Long)): (Array[Long], Long) =
      (buf._1.keysIterator.toArray.sorted, buf._2)

    override def bufferEncoder: Encoder[(Map[Long, Long], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Map[Long, Long], Long)]()
    override def outputEncoder: Encoder[(Array[Long], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Long], Long)]()
  }

  /** Phase-1 candidates + total rows (test surface; also the building block
    * for streaming use where only the bounded summary can be state).
    */
  def candidates(df: DataFrame, keyCol: String, k: Int): (Array[Long], Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("long").as("hh_key"))
      .na.drop(Seq("hh_key"))
      .as[Long]
      .select(MisraGries(k).toColumn) // typed select: aliasing would drop to the untyped API
      .head()
  }

  /** Exact keys with frequency strictly above numer/denom of all non-null
    * rows, with their exact counts. Output: (keyCol, cnt). Equivalent to
    * `GROUP BY key HAVING cnt*denom > N*numer`, but the only wide shuffle
    * carries ≤ ceil(denom/numer) distinct keys.
    */
  def exactOverThreshold(df: DataFrame, keyCol: String, numer: Long, denom: Long): DataFrame = {
    require(numer > 0 && denom > 0 && numer < denom, "need 0 < numer/denom < 1")
    // phase 1 sketches over keyCol CAST TO LONG; phase 2 filters the native
    // column against Long candidates. For a non-integral key (string,
    // decimal) those two key spaces diverge silently — fail loudly instead.
    df.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"exactOverThreshold requires an integral key column; $keyCol is $other")
    }
    val k = math.ceil(denom.toDouble / numer).toInt
    val (cands, n) = candidates(df, keyCol, k)
    // ≤ k literals: the In filter pushes down to the scan, so phase 2 reads
    // only row groups that can contain a candidate
    df.filter(col(keyCol).isInCollection(cands).and(col(keyCol).isNotNull))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(denom) > lit(n) * lit(numer))
  }
}
