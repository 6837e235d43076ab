package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket pair affinity — the co-purchase / co-occurrence analysis
  * run over (basket, item) facts: which item pairs appear together more
  * often than their popularity predicts. The relational sibling of
  * [[graft.llm.Cooccurrence]]'s token-window PMI; extends the reference's
  * per-match participant grouping (transformer/ranking/feature_factory.py
  * groups rows by match id) to pairwise association mining — a
  * training-data curation pass the reference stops short of.
  *
  * For each unordered pair (a < b) co-present in a basket:
  *   cosine(a,b) = C(ab) / sqrt(C(a)·C(b))       (Ochiai coefficient)
  *   lift(a,b)   = C(ab)·N / (C(a)·C(b))
  * with C(x) = baskets containing x, C(ab) = baskets containing both,
  * N = total baskets. Both in doubles with a fixed operand order
  * (product-then-divide) so an oracle engine reproduces them bit-for-bit.
  *
  * Scale shape: the input collapses to distinct (basket, item) once — ONE
  * corpus-mass shuffle on the basket key, map-side combined. Pair
  * generation is a pure in-array expression over each basket's sorted
  * item set (no self-join of the fact table: a join would shuffle the
  * corpus twice and rediscover the same groups). Fan-out is k·(k-1)/2 per
  * basket — bounded by `maxBasketSize`², and capped baskets are COUNTED
  * OUT, not silently truncated: pairs from a basket over the cap would be
  * popularity noise (a basket holding half the catalog says nothing about
  * item affinity) and dropping them whole keeps the semantics exact and
  * the plan skew-proof (one mega-basket cannot produce O(catalog²) rows
  * from a single task). Pair counting is one hash aggregate with map-side
  * combine; `minPairCount` cuts the long tail BEFORE the stats joins, so
  * only collocation-sized rows reach them. Item counts are catalog-sized
  * and join the *aggregated* pair table hint-free (AQE broadcasts when
  * they truly fit — the J2/J5 discipline); N rides a 1-row broadcast.
  */
object Affinity {

  /** facts → (item_a, item_b, cab, ca, cb, cosine, lift): unordered item
    * pairs co-present in ≥ `minPairCount` baskets, with basket-count
    * stats and affinity scores. Null baskets/items are excluded.
    *
    * @param maxBasketSize baskets with more distinct items than this are
    *   excluded from pair generation (and from N and item counts — the
    *   stats stay mutually consistent: every count is over the same
    *   basket population).
    */
  def basketPairs(facts: DataFrame, basketCol: String, itemCol: String,
                  minPairCount: Long = 1L, maxBasketSize: Int = 256): DataFrame = {
    require(maxBasketSize >= 2, "maxBasketSize must be >= 2")
    val baskets = facts
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .groupBy(col(basketCol).as("bk"))
      .agg(sort_array(collect_set(col(itemCol))).as("items"))
      .filter(size(col("items")) <= maxBasketSize)
      .localCheckpoint(false) // feeds item counts, N, and pair expansion

    // catalog-sized: baskets containing each item (within the population)
    val itemCounts = baskets
      .select(explode(col("items")).as("it"))
      .groupBy("it").agg(count(lit(1)).as("ci"))
    val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))

    // in-array pair expansion: for sorted items, every (i, j>i) pair once
    val n = size(col("items"))
    val pairs = baskets
      .filter(n >= 2)
      .select(explode(flatten(transform(
        sequence(lit(1), n - 1),
        i => transform(slice(col("items"), i + 1, n - i),
          b => struct(element_at(col("items"), i).as("item_a"), b.as("item_b")))))).as("p"))
      .select(col("p.item_a").as("item_a"), col("p.item_b").as("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minPairCount)

    pairs
      .join(itemCounts.select(col("it").as("item_a"), col("ci").as("ca")), "item_a")
      .join(itemCounts.select(col("it").as("item_b"), col("ci").as("cb")), "item_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("cab"), col("ca"), col("cb"),
        (col("cab").cast("double") / sqrt(col("ca").cast("double") * col("cb")))
          .as("cosine"),
        (col("cab").cast("double") * col("n_baskets") /
          (col("ca").cast("double") * col("cb"))).as("lift"))
  }
}
