package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Materialize

/** Transitive duplicate clustering: connected components over the near-dup
  * pair graph by iterative min-label propagation — upgrades pairwise
  * survivorship (drop b of every (a,b)) to true cluster dedup (one
  * survivor per connected component, however the pairs chain).
  *
  * Each iteration propagates the min label across edges (join + aggregate)
  * and then pointer-jumps the label forest (`label := label(label)`, one
  * self-join) — the path-halving step that makes label distance-to-root
  * shrink geometrically, so convergence takes O(log diameter) rounds
  * instead of O(diameter) (the logarithmic-round MapReduce CC scheme of
  * Rastogi et al. 2013 / Kiveris et al. 2014). Dense near-dup clusters
  * converge in 2-3 rounds either way; the jump step is what keeps
  * adversarial chain- or tree-shaped components from turning round count
  * into graph diameter at corpus scale. Lineage is cut per iteration
  * ([[graft.ops.Materialize]]) — without it the plan doubles every round,
  * which is the classic iterative-DataFrame trap.
  */
object DupClusters {

  /** (id, cluster_id) for every id that appears in `pairs`; cluster_id =
    * the minimum id in the component.
    *
    * Throws `IllegalStateException` if labels have not converged after
    * `maxIter` rounds — silently returning partially-propagated labels
    * would split clusters. With pointer jumping each round roughly doubles
    * the distance labels have travelled, so the default budget of 20
    * covers components with diameters into the hundreds of thousands;
    * hitting the guard means something is structurally wrong, not merely
    * a long chain.
    */
  def clusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // symmetric edge list, hash-partitioned by src ONCE before the cut
    // (the pageRank/BFS partition-once discipline): repartition(src)
    // first lets distinct reuse the layout (subset-of-keys clustering).
    // A plain localCheckpoint declares no partitioning under AQE, so
    // every round re-exchanged the whole edge list anyway. Materialize
    // declares the src hash when AQE kept every shuffle partition, or a
    // single partition when it coalesced to one; then per-round joins
    // move only the label table (a coalesce to 2+ partitions declares
    // nothing, and the edges are exchanged again)
    val edges = Materialize(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .repartition(col("src"))
        .distinct())

    var labels = Materialize(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))

    // Convergence check via the label-sum invariant: labels are monotone
    // non-increasing per id (least of own and neighbor min), so the total
    // changed iff any label changed — one cheap aggregate per round instead
    // of a join + count against the previous labels.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)

    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // SHUFFLE_HASH on the node-sized label table: the stored edges are
      // UNSORTED, so a sort-merge join would re-sort them every round;
      // hashing the label table streams the edges as-is, and on the
      // declared co-partitioning neither side is exchanged (same
      // per-iteration discipline as GraphRank.step — never a broadcast,
      // labels are node-sized)
      val nbrMin = edges.join(labels.hint("SHUFFLE_HASH"),
          edges("src") === labels("id"))
        .groupBy(col("dst").as("id2")).agg(min(col("label")).as("nbr_min"))
      // materialized: prop feeds both sides of the jump join below —
      // without the cut the propagation join/aggregate lineage is
      // instantiated twice per round (exchange reuse is not guaranteed)
      val prop = Materialize(
        labels.join(nbrMin, labels("id") === nbrMin("id2"), "left")
          .select(col("id"), least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label")))
      // Pointer jump (path halving): every label is itself a vertex id, so
      // label(label) is defined; taking it halves each label chain. Labels
      // stay monotone non-increasing and within the component, so the
      // fixpoint (= constant labels per component, anchored at the min id)
      // is unchanged — only the number of rounds to reach it drops.
      // materialized too: next is consumed three times (the convergence
      // aggregate, then both label joins of the following round), so one
      // materialization beats three executions of the jump join
      val parents = prop.select(col("id").as("pid"), col("label").as("plabel"))
      val next = Materialize(
        prop.join(parents, prop("label") === parents("pid"), "left")
          .select(col("id"), least(col("label"), coalesce(col("plabel"), col("label"))).as("label")))
      val s = labelSum(next)
      converged = (s == null && prevSum == null) || (s != null && s.compareTo(prevSum) == 0)
      prevSum = s
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"DupClusters.clusters did not converge in $maxIter iterations; " +
          "a component's diameter exceeds the budget — raise maxIter")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Cluster dedup with a QUALITY survivor policy: keep, per connected
    * component, the row ranking first under `rankBy` (ties broken by id) —
    * production near-dup dedup keeps the best copy (longest, cleanest,
    * most recent), not the smallest id. Unpaired rows are their own
    * singleton cluster and always survive. One left join to attach
    * cluster ids plus one per-cluster window; cluster sizes are dup-group
    * sizes (bounded by the LSH bucket cap upstream), so the window
    * partitions stay small no matter the corpus.
    */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame, idCol: String,
      rankBy: Seq[org.apache.spark.sql.Column]): DataFrame = {
    // internal names prefixed so a docs table that itself carries a
    // cluster_id column cannot collide into AMBIGUOUS_REFERENCE
    val cl = clusters(pairs)
      .select(col("id").as(idCol), col("cluster_id").as("__kb_cluster"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__kb_cl"))
      .orderBy(rankBy :+ col(idCol).asc: _*)
    docs.join(cl, Seq(idCol), "left")
      .withColumn("__kb_cl", coalesce(col("__kb_cluster"), col(idCol)))
      .withColumn("__kb_rn", row_number().over(w))
      .filter(col("__kb_rn") === 1)
      .drop("__kb_cl", "__kb_rn", "__kb_cluster")
  }

  /** Deduplicate a corpus by its near-dup pairs: keep one representative
    * (the min id) per connected component; rows in no pair survive as-is.
    */
  def dropClusters(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val toDrop = clusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    // No broadcast hint: the drop set is proportional to the corpus's dup
    // mass (unbounded at 100 TB). AQE picks broadcast-hash when it is in
    // fact small; otherwise this degrades to a shuffled anti-join, which
    // is the plan that survives scale.
    docs.join(toDrop, Seq(idCol), "left_anti")
  }
}
