package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative link-graph ranking (PageRank) in fixed-point integer
  * arithmetic — the crawl-prioritization / source-weighting primitive a
  * web-scale training-data pipeline runs over its domain graph.
  *
  * Why fixed-point: float PageRank sums per-destination contributions in
  * partition order, so two engines (or two runs with different partition
  * counts) disagree in the low bits and the result cannot be hash-compared.
  * Here every quantity is a BIGINT — total mass is scaled to `scaleTotal`,
  * each hop is an integer division, and damping is `(85·x) div 100` — so
  * BIGINT addition is order-free and the result is bit-identical on any
  * engine that implements the same recurrence (the DuckDB oracle unrolls
  * it as chained CTEs). Mass lost to integer truncation is part of the
  * defined semantics, not an error term.
  *
  * Recurrence (iteration t, N = node count, init = scaleTotal div N):
  *   pr_0(v)   = init
  *   pr_t(v)   = (15·init) div 100  +  (85 · Σ_{u→v} (pr_{t-1}(u) div outdeg(u))) div 100
  * Nodes with no in-edges keep the teleport term; dangling nodes (no
  * out-edges) simply leak their mass — callers that want none symmetrize
  * the edge list first (the bundled query does).
  *
  * Scale shape: the edge list is degree-joined, hash-partitioned by `src`
  * ONCE and cached — `InMemoryRelation` preserves the child's
  * `outputPartitioning`, so every iteration's join reuses that layout and
  * only the (node, pr) table (one row per node, two longs wide) moves per
  * round. Lineage is cut every other round with an eager
  * `localCheckpoint`, the same guard as the connected-components loop
  * (`DupClusters`), so plan size stays O(1) in the iteration count.
  */
object GraphRank {

  /** Shared PageRank prelude: distinct edges degree-joined, cached
    * hash-partitioned by `src`, plus the (lazy) node table derived from
    * the cached edge list.
    *
    * One edge-mass exchange total (round-15 optimization, guide §2.4):
    * the ONE `repartition(src)` runs first, and everything downstream
    * reuses it — `distinct` groups (src, dst) on hash(src) partitions
    * (subset-of-keys clustering), the degree aggregate groups by src in
    * place, and the degree back-join is co-partitioned. The old shape
    * (distinct → groupBy → join → repartition) exchanged edge mass four
    * times for the same relation. The node table reads the CACHE (the
    * degree join is inner on src with deg derived from e — lossless), so
    * no second scan of the source lineage either.
    */
  private def degreeJoinedEdges(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .repartition(col("src"))
      .distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val eDeg = e.join(deg, "src")
      .select("src", "dst", "outdeg")
      .cache()
    val nodes = eDeg.select(col("src").as("node"))
      .union(eDeg.select(col("dst").as("node")))
      .distinct()
    (eDeg, nodes)
  }

  /** edges: (src BIGINT, dst BIGINT), interpreted as directed. Returns
    * (node BIGINT, pr BIGINT) after `iterations` rounds.
    */
  def pageRankFixedPoint(edges: DataFrame, iterations: Int,
                         scaleTotal: Long = 1000000000000L): DataFrame = {
    require(iterations >= 0, "iterations must be non-negative")
    val (eDeg, nodes0) = degreeJoinedEdges(edges)
    val nodes = nodes0.localCheckpoint(true)

    val n = nodes.count()
    require(n > 0, "empty graph")
    val init = scaleTotal / n
    val teleport = (15L * init) / 100L

    val ranks0 = nodes.withColumn("pr", lit(init))
    val tele = nodes.withColumn("tele", lit(teleport))
    iterateFixed(eDeg, ranks0, iterations)(step(eDeg, tele, _))
  }

  /** The fixed-iteration PageRank loop: lineage cut every other round,
    * the result eagerly materialized, then the cached `edgeTable` released
    * (else every call leaks it for the session lifetime; the checkpoint
    * blocks are reclaimed by ContextCleaner once out of scope).
    */
  private def iterateFixed(edgeTable: DataFrame, ranks0: DataFrame,
      iterations: Int)(step: DataFrame => DataFrame): DataFrame = {
    var ranks = ranks0
    var i = 0
    while (i < iterations) {
      ranks = step(ranks)
      i += 1
      if (i % 2 == 0 && i < iterations) ranks = ranks.localCheckpoint(true)
    }
    val out = ranks.localCheckpoint(true)
    edgeTable.unpersist(false)
    out
  }

  /** Personalized PageRank: the teleport mass returns only to `seeds`
    * (Page et al.'s personalization vector restricted to a seed set) — the
    * seed-relative relevance primitive behind domain-weighted crawl
    * prioritization and seed-expansion retrieval: rank every node by its
    * proximity to the seeds under the same damped random walk.
    *
    * Same fixed-point integer recurrence as [[pageRankFixedPoint]] with
    *   init_v = [v ∈ S] · (scaleTotal div |S|)
    *   pr_t(v) = [v ∈ S]·(15·init) div 100 + (85 · Σ inflow) div 100
    * so the result is bit-identical on any engine replaying the
    * recurrence (the DuckDB oracle unrolls it with a seed-conditional
    * teleport). Seeds outside the graph are ignored; nodes unreachable
    * from the seeds settle at 0 — exactly the recurrence's value.
    *
    * Scale shape: identical to the uniform loop — the per-node teleport
    * rides the seed-flagged node table through the same
    * one-exchange-per-iteration [[step]]; personalization adds no join.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iterations: Int,
                           scaleTotal: Long = 1000000000000L): DataFrame = {
    require(iterations >= 0, "iterations must be non-negative")
    val (eDeg, nodes0) = degreeJoinedEdges(edges)
    val seedCol = seeds.columns.head
    val nodes = nodes0
      .join(seeds.select(col(seedCol).cast("long").as("node"))
        .distinct().withColumn("__seed", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(false)).as("__seed"))
      .localCheckpoint(true)

    val nSeeds = nodes.filter(col("__seed")).count()
    require(nSeeds > 0, "no seed is a graph node")
    val init = scaleTotal / nSeeds
    val teleport = (15L * init) / 100L

    val tele = nodes.select(col("node"),
      when(col("__seed"), lit(teleport)).otherwise(lit(0L)).as("tele"))
    val ranks0 = nodes.select(col("node"),
      when(col("__seed"), lit(init)).otherwise(lit(0L)).as("pr"))
    iterateFixed(eDeg, ranks0, iterations)(step(eDeg, tele, _))
  }

  /** [[pageRankFixedPoint]] over WEIGHTED edges — (src, dst, weight) with
    * positive integral weights: a walker leaves u along (u, v) with
    * probability w_uv / Σ_u w, so edge multiplicity/strength (trade
    * volume, link count, co-occurrence mass) shapes the stationary
    * ranking instead of being flattened to 0/1 adjacency. Parallel
    * duplicate edges collapse by SUMMING weights; weight ≤ 0 / null rows
    * drop.
    *
    * Integer recurrence (same damping and teleport as the uniform form):
    *   contrib(u→v) = (pr_u · w_uv) div Σ_u w
    * Exact while scaleTotal · max(w) < 2⁶³ — at the default 10¹² scale
    * that bounds a single edge's weight at ~9.2·10⁶; rescale weights
    * (they are relative) if a graph exceeds it. Same one-exchange-per-
    * iteration shape as the uniform loop: the weighted edge table is
    * degree-joined and hash-partitioned by `src` ONCE and cached.
    */
  def pageRankWeighted(edges: DataFrame, iterations: Int,
                       scaleTotal: Long = 1000000000000L): DataFrame = {
    require(iterations >= 0, "iterations must be non-negative")
    // same one-exchange prelude as [[degreeJoinedEdges]], with the weight
    // collapse riding the src-hash partitioning instead of its own shuffle
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"),
        col("weight").cast("long").as("w"))
      .filter(col("w") > 0)
      .repartition(col("src"))
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
    val wsum = e.groupBy("src").agg(sum(col("w")).as("wsum"))
    val eW = e.join(wsum, "src")
      .select("src", "dst", "w", "wsum")
      .cache()
    val nodes = eW.select(col("src").as("node"))
      .union(eW.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true)
    val n = nodes.count()
    require(n > 0, "empty graph")
    val init = scaleTotal / n
    val teleport = (15L * init) / 100L
    val tele = nodes.withColumn("tele", lit(teleport))
    iterateFixed(eW, nodes.withColumn("pr", lit(init)), iterations) { ranks =>
      val contrib = eW.join(ranks.hint("SHUFFLE_HASH"), eW("src") === ranks("node"))
        .select(col("dst").as("node"), lit(0L).as("t"),
          expr("(pr * w) div wsum").as("c"))
      contrib
        .union(tele.select(col("node"), col("tele").as("t"), lit(0L).as("c")))
        .groupBy("node")
        .agg((sum(col("t")) + expr("(85 * sum(c)) div 100")).as("pr"))
    }
  }

  /** One PageRank iteration. Steady-state dataflow is ONE exchange: the
    * contribution join is co-partitioned (eDeg cached hash(`src`); `ranks`
    * comes out of the previous round's aggregate hash(`node`) — the
    * corresponding join keys, so neither side re-shuffles), and the
    * teleport table (one row per node, `tele` = that node's teleport
    * mass — constant for uniform PageRank, seed-conditional for the
    * personalized variant) seeds the aggregate so no-inflow nodes keep
    * their teleport WITHOUT a nodes-side left join after the agg — the
    * old form re-joined the node table every round, a second exchange
    * chain carrying the whole rank table. The damping readout folds into
    * the aggregate projection: pr = Σ tele + (85·Σ c) div 100 (each
    * node's `tele` appears exactly once in its group). GraphRankSpec pins
    * the marginal cost: each extra iteration adds exactly one Exchange to
    * the plan.
    */
  private[ops] def step(eDeg: DataFrame, tele: DataFrame, ranks: DataFrame): DataFrame = {
    // SHUFFLE_HASH (round 15): the default sort-merge join re-SORTS the
    // cached edge partitions every iteration (the edge cache is hash-
    // partitioned, not sorted); hashing the node-sized rank table per
    // partition instead streams the edges unsorted. Both sides stay
    // co-partitioned, so the exchange count is unchanged — this removes
    // the per-iteration edge sort, not a shuffle. Never a broadcast (a
    // real rank table doesn't broadcast at graph scale).
    val contrib = eDeg.join(ranks.hint("SHUFFLE_HASH"), eDeg("src") === ranks("node"))
      .select(col("dst").as("node"), lit(0L).as("t"), expr("pr div outdeg").as("c"))
    contrib
      .union(tele.select(col("node"), col("tele").as("t"), lit(0L).as("c")))
      .groupBy("node")
      .agg((sum(col("t")) + expr("(85 * sum(c)) div 100")).as("pr"))
  }

  /** k-core decomposition by iterative peeling: repeatedly delete nodes
    * of degree < k until every survivor has degree ≥ k — the standard
    * "dense cohesive subgraph" primitive (Seidman 1983; the peel loop is
    * Batagelj-Zaveršnik made set-at-a-time): spam-farm and botnet cores
    * in link graphs, power-user cores in interaction graphs, and the
    * pruning step before more expensive community detection.
    *
    * Runs EXACTLY `rounds` peel iterations — the engine-replayable form (a
    * DuckDB oracle unrolls the same rounds) — and returns the surviving
    * (node, deg) table of the edge set after the last round, filtered to
    * deg ≥ k. Equal to the true k-core once `rounds` reaches the peel
    * depth (KCoreSpec proves it against a sequential peel).
    *
    * Scale shape per round: one map-side-combined degree aggregate over
    * the current edge set + two semi-joins (src side, dst side) against
    * the |survivors|-sized node table — AQE broadcasts it as it shrinks.
    * Rounds are checkpointed so lineage stays O(1); each round's edge set
    * only ever shrinks, so total work is bounded by rounds × |edges|.
    */
  def kCorePeeled(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    var e = canonicalUndirected(edges).localCheckpoint(true)
    var i = 0
    while (i < rounds) {
      e = peelOnce(e, k).localCheckpoint(true)
      i += 1
    }
    degreesOf(e).filter(col("deg") >= k)
  }

  /** Synchronous label propagation (Raghavan et al. 2007) made
    * DETERMINISTIC: every node starts labeled with its own id; each round
    * every node adopts the most frequent label among its neighbors, ties
    * broken by the SMALLEST label (the classic algorithm breaks ties
    * randomly, which is useless for engine-replayable results). The
    * lightweight community-detection pass — orders of magnitude cheaper
    * than modularity optimization, and the standard pre-grouping before
    * expensive per-community work.
    *
    * Runs exactly `rounds` synchronous updates — the oracle-replayable
    * form (a DuckDB oracle unrolls the same recurrence); pinned rounds also
    * sidestep the 2-cycles synchronous LPA can fall into on bipartite
    * structures. Returns (node, label).
    *
    * Scale shape per round: labels join the symmetrized edge list on the
    * neighbor key (co-partitioned with the previous round's aggregate),
    * one map-side-combined (node, label) count, one argmax aggregate via
    * max(struct(cnt, −label)) — two exchanges per round, all fixed-width
    * longs, checkpointed lineage.
    */
  def labelPropagationPinned(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1)
    val (sym, labels0) = lpaInit(edges)
    var labels = labels0
    var i = 0
    while (i < rounds) {
      labels = lpaStep(sym, labels).localCheckpoint(true)
      i += 1
    }
    labels
  }

  private def lpaInit(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = canonicalUndirected(edges)
    val sym = e.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(e.select(col("v").as("node"), col("u").as("nbr")))
      .repartition(col("nbr"))
      .localCheckpoint(true)
    val labels = sym.select(col("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint(true)
    (sym, labels)
  }

  private def lpaStep(sym: DataFrame, labels: DataFrame): DataFrame =
    sym.join(labels.select(col("node").as("nbr"), col("label")), Seq("nbr"))
      .groupBy(col("node"), col("label")).agg(count(lit(1)).as("__cnt"))
      .groupBy(col("node"))
      .agg(max(struct(col("__cnt"), (-col("label")).as("__neg"))).as("__m"))
      .select(col("node"), (-col("__m.__neg")).as("label"))

  /** Common-neighbor link prediction: for every NON-adjacent node pair
    * with ≥ 1 shared neighbor, the classic similarity scores —
    * cn = |N(a) ∩ N(b)| and Jaccard = cn / (deg a + deg b − cn)
    * (Liben-Nowell & Kleinberg 2003) — the "who should be connected"
    * primitive behind recommendation and graph-completion candidates.
    *
    * Scale shape: shared neighbors are counted through the WEDGE
    * formulation (each common neighbor is the apex of exactly one
    * wedge), so the work is one apex self-join + one (a, b) count
    * aggregate + one anti join against the edge list — and wedge volume
    * is Σ_apex C(deg, 2), which a hub makes quadratic. `maxDegree` is
    * the documented skew escape hatch: apexes above it generate no
    * wedges (a node adjacent to everything certifies nothing about any
    * particular pair — standard practice), making volume
    * Θ(m · maxDegree) by construction. cn is therefore a lower bound
    * under the cap; degrees in the Jaccard denominator stay FULL.
    */
  def linkPredictionScores(edges: DataFrame, maxDegree: Int = 64): DataFrame = {
    require(maxDegree >= 2)
    val e = canonicalUndirected(edges).localCheckpoint(true)
    val deg = degreesOf(e)
    val sym = e.select(col("u").as("apex"), col("v").as("nbr"))
      .unionAll(e.select(col("v").as("apex"), col("u").as("nbr")))
    val small = sym.join(
      deg.filter(col("deg") <= maxDegree).select(col("node").as("apex")),
      Seq("apex"), "left_semi")
    val wedges = small.select(col("apex"), col("nbr").as("a"))
      .join(small.select(col("apex"), col("nbr").as("b")), Seq("apex"))
      .filter(col("a") < col("b"))
    val cn = wedges.groupBy("a", "b").agg(count(lit(1)).as("cn"))
      .join(e.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
    cn.join(deg.select(col("node").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"),
        (col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn"))).as("jaccard"))
  }

  /** Adamic–Adar + Resource-Allocation link prediction (the weighted
    * common-neighbor scores that beat raw counts on hub-heavy graphs:
    * a shared neighbor with degree 2 is strong evidence, one with degree
    * 10⁶ is noise):
    *
    *   AA(a,b) = Σ_{w ∈ Γ(a)∩Γ(b)} 1/ln(deg w)
    *   RA(a,b) = Σ_{w ∈ Γ(a)∩Γ(b)} 1/deg w
    *
    * over non-adjacent candidate pairs, same wedge generation as
    * [[linkPredictionScores]] (hub apexes past `maxDegree` are skipped —
    * exactly the hubs whose 1/ln(deg) terms are negligible, so the cut
    * removes Θ(deg²) work that contributes least signal).
    *
    * Exactness: each wedge term lands on the 1e-12 long grid (one
    * exact-operand division per APEX, identical across engines), so the
    * per-pair sums are exact integer arithmetic; the emitted aa/ra are
    * single divisions by the grid. deg w ≥ 2 for every apex by wedge
    * construction, so ln(deg) > 0.
    *
    * Scale shape: identical to [[linkPredictionScores]] — degree-capped
    * wedge join, one (a, b) aggregate, one anti-join against the edge
    * set. Never all-pairs.
    */
  def linkPredictionWeighted(edges: DataFrame, maxDegree: Int = 64): DataFrame = {
    require(maxDegree >= 2)
    val e = canonicalUndirected(edges).localCheckpoint(true)
    val deg = degreesOf(e)
    val sym = e.select(col("u").as("apex"), col("v").as("nbr"))
      .unionAll(e.select(col("v").as("apex"), col("u").as("nbr")))
    val small = sym.join(
      deg.filter(col("deg") <= maxDegree)
        .select(col("node").as("apex"), col("deg").as("apexdeg")),
      Seq("apex"))
    val wedges = small.select(col("apex"), col("apexdeg"), col("nbr").as("a"))
      .join(small.select(col("apex"), col("nbr").as("b")), Seq("apex"))
      .filter(col("a") < col("b"))
    val scoredPairs = wedges
      .select(col("a"), col("b"),
        floor(lit(1e12) / log(col("apexdeg").cast("double")) + 0.5)
          .cast("long").as("aa12"),
        floor(lit(1e12) / col("apexdeg").cast("double") + 0.5)
          .cast("long").as("ra12"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cn"), sum(col("aa12")).as("saa"),
        sum(col("ra12")).as("sra"))
      .join(e.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
    scoredPairs.select(col("a"), col("b"), col("cn"),
      (col("saa").cast("double") / 1e12).as("aa"),
      (col("sra").cast("double") / 1e12).as("ra"))
  }

  /** Degree assortativity (Newman 2002) — ONE number for "do hubs attach
    * to hubs?": the Pearson correlation of end-point degrees over every
    * directed stub of the undirected edge set. r > 0 = assortative
    * (social-network shape), r < 0 = disassortative (hub-and-spoke,
    * bipartite-ish) — the first diagnostic before trusting any
    * degree-dependent sampling or GNN neighborhood cut.
    *
    * With exact sums over canonical edges (s_xy = Σ d_u·d_v,
    * s1 = Σ(d_u+d_v), s2 = Σ(d_u²+d_v²), m edges, N = 2m stubs):
    *
    *   r = (N·2s_xy − s1²) / (N·s2 − s1²)
    *
    * Exactness: degrees and all moment sums are exact decimal(38,0)
    * (d_u·d_v passes 2⁶³ on hub-heavy graphs); r is ONE IEEE division.
    * NULL when the variance term is 0 (degree-regular graph).
    *
    * Scale shape: one distinct-edge collapse, one degree aggregate
    * joined back (two hash joins on the node key), one 1-row moment
    * aggregate. Never materializes stubs twice.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val e = canonicalUndirected(edges).localCheckpoint(true)
    val deg = degreesOf(e)
    val withDeg = e
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    val agg = withDeg.agg(
      count(lit(1)).as("m"),
      sum((col("du").cast(dec19) * col("dv").cast(dec19)).cast(dec)).as("sxy"),
      sum((col("du") + col("dv")).cast(dec)).as("s1"),
      sum((col("du").cast(dec19) * col("du").cast(dec19)).cast(dec) +
        (col("dv").cast(dec19) * col("dv").cast(dec19)).cast(dec)).as("s2"))
    val nStubs = lit(2.0) * col("m").cast("double")
    val num = nStubs * 2.0 * col("sxy").cast("double") -
      col("s1").cast("double") * col("s1").cast("double")
    val den = nStubs * col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double")
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    agg.crossJoin(broadcast(nodes))
      .select(col("n_nodes"), col("m").as("n_edges"),
        when(den > 0, num / den).as("r"))
  }

  private def canonicalUndirected(edges: DataFrame): DataFrame =
    edges.select(
      least(col("src").cast("long"), col("dst").cast("long")).as("u"),
      greatest(col("src").cast("long"), col("dst").cast("long")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  private def degreesOf(e: DataFrame): DataFrame =
    e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  private def peelOnce(e: DataFrame, k: Int): DataFrame = {
    val keep = degreesOf(e).filter(col("deg") >= k).select("node")
    e.join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
      .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
      .select("u", "v")
  }

  /** Per-node triangle counts over an undirected graph, by degree-ordered
    * edge orientation (Schank & Wagner; Suri & Vassilvitskii, WWW'11) and
    * adjacency-list intersection. Input edges are canonicalized
    * (undirected, deduped, self-loops dropped), then each edge is oriented
    * from its lower-(degree, id) endpoint to the higher one, which caps
    * every out-degree at O(√m) however skewed the raw degrees are. For each
    * oriented edge (a,b), the triangles it closes are exactly N⁺(a) ∩ N⁺(b)
    * — and because a triangle x<y<z (degree order) has edges x→y, x→z,
    * y→z, only its (x,y) edge finds it (z ∉ N⁺(z), and y ∉ N⁺(z)), so each
    * triangle is counted once, then attributed to all three corners (a, b,
    * and every intersection element).
    *
    * No wedge table: a wedge self-join on the apex would materialize and
    * shuffle O(Σ C(outdeg,2)) = O(m^1.5) rows before a closing join prunes
    * them; here the shuffled volume is the m adjacency rows (each ≤ O(√m)
    * longs wide) and intersections run in-memory per edge inside one join
    * stage. Returns (node BIGINT, tri_cnt BIGINT) for nodes in ≥1 triangle.
    */
  def triangleCountsAdjacency(edges: DataFrame): DataFrame = {
    val e = edges.select(
      least(col("src").cast("long"), col("dst").cast("long")).as("u"),
      greatest(col("src").cast("long"), col("dst").cast("long")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val oriented = e
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("u")).otherwise(col("v")).as("a"),
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("v")).otherwise(col("u")).as("b"))
      .localCheckpoint(true)

    // out-neighbor lists (bounded at O(√m) per node by the orientation)
    val adj = oriented.groupBy(col("a").as("n")).agg(collect_list(col("b")).as("nbrs"))
    val tri = oriented
      .join(adj.select(col("n").as("a"), col("nbrs").as("na")), Seq("a"))
      .join(adj.select(col("n").as("b"), col("nbrs").as("nb")), Seq("b"))
      .select(col("a"), col("b"), array_intersect(col("na"), col("nb")).as("ws"))
      .filter(size(col("ws")) > 0)
      .localCheckpoint(true) // consumed by three corner projections

    tri.select(col("a").as("node"), size(col("ws")).cast("long").as("c"))
      .union(tri.select(col("b").as("node"), size(col("ws")).cast("long").as("c")))
      .union(tri.select(explode(col("ws")).as("node"), lit(1L).as("c")))
      .groupBy("node").agg(sum(col("c")).as("tri_cnt"))
  }

  /** Multi-source BFS hop distances: exactly `rounds` synchronous frontier
    * expansions from `seeds` (node col `node`, all at distance 0) over the
    * DIRECTED edge list — pass a symmetrized list for undirected reach.
    * Returns (node, dist) for every node reached within `rounds` hops;
    * unreached nodes are absent, multiple seeds take the minimum. The
    * reachability-with-radius primitive (compliance blast-radius, feature
    * neighborhoods, seed-expansion labeling) — and, pinned, the
    * oracle-replayable form a DuckDB chained-CTE recurrence unrolls.
    *
    * Scale shape per round: one join of the edge list against the current
    * distance table on the src key + one min-aggregate over (old ∪ new) —
    * two exchanges, all fixed-width longs, checkpointed lineage. In an
    * unweighted graph a reached node's dist is final, so the propagated
    * table is monotone; work per round is bounded by |edges| and the
    * whole run by rounds × |edges|. (A frontier-only delta — joining just
    * the nodes discovered last round — halves the join input on
    * small-diameter graphs; the full-table form keeps the recurrence
    * identical to the oracle's.)
    */
  def bfsHopsPinned(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    // partition-once (round 15): without the src hash layout every round's
    // frontier join re-exchanged the whole edge list; the checkpoint
    // preserves the partitioning, so each [[bfsStep]] join is
    // co-partitioned on the edge side
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
      .repartition(col("src")).localCheckpoint(true)
    var dist = seeds.select(col("node").cast("long").as("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(true)
    var i = 0
    while (i < rounds) {
      dist = bfsStep(e, dist).localCheckpoint(true)
      i += 1
    }
    dist
  }

  private def bfsStep(e: DataFrame, dist: DataFrame): DataFrame = {
    // SHUFFLE_HASH on the (node, dist) table: the edge list streams
    // unsorted against a per-partition hash build — see [[step]]
    val cand = e.join(dist.withColumnRenamed("node", "src").hint("SHUFFLE_HASH"),
        Seq("src"))
      .select(col("dst").as("node"), (col("dist") + lit(1L)).as("dist"))
    dist.unionByName(cand).groupBy("node").agg(min(col("dist")).as("dist"))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over a directed
    * edge list — the mutually-recursive prestige pair PageRank's single
    * score can't express: a node is a good HUB if it points at good
    * authorities, a good AUTHORITY if good hubs point at it. On a
    * bipartite supplier→part (or site→document) graph the two sides get
    * their natural separate rankings in one computation.
    *
    * Integer fixed point, the [[pageRankFixedPoint]] exactness
    * discipline without the normalization step inside the loop: with
    * h⁰ ≡ 1,
    *   aᵗ(v) = Σ_{u→v} hᵗ⁻¹(u),   hᵗ(u) = Σ_{u→v} aᵗ(v)
    * every intermediate score is an exact integer (decimal(38,0):
    * magnitudes grow like avgdeg^(2·iterations), so 38 digits hold
    * degree ~1e9 graphs at 2 iterations), and the classical L1
    * normalization happens ONCE at readout — score = raw/Σraw, a single
    * division of exact operands, bit-identical on any engine replaying
    * the recurrence (the DuckDB oracle unrolls it). Iteration ORDER is
    * the standard a-then-h sweep.
    *
    * Scale shape: 2 equi-joins + 2 map-side-combined aggregates per
    * iteration over the distinct edge list; the score tables are one
    * row per node. The join key ALTERNATES src/dst every sweep, so the
    * edge list is persisted TWICE, pre-partitioned by src and by dst —
    * each per-iteration join reuses its copy's layout and only the
    * (node-sized) score table exchanges ([[pageRankFixedPoint]]'s
    * partition-once discipline, doubled for the alternating key; one
    * shared copy would re-shuffle edge mass twice per sweep). Nothing
    * is collected; totals are 1-row aggregates joined back by
    * broadcast.
    *
    * Returns (kind ∈ {authority, hub}, id BIGINT, raw DOUBLE — the exact
    * integer score, score DOUBLE — L1-normalized within kind).
    */
  def hitsScores(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val Dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // one exchange per copy (round 15): distinct rides the src repartition
    // (subset-of-keys clustering), and the dst copy re-reads the src-side
    // CACHE instead of re-running scan + distinct lineage
    val eBySrc = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .repartition(col("src"))
      .distinct()
      .cache()
    val eByDst = eBySrc.repartition(col("dst")).cache()
    var hubs = eBySrc.select(col("src")).distinct()
      .withColumn("h", lit(1L).cast(Dec))
    var auths: DataFrame = null
    var i = 0
    while (i < iterations) {
      // SHUFFLE_HASH on the node-sized score tables — same per-iteration
      // edge-sort removal as [[step]]
      auths = eBySrc.join(hubs.hint("SHUFFLE_HASH"), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("h")).cast(Dec).as("a"))
      hubs = eByDst.join(auths.hint("SHUFFLE_HASH"), Seq("dst"))
        .groupBy(col("src")).agg(sum(col("a")).cast(Dec).as("h"))
      i += 1
      if (i % 2 == 0 && i < iterations) {
        auths = auths.localCheckpoint(true)
        hubs = hubs.localCheckpoint(true)
      }
    }
    val aTot = auths.agg(sum(col("a")).cast(Dec).as("at"))
    val hTot = hubs.agg(sum(col("h")).cast(Dec).as("ht"))
    val aOut = auths.crossJoin(broadcast(aTot))
      .select(lit("authority").as("kind"), col("dst").as("id"),
        col("a").cast("double").as("raw"),
        (col("a").cast("double") / col("at").cast("double")).as("score"))
    val hOut = hubs.crossJoin(broadcast(hTot))
      .select(lit("hub").as("kind"), col("src").as("id"),
        col("h").cast("double").as("raw"),
        (col("h").cast("double") / col("ht").cast("double")).as("score"))
    val out = aOut.unionByName(hOut).localCheckpoint(true)
    eBySrc.unpersist(false)
    eByDst.unpersist(false)
    out
  }

  /** Out-degree distribution + Hill tail-index estimate — the graph
    * profiling pass that decides every downstream cap in this library
    * (link-prediction's maxDegree, LSH bucket caps, skew salting): is
    * the degree tail power-law, and how heavy? For nodes with degree
    * d ≥ dmin, the Hill (1975) MLE of the Pareto exponent is
    *
    *   α̂ = 1 + n_tail / Σ_{d ≥ dmin} ln(d / dmin)
    *
    * Exactness: the histogram is exact longs; each node's ln term
    * depends only on its DEGREE, so terms attach to the ≤|degrees|-row
    * histogram (n_nodes·lnterm each), quantized to 1e-9 longs and
    * summed as integers — order-free; α̂ is one division at readout.
    *
    * Scale shape: one distinct-edge collapse + one degree aggregate +
    * one |degrees|-row histogram aggregate; the tail sum is a window
    * over that bounded table. Returns one row per distinct degree:
    * (degree, n_nodes, frac, n_tail, alpha) — tail stats repeated on
    * every row, null α when the tail is empty or ln-sum is 0.
    */
  def degreeDistribution(edges: DataFrame, dmin: Long): DataFrame = {
    require(dmin >= 1, s"dmin must be >= 1, got $dmin")
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val hist = e.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    // per-DEGREE ln term × node count, 1e-9-quantized then integer-summed
    val lnq = when(col("degree") >= dmin,
      col("n_nodes") * floor(log(col("degree").cast("double") / dmin) * 1e9 +
        lit(0.5)).cast("long")).otherwise(lit(0L))
    hist
      .withColumn("__total", sum(col("n_nodes")).over(wAll))
      .withColumn("__lnq", lnq)
      .withColumn("n_tail",
        sum(when(col("degree") >= dmin, col("n_nodes")).otherwise(0L)).over(wAll))
      .withColumn("__lnsum", sum(col("__lnq")).over(wAll))
      .select(col("degree"), col("n_nodes"),
        (col("n_nodes").cast("double") / col("__total")).as("frac"),
        col("n_tail"),
        when(col("__lnsum") > 0,
          lit(1.0) + col("n_tail").cast("double") /
            (col("__lnsum").cast("double") / 1e9)).as("alpha"))
  }

  /** Degree-weighted negative sampling for link-prediction / contrastive
    * training (the word2vec unigram^0.75 table, Mikolov et al. 2013,
    * applied to a graph): for every positive edge, k deterministic
    * "negative" endpoints drawn with probability ∝ degree^power from the
    * candidate (dst) side — frequent nodes appear as negatives roughly
    * as often as the model sees them as positives, the bias that makes
    * the contrast informative. Draws that happen to hit a TRUE neighbor
    * are flagged `is_positive`, not silently dropped — the caller
    * decides (drop, redraw at j+k, or keep as a hard positive).
    *
    * Determinism: the j-th draw for edge (s, d) inverts the shared
    * md5-60 uniform of "s:d:j" against the cumulative weight table —
    * any engine, any partitioning, any day replays it. Weights
    * floor(deg^power·1e6) are exact longs; the only libm site (pow) is
    * fenced by that quantization.
    *
    * Scale shape: ONE degree aggregate (candidate-sized), a
    * [[graft.ops.PrefixScan]] cumulative scan over it, and the draws
    * resolve through the BUCKETIZED interval join
    * ([[graft.ops.RangeJoin.pointInInterval]]) — Θ(k·|edges|) probe
    * rows against Θ(W/bucketWidth) interval-bucket rows, never a sort
    * or a broadcast of the candidate table. `bucketWidth` is the grain
    * knob: ~avg interval width keeps replication ~2×.
    */
  def negativeSamples(edges: DataFrame, k: Int, power: Double = 0.75,
      bucketWidth: Long = 10000000L): DataFrame = {
    require(k >= 1, "need k >= 1 draws per edge")
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val deg = e.groupBy(col("dst").as("cand")).agg(count(lit(1)).as("d"))
      .withColumn("w",
        floor(pow(col("d").cast("double"), power) * 1e6 + lit(0.5)).cast("long"))
    val cum = PrefixScan.cumulativeSum(deg, Seq("cand"), "w", "cw")
      .select(col("cand"), (col("cw") - col("w")).as("lo"), col("cw").as("hi"))
    val total = deg.agg(sum(col("w")).as("wt"))
    val u = graft.llm.Sampling.hashUniform(
      concat_ws(":", col("src"), col("dst"), col("j")))
    val draws = e.crossJoin(broadcast(total))
      .withColumn("j", explode(sequence(lit(1L), lit(k.toLong))))
      .withColumn("t", floor(u * col("wt").cast("double")).cast("long"))
      .select(col("src"), col("dst"), col("j"), col("t"))
    val hit = RangeJoin.pointInInterval(draws, "t", cum, "lo", "hi", bucketWidth)
      .select(col("src"), col("dst"), col("j"), col("cand").as("neg_id"))
    hit.join(e.select(col("src"), col("dst").as("neg_id"), lit(true).as("__pos")),
        Seq("src", "neg_id"), "left")
      .select(col("src"), col("dst"), col("j"), col("neg_id"),
        coalesce(col("__pos"), lit(false)).as("is_positive"))
  }

  /** Newman modularity of a node partition (Newman & Girvan 2004):
    * Q = Σ_c (e_c/m − (deg_c/2m)²) over communities c, with e_c the
    * intra-community edge count and deg_c the community's degree mass —
    * the standard "is this community structure real" score for the
    * label-propagation / nation / cluster partitions the graph family
    * produces (Q ≈ 0: no better than random wiring; Q ≳ 0.3:
    * substantive structure). `edges` must be the canonical deduped
    * (src < dst) undirected edge list (the co-supplier builders'
    * contract); `communities` (id, comm) must cover every endpoint —
    * unmapped nodes would silently drop their edges, so they are
    * inner-join-excluded from BOTH terms consistently.
    *
    * Exactness: m, e_c, deg_c, n_nodes are exact longs; each q_term is
    * one fixed IEEE expression of them; the total quantizes per-term to
    * a 1e-12 grid and sums as longs (no cross-community float order).
    *
    * Scale shape: degree and intra-edge counts are map-side-combined
    * aggregates over the edge list; everything after runs on the
    * |communities|-row table (1-row m broadcast).
    */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame = {
    val m1 = edges.agg(count(lit(1)).as("m"))
    val deg = edges.select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val eIn = edges
      .join(communities.select(col("id").as("src"), col("comm").as("cs")), "src")
      .join(communities.select(col("id").as("dst"), col("comm").as("cd")), "dst")
      .filter(col("cs") === col("cd"))
      .groupBy(col("cs").as("comm")).agg(count(lit(1)).as("e_in"))
    val degC = deg.join(communities, "id")
      .groupBy("comm")
      .agg(sum(col("deg")).as("deg_sum"), count(lit(1)).as("n_nodes"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val md = col("m").cast("double")
    val qTerm = col("e_in").cast("double") / md -
      (col("deg_sum").cast("double") / (lit(2.0) * md)) *
        (col("deg_sum").cast("double") / (lit(2.0) * md))
    degC.join(eIn, Seq("comm"), "left")
      .na.fill(0L, Seq("e_in"))
      .crossJoin(broadcast(m1))
      .withColumn("q_term", qTerm)
      .withColumn("__qq", floor(col("q_term") * 1e12 + lit(0.5)).cast("long"))
      .withColumn("q_total", sum(col("__qq")).over(wAll).cast("double") / 1e12)
      .select(col("comm"), col("n_nodes"), col("e_in"), col("deg_sum"),
        col("m"), col("q_term"), col("q_total"))
  }
}
