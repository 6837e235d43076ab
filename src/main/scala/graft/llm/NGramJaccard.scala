package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact n-gram Jaccard similarity — the verification primitive under the
  * MinHash/SimHash approximations, and a standalone near-dup operator for
  * corpora small enough (or pre-bucketed enough) to afford exact set math.
  *
  * The pairing strategy is blocked self-join: pairs are only formed inside
  * a cheap deterministic block (here: token-count bucket — near-dups have
  * near-equal lengths), never corpus × corpus. Block size bounds the
  * quadratic cost; the block key is a one-expression bucket so the only
  * shuffle is the self-join on it.
  */
object NGramJaccard {

  /** Distinct word n-gram set. */
  def ngramSet(text: Column, n: Int): Column =
    array_distinct(MinHashDedup.shingles(text, n))

  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) > 0,
      size(array_intersect(a, b)).cast("double") / size(array_union(a, b)))
      .otherwise(0.0)

  /** All pairs within the same length bucket with Jaccard ≥ threshold.
    * `bucketWidth` = token-count rounding; near-equal-length docs share a
    * bucket (a doc pair differing by > bucketWidth tokens can't be a
    * near-dup at meaningful thresholds anyway).
    *
    * Implementation is a PREFIX-FILTERED inverted index (the AllPairs /
    * PPJoin scheme — Bayardo et al. 2007, Xiao et al. 2008): candidate
    * generation only indexes each document's `|g| − ⌈t·|g|⌉ + 1` globally
    * rarest grams. Under any consistent total order — here (doc frequency,
    * gram) ascending — two sets with Jaccard ≥ t provably share at least
    * one prefix gram (their overlap exceeds either suffix's size), so
    * recall is exact; candidates are then verified on the FULL gram sets.
    *
    * Why not a plain full-postings join: a corpus-common gram (a stopword
    * bigram) has a posting list that grows linearly with corpus size, so
    * its join output grows quadratically — the same bucket-saturation
    * disease the sf1 bench caught in 32-bit SimHash banding. Frequency-
    * sorted prefixes eject exactly those grams first: a gram appears in a
    * prefix only when the document has few rarer alternatives, so hot
    * posting lists shrink as the corpus (and with it every gram's rank
    * competition) grows. This is the shape that survives 100 TB.
    */
  def similarPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bucketWidth: Int = 8, threshold: Double = 0.5,
      materialize: Boolean = true): DataFrame = {
    require(threshold > 0.0, "prefix-filtered Jaccard requires a positive threshold")
    // spread: shingling runs in the scan stage otherwise (one task on
    // single-row-group local files; no-op at scale)
    val allLazy = graft.ops.Partitioning.spread(
      docs.select(col(idCol), col(textCol))).select(
      col(idCol),
      ngramSet(col(textCol), n).as("grams"),
      floor(size(split(col(textCol), " ")) / bucketWidth).as("len_bucket"))
      .withColumn("n_grams", size(col("grams")))
      // identical (bucket, gram set) ⇒ interchangeable in every pair:
      // collapse to one representative BEFORE the quadratic machinery and
      // expand afterwards. Exact-duplicate mass is the dominant dup shape
      // in web corpora (and the sf1 bench's replica corpus), and this
      // turns its pair cost from C(replicas,2)·verify into O(corpus) +
      // output size. Empty gram sets stay out of groups: they pair with
      // nothing (Jaccard 0 against everything, below any positive t).
      .withColumn("gkey",
        when(col("n_grams") > 0,
          // to_json is an injective array encoding (quoted + escaped), so
          // distinct (bucket, gram set) values cannot collide into one key
          md5(concat_ws("|", col("len_bucket"), to_json(sort_array(col("grams"))))))
          .otherwise(concat(lit("solo:"), col(idCol))))
    val all = if (materialize) allLazy.localCheckpoint(false) else allLazy
    val members = all.select(col("gkey"), col(idCol))
    // representative = min id per group; the pair machinery below runs on
    // representatives only
    val repW = Window.partitionBy(col("gkey")).orderBy(col(idCol).asc)
    val prepared = all
      .withColumn("__rn", row_number().over(repW)).filter(col("__rn") === 1)
      .drop("__rn", "gkey")
    val postings = prepared.select(col("len_bucket"), col(idCol), col("n_grams"),
      explode(col("grams")).as("gram"))
    val gramDf = postings.groupBy("gram").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col(idCol)).orderBy(col("df"), col("gram"))
    // ε guards IEEE noise in t·|g| at integer boundaries: an over-long
    // prefix only costs candidates, a too-short one silently loses recall
    val prefixLen = col("n_grams") - ceil(lit(threshold) * col("n_grams") - lit(1e-9)) + 1
    val prefixLazy = postings.join(gramDf, "gram")
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= prefixLen)
      .select(col("len_bucket"), col("gram"), col(idCol), col("n_grams"), col("rk"))
    // both sides of the candidate self-join read the prefix postings
    val prefix = if (materialize) prefixLazy.localCheckpoint(false) else prefixLazy
    // the id order is a pair-key predicate: it reaches the prefix join
    // through the pruning aggregate's grouping keys
    val repPairs = verifiedPairs(prefix, idCol, prefix, idCol, Seq("len_bucket"),
      postings, postings, threshold)
      .filter(col("id_a") < col("id_b"))
    // expand representatives back to members: Jaccard depends only on the
    // gram set, so every member of A's group pairs with every member of
    // B's group at the representatives' value, and members within one
    // group pair at exactly 1.0 (identical sets, same bucket by key
    // construction). Cost is the output size — already paid by any
    // implementation that emits these pairs.
    MinHashDedup.expandGroupPairs(repPairs, all.select(col(idCol), col("gkey")),
      members, idCol, threshold)
  }

  /** The PPJoin candidate pruning and exact verification of
    * [[similarPairs]] and [[similarityJoin]]. `prefixA`/`prefixB` are the
    * two sides' rarity prefixes (`keys`, gram, id, n_grams, rk), joined on
    * `keys` and gram; `postA`/`postB` their full postings (id, gram,
    * n_grams). Both prefix filters are recall-free at `threshold`:
    *  - length filter: Jaccard ≥ t forces min(|A|,|B|) ≥ t·max(|A|,|B|);
    *  - positional filter: at the pair's FIRST shared gram g (global
    *    order), every common gram ranks ≥ g, so overlap ≤
    *    min(|A|−rk_A(g), |B|−rk_B(g)) + 1; that first shared gram always
    *    lies in both prefixes (it precedes the prefix witness), so max
    *    over the joined rows of that bound is a valid pair bound. Jaccard
    *    ≥ t needs overlap ≥ t/(1+t)·(|A|+|B|) — prune below it. This is
    *    what kills replica-heavy corpora: a junk pair sharing only
    *    corpus-common grams meets them LATE in the rarity order, where
    *    the remaining-suffix bound can no longer reach α.
    * Survivors are verified by counting shared grams through the full
    * postings, not by array_intersect on joined gram arrays: the count
    * join is narrow rows through whole-stage codegen (measured ~4× faster
    * at sf0.1), and |A∩B| with |A|,|B| gives the exact Jaccard without
    * moving arrays. Returns (id_a, id_b, jaccard ≥ threshold).
    */
  private def verifiedPairs(prefixA: DataFrame, idA: String, prefixB: DataFrame,
      idB: String, keys: Seq[String], postA: DataFrame, postB: DataFrame,
      threshold: Double): DataFrame = {
    def side(p: DataFrame, id: String, s: String) =
      p.select((keys :+ "gram").map(col) ++ Seq(col(id).as(s"id_$s"),
        col("n_grams").as(s"n_$s"), col("rk").as(s"rk_$s")): _*)
    val alpha = ceil(lit(threshold / (1 + threshold)) * (col("n_a") + col("n_b")) - lit(1e-9))
    val candidates = side(prefixA, idA, "a").join(side(prefixB, idB, "b"), keys :+ "gram")
      .filter(least(col("n_a"), col("n_b")) >=
        ceil(lit(threshold) * greatest(col("n_a"), col("n_b")) - lit(1e-9)))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(max(least(col("n_a") - col("rk_a"), col("n_b") - col("rk_b")) + 1).as("ubound"))
      .filter(col("ubound") >= alpha)
      .select("id_a", "id_b")
    val pa = postA.select(col(idA).as("id_a"), col("gram"), col("n_grams").as("n_a"))
    val pb = postB.select(col(idB).as("id_b"), col("gram"), col("n_grams").as("n_b"))
    candidates.join(pa, "id_a").join(pb, Seq("id_b", "gram"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("shared"))
      .select(col("id_a"), col("id_b"),
        (col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-TABLE fuzzy similarity join (entity matching / record linkage):
    * every (left, right) pair with n-gram Jaccard ≥ `threshold`, without
    * ever forming left × right. The R×S form of [[similarPairs]]'s
    * AllPairs/PPJoin scheme: one GLOBAL document-frequency order over the
    * union of both sides (the prefix theorem needs a single consistent
    * total order), per-side frequency-sorted prefixes, a gram-keyed
    * candidate join under the length filter, the positional upper bound,
    * and exact verification through the full postings.
    *
    * Scale shape: the only corpus-mass shuffles are gram-keyed postings
    * joins of fixed-width rows; corpus-common grams fall out of prefixes
    * exactly as in the self-join case, so hot posting lists shrink as the
    * corpora grow. No length-bucket blocking — cross-table matching wants
    * the provable length FILTER (min ≥ t·max) rather than equal-bucket
    * blocking, since the two sides need not share a length distribution.
    */
  def similarityJoin(left: DataFrame, leftIdCol: String, leftTextCol: String,
      right: DataFrame, rightIdCol: String, rightTextCol: String,
      n: Int = 3, threshold: Double = 0.5, materialize: Boolean = true): DataFrame = {
    require(threshold > 0.0, "prefix-filtered Jaccard requires a positive threshold")
    // per-side exact-set collapse (replica mass splits across the sides of
    // an entity-matching join just as it clusters within one corpus): the
    // pair machinery runs rep x rep and the result expands to
    // members_l x members_r at the representatives' jaccard — no
    // intra-side pairs exist in an R x S join, so expansion is one join
    // per side. The sf1 replica bench measured 90 s uncollapsed, 27x wall
    // for 10x docs.
    def prep(df: DataFrame, idCol: String, textCol: String, outId: String) = {
      val keyed = graft.ops.Partitioning.spread(
          df.select(col(idCol).as(outId), col(textCol)))
        .select(col(outId), ngramSet(col(textCol), n).as("grams"))
        .withColumn("n_grams", size(col("grams")))
        .filter(col("n_grams") > 0)
        .withColumn("gkey", md5(to_json(sort_array(col("grams")))))
      val p = if (materialize) keyed.localCheckpoint(false) else keyed
      // reps has two consumers (postings + the expansion map) and holds
      // one row per DISTINCT set — cutting it is cheap and saves a second
      // group agg over the gram arrays
      val repsLazy = p.groupBy("gkey")
        .agg(min(col(outId)).as(outId), first(col("grams")).as("grams"),
          first(col("n_grams")).as("n_grams"))
      val reps = if (materialize) repsLazy.localCheckpoint(false) else repsLazy
      (reps, p.select(col("gkey"), col(outId)))
    }
    val (l, lMembers) = prep(left, leftIdCol, leftTextCol, "id_l")
    val (r, rMembers) = prep(right, rightIdCol, rightTextCol, "id_r")
    val lpost = l.select(col("id_l"), col("n_grams"), explode(col("grams")).as("gram"))
    val rpost = r.select(col("id_r"), col("n_grams"), explode(col("grams")).as("gram"))
    val gramDf = lpost.select("gram").unionByName(rpost.select("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
    val prefixLen = col("n_grams") - ceil(lit(threshold) * col("n_grams") - lit(1e-9)) + 1
    def prefix(post: DataFrame, idC: String) = {
      val byRarity = Window.partitionBy(col(idC)).orderBy(col("df"), col("gram"))
      val p = post.join(gramDf, "gram")
        .withColumn("rk", row_number().over(byRarity))
        .filter(col("rk") <= prefixLen)
        .select(col("gram"), col(idC), col("n_grams"), col("rk"))
      if (materialize) p.localCheckpoint(false) else p
    }
    val repPairs = verifiedPairs(prefix(lpost, "id_l"), "id_l", prefix(rpost, "id_r"),
      "id_r", Seq(), lpost, rpost, threshold)
      .select(col("id_a").as("id_l"), col("id_b").as("id_r"), col("jaccard"))
    // expand representative pairs to member pairs — cost is the true
    // output size, paid by any implementation emitting these pairs
    repPairs
      .join(l.select(col("id_l"), col("gkey").as("gk_l")), "id_l")
      .join(r.select(col("id_r"), col("gkey").as("gk_r")), "id_r")
      .drop("id_l", "id_r")
      .join(lMembers.select(col("gkey").as("gk_l"), col("id_l")), "gk_l")
      .join(rMembers.select(col("gkey").as("gk_r"), col("id_r")), "gk_r")
      .select(col("id_l"), col("id_r"), col("jaccard"))
  }

  /** ASYMMETRIC containment near-dup: every ordered pair (A, B) with
    * |A∩B| / |A| ≥ `threshold` — "B contains (most of) A". This is the
    * quote-expansion / superset-duplicate case symmetric Jaccard
    * structurally misses: when B = A + a page of extra text, J(A,B) is
    * small but containment(A→B) ≈ 1, and keeping both wastes exactly one
    * copy of A's tokens.
    *
    * Candidate generation is the asymmetric prefix filter (the
    * containment extension of the AllPairs scheme): only A's
    * `|A| − ⌈t·|A|⌉ + 1` globally-rarest grams are indexed — if none of
    * them is in B, then overlap ≤ |A| − prefixLen = ⌈t·|A|⌉ − 1 < t·|A|,
    * so recall is exact. The probe side must expose full postings (no
    * useful bound exists on B's rare grams: |B| is unconstrained), but a
    * corpus-common gram's postings only ever join A-prefixes that contain
    * it — and rarity-ordered prefixes eject common grams first, the same
    * hot-postings defense as [[similarPairs]]. Verification counts shared
    * grams through narrow posting joins (never array intersections on
    * moved arrays).
    *
    * `minGrams` drops trivially-contained tiny documents (a one-gram doc
    * is "contained" everywhere — popularity noise, the affinity
    * maxBasketSize argument in reverse). The [[similarPairs]] exact-set
    * collapse IS composed in front: the pair machinery runs on one
    * representative per distinct gram set and ordered pairs expand back
    * through the group maps, so replica-heavy corpora pay distinct-set
    * cost plus output size, not replicas².
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, minGrams: Int = 5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "containment threshold in (0, 1]")
    // Exact-set collapse (the similarPairs discipline, composed in front):
    // containment depends only on the two gram SETS, so identical sets are
    // interchangeable on both sides of the asymmetric relation. A
    // replica-heavy corpus otherwise pays replicas² candidate AND verify
    // cost re-deciding pairs whose answer is fixed once — collapsing to
    // one representative per distinct set makes the machinery's input the
    // distinct-set corpus and leaves only the (unavoidable) output-sized
    // expansion joins.
    val keyed = graft.ops.Partitioning.spread(
        docs.select(col(idCol), col(textCol)))
      .select(col(idCol), ngramSet(col(textCol), n).as("grams"))
      .withColumn("n_grams", size(col("grams")))
      .filter(col("n_grams") >= minGrams)
      // injective set encoding (to_json quotes + escapes) — distinct gram
      // sets cannot collide into one key
      .withColumn("gkey", md5(to_json(sort_array(col("grams")))))
      .localCheckpoint(false)
    val members = keyed.select(col("gkey"), col(idCol))
    // The machinery below is keyed on gkey ITSELF (one row per distinct
    // gram set via hash aggregate — map-side combinable, no window sort):
    // rep pairs come out already keyed for the member expansion, so no
    // id→gkey mapping joins are needed afterwards.
    val g = keyed.groupBy(col("gkey"))
      .agg(first(col("grams")).as("grams"), first(col("n_grams")).as("n_grams"))
      .localCheckpoint(false) // feeds postings for prefixes, probes, verify
    val postings = g.select(col("gkey"), col("n_grams"), explode(col("grams")).as("gram"))
    val gramDf = postings.groupBy("gram").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("gkey")).orderBy(col("df"), col("gram"))
    val prefixLen = col("n_grams") - ceil(lit(threshold) * col("n_grams") - lit(1e-9)) + 1
    val aPrefix = postings.join(gramDf, "gram")
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= prefixLen)
      .select(col("gram"), col("gkey").as("gk_a"), col("n_grams").as("n_a"))
    // size bound: overlap ≥ t·|A| needs |B| ≥ t·|A| — provably recall-free
    val candidates = aPrefix
      .join(postings.select(col("gram"), col("gkey").as("gk_b"),
        col("n_grams").as("n_b")), Seq("gram"))
      .filter(col("gk_a") =!= col("gk_b"))
      .filter(col("n_b") >= ceil(lit(threshold) * col("n_a") - lit(1e-9)))
      .select("gk_a", "gk_b", "n_a").distinct()
    val pa = postings.select(col("gkey").as("gk_a"), col("gram"))
    val pb = postings.select(col("gkey").as("gk_b"), col("gram"))
    val repPairs = candidates.join(pa, "gk_a").join(pb, Seq("gk_b", "gram"))
      .groupBy("gk_a", "gk_b", "n_a")
      .agg(count(lit(1)).as("shared"))
      .select(col("gk_a"), col("gk_b"),
        (col("shared").cast("double") / col("n_a")).as("containment"))
      .filter(col("containment") >= threshold)
    // expand representative pairs to member pairs, direction preserved
    // (containment is ordered: every member of A's group is contained in
    // every member of B's group at the representatives' value), plus the
    // intra-group pairs — identical sets contain each other exactly, so
    // both ordered pairs emit at 1.0 (≥ any threshold in (0,1]). Cost is
    // the true output size, paid by any implementation emitting them.
    val ga = members.select(col("gkey").as("gk_a"), col(idCol).as("id_a"))
    val gb = members.select(col("gkey").as("gk_b"), col(idCol).as("id_b"))
    val crossPairs = repPairs
      .join(ga, "gk_a").join(gb, "gk_b")
      .select(col("id_a"), col("id_b"), col("containment"))
    val intraPairs = ga
      .join(members.select(col("gkey").as("gk_a"), col(idCol).as("id_b")), "gk_a")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("containment"))
    crossPairs.unionByName(intraPairs)
  }
}
