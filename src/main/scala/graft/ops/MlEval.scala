package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation aggregates beyond the error/rank metrics in
  * [[Aggregates]]: exact ROC-AUC and thresholded confusion statistics,
  * both per evaluation segment — the per-slice scorecard a ranking
  * pipeline (reference: transformer/ranking/modeling.py evaluation
  * stage) publishes after every training run.
  *
  * AUC is computed by the Mann-Whitney U identity with average ranks for
  * ties:  AUC = (Σ_pos avgrank − P(P+1)/2) / (P·N).  Exactness: scores
  * first collapse to per-(group, score) counts, so every rank quantity is
  * an integer or half-integer; sums of half-integers below 2^52 are
  * order-free in doubles, so the single final division is the only
  * rounding site and the result is bit-identical cross-engine.
  *
  * Scale shape: the raw table shrinks to distinct (group, score) rows via
  * one map-side-combined aggregate BEFORE any ordering; the rank prefix
  * sum is a window over that aggregated table (partition = group, sorted
  * by score), so no per-row global sort ever happens and the window's
  * partition size is the group's distinct-score count, not its row count.
  */
object MlEval {

  /** (group, auc, n_pos, n_neg); `auc` is NULL for single-class groups. */
  def groupAuc(df: DataFrame, groupCol: String, scoreCol: String,
               labelCol: Column): DataFrame = {
    val g = df
      .select(col(groupCol).as("g"), col(scoreCol).as("s"),
        labelCol.cast("int").as("y"))
      .filter(col("s").isNotNull && col("y").isNotNull)
      .groupBy("g", "s")
      .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
    val w = Window.partitionBy("g").orderBy(col("s").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = g.withColumn("cb", coalesce(sum(col("c")).over(w), lit(0L)))
    ranked.groupBy(col("g").as(groupCol))
      .agg(sum(col("p")).as("np"), (sum(col("c")) - sum(col("p"))).as("nn"),
        sum(col("p") * (col("cb") + (col("c") + 1) / 2.0)).as("rsum"))
      .select(col(groupCol),
        when(col("np") > 0 && col("nn") > 0,
          (col("rsum") - col("np") * (col("np") + 1) / 2.0) /
            (col("np").cast("double") * col("nn"))).as("auc"),
        col("np").as("n_pos"), col("nn").as("n_neg"))
  }

  /** Best-F1 operating point per group — the threshold question every
    * deployed score faces after [[groupAuc]] certifies ranking quality:
    * WHERE do we cut? Sweeping ŷ = (s ≥ t) over every distinct score t,
    *
    *   F1(t) = 2·tp / (2·tp + fp + fn) = 2·tp / (tp + fp + n_pos)
    *
    * (the single-division form — one IEEE op per candidate). Winner =
    * max F1 on the 1e-12 grid, smallest threshold on ties (the most
    * permissive cut among equals).
    *
    * Exactness: the [[groupAuc]] distinct-score collapse; descending
    * cumulative (tp, fp) are exact longs; the argmax is an integer
    * comparison. NULL row fields when a group has no positives.
    *
    * Scale shape: one (group, score) collapse, ONE cumulative window
    * over distinct scores, a per-group rank-1 filter. Never a per-row
    * pass per candidate threshold.
    */
  def bestF1(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: Column): DataFrame = {
    val scanned = scoreSweep(df, groupCol, scoreCol, labelCol)
      .withColumn("tp", col("cp"))
      .withColumn("fp", col("cc") - col("tp"))
    val f1 = lit(2.0) * col("tp") / (col("tp") + col("fp") + col("np"))
    val graded = scanned
      .withColumn("f1", f1)
      .withColumn("fg", floor(col("f1") * 1e12 + 0.5).cast("long"))
    val pick = Window.partitionBy("g").orderBy(col("fg").desc, col("s").asc)
    graded
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("g").as(groupCol), col("s").as("threshold"),
        col("tp"), col("fp"), (col("np") - col("tp")).as("fn"),
        col("np").as("n_pos"),
        when(col("np") > 0, col("f1")).as("f1"))
  }

  /** The descending-score sweep of [[bestF1]] and [[gainsTable]]: per
    * (group `g`, integral score `s`) the rows `c` and positives `p`, the
    * cumulative rows `cc` and positives `cp` at scores ≥ s, and the
    * group's rows `n` and positives `np`.
    */
  private def scoreSweep(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: Column): DataFrame = {
    val g = df
      .select(col(groupCol).as("g"), col(scoreCol).cast("long").as("s"),
        labelCol.cast("int").as("y"))
      .filter(col("g").isNotNull && col("s").isNotNull && col("y").isNotNull)
      .groupBy("g", "s")
      .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
    val wCum = Window.partitionBy("g").orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("g")
    g
      .withColumn("cc", sum(col("c")).over(wCum))
      .withColumn("cp", sum(col("p")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("np", sum(col("p")).over(wAll))
  }

  /** Cumulative gains / lift table per group — the model-eval readout a
    * targeting decision actually consumes: "scan the top d/10 of the
    * population by score; what fraction of the positives is captured,
    * and at what lift over random?" Decile d's prefix is the smallest
    * distinct-score prefix covering ⌈d·n/10⌉ rows (tied scores are
    * indivisible — the honest convention; n_scanned can exceed the
    * nominal decile mass exactly when a tie straddles it).
    *
    * Exactness: descending cumulative (rows, positives) over the
    * distinct-score collapse — exact longs; each decile row is picked by
    * a struct-min over those exact pairs; gain/lift are two IEEE
    * divisions. Groups without positives emit NULL gain/lift.
    *
    * Scale shape: the [[bestF1]] shape + a 10-way conditional aggregate —
    * output is exactly 10 rows per group.
    */
  def gainsTable(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: Column): DataFrame = {
    val scanned = scoreSweep(df, groupCol, scoreCol, labelCol)
    val deciles = (1 to 10).map { d =>
      min(when(col("cc") * 10 >= col("n") * d,
        struct(col("cc"), col("cp")))).as(s"d$d")
    }
    scanned.groupBy(col("g"), col("n"), col("np"))
      .agg(deciles.head, deciles.tail: _*)
      .select(col("g").as(groupCol), col("n"), col("np").as("n_pos"),
        explode(array((1 to 10).map(d =>
          struct(lit(d.toLong).as("decile"),
            col(s"d$d.cc").as("n_scanned"),
            col(s"d$d.cp").as("pos_captured"))): _*)).as("r"))
      .select(col(groupCol), col("r.decile").as("decile"),
        col("r.n_scanned").as("n_scanned"),
        col("r.pos_captured").as("pos_captured"),
        when(col("n_pos") > 0,
          col("r.pos_captured").cast("double") / col("n_pos")).as("gain"),
        when(col("n_pos") > 0,
          (col("r.pos_captured").cast("double") / col("n_pos")) /
            (col("r.n_scanned").cast("double") / col("n"))).as("lift"))
  }

  /** (group, tp, fp, tn, fn, precision, recall, f1) for the binary
    * prediction `predCol` against `labelCol` — one aggregate job, null
    * metrics where the denominator is zero.
    */
  def confusionStats(df: DataFrame, groupCol: String, predCol: Column,
                     labelCol: Column): DataFrame = {
    val y = labelCol.cast("boolean"); val yh = predCol.cast("boolean")
    val agg = df.groupBy(col(groupCol))
      .agg(count_if(yh && y).as("tp"), count_if(yh && !y).as("fp"),
        count_if(!yh && !y).as("tn"), count_if(!yh && y).as("fn"))
    val prec = when(col("tp") + col("fp") > 0,
      col("tp").cast("double") / (col("tp") + col("fp")))
    val rec = when(col("tp") + col("fn") > 0,
      col("tp").cast("double") / (col("tp") + col("fn")))
    agg.select(col(groupCol), col("tp"), col("fp"), col("tn"), col("fn"),
      prec.as("precision"), rec.as("recall"),
      when(col("tp") * 2 + col("fp") + col("fn") > 0,
        col("tp") * 2.0 / (col("tp") * 2 + col("fp") + col("fn"))).as("f1"))
  }

  /** Cohen's κ agreement between two categorical label columns — the
    * label-quality audit for any doubly-annotated data (two annotators,
    * or a heuristic classifier vs a stored gold label): chance-corrected
    * agreement κ = (p_o − p_e)/(1 − p_e), with p_o the observed agreement
    * rate and p_e = Σ_k rowMarg_k·colMarg_k / n² the expected-by-chance
    * rate (Cohen 1960).
    *
    * Determinism: all counts are exact longs from ONE corpus-mass
    * aggregate to the |labels|² contingency cells; marginal products
    * accumulate in decimal(38,0) (n² can wrap a long at ~3e9 rows); p_o,
    * p_e, κ are fixed IEEE expressions over those integers — callers
    * qround. Degenerate tables (p_e = 1: both sides constant on the same
    * label) yield null κ, not NaN.
    *
    * Scale shape: everything after the cell aggregate is label-bounded —
    * two marginal re-aggregations of the cell table, one label-keyed
    * join, 1-row broadcasts to assemble the readout.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(19, 0)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val (tot, ra, rb) = agreement(df, aCol, bCol)
    val pem = ra.join(rb, Seq("__k"))
      .agg(coalesce(sum((col("__ma").cast(dec) * col("__mb").cast(dec)).cast(dec38)),
        lit(0).cast(dec38)).as("pem"))
    val po = col("agree").cast("double") / col("n")
    val pe = col("pem").cast("double") / (col("n").cast("double") * col("n"))
    tot.crossJoin(broadcast(pem))
      .select(col("n"), col("agree"), po.as("po"), pe.as("pe"),
        when(pe < 1.0, (po - pe) / (lit(1.0) - pe)).as("kappa"))
  }

  /** The two-rater agreement table of [[cohenKappa]] and
    * [[krippendorffAlpha]]: a one-row (n, agree) total, and the per-label
    * `__k` marginals of rater A (`__ma`) and rater B (`__mb`).
    */
  private def agreement(df: DataFrame, aCol: String,
      bCol: String): (DataFrame, DataFrame, DataFrame) = {
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(false) // totals + both marginals read it
    val tot = cells.agg(sum(col("__c")).as("n"),
      sum(when(col("__a") === col("__b"), col("__c")).otherwise(0L)).as("agree"))
    val ra = cells.groupBy(col("__a").as("__k")).agg(sum(col("__c")).as("__ma"))
    val rb = cells.groupBy(col("__b").as("__k")).agg(sum(col("__c")).as("__mb"))
    (tot, ra, rb)
  }

  /** Krippendorff's α (nominal, two raters, complete data) — the
    * agreement coefficient that survives what [[cohenKappa]] doesn't:
    * κ's per-rater expected marginals reward a rater for being BIASED
    * the same way the other is, while α's chance term comes from the
    * POOLED value distribution (the coincidence-matrix view), so the two
    * diverge exactly on prevalence/bias pathologies — reporting both is
    * the standard annotation-QA practice.
    *
    *   D_o = 1 − p_o,   D_e = 1 − Σ_c n_c(n_c−1) / (2n(2n−1)),
    *   α   = 1 − D_o/D_e
    *
    * with n_c the category's count pooled across BOTH raters.
    *
    * Exactness: the [[cohenKappa]] cell collapse feeds everything;
    * pooled-marginal products widen to decimal(38,0); the readout is a
    * fixed IEEE expression. NULL α when D_e = 0 (one category total —
    * agreement is vacuous).
    *
    * Scale shape: identical to [[cohenKappa]] — one (a, b) cell
    * aggregate, taxonomy-sized algebra after.
    */
  def krippendorffAlpha(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(19, 0)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val (tot, ra, rb) = agreement(df, aCol, bCol)
    val pooled = ra.join(rb, Seq("__k"), "full_outer")
      .select((coalesce(col("__ma"), lit(0L)) +
        coalesce(col("__mb"), lit(0L))).as("__nc"))
      .agg(coalesce(sum((col("__nc").cast(dec) *
        (col("__nc") - 1L).cast(dec)).cast(dec38)), lit(0).cast(dec38))
        .as("dnum"))
    val po = col("agree").cast("double") / col("n")
    val n2 = lit(2.0) * col("n")
    val dE = lit(1.0) - col("dnum").cast("double") / (n2 * (n2 - lit(1.0)))
    tot.crossJoin(broadcast(pooled))
      .select(col("n"), col("agree"),
        (lit(1.0) - po).as("d_o"), dE.as("d_e"),
        when(dE > 0, lit(1.0) - (lit(1.0) - po) / dE).as("alpha"))
  }

  /** Calibration (reliability) bins: equal-width bins over a fixed-point
    * score in [0, scale), each reporting mean predicted probability vs
    * observed positive rate — the reliability-diagram table behind a
    * calibration check of any probabilistic scorer.
    *
    * `scoreFp` must be an INTEGER column (score · scale, the repo's
    * fixed-point idiom), so the bin index `⌊score·bins/scale⌋` is integer
    * arithmetic and Σscore per bin is an exact long: `mean_pred` and
    * `frac_pos` are then single divisions of identical exact operands on
    * every engine, and `gap` is one IEEE subtraction of those. Rows with a
    * null score or label are dropped; scores outside [0, scale) clamp to
    * the edge bins (a miscalibrated scorer can emit p slightly past 1).
    *
    * Scale shape: one map-side-combined hash aggregate into at most
    * `bins` rows — nothing else moves.
    */
  def calibrationBins(df: DataFrame, scoreFp: Column, labelCol: Column,
                      bins: Int = 10, scale: Long = 1000L): DataFrame = {
    require(bins > 0 && scale > 0)
    // non-negative exact-integer numerator / modest scale: the double
    // division is correctly rounded, so the long cast IS floor division
    val b = least(floor(greatest(scoreFp.cast("long") * bins, lit(0L)) /
      lit(scale)), lit(bins - 1L)).cast("long")
    df.select(b.as("bin"), scoreFp.cast("long").as("sc"),
        labelCol.cast("int").as("y"))
      .filter(col("sc").isNotNull && col("y").isNotNull)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("sc")).as("ssum"),
        sum(col("y")).as("pos"))
      .select(col("bin"), col("n"),
        (col("ssum").cast("double") / col("n") / scale).as("mean_pred"),
        (col("pos").cast("double") / col("n")).as("frac_pos"),
        (col("pos").cast("double") / col("n") -
          col("ssum").cast("double") / col("n") / scale).as("gap"))
  }

  /** Murphy decomposition of the Brier score (Murphy 1973) — the
    * one-row forecast-quality scorecard [[calibrationBins]]' per-bin
    * table rolls up to:
    *
    *   BS  = mean (f − y)²                          (exact)
    *   REL = Σ_k n_k (f̄_k − ō_k)² / N              (miscalibration)
    *   RES = Σ_k n_k (ō_k − ō)² / N                (discrimination)
    *   UNC = ō (1 − ō)                              (base-rate entropy)
    *
    * BS ≈ REL − RES + UNC, exact when forecasts are constant within a
    * bin (the residual is the within-bin forecast variance — binning's
    * price, reported by comparing `brier` against the identity).
    *
    * Same fixed-point input contract as [[calibrationBins]] (scoreFp ∈
    * [0, scale], same bin rule). Exactness: BS's numerator Σ(sc −
    * y·scale)² is an exact long (one map-side-combined aggregate); the
    * REL/RES bin sums are made order-free by the per-term fixed-point
    * idiom — each n_k(·)² term quantizes to a 1e-9 long and sums as
    * integers over the ≤`bins` bin rows; ō, UNC are single IEEE
    * expressions of exact counts.
    *
    * Scale shape: ONE row-level aggregate to ≤`bins` rows (plus exact
    * global moments carried in the same pass via windows over that
    * bounded table), one 1-row readout. Nothing data-sized moves twice.
    */
  def brierDecompose(df: DataFrame, scoreFp: Column, labelCol: Column,
                     bins: Int = 10, scale: Long = 1000L): DataFrame = {
    require(bins > 0 && scale > 0)
    val b = least(floor(greatest(scoreFp.cast("long") * bins, lit(0L)) /
      lit(scale)), lit(bins - 1L)).cast("long")
    val binned = df.select(b.as("bin"), scoreFp.cast("long").as("sc"),
        labelCol.cast("long").as("y"))
      .filter(col("sc").isNotNull && col("y").isNotNull)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("sc")).as("ssum"),
        sum(col("y")).as("pos"),
        sum((col("sc") - col("y") * lit(scale)) *
          (col("sc") - col("y") * lit(scale))).as("sq"))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val nTot = sum(col("n")).over(wAll)
    val posTot = sum(col("pos")).over(wAll)
    val sqTot = sum(col("sq")).over(wAll)
    val fbar = col("ssum").cast("double") / col("n") / scale
    val obar = col("pos").cast("double") / col("n")
    val oAll = posTot.cast("double") / nTot
    val relTerm = col("n") * (fbar - obar) * (fbar - obar)
    val resTerm = col("n") * (obar - oAll) * (obar - oAll)
    binned
      .withColumn("__N", nTot).withColumn("__P", posTot)
      .withColumn("__SQ", sqTot)
      .withColumn("__relq", floor(relTerm * 1e9 + lit(0.5)).cast("long"))
      .withColumn("__resq", floor(resTerm * 1e9 + lit(0.5)).cast("long"))
      .groupBy(col("__N"), col("__P"), col("__SQ"))
      .agg(sum(col("__relq")).as("__rel"), sum(col("__resq")).as("__res"))
      .select(col("__N").as("n"), col("__P").as("pos"),
        (col("__SQ").cast("double") / (scale.toDouble * scale) / col("__N"))
          .as("brier"),
        (col("__rel").cast("double") / 1e9 / col("__N")).as("reliability"),
        (col("__res").cast("double") / 1e9 / col("__N")).as("resolution"),
        ((col("__P").cast("double") / col("__N")) *
          (lit(1.0) - col("__P").cast("double") / col("__N")))
          .as("uncertainty"))
  }

  /** Ranking-quality scorecard for a retrieval system: per query —
    * `n_rel` (gold size), `rr` (reciprocal rank of the first relevant
    * result anywhere in the list), `p_at_k`, `recall_at_k` and binary
    * `ndcg_at_k`. The standard offline eval block (MRR / P@k / R@k /
    * nDCG@k) a retrieval pipeline publishes per index build.
    *
    * `ranked`: (queryCol, docCol, rankCol) with rank 1-based and dense
    * per query (the caller fixes tie order — rank on a ROUNDED score +
    * id tie-break so float noise cannot reorder across engines).
    * `gold`: (queryCol, docCol) relevant pairs, assumed distinct.
    *
    * Exactness: hit positions are integers; dcg/idcg are sums of ≤ k
    * terms 1/log2(rank+1) — bounded-cardinality float sums (same class
    * as the lm-score oracle), one division per metric at the end.
    *
    * Scale shape: ONE hash join of ranked×gold on (query, doc) — both
    * sides already aggregate-sized (top-k lists and gold sets, not the
    * corpus); per-query metrics are one map-side-combined aggregate.
    * The ideal-DCG denominator needs Σ_{i=1..min(n_rel,k)} 1/log2(i+1):
    * computed by exploding a ≤ k-element sequence per query — bounded
    * ×k replication of |queries| rows, never a data-sized window.
    * Queries with no relevant docs report n_rel=0 and null rr/ndcg.
    * Queries present ONLY in gold (the ranker returned zero rows) still
    * report: n_rel from gold, hits_k=0, recall_at_k=0, ndcg_at_k=0 —
    * an empty ranking is a quality-zero result, not a missing row
    * (dropping it would overstate aggregate MRR/recall).
    */
  /** Split-conformal interval calibration (Vovk's inductive conformal /
    * the Angelopoulos-Bates recipe): from a CALIBRATION set's
    * nonconformity scores, the radius q̂ = the ⌈(n+1)(1−α)⌉-th smallest
    * residual gives prediction intervals ŷ ± q̂ with ≥ 1−α coverage on
    * exchangeable data — distribution-free, model-agnostic, the modern
    * way to put honest error bars on any regressor's output. Reported
    * against a held-out TEST set so the guarantee is itself checked.
    *
    * `residCol` must be an INTEGRAL nonconformity score (quantize floats
    * on the repo's half-up grid upstream) — rank selection is then pure
    * integer comparison, bit-identical cross-engine. One row out:
    * (n_cal, qhat, n_test, n_covered, coverage). When ⌈(n+1)(1−α)⌉ > n
    * the conformal interval is infinite: qhat is null and coverage 1 by
    * definition (every point is covered) — reported, not hidden.
    *
    * Scale shape: the calibration set collapses to distinct residual
    * values (map-side combined; window partition size = distinct grid
    * values); q̂ is a 1-row table cross-joined (broadcast) into one
    * test-side aggregate. Nothing is collected.
    */
  def conformalReport(cal: DataFrame, test: DataFrame, residCol: String,
                      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    import org.apache.spark.sql.expressions.Window
    val dv = cal.filter(col(residCol).isNotNull)
      .groupBy(col(residCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qhat = dv
      .withColumn("__cw", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy()))
      .agg(
        max(col("__n")).as("n_cal"),
        min(when(col("__cw") >= ceil((col("__n") + 1) * lit(1.0 - alpha)),
          col("__v"))).as("qhat"))
    test.filter(col(residCol).isNotNull)
      .select(col(residCol).cast("long").as("__r"))
      .crossJoin(broadcast(qhat))
      .agg(
        max(col("n_cal")).as("n_cal"), max(col("qhat")).as("qhat"),
        count(lit(1)).as("n_test"),
        sum(when(col("qhat").isNull || col("__r") <= col("qhat"), 1L)
          .otherwise(0L)).as("n_covered"))
      .select(col("n_cal"), col("qhat"), col("n_test"), col("n_covered"),
        (col("n_covered").cast("double") / col("n_test")).as("coverage"))
  }

  /** Per-query ranked-retrieval scorecard: MRR, P@k, recall@k, nDCG@k,
    * AP@k — one row per query (full outer with gold, so a query the
    * ranker returned nothing for still surfaces with zero hits).
    * Aggregating `ap_at_k` over queries gives MAP@k, the TREC headline.
    *
    * Scale shape: one candidate×gold equi-join (candidate lists are
    * top-k bounded per query at scale), a per-query cumulative-hit
    * window over that bounded list for AP's P@i terms, an ideal-DCG
    * explode of ≤ k rows per query, and per-query aggregates. Nothing
    * is corpus-mass beyond the input lists themselves.
    */
  def retrievalMetrics(ranked: DataFrame, gold: DataFrame,
                       queryCol: String, docCol: String, rankCol: String,
                       k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val g = gold.select(col(queryCol).as("__q"), col(docCol).as("__d"),
      lit(1).as("__rel"))
    val r = ranked.select(col(queryCol).as("__q"), col(docCol).as("__d"),
      col(rankCol).cast("long").as("__rk"))

    val joined = r.join(g, Seq("__q", "__d"), "left_outer")
      .withColumn("__hit", coalesce(col("__rel"), lit(0)))
    // Average precision needs P@i at every hit position, i.e. the
    // cumulative hit count along the ranking — a per-query window whose
    // partition size is the CANDIDATE LIST length (top-k bounded at
    // scale), never corpus-sized.
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__q")).orderBy(col("__rk").asc)
    val perQ = joined
      .withColumn("__cum", sum(col("__hit")).over(wq))
      .groupBy(col("__q"))
      .agg(
        min(when(col("__hit") === 1, col("__rk"))).as("first_rel"),
        sum(when(col("__hit") === 1 && col("__rk") <= k, 1L).otherwise(0L))
          .as("hits_k"),
        sum(when(col("__hit") === 1 && col("__rk") <= k,
          lit(1.0) / log2(col("__rk") + 1)).otherwise(0.0)).as("dcg"),
        // AP@k numerator: Σ_{hit positions i ≤ k} P@i = cum_i / i
        sum(when(col("__hit") === 1 && col("__rk") <= k,
          col("__cum").cast("double") / col("__rk")).otherwise(0.0))
          .as("ap_num"))

    // gold size per query (counted on the gold side — relevant docs the
    // ranker never returned still belong in the recall denominator)
    val nrel = g.groupBy(col("__q")).agg(count(lit(1)).as("n_rel"))
    val idcg = nrel
      .withColumn("__i", explode(sequence(lit(1L), least(col("n_rel"), lit(k.toLong)))))
      .groupBy(col("__q"))
      .agg(sum(lit(1.0) / log2(col("__i") + 1)).as("idcg"))

    // FULL outer with the gold-side counts: a query the ranker returned
    // nothing for must still surface (with zero hits), or aggregate
    // MRR/recall over the output silently overstates quality
    perQ.join(nrel, Seq("__q"), "full_outer")
      .join(idcg, Seq("__q"), "left_outer")
      .select(col("__q").as(queryCol),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        (lit(1.0) / col("first_rel")).as("rr"),
        (coalesce(col("hits_k"), lit(0L)).cast("double") / k).as("p_at_k"),
        when(col("n_rel") > 0,
          coalesce(col("hits_k"), lit(0L)).cast("double") / col("n_rel"))
          .as("recall_at_k"),
        when(col("idcg").isNotNull,
          coalesce(col("dcg"), lit(0.0)) / col("idcg")).as("ndcg_at_k"),
        // AP@k (TREC-style, min(n_rel, k) normalizer — an oracle ranking
        // that front-loads every findable relevant doc scores 1.0):
        // mean over queries = MAP@k, the headline ranked-retrieval number
        when(col("n_rel") > 0,
          coalesce(col("ap_num"), lit(0.0)) /
            least(col("n_rel"), lit(k.toLong)).cast("double"))
          .as("ap_at_k"))
  }

  /** Temperature-scaling calibration scan (Guo et al., ICML 2017): for
    * each T on a literal grid, the NLL of the sharpened/softened forecast
    * σ(z/T), z = logit(p) — the one-parameter calibrator that fixes
    * over/under-confidence without bending the ranking (isotonic's
    * monotone-map complement; argmin T > 1 means the model was
    * overconfident).
    *
    * Scale shape: the corpus collapses ONCE to distinct (score cell,
    * label) counts (the [[calibrationBins]] fixed-point contract — cells
    * are the score's quantization grid, metadata-sized), so the libm
    * work (ln/exp per (cell, y, T)) runs over ≤2·|cells|·|grid| rows of
    * METADATA, never per fact row; the grid explode is a narrow ×|grid|
    * generator on that collapsed table and one |grid|-row aggregate ends
    * it. Deterministic: each per-cell loss term quantizes to a 1e-9 long
    * (the logregGdStep discipline), multiplies the EXACT cell count
    * (decimal(38,0) — a long would wrap at corpus scale), and sums
    * order-free; argmin compares exact decimal sums, ties to the smaller
    * T.
    *
    * `cellCol`: integral score cell; p = (cell + ½)/scale ∈ (0,1).
    * Returns one row per T: (t, n, nll, best).
    */
  def temperatureScan(df: DataFrame, cellCol: Column, labelCol: Column,
      scale: Long, grid: Seq[Double]): DataFrame = {
    require(grid.nonEmpty && grid.forall(_ > 0), "need positive temperatures")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = df
      .filter(cellCol.isNotNull && labelCol.isNotNull)
      .groupBy(cellCol.cast("long").as("cell"),
        labelCol.cast("long").as("y"))
      .agg(count(lit(1)).as("cnt"))
    val p = (col("cell").cast("double") + lit(0.5)) / lit(scale.toDouble)
    val z = log(p / (lit(1.0) - p))
    val terms = cells
      .withColumn("t", explode(array(grid.map(lit(_)): _*)))
      .withColumn("zt", z / col("t"))
      .withColumn("lq",
        floor((log(lit(1.0) + exp(col("zt"))) - col("y") * col("zt")) * 1e9 +
          lit(0.5)).cast(dec) * col("cnt"))
    val perT = terms.groupBy(col("t"))
      .agg(sum(col("cnt")).as("n"), sum(col("lq")).cast(dec).as("lq"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    perT
      .withColumn("__best",
        min(struct(col("lq"), col("t"))).over(wAll))
      .select(col("t"), col("n"),
        (col("lq").cast("double") / 1e9 / col("n")).as("nll"),
        (col("__best.lq") === col("lq") && col("__best.t") === col("t"))
          .as("best"))
  }

  /** McNemar's test (1947) for PAIRED classifiers — "is model A better
    * than model B on the same rows?", the question [[confusionStats]]'s
    * two independent summaries cannot answer (their errors correlate
    * through the shared examples). Only the discordant pairs carry
    * information: b = #(A right, B wrong), c = #(A wrong, B right),
    *
    *   χ² = (|b − c| − 1)² / (b + c)     (continuity-corrected)
    *
    * with the engine-portable logistic normal tail of z = √χ² as p
    * (1 dof: χ² = z²). The gate an A/B model swap runs before shipping.
    *
    * Exactness: the four cells are exact longs from ONE aggregate; χ²,
    * z, p are fixed IEEE readouts (callers qround). NULL χ²/p when
    * b + c = 0 (no disagreement — the test is vacuous).
    *
    * Scale shape: one map-side-combined 1-row aggregate; nothing else
    * moves.
    */
  def mcnemar(df: DataFrame, predACol: Column, predBCol: Column,
      labelCol: Column): DataFrame = {
    val y = labelCol.cast("boolean")
    val ra = predACol.cast("boolean") === y
    val rb = predBCol.cast("boolean") === y
    val agg = df
      .filter(y.isNotNull && predACol.isNotNull && predBCol.isNotNull)
      .agg(count(lit(1)).as("n"),
        count_if(ra && rb).as("both_right"),
        count_if(ra && !rb).as("b"),
        count_if(!ra && rb).as("c"),
        count_if(!ra && !rb).as("both_wrong"))
    val bc = (col("b") + col("c")).cast("double")
    // Continuity correction clamped at zero: when b = c the discordant
    // cells carry no signal, so χ² must be 0 (not 1/(b+c)).
    val dev = greatest(abs(col("b") - col("c")).cast("double") - 1.0,
      lit(0.0))
    val chi2 = dev * dev / bc
    agg.select(col("n"), col("both_right"), col("b"), col("c"),
      col("both_wrong"),
      when(bc > 0, chi2).as("chi2_cc"),
      when(bc > 0,
        lit(2.0) / (lit(1.0) + exp(lit(1.702) * sqrt(chi2)))).as("p"))
  }

  /** Matthews correlation coefficient per group — the single-number
    * confusion summary that stays honest under class imbalance (F1
    * ignores TN; accuracy saturates):
    *
    *   MCC = (tp·tn − fp·fn) / √((tp+fp)(tp+fn)(tn+fp)(tn+fn))
    *
    * ∈ [−1, 1], 0 = chance. The counts-only companion to [[groupAuc]]
    * for hard (thresholded) predictions.
    *
    * Exactness: cells are exact longs; the numerator products widen to
    * decimal(38,0) (tp·tn passes 2⁶³ at corpus scale) while the
    * denominator is computed as the PRODUCT OF FOUR SQUARE ROOTS (the
    * 4-factor integer product passes even decimal(38) at ~1e10 rows;
    * √a·√b·√c·√d is the overflow-free fixed IEEE form both engines
    * replay term-for-term). NULL when any marginal is empty.
    *
    * Scale shape: one map-side-combined ≤|groups| aggregate; group-row
    * algebra after.
    */
  def matthewsCorr(df: DataFrame, groupCol: String, predCol: Column,
      labelCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val y = labelCol.cast("boolean"); val yh = predCol.cast("boolean")
    val agg = df
      .filter(y.isNotNull && yh.isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count_if(yh && y).as("tp"), count_if(yh && !y).as("fp"),
        count_if(!yh && !y).as("tn"), count_if(!yh && y).as("fn"))
    def d19(c: Column) = c.cast(dec19)
    val num = (d19(col("tp")) * d19(col("tn"))).cast(dec) -
      (d19(col("fp")) * d19(col("fn"))).cast(dec)
    val den = sqrt((col("tp") + col("fp")).cast("double")) *
      sqrt((col("tp") + col("fn")).cast("double")) *
      sqrt((col("tn") + col("fp")).cast("double")) *
      sqrt((col("tn") + col("fn")).cast("double"))
    agg.select(col(groupCol), col("tp"), col("fp"), col("tn"), col("fn"),
      when(den > 0, num.cast("double") / den).as("mcc"))
  }
}
