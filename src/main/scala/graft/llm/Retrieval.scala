package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Okapi BM25 scoring — the lexical-retrieval primitive a training-data
  * pipeline uses for targeted corpus search: pulling documents that match
  * an eval-set query (contamination triage), mining domain-specific
  * subcorpora by keyword, or building sparse-retrieval baselines next to
  * the embedding ANN tiers in [[Similarity]].
  *
  * Score of a single-term query t against document d (Robertson/Walker):
  *
  *   idf(t)      = ln(1 + (N − df + 0.5)/(df + 0.5))
  *   bm25(t, d)  = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *
  * with N docs, df the term's document frequency, dl the doc length and
  * avgdl the mean length. Multi-term query scores are sums of per-term
  * scores — callers aggregate the returned per-term rows.
  *
  * Scale shape: the corpus is tokenized once into a (term, doc) frequency
  * table (one hash aggregate); the query-term set — small by definition —
  * is BROADCAST against it, so the corpus-sized table is filtered without
  * a shuffle on the big side; df and the corpus stats are computed on the
  * already-filtered (tiny) match set and a 1-row broadcast respectively.
  * Nothing corpus-sized moves after the first aggregate.
  */
object Retrieval {

  /** docs × terms → (term, doc_id, tf, score) for every document that
    * contains the term (tf ≥ 1). `terms` is a 1-column DataFrame of
    * single tokens; it is broadcast (query sets are small).
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String, terms: DataFrame,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // spread: tokenization otherwise runs at scan parallelism (one task on
    // single-row-group local files; no-op at scale — Partitioning.spread)
    val t = graft.ops.Partitioning.spread(
        docs.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"), split(col(textCol), " ").as("ws"))
    val dl = t.select(col("doc_id"), size(col("ws")).as("dl"))

    val termCol = terms.columns.head
    val tf = t.select(col("doc_id"), explode(col("ws")).as("term"))
      .join(broadcast(terms.select(col(termCol).as("term"))), Seq("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    score(tf, dl, k1, b)
  }

  /** [[bm25]] over a PRE-AGGREGATED term-frequency table — the shared-scan
    * form: callers that also run term discovery (e.g. hybrid retrieval)
    * tokenize the corpus ONCE into (term, doc_id, tf) and feed both passes
    * from it, instead of exploding the corpus a second time. Document
    * lengths and corpus stats are recovered exactly from the tf table
    * itself (dl = Σ tf per doc — `split` emits a token for every position,
    * so the sum equals the original token count; N and avgdl follow), so
    * scores are bit-identical to [[bm25]] on the same corpus.
    *
    * PRECONDITION: every corpus document must contribute ≥ 1 tf row —
    * i.e. no null/empty text. A doc that tokenizes to zero rows is
    * invisible here, so N and avgdl would exclude it and idf would shift,
    * diverging from [[bm25]] (and from any oracle that counts every
    * document row). Callers with nullable text must filter or count
    * N/avgdl from the docs table themselves before using this form.
    */
  def bm25FromTf(tfAll: DataFrame, terms: DataFrame,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame =
    scoreFromTf(tfAll,
      tfAll.groupBy("doc_id").agg(sum(col("tf")).as("dl")), terms, k1, b)

  /** [[bm25FromTf]] with the document table passed explicitly — the
    * null-text-safe form: N and avgdl are computed over EVERY document
    * in `docs` (zero-token docs count with dl = 0), exactly as [[bm25]]
    * and any oracle that counts every document row would, instead of
    * only over docs that contributed ≥ 1 tf row. Use this form whenever
    * the corpus may contain null/empty text; the two-argument form keeps
    * the strict no-empty-docs precondition documented above.
    */
  def bm25FromTf(tfAll: DataFrame, terms: DataFrame, docs: DataFrame,
                 docIdCol: String, k1: Double, b: Double): DataFrame = {
    val dl = docs.select(col(docIdCol).as("doc_id")).distinct()
      .join(tfAll.groupBy("doc_id").agg(sum(col("tf")).as("dl")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("dl"), lit(0L)).as("dl"))
    scoreFromTf(tfAll, dl, terms, k1, b)
  }

  private def scoreFromTf(tfAll: DataFrame, dl: DataFrame, terms: DataFrame,
                          k1: Double, b: Double): DataFrame = {
    val termCol = terms.columns.head
    score(tfAll.join(broadcast(terms.select(col(termCol).as("term"))), Seq("term")),
      dl, k1, b)
  }

  /** The BM25 readout over the query terms' (term, doc_id, tf) rows, with
    * N and avgdl taken from the (doc_id, dl) length table. Fixed operand
    * order, mirrored by the oracle SQL.
    */
  private def score(tf: DataFrame, dl: DataFrame, k1: Double, b: Double): DataFrame = {
    val stats = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("term"), col("doc_id"), col("tf"),
        (log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("score"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) — the standard
    * way to merge a lexical run ([[bm25]]) with a dense run
    * ([[Similarity]] top-k) into one hybrid ranking without score
    * calibration:
    *
    *   rrf(d) = Σ_runs 1/(k + rank_run(d))      (k = 60 classically)
    *
    * Input runs are (doc, score) candidate lists — each ALREADY truncated
    * to its top-N by the producing ranker, so everything here moves
    * bounded candidate sets, never the corpus. Ranks are assigned within
    * each run by score DESC; the rank basis is the score rounded at 1e-6
    * with doc id as tie-break (the [[graft.ops]] stable-ranking idiom —
    * float noise below the grain cannot flip a rank cross-engine). Docs
    * missing from a run simply contribute nothing for it.
    *
    * Scale shape: each run gets one |candidates|-sized window (partition =
    * the whole run — bounded by construction, the point of candidate
    * truncation); the union + final aggregate touch Σ|runs| rows.
    */
  def rrfFuse(runs: Seq[(String, DataFrame)], docCol: String,
              scoreCol: String, k: Int = 60): DataFrame = {
    require(runs.nonEmpty, "rrfFuse needs at least one run")
    val ranked = runs.map { case (name, run) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy((floor(col("s") * 1e6 + 0.5) / 1e6).desc, col("doc").asc)
      run.select(col(docCol).as("doc"), col(scoreCol).as("s"))
        .withColumn("rank", row_number().over(w))
        .select(col("doc"), lit(name).as("run"), col("rank"))
    }.reduce(_ unionAll _)
    ranked.groupBy(col("doc").as(docCol))
      .agg(count(lit(1)).as("n_runs"),
        sum(lit(1.0) / (col("rank") + lit(k))).as("rrf"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein, SIGIR
    * 1998): per query, greedily pick k results maximizing
    *   λ·rel(c) − (1−λ)·max_{s ∈ selected} sim(c, s)
    * — the diversity-aware re-rank that keeps a near-duplicate-heavy
    * candidate list from filling the whole top-k with restatements; the
    * standard data-selection step between retrieval and training-batch
    * assembly.
    *
    * Inputs are the two tables ANY upstream tier produces:
    * `cand(query_id, cand_id, rel)` — a BOUNDED candidate set per query
    * (the CANDIDATE-SET contract: c in the tens, from a top-c retrieval
    * cut) — and `sims(query_id, a_id, b_id, sim)` holding BOTH directions
    * of each within-query candidate pair (Θ(c²) per query, priced once
    * upstream; vectors are never touched here).
    *
    * Determinism: callers pass rel/sim pre-quantized (qround 6dp — every
    * tier here already does); λ is a literal, so each round's score is
    * one fixed IEEE expression of identical doubles on every engine, and
    * ties break on cand_id. Greedy is inherently sequential in k, NOT in
    * data: each of the k rounds is one bounded join + one per-query
    * argmax window over the queries-sized candidate table, parallel
    * across queries; round results are checkpointed (constant rows per
    * query) so lineage stays flat. k is a result-page constant.
    *
    * Returns (query_id, round, cand_id, score), round = 1..k in pick
    * order.
    */
  def mmrSelect(cand: DataFrame, sims: DataFrame, lambda: Double, k: Int)
      : DataFrame = {
    require(k >= 1 && lambda >= 0 && lambda <= 1, "need k ≥ 1, λ ∈ [0,1]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    var selected: DataFrame = null
    for (r <- 1 to k) {
      val remaining =
        if (r == 1) cand
        else cand.join(selected.select(col("query_id"), col("cand_id")),
          Seq("query_id", "cand_id"), "left_anti")
      val scored =
        if (r == 1)
          remaining.withColumn("score", lit(lambda) * col("rel"))
        else {
          val maxSim = sims
            .join(selected.select(col("query_id"),
              col("cand_id").as("b_id")), Seq("query_id", "b_id"))
            .groupBy(col("query_id"), col("a_id").as("cand_id"))
            .agg(max(col("sim")).as("max_sim"))
          remaining.join(maxSim, Seq("query_id", "cand_id"), "left")
            .withColumn("score", lit(lambda) * col("rel") -
              lit(1.0 - lambda) * coalesce(col("max_sim"), lit(0.0)))
        }
      val pick = scored
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("query_id"), lit(r).as("round"), col("cand_id"),
          col("score"))
        .localCheckpoint(true)
      selected = if (r == 1) pick else selected.unionAll(pick)
    }
    selected
  }
}
