package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.ExprUtil.bound

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, document fingerprinting.
  *
  * Everything is built-in Column expressions (whole-stage codegen, no UDFs):
  * higher-order `filter`/`transform` over `split` arrays for token-level
  * logic, `regexp_*` for character-level. Per-document work is
  * embarrassingly parallel — no shuffle anywhere in this module — so it
  * scales linearly with input bytes, which is exactly what you want for a
  * 100 TB corpus scrub pass.
  */
object TextAnalysis {

  /** Whitespace tokens (the corpus normalizes to single spaces upstream). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish token count: letter runs, digit runs, and single non-space
    * symbols each count as one token (a cheap, deterministic proxy for a
    * real subword tokenizer's length signal).
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))).cast("long")

  private def countIn(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words: _*)))

  /** Share of tokens that are in `stopwords` (0 when the doc is empty). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val n = size(tokens(text))
    when(n > 0, countIn(text, stopwords).cast("double") / n).otherwise(0.0)
  }

  /** Mean characters per token (token chars = length minus the separators). */
  def avgWordLen(text: Column): Column = {
    val n = size(tokens(text))
    when(n > 0, (length(text) - (n - 1)).cast("double") / n).otherwise(0.0)
  }

  /** Composite quality score in [0,1]: length (capped), stopword density
    * (natural-language signal), and word-length plausibility. Deterministic
    * and cheap — designed as a pre-filter before expensive dedup/similarity.
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    lit(0.4) * least(tokenCount(text).cast("double") / 100.0, lit(1.0)) +
      lit(0.3) * least(stopwordRatio(text, stopwords) * 5.0, lit(1.0)) +
      lit(0.3) * least(avgWordLen(text) / 8.0, lit(1.0))

  /** Per-language stopword tables for the stopword language-ID heuristic.
    * Tiny, inlined as literals into the expression.
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est"),
    "de" -> Seq("der", "die", "das", "und", "ein", "zu", "ist", "nicht"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "en", "es"),
    "zh" -> Seq("的", "是", "在", "我", "有", "他", "这", "不"))

  /** Language ID: argmax of per-language stopword hit counts, deterministic
    * preference order on ties (declaration order above). Pure expression —
    * one pass, no shuffle.
    */
  def langId(text: Column): Column = {
    val counts = langStopwords.map { case (lang, words) => lang -> countIn(text, words) }
    counts.foldRight(lit("und")) { case ((lang, c), rest) =>
      val geAll = counts.filter(_._1 != lang).map(_._2)
        .foldLeft(lit(true))((acc, o) => acc && c >= o)
      when(geAll, lit(lang)).otherwise(rest)
    }
  }

  /** Canonical-form document fingerprint: lowercase, collapse whitespace,
    * trim, md5. Equal fingerprints = exact duplicates modulo
    * case/whitespace — the cheap first rung of the dedup ladder.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Polynomial base/powers for the character rolling hash (stepwise mod —
    * shared with the DuckDB oracle SQL, which inlines the same literals).
    */
  val CharPolyA: Long = MinHashDedup.PolyA1
  private[graft] def charPolyPow(e: Int): Long = MinHashDedup.powMod(CharPolyA, e)

  /** Winnowing document fingerprints (rolling-hash selection): hash every
    * character k-gram with a polynomial rolling hash over code points
    * (h = Σ cᵢ·Aᵏ⁻¹⁻ʲ mod M — the classic winnowing formulation; integer
    * algebra reproducible in any engine, no digest calls), then keep the
    * minimum hash of each sliding window of `w` consecutive k-grams,
    * distinct. Standard winnowing guarantees: any shared substring of
    * length ≥ k + w − 1 contributes at least one shared fingerprint, so
    * partial overlap (plagiarism / quote / boilerplate) is detectable from
    * tiny fingerprint sets instead of full text. Pure array expression per
    * document — no shuffle; pair detection over the fingerprints is
    * [[winnowingPairs]].
    */
  def winnowingFingerprints(text: Column, k: Int = 8, w: Int = 4): Column = {
    val M = MinHashDedup.Mod
    val pows = (0 until k).map(j => charPolyPow(k - 1 - j))
    val cs = transform(sequence(lit(1), length(text)), i => ascii(text.substr(i, lit(1))).cast("long"))
    bound(cs) { c =>
      val n = size(c)
      val grams = when(n >= k,
        transform(sequence(lit(1), n - (k - 1)), i =>
          pows.zipWithIndex.map { case (p, j) =>
            element_at(c, i + lit(j)) * p % M
          }.reduce(_ + _) % M))
        .otherwise(array().cast("array<long>"))
      bound(grams) { hashes =>
        when(size(hashes) >= w,
          array_distinct(transform(sequence(lit(1), size(hashes) - (w - 1)),
            j => array_min(slice(hashes, j, lit(w))))))
          .otherwise(when(size(hashes) > 0, array(array_min(hashes)))
            .otherwise(array().cast("array<long>")))
      }
    }
  }

  /** Intra-document repetition signals — the Gopher/C4-style cleaning
    * rules near-dup detection can't see (repetition WITHIN one document:
    * looped generations, boilerplate stuffing, keyword spam):
    *
    *  - `dup_word_frac`: 1 − distinct/total words — high for token loops;
    *  - `top_bigram_frac`: share of all bigrams taken by the most frequent
    *    one — high for phrase loops even when word diversity looks fine.
    *
    * Computed on a bounded prefix (`maxWords`) so per-document cost is
    * bounded whatever the document length; bigram multiplicity runs over
    * Rabin-Karp bigram hashes (long equality, the same md5-word algebra as
    * [[MinHashDedup]], so the DuckDB oracle reproduces it exactly).
    * Returns struct(dup_word_frac, top_bigram_frac); pure per-row
    * expression, no shuffle.
    */
  def repetitionSignals(text: Column, maxWords: Int = 500): Column =
    bound(slice(split(text, " "), 1, maxWords)) { ws =>
      val n = size(ws)
      val dupWordFrac =
        when(n > 0, lit(1.0) - size(array_distinct(ws)).cast("double") / n).otherwise(0.0)
      val wh = transform(ws, w =>
        graft.functions.Md5Hash60.hash60(w) % MinHashDedup.Mod)
      bound(MinHashDedup.rollingShingleHashes(wh, 2)) { bg =>
        val total = size(bg)
        val maxMult = array_max(transform(array_distinct(bg),
          g => size(filter(bg, x => x === g))))
        struct(dupWordFrac.as("dup_word_frac"),
          when(total > 0, maxMult.cast("double") / total).otherwise(0.0).as("top_bigram_frac"))
      }
    }

  /** Winnowing near-dup pairs: inverted index over the fingerprint sets —
    * explode (id, fp), bucket by fp, emit in-bucket pairs, count shared
    * fingerprints per pair, keep pairs sharing ≥ `minShared`. Pairs with
    * zero shared fingerprints never materialize (the inverted-index
    * property). Fingerprints appearing in more than `maxDocFreqRatio` of
    * the corpus are dropped — the IR document-frequency cut: corpus-wide
    * boilerplate carries no discrimination signal and is exactly what
    * makes bucket sizes (and the quadratic pair step) blow up, so the cut
    * is a RATIO, scale-invariant, not an absolute bucket size. Detects
    * partial overlap (quotes / plagiarism / shared boilerplate ≥ k+w−1
    * chars), which whole-document similarity measures dilute away.
    *
    * Exact-duplicate collapse (same discipline as [[NGramJaccard]]): docs
    * with IDENTICAL fingerprint sets are interchangeable in every pair —
    * n_shared between a and b depends only on their two sets and the
    * per-fingerprint document frequency. So the pair machinery runs over
    * one representative per distinct set, with df computed as the
    * group-size-weighted sum (identical to the uncollapsed df), and the
    * result expands back to member pairs afterwards. Without this, a
    * replica-heavy corpus (THE dominant dup shape at web scale) pays
    * C(replicas,2) bucket-pair rows per fingerprint: the sf1 bench
    * measured 130 s for 10×-replicated docs where sf0.1 takes 0.6 s.
    */
  def winnowingPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minShared: Int = 2,
      maxDocFreqRatio: Double = 0.05,
      /** corpus row count, if the caller already knows it — saves the
        * extra counting pass over (a possibly expensive derivation of)
        * `docs` that the df-ratio cap otherwise needs.
        */
      corpusSize: Option[Long] = None,
      /** path switch, not a recall cut (same discipline as the SimHash /
        * cosine pair generators): buckets up to this size expand in-array
        * (one row per bucket, cheapest); larger ones — the df-ratio cap
        * still bounds them at `maxDocFreqRatio`·N, which GROWS with the
        * corpus — self-join on the fingerprint instead, streaming the
        * C(bucket,2) output rather than materializing it as one giant
        * per-row array (a 2500-member bucket is a 3M-element array row).
        */
      bucketCap: Int = 1000): DataFrame = {
    val n = corpusSize.getOrElse(docs.count())
    val cap = math.max(2L, math.floor(maxDocFreqRatio * n).toLong)
    val numParts = docs.sparkSession.sessionState.conf.numShufflePartitions
    // small single-file scans arrive as 1-2 partitions, serializing the
    // per-doc hashing; spread only when the scan is under-partitioned (a
    // no-op at scale, where scans carry natural parallelism)
    val spread = if (docs.inputFiles.length < numParts) docs.repartition(numParts) else docs
    val withFps = spread.select(col(idCol).as("id"),
        winnowingFingerprints(col(textCol), k, w).as("fps"))
      // to_json is an injective array encoding, so distinct sets cannot
      // collide into one group key; fingerprint-less docs pair with
      // nothing and stay out of groups via a solo key
      .withColumn("gkey", when(size(col("fps")) > 0,
          md5(to_json(sort_array(col("fps")))))
        .otherwise(concat(lit("solo:"), col("id").cast("string"))))
      .localCheckpoint(false) // members, group sizes, and reps all read it
    val members = withFps.select(col("gkey"), col("id"))
    // one agg yields both the group size and the representative set —
    // first() is safe because every member of a group has the IDENTICAL
    // fps array (that is the group key definition)
    val groups = withFps.groupBy("gkey")
      .agg(count(lit(1)).as("m"), first(col("fps")).as("fps"))
      .localCheckpoint(false) // exploded below with two consumers
    val groupSize = groups.select(col("gkey"), col("m"))
    // (gkey, fp) over DISTINCT sets only, weighted by group size; df is
    // then Σ m over the groups containing fp — exactly the uncollapsed
    // document frequency
    val gfp = groups.select(col("gkey"), col("m"), explode(col("fps")).as("fp"))
    val surviving = gfp
      .join(gfp.groupBy("fp").agg(sum(col("m")).as("df"))
        .filter(col("df") >= 2 && col("df") <= cap), "fp")
      .select("fp", "gkey")
      .localCheckpoint(false) // cross-group buckets + intra-group counts
    val buckets = surviving
      .groupBy("fp").agg(sort_array(collect_list(col("gkey"))).as("gks"))
      .filter(size(col("gks")) >= 2)
      .localCheckpoint(false) // two consumers (small/big split) — agg runs once
    val smallPairs = buckets.filter(size(col("gks")) <= bucketCap)
      // explicit-count repartition: the bucket table is BYTES-small but the
      // C(bucket,2) expansion below multiplies it — AQE's coalescing sees
      // only the bytes and would funnel the quadratic step through one
      // core; an explicit count is preserved by AQE
      .repartition(numParts)
      .select(explode(flatten(transform(col("gks"), (x, i) =>
        transform(slice(col("gks"), i + lit(2), size(col("gks"))), y =>
          struct(x.as("gk_a"), y.as("gk_b")))))).as("p"))
      .select(col("p.gk_a").as("gk_a"), col("p.gk_b").as("gk_b"))
    val bigRows = buckets.filter(size(col("gks")) > bucketCap)
      .select(col("fp"), explode(col("gks")).as("gk"))
      .localCheckpoint(false) // both sides of the self-join below
    val bigPairs = bigRows.select(col("fp"), col("gk").as("gk_a"))
      .join(bigRows.select(col("fp"), col("gk").as("gk_b")), Seq("fp"))
      .filter(col("gk_a") < col("gk_b"))
      .select("gk_a", "gk_b")
    val groupPairs = smallPairs.unionByName(bigPairs)
      .groupBy("gk_a", "gk_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    // expand group pairs to member pairs — cost is the true output size,
    // paid by any implementation that emits these pairs
    val crossPairs = groupPairs
      .join(members.select(col("gkey").as("gk_a"), col("id").as("id_a")), "gk_a")
      .join(members.select(col("gkey").as("gk_b"), col("id").as("id_b")), "gk_b")
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("n_shared"))
    // members of one group share their whole surviving set with each other
    val intraPairs = surviving.groupBy("gkey").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(groupSize.filter(col("m") >= 2), "gkey")
      .join(members.select(col("gkey"), col("id").as("id_a")), "gkey")
      .join(members.select(col("gkey"), col("id").as("id_b")), "gkey")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"))
    crossPairs.unionByName(intraPairs)
  }

  /** Word n-grams as strings — the shared shingle helper; kept as a named
    * alias here so the text-analysis surface reads naturally.
    */
  def ngramStrings(text: Column, n: Int): Column = MinHashDedup.shingles(text, n)

  /** Bigram language-model quality scoring — the CCNet-style perplexity
    * filter (Wenzek et al. 2020): train an add-k-smoothed bigram LM on the
    * corpus itself, score each document by the mean log-probability of its
    * token transitions. Low scores mark improbable token sequences (OCR
    * noise, encoding damage, keyword stuffing) that per-document surface
    * heuristics ([[textQuality]]) cannot see, because the yardstick is the
    * corpus-wide transition distribution.
    *
    *   P(w_i | w_{i-1}) = (C(w_{i-1}, w_i) + a) / (C(w_{i-1}) + a·V)
    *
    * with V = vocabulary size and `addK` = a. Documents with fewer than 2
    * tokens have no transitions and score null.
    *
    * Scale shape: unigram/bigram count tables are vocabulary-sized hash
    * aggregates with map-side combine; scoring joins the corpus's bigram
    * stream to those tables (gram-keyed shuffles of fixed-width rows —
    * count tables are far smaller than the stream, so AQE broadcasts
    * them when they fit) and reduces per document. Nothing quadratic,
    * no driver state; the trained counts are themselves a reusable
    * artifact (persist via [[graft.aram.ModelStore]] to score future
    * batches without retraining).
    *
    * Returns (doc_id, n_tokens, n_bigrams, lm_logp): per-doc token and
    * transition counts plus the mean natural-log probability.
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String,
      addK: Double = 0.5): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
    val uniC = toks.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val vocab = uniC.agg(count(lit(1)).as("v")) // 1-row side, broadcast below
    val bg = toks.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("prev"),
          element_at(col("ws"), i + 1).as("cur")))).as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.cur").as("cur"))
    val biC = bg.groupBy("prev", "cur").agg(count(lit(1)).as("cbw"))
    val scored = bg.join(biC, Seq("prev", "cur"))
      .join(uniC.select(col("w").as("prev"), col("cw").as("cprev")), Seq("prev"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        log((col("cbw") + addK) / (col("cprev") + col("v") * addK)).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), avg(col("lp")).as("alp"))
    docs.select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).as("n_tokens"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("alp"))
  }

  /** Corpus-wide top-k n-grams by occurrence count — the frequency table
    * tokenizer training (BPE merges, vocabulary induction) starts from.
    * Deterministic total order (count desc, gram asc) so the cut is
    * reproducible. Shape: explode → hash aggregate with map-side combine
    * (gram-keyed) → TakeOrdered top-k; one shuffle of the gram table, never
    * the corpus.
    */
  /** Vocabulary coverage curve — what fraction of corpus TOKEN MASS the
    * top-k most frequent terms cover, at each requested k: the tokenizer-
    * sizing table (vocab budget vs OOV mass is read straight off it).
    * Ranking is the deterministic (count desc, term asc) total order, so
    * boundary ties resolve identically in any engine.
    *
    * Scale shape: term counting is one map-side-combined aggregate; the
    * rank and running token mass over the vocabulary-sized table are TWO
    * [[graft.ops.PrefixScan]] passes (range-partitioned parallel scans —
    * a million-term vocabulary never funnels through one reducer); the
    * ×|ks| explode and final aggregate touch |vocab|·|ks| tiny rows.
    */
  /** Context-window truncation-loss audit: for each group (source,
    * language) and each candidate context limit L, how many documents
    * exceed L tokens and what share of the group's token mass falls past
    * the cut — the table that prices a context-length / chunking
    * decision before committing a training run. Complements
    * [[chunkByTokens]] (which SPENDS the decision) and the padding-waste
    * report (the short-side twin).
    *
    * Exactness: whitespace token counts and the per-(group, L) sums are
    * exact longs from ONE aggregate over a ×|limits| literal explode;
    * the two shares are single divisions (callers qround).
    *
    * Scale shape: one narrow per-row token count + a bounded ×|limits|
    * generator, one map-side-combined (group, L) aggregate. Nothing
    * else moves.
    */
  def truncationLoss(docs: DataFrame, groupCol: String, textCol: String,
      limits: Seq[Int]): DataFrame = {
    require(limits.nonEmpty, "need at least one context limit")
    val base = docs
      .filter(col(groupCol).isNotNull && col(textCol).isNotNull)
      .select(col(groupCol).as("g"), tokenCount(col(textCol)).as("tk"))
    base
      .select(col("g"), col("tk"),
        explode(array(limits.map(l => lit(l.toLong)): _*)).as("lim"))
      .groupBy("g", "lim")
      .agg(count(lit(1)).as("n_docs"),
        count_if(col("tk") > col("lim")).as("n_truncated"),
        sum(col("tk")).as("tokens_total"),
        sum(greatest(col("tk") - col("lim"), lit(0L))).as("tokens_lost"))
      .select(col("g").as(groupCol), col("lim"), col("n_docs"),
        col("n_truncated"), col("tokens_total"), col("tokens_lost"),
        (col("n_truncated").cast("double") / col("n_docs"))
          .as("doc_share_truncated"),
        when(col("tokens_total") > 0,
          col("tokens_lost").cast("double") / col("tokens_total"))
          .as("token_share_lost"))
  }

  /** Dunning log-likelihood keyness (G², Dunning 1993) between two
    * corpus slices — "which terms DISTINGUISH slice A from slice B":
    * the corpus-diff forensic behind contamination hunts, source-mix
    * shifts, and template detection, where raw frequency ratios drown
    * in low-count noise. Per term with slice counts (tf_a, tf_b) and
    * totals (N_A, N_B):
    *
    *   E_A = N_A·(tf_a+tf_b)/(N_A+N_B)   (E_B symmetric)
    *   G²  = 2·(tf_a·ln(tf_a/E_A) + tf_b·ln(tf_b/E_B)),  0·ln0 = 0
    *
    * Top-k by G² with the rounded-rank discipline: the sort key is G²
    * ROUNDED to 1e-6 with term-ascending tie-break, so the cut is
    * engine-exact. `enriched_in` says which side over-represents the
    * term (cross-multiplied exact integer compare).
    *
    * Exactness: counts exact from ONE (term, slice) collapse; each G²
    * is a fixed per-term IEEE expression of exact operands (no
    * accumulation across terms).
    *
    * Scale shape: one token explode + one map-side-combined term
    * aggregate (the tf-idf shuffle class), a 1-row totals broadcast,
    * one TakeOrdered cut. Nothing is collected.
    */
  def keyness(docs: DataFrame, textCol: String, inACol: Column,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val t = col("tf_a") + col("tf_b")
    val ea = col("na").cast("double") * t / (col("na") + col("nb"))
    val eb = col("nb").cast("double") * t / (col("na") + col("nb"))
    val g2 = lit(2.0) * (
      when(col("tf_a") > 0,
        col("tf_a").cast("double") * log(col("tf_a").cast("double") / ea))
        .otherwise(lit(0.0)) +
      when(col("tf_b") > 0,
        col("tf_b").cast("double") * log(col("tf_b").cast("double") / eb))
        .otherwise(lit(0.0)))
    sliceCounts(docs, textCol, inACol)
      .select(col("term"), col("tf_a"), col("tf_b"),
        (floor(g2 * 1e6 + 0.5) / 1e6).as("g2"),
        when(col("tf_a").cast("double") * col("nb") >
          col("tf_b").cast("double") * col("na"), lit("A"))
          .otherwise(lit("B")).as("enriched_in"))
      .orderBy(col("g2").desc, col("term").asc)
      .limit(k)
  }

  /** Per term, its token count in slice A (`tf_a`, `inACol` true) and in
    * slice B (`tf_b`), with the slice totals `na`/`nb` broadcast onto
    * every row — the table [[keyness]] and [[monroeLogOdds]] score.
    */
  private def sliceCounts(docs: DataFrame, textCol: String, inACol: Column): DataFrame = {
    val base = docs
      .filter(col(textCol).isNotNull && inACol.isNotNull)
      .select(inACol.cast("boolean").as("a"),
        explode(tokens(col(textCol))).as("term"))
    val tf = base.groupBy("term")
      .agg(count_if(col("a")).as("tf_a"), count_if(!col("a")).as("tf_b"))
      .localCheckpoint(false) // totals + the readout share it
    val tot = tf.agg(sum(col("tf_a")).as("na"), sum(col("tf_b")).as("nb"))
    tf.crossJoin(broadcast(tot))
  }

  /** Monroe–Colaresi–Quinn (2008) "Fightin' Words" log-odds keyness with
    * an informative Dirichlet prior — [[keyness]]'s companion that fixes
    * G²'s frequency bias: the pooled corpus frequencies serve as the
    * prior (α_t = priorMass · (y_At + y_Bt) / (n_A + n_B)), so rare
    * terms shrink toward zero instead of dominating the ranking, and the
    * readout is a per-term z-score directly comparable across terms:
    *
    *   δ_t = ln((y_At + α_t) / (n_A + α₀ − y_At − α_t))
    *       − ln((y_Bt + α_t) / (n_B + α₀ − y_Bt − α_t))
    *   σ²_t ≈ 1/(y_At + α_t) + 1/(y_Bt + α_t),     z_t = δ_t / σ_t
    *
    * Top-k by |z| on the 1e-6 rounded rank (term tie-break).
    *
    * Exactness: counts exact from ONE (term, slice) collapse; α_t, δ, σ,
    * z are fixed per-term IEEE expressions of exact operands and the
    * 1-row totals broadcast (no accumulation across terms).
    *
    * Scale shape: identical to [[keyness]] — one token explode + one
    * map-side-combined term aggregate, a 1-row totals broadcast, one
    * TakeOrdered cut. Nothing is collected.
    */
  def monroeLogOdds(docs: DataFrame, textCol: String, inACol: Column,
      priorMass: Double, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(priorMass > 0, s"priorMass must be > 0, got $priorMass")
    val alphaT = lit(priorMass) * (col("tf_a") + col("tf_b")).cast("double") /
      (col("na") + col("nb")).cast("double")
    val a0 = lit(priorMass)
    val delta =
      log((col("tf_a") + alphaT) /
        (col("na").cast("double") + a0 - col("tf_a") - alphaT)) -
      log((col("tf_b") + alphaT) /
        (col("nb").cast("double") + a0 - col("tf_b") - alphaT))
    val sigma = sqrt(lit(1.0) / (col("tf_a") + alphaT) +
      lit(1.0) / (col("tf_b") + alphaT))
    val z = delta / sigma
    sliceCounts(docs, textCol, inACol)
      .select(col("term"), col("tf_a"), col("tf_b"),
        (floor(delta * 1e6 + 0.5) / 1e6).as("delta"),
        (floor(z * 1e6 + 0.5) / 1e6).as("z"),
        when(col("tf_a").cast("double") * col("nb") >
          col("tf_b").cast("double") * col("na"), lit("A"))
          .otherwise(lit("B")).as("enriched_in"))
      .orderBy(abs(col("z")).desc, col("term").asc)
      .limit(k)
  }

  def vocabCoverage(docs: DataFrame, textCol: String, ks: Seq[Long]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), "ks must be positive")
    val tc = docs.select(explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val keyed = tc.withColumn("__negcnt", -col("cnt")).withColumn("__one", lit(1L))
    val ranked = graft.ops.PrefixScan.cumulativeSum(keyed,
      Seq("__negcnt", "term"), "__one", "__rnk")
    val cum = graft.ops.PrefixScan.cumulativeSum(ranked,
      Seq("__negcnt", "term"), "cnt", "__cum")
    val total = tc.agg(sum(col("cnt")).as("__t"))
    cum.crossJoin(broadcast(total))
      .withColumn("k", explode(typedLit(ks)))
      .groupBy(col("k"))
      .agg(max(when(col("__rnk") <= col("k"), col("__cum"))).as("covered_tokens"),
        max(col("__t")).as("total_tokens"))
      .withColumn("coverage",
        col("covered_tokens").cast("double") / col("total_tokens").cast("double"))
  }

  def vocabTopGrams(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 2, k: Int = 50): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(ngramStrings(col(textCol), n)).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("gram").asc)
      .limit(k)

  /** Split documents into token-bounded overlapping chunks — the
    * context-window preparation step before sequence packing: windows of
    * `maxTokens` words advancing by `maxTokens - overlap`, the final
    * window clipped to the document tail (and never emitted as a
    * redundant all-overlap chunk). One row per chunk:
    * (doc_id, chunk_idx, chunk_text, n_tokens).
    *
    * Pure per-row explode — no shuffle, output volume ≈ input ×
    * (1 + overlap/stride) — so the pass scales linearly with corpus bytes.
    */
  def chunkByTokens(docs: DataFrame, idCol: String, textCol: String,
      maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens, "need 0 <= overlap < maxTokens")
    val stride = maxTokens - overlap
    // chunk starts: 1, 1+stride, ... while start <= max(n - overlap, 1) —
    // the upper bound stops a tail chunk that would sit entirely inside
    // the previous one, and floors at 1 so every non-empty doc chunks
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), greatest(size(col("ws")) - overlap, lit(1)), lit(stride))).as("st"))
      .select(col("doc_id"),
        (((col("st") - 1) / lit(stride)).cast("long") + 1).as("chunk_idx"),
        concat_ws(" ", slice(col("ws"), col("st"), lit(maxTokens))).as("chunk_text"),
        size(slice(col("ws"), col("st"), lit(maxTokens))).cast("long").as("n_tokens"))
  }

  /** Sequence packing: position every chunk in a stream of fixed
    * `budget`-token training sequences, filled greedily in
    * (doc_id, chunk_idx) order — `seq_id` is the sequence a chunk starts
    * in, `tok_offset` its position inside it. Built on the exact
    * distributed prefix sum ([[graft.ops.PrefixScan]]), so there is no
    * single-reducer global window anywhere; all math is integral, hence
    * bit-reproducible in any engine.
    */
  def packSequences(chunks: DataFrame, budget: Int): DataFrame =
    graft.ops.PrefixScan.cumulativeSum(chunks, Seq("doc_id", "chunk_idx"), "n_tokens", "cum_tokens")
      .withColumn("seq_id", expr(s"(cum_tokens - n_tokens) div $budget"))
      .withColumn("tok_offset", expr(s"(cum_tokens - n_tokens) % $budget"))

  /** Vocabulary induction + tokenizer apply: build a top-`vocabSize` term
    * vocabulary (ids 1..K assigned in (count desc, term asc) order) and
    * encode every document as its token-id sequence with OOV → 0 — the
    * text → ids step of a training-data pipeline, with the id assignment
    * deterministic in any engine.
    *
    * Scale shape: term frequencies via map-side combined aggregate; the id
    * window runs over the top-K table only (vocabulary-sized, a few
    * thousand rows — the one intentional single-partition step); encoding
    * is a term-keyed join (AQE broadcasts the vocab) and the sequence
    * reassembly one (doc_id)-keyed aggregate with an in-array sort by
    * position.
    */
  def encodeTokens(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol)))).toDF("doc_id", "pos", "term")
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(vocabSize)
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("cnt").desc, col("term").asc)).cast("long"))
      .select("term", "token_id")
    toks.join(vocab, Seq("term"), "left")
      .withColumn("token_id", coalesce(col("token_id"), lit(0L)))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("token_id")))).as("ps"))
      .select(col("doc_id"), transform(col("ps"), p => p.getField("token_id")).as("token_ids"))
  }

  /** PII patterns: engine-portable regexes (plain character classes and
    * bounded quantifiers only — no escapes, lookaround, or backrefs — so
    * Java regex and RE2 agree match-for-match). The email pattern requires
    * an alphabetic TLD, so IPv4-shaped hosts never double-count.
    */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val PiiIpv4 = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
  val PiiPhone = "[+][0-9]{7,15}"

  /** Per-document PII hit counts: struct(n_emails, n_ipv4, n_phones).
    * Pure per-row expression (no shuffle) — the standard pre-training
    * compliance scan runs as a narrow map over the corpus.
    */
  def piiSignals(text: Column): Column = {
    def n(p: String) = size(regexp_extract_all(text, lit(p), lit(0))).cast("long")
    struct(n(PiiEmail).as("n_emails"), n(PiiIpv4).as("n_ipv4"), n(PiiPhone).as("n_phones"))
  }

  /** URL shape (http/https, host, optional path) in the engine-portable
    * regex subset (char classes + bounded quantifiers only — java.util
    * .regex and RE2 agree on it); `UrlHost` capture group 1 is the host.
    */
  val UrlPattern = "https?://[A-Za-z0-9.-]+(/[A-Za-z0-9./_-]*)?"
  val UrlHost = "https?://([A-Za-z0-9.-]+)"

  /** All URLs in a document, in order — a narrow per-row expression (the
    * Common-Crawl-style link scan: outlink extraction runs as a map over
    * the corpus, never a shuffle).
    */
  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit(UrlPattern), lit(0))

  /** Host part of a URL string; empty string when the value is not a URL
    * (regexp_extract's no-match contract, identical in the oracle).
    */
  def urlHost(url: Column): Column =
    regexp_extract(url, UrlHost, 1)

  /** Registrable-domain approximation: the last `levels` labels of the
    * host (`cdn3.assets.example.org` → `example.org`). Pure string
    * slicing on the split array — engine-portable, no suffix list (a
    * public-suffix join is the production refinement; the aggregation
    * shapes downstream are identical).
    */
  def registrableDomain(host: Column, levels: Int = 2): Column = {
    val parts = split(host, "[.]")
    array_join(slice(parts, greatest(size(parts) - (levels - 1), lit(1)),
      lit(levels)), ".")
  }

  /** Canonical URL form for URL-keyed dedup — the variants crawlers
    * collect of one logical page (tracking params, fragments, host
    * casing, trailing slash) must collapse to a single key before
    * counting or deduplicating by URL. Rules, in order: drop the
    * `#fragment`; strip tracking parameters (`utm_*`, `fbclid`, `gclid`,
    * `ref`); if the first stripped parameter left the query dangling on
    * `&`, promote that separator back to `?`; lowercase the scheme+host
    * (path/query stay case-sensitive per RFC 3986); drop a trailing
    * slash. Non-URL input degrades to the empty string (regexp_extract's
    * no-match contract, same as [[urlHost]]).
    *
    * Every step is a codegen'd regexp expression — a narrow projection,
    * no shuffle; the DuckDB oracle states the identical pattern chain
    * (`g`-flagged where Spark's replace-all is implicit).
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val noTrack = regexp_replace(noFrag,
      "[?&](utm_[A-Za-z]+|fbclid|gclid|ref)=[A-Za-z0-9_.%-]*", "")
    val fixedQ = regexp_replace(noTrack, "^([^?&]*)&", "$1?")
    val hostLower = concat(
      lower(regexp_extract(fixedQ, "^(https?://[A-Za-z0-9.-]+)", 1)),
      regexp_extract(fixedQ, "^https?://[A-Za-z0-9.-]+(.*)", 1))
    regexp_replace(hostLower, "/$", "")
  }

  /** Redact PII in place: emails → `<EMAIL>`, IPv4 → `<IP>`, phone-shaped
    * international numbers → `<PHONE>`. Email runs first so its host part
    * is consumed before the IPv4 pass sees it.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, PiiEmail, "<EMAIL>"),
        PiiIpv4, "<IP>"),
      PiiPhone, "<PHONE>")

  /** Per-document salient terms: top `k` terms ranked by (tf desc, df asc,
    * term asc) with a smoothed tf-idf score (`tf · (ln((1+N)/(1+df)) + 1)`)
    * reported per row. The ranking keys are all integers/strings, so the
    * selected rows are bit-deterministic in any engine; the float score is
    * output only.
    *
    * Shape at scale: explode → hash-aggregate on (doc, term) with map-side
    * combine (tf), re-aggregate on term (df = vocabulary-sized), join tf to
    * df on term (both sides term-keyed), then one window per doc for the
    * top-k. Corpus size N arrives via a 1-row broadcast, not a driver
    * collect.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") * (log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))) + 1.0))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("rnk"))
  }

  /** Sparse TF-IDF cosine similarity join — the lexical-vector sibling
    * of the dense ANN tiers ([[Similarity]]) and the set-overlap joins
    * ([[NGramJaccard]]): document pairs scored by the cosine of their
    * tf-idf term vectors, computed through the INVERTED INDEX (docs meet
    * only on shared terms — one term-keyed self-join of the weighted
    * postings, never doc×doc). The `maxDf` cap drops stopword-grade
    * terms first: a term in d documents contributes C(d,2) pairs, so
    * the cap is the posting-list skew escape hatch (the PPJoin-family
    * discipline), and weights/norms are defined over the CAPPED vector —
    * cosine stays exactly in [0, 1] under its own geometry.
    *
    * Weights are [[tfidfTopTerms]]'s smoothed form
    * `tf · (ln((1+N)/(1+df)) + 1)`. The per-pair dot is a float sum over
    * shared terms (≈1e-15 relative re-association noise — callers
    * qround, the repo's accepted class).
    *
    * Shape at scale: explode → (doc, term) tf aggregate → vocabulary-
    * sized df table → capped postings (weights) → ONE term-keyed
    * self-join + (a, b) pair aggregate whose volume is Σ_term C(df, 2),
    * bounded by the cap → norms join (doc-keyed, aggregate-sized).
    */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                       maxDf: Long, minCosine: Double): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    val tf = docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") *
          (log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))) + 1.0)).as("wt"))
      .localCheckpoint(false) // feeds norms AND both join sides
    val norms = w.groupBy("doc_id").agg(sqrt(sum(col("wt") * col("wt"))).as("nm"))
    val dots = w.select(col("term"), col("doc_id").as("a"), col("wt").as("wa"))
      .join(w.select(col("term"), col("doc_id").as("b"), col("wt").as("wb")), Seq("term"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(sum(col("wa") * col("wb")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("a"), col("nm").as("na")), Seq("a"))
      .join(norms.select(col("doc_id").as("b"), col("nm").as("nb")), Seq("b"))
      .select(col("a"), col("b"), (col("dot") / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Corpus-frequent span scrub — the C4/RefinedWeb boilerplate-removal
    * rule: every n-token span occurring in at least `minDf` distinct
    * documents is deleted from all of them, remaining tokens keep their
    * order. Returns (idCol, n_before, n_after, scrubbed).
    *
    * Shape at scale: positioned n-grams are a narrow per-row expansion;
    * document frequency is a gram-keyed hash aggregate (map-side combine —
    * the gram table shuffles, never the corpus); covered start positions
    * return via a gram-keyed join whose row count is the boilerplate
    * mass, then one per-doc collect; reassembly is a pure per-row HOF
    * chain (no shuffle). Nothing is quadratic across documents and no
    * side is force-broadcast. Per-row reassembly is O(len · |covered|)
    * — bounded by doc length; chunk pathological documents first.
    */
  def scrubFrequentSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Long): DataFrame = {
    val grams = docs.select(col(idCol),
      explode(bound(tokens(col(textCol))) { ws =>
        when(size(ws) >= n,
          transform(sequence(lit(0), size(ws) - n),
            i => struct(i.as("start"), array_join(slice(ws, i + 1, lit(n)), " ").as("g"))))
          .otherwise(array().cast("array<struct<start:int,g:string>>"))
      }).as("u"))
      .select(col(idCol), col("u.start").as("start"), col("u.g").as("g"))
    val freq = grams.groupBy("g").agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDf).select("g")
    val covered = grams.join(freq, "g")
      .groupBy(idCol).agg(collect_set(col("start")).as("__starts"))
    val scrub = bound(tokens(col(textCol))) { ws =>
      bound(coalesce(col("__starts"), array().cast("array<int>"))) { starts =>
        val keptPos = filter(sequence(lit(1), size(ws)),
          p => size(filter(starts, st => st + 1 <= p && p <= st + n)) === 0)
        struct(size(ws).cast("long").as("n_before"),
          size(keptPos).cast("long").as("n_after"),
          array_join(transform(keptPos, p => element_at(ws, p)), " ").as("scrubbed"))
      }
    }
    docs.join(covered, Seq(idCol), "left")
      .withColumn("__sc", scrub)
      .select(col(idCol), col("__sc.n_before").as("n_before"),
        col("__sc.n_after").as("n_after"), col("__sc.scrubbed").as("scrubbed"))
  }

  /** Vocabulary overlap between corpus slices: per unordered group pair,
    * the Jaccard and containment of their distinct-term sets — the
    * mix-curation audit that says whether two sources actually bring
    * different text or restate each other (a high-overlap pair is a
    * dedup/down-weight candidate before training mix assembly).
    *
    * Exactness: set sizes and intersections are exact longs from
    * distinct collapses; Jaccard |A∩B| / (|A| + |B| − |A∩B|) and
    * containment |A∩B| / min(|A|,|B|) are one division each.
    *
    * Scale shape: ONE distinct (group, term) collapse (map-side
    * combined, vocabulary×|groups|-sized output); the pair intersection
    * is a term-keyed self-join — pair volume is Σ_term C(groups(term),2)
    * ≤ C(|G|,2)·|vocab|, bounded by the GROUP-CARDINALITY contract
    * (sources, languages — a metadata taxonomy, never a data-sized
    * key); set sizes join back broadcast-sized.
    */
  def vocabOverlap(docs: DataFrame, groupCol: String, textCol: String,
      minLen: Int = 1): DataFrame = {
    val terms = docs
      .filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("g"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) >= minLen)
      .distinct()
    val sizes = terms.groupBy(col("g")).agg(count(lit(1)).as("nv"))
    val a = terms.as("a"); val b = terms.as("b")
    val inter = a.join(b,
        col("a.term") === col("b.term") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("ga"), col("b.g").as("gb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("g").as("ga"), col("nv").as("na")), Seq("ga"))
      .join(sizes.select(col("g").as("gb"), col("nv").as("nb")), Seq("gb"))
      .select(col("ga"), col("gb"), col("na"), col("nb"), col("inter"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"),
        (col("inter").cast("double") / least(col("na"), col("nb")))
          .as("containment"))
  }

  /** Vocabulary richness per group: observed vocabulary size plus the
    * Chao1 estimate of the TRUE vocabulary (observed + unobserved) and
    * the Good–Turing unseen probability mass — "how much new vocabulary
    * would more data from this source still surface?", the corpus-sizing
    * complement of [[vocabCoverage]]'s head-coverage curve.
    *
    * Chao1 (bias-corrected): V̂ = V + f₁(f₁−1)/(2(f₂+1)), where f₁/f₂ are
    * the singleton/doubleton frequency-of-frequency counts (Chao 1984;
    * the +1 keeps the estimate finite when no term occurs exactly twice).
    * Good–Turing unseen mass: P(next token is a new term) ≈ f₁/N.
    *
    * Exactness: V, f₁, f₂, N are exact longs from one term-frequency
    * collapse; each estimate is ONE IEEE division/multiply of integer
    * operands — no accumulation, so both engines agree bitwise.
    *
    * Scale shape: one map-side-combined (group, term) frequency
    * aggregate (vocabulary-sized output — the same collapse every
    * tokenizer-induction pass already pays), then a |vocab|→|groups|
    * aggregate. No joins, no windows, nothing driver-side.
    */
  /** Heaps' law fit: vocabulary growth V(n) ≈ K·n^β along the corpus
    * token stream (Heaps 1978; β≈0.4-0.6 for natural language) — the
    * extrapolation companion to [[vocabRichness]]'s Chao1: "how fast
    * does vocabulary keep arriving as this corpus grows 10×?", the
    * tokenizer/vocab sizing question asked BEFORE the 10× crawl is paid
    * for.
    *
    * Stream order is (doc id, token position) — deterministic and
    * partition-independent. V(n) is evaluated at `checkpoints` evenly
    * spaced prefixes; the (ln n, ln V) OLS runs over that
    * checkpoint-count table with each ln quantized to a 1e-9 long and
    * the moments accumulated in decimal(38,0) — order-free, so β and K
    * are fixed IEEE expressions of exact operands cross-engine.
    *
    * Scale shape: per-doc token ranks come from windows whose partition
    * is ONE DOCUMENT (bounded by the max doc length, never corpus-
    * sized); doc start offsets come from the [[graft.ops.PrefixScan]]
    * two-pass scan over the |docs| count table; first-occurrence
    * positions are one (term, min g) aggregate — the same collapse
    * vocabulary induction pays; checkpoints are a ×`checkpoints`
    * broadcast against the vocab-sized firsts table. Rows with n ≥ 1
    * only (a sub-checkpoint-sized corpus has no fit to report).
    *
    * Returns one row per checkpoint: (j, n, v, beta, k_coef) with the
    * fit repeated on each row.
    */
  def heapsLaw(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 1, checkpoints: Int = 10): DataFrame = {
    require(checkpoints >= 2, "need at least 2 checkpoints for a fit")
    val toks = docs.filter(col(idCol).isNotNull)
      .select(col(idCol).as("doc"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
      .filter(length(col("term")) >= minLen)
    val counts = toks.groupBy(col("doc")).agg(count(lit(1)).as("cnt"))
    val offsets = graft.ops.PrefixScan
      .cumulativeSum(counts, Seq("doc"), "cnt", "cum")
      .select(col("doc"), (col("cum") - col("cnt")).as("off"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("pos").asc)
    val idx = toks
      .withColumn("k", row_number().over(wDoc).cast("long"))
      .join(offsets, Seq("doc"))
      .select(col("term"), (col("off") + col("k")).as("g"))
    val firsts = idx.groupBy(col("term")).agg(min(col("g")).as("fg"))
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    val ck = docs.sparkSession.range(1, checkpoints + 1).toDF("j")
      .crossJoin(broadcast(total))
      .withColumn("n", expr(s"(j * n_total) div $checkpoints"))
      .filter(col("n") >= 1)
      .select(col("j"), col("n"))
    val vAt = firsts.crossJoin(broadcast(ck))
      .filter(col("fg") <= col("n"))
      .groupBy(col("j"), col("n")).agg(count(lit(1)).as("v"))
    val fit = logLogFit(vAt, "n", "v")
      .select(col("slope").as("beta"), col("coef").as("k_coef"))
    vAt.select(col("j"), col("n"), col("v"))
      .crossJoin(broadcast(fit))
  }

  /** The one-row OLS fit of ln y on ln x over `points` — (slope, coef)
    * with y ≈ coef·x^slope — that [[heapsLaw]] and [[zipfFit]] report:
    * both logs land on the 1e-9 grid as decimal(38,0) before the moment
    * sums, so the fit is order-free.
    */
  private def logLogFit(points: DataFrame, x: String, y: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = points
      .withColumn("xq", floor(log(col(x).cast("double")) * 1e9 + lit(0.5)).cast(dec))
      .withColumn("yq", floor(log(col(y).cast("double")) * 1e9 + lit(0.5)).cast(dec))
    val m = q.agg(count(lit(1)).cast(dec).as("m"),
      sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
      sum((col("xq") * col("yq")).cast(dec)).as("sxy"),
      sum((col("xq") * col("xq")).cast(dec)).as("sxx"))
    val slope = (col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("m") * col("sxx") - col("sx") * col("sx")).cast("double")
    m.select(slope.as("slope"),
      exp((col("sy").cast("double") / 1e9 -
        slope * (col("sx").cast("double") / 1e9)) / col("m").cast("double"))
        .as("coef"))
  }

  /** Zipf rank-frequency fit over the corpus unigram distribution:
    * f(r) ≈ C·r^s with s ≈ −1 for natural language (Zipf 1949) — the
    * third leg of the corpus-statistics tripod ([[vocabRichness]]'s
    * Chao1 = how much vocabulary exists, [[heapsLaw]] = how fast it
    * arrives, Zipf = how mass concentrates in the head; a corpus whose
    * |s| drifts far from 1 is template/boilerplate-heavy or synthetic).
    *
    * Rank = dense position under (tf DESC, term) — deterministic; the
    * fit runs over the top `topR` ranks with the same 1e-9-quantized
    * (ln r, ln f) OLS as [[heapsLaw]] (decimal moments, order-free).
    *
    * Scale shape: one term-frequency collapse (vocabulary-sized), then
    * a rank window whose `rank ≤ topR` filter Catalyst lowers to a
    * TakeOrderedAndProject (per-partition top-k heaps) feeding the
    * window — the single-partition window only ever sees topR rows, not
    * the vocabulary. Output
    * rows are the power-of-two sample ranks (r & (r−1) = 0), fit
    * repeated on each.
    */
  def zipfFit(docs: DataFrame, textCol: String, minLen: Int = 1,
      topR: Int = 1000): DataFrame = {
    require(topR >= 4, "need topR >= 4 ranks for a fit")
    val tf = docs
      .select(explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) >= minLen)
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("tf").desc, col("term").asc)
    val ranked = tf
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topR)
      .select(col("rank"), col("tf"))
    val fit = logLogFit(ranked, "rank", "tf")
      .select(col("slope"), col("coef").as("c_coef"))
    ranked
      .filter((col("rank").bitwiseAND(col("rank") - 1)) === 0)
      .crossJoin(broadcast(fit))
  }

  def vocabRichness(docs: DataFrame, groupCol: String, textCol: String,
      minLen: Int = 1): DataFrame = {
    val tf = docs
      .filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("g"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) >= minLen)
      .groupBy(col("g"), col("term"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("g"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("tf") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("g"), col("n_tokens"), col("vocab"), col("f1"), col("f2"),
        (col("vocab") +
          (col("f1") * (col("f1") - 1)).cast("double") /
            (lit(2.0) * (col("f2") + 1))).as("chao1"),
        (col("f1").cast("double") / col("n_tokens")).as("gt_unseen"))
  }

  /** Flesch reading-ease + Flesch–Kincaid grade per group (Flesch 1948;
    * Kincaid et al. 1975) — the classic readability screens a quality
    * pipeline layers next to [[graft.llm.TextAnalysis]]'s length/punct
    * ratios (boilerplate and word salad both land at implausible
    * scores). Syllables use the standard vowel-group proxy (maximal
    * `[aeiouy]+` runs over the lowercased text — a deterministic,
    * engine-portable stand-in for dictionary syllabification; constant
    * bias, stable ordering); sentences count `[.!?]+` runs, floored at
    * one per document; words are nonempty space-split tokens.
    *
    * Exactness: all three counts are exact per-document ints summed
    * exactly per group; the two scores are fixed IEEE expressions of
    * the summed longs. Scale shape: pure per-row regexp counting (no
    * token explode — the array never materializes wider than the row),
    * ONE map-side-combined per-group aggregate.
    */
  def readability(docs: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val words = size(filter(split(col(textCol), " "),
      t => length(t) >= 1)).cast("long")
    val syll = size(regexp_extract_all(lower(col(textCol)),
      lit("[aeiouy]+"), lit(0))).cast("long")
    val sent = greatest(lit(1L),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0)))
        .cast("long"))
    val agg = docs
      .filter(col(groupCol).isNotNull && col(textCol).isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n_docs"), sum(words).as("n_words"),
        sum(sent).as("n_sentences"), sum(syll).as("n_syllables"))
    val wps = col("n_words").cast("double") / col("n_sentences")
    val spw = col("n_syllables").cast("double") / col("n_words")
    agg.select(col("g"), col("n_docs"), col("n_words"), col("n_sentences"),
      col("n_syllables"),
      (lit(206.835) - lit(1.015) * wps - lit(84.6) * spw).as("flesch_ease"),
      (lit(0.39) * wps + lit(11.8) * spw - lit(15.59)).as("fk_grade"))
  }

  /** Character-class mix per group — the script/encoding profile a
    * multilingual ingest audits before language ID is trusted: ASCII
    * letter / digit / space / other shares per group, from exact
    * per-document counts (length minus the class-stripped length). A
    * source whose "English" slice is 30% non-ASCII is mislabeled or
    * mis-decoded; a digit share spike flags tables/logs in prose.
    *
    * Portable by construction: only literal character classes
    * (`[A-Za-z]`, `[0-9]`, the space char) — identical under Java
    * regex and RE2. Scale shape: narrow per-row regexp_replace
    * lengths, ONE map-side-combined per-group aggregate.
    */
  def charClassMix(docs: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val t = col(textCol)
    val nChars = length(t).cast("long")
    val letters = (length(t) -
      length(regexp_replace(t, "[A-Za-z]", ""))).cast("long")
    val digits = (length(t) -
      length(regexp_replace(t, "[0-9]", ""))).cast("long")
    val spaces = (length(t) - length(regexp_replace(t, " ", ""))).cast("long")
    val agg = docs
      .filter(col(groupCol).isNotNull && col(textCol).isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n_docs"), sum(nChars).as("n_chars"),
        sum(letters).as("n_letters"), sum(digits).as("n_digits"),
        sum(spaces).as("n_spaces"))
    def share(c: Column) = when(col("n_chars") > 0,
      c.cast("double") / col("n_chars"))
    agg.select(col("g"), col("n_docs"), col("n_chars"),
      share(col("n_letters")).as("letter_share"),
      share(col("n_digits")).as("digit_share"),
      share(col("n_spaces")).as("space_share"),
      share(col("n_chars") - col("n_letters") - col("n_digits") -
        col("n_spaces")).as("other_share"))
  }

  /** Character-bigram entropy per group — the character-level language/
    * encoding fingerprint: every natural language settles near a stable
    * bigram entropy, so a segment whose H₂ jumps is mojibake, base64
    * blobs, or machine gibberish, and one whose H₂ collapses is
    * boilerplate/template mass — both invisible to token-level quality
    * screens. Reported with the unigram entropy and their difference
    * (the conditional H(next char | char), the text's character-level
    * predictability).
    *
    * Determinism: bigram/unigram counts are exact longs from one
    * aggregate over the per-row bigram explode; each p·ln term lands on
    * the 1e-12 long grid before the (alphabet²-bounded) sums — the
    * [[graft.ops.Attribution]] transition-entropy discipline.
    *
    * Scale shape: the bigram explode is a narrow per-row generator
    * (≤ |text| rows per doc, the chunker's scale class); ONE
    * (group, bigram) count shuffle bounded by alphabet², then metadata
    * algebra. Nothing is collected.
    */
  def charNgramEntropy(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    def grid(c: Column): Column = floor(c * 1e12 + 0.5).cast("long")
    val big = df
      .filter(col(groupCol).isNotNull && col(textCol).isNotNull &&
        length(col(textCol)) >= 2)
      .select(col(groupCol).as("g"), col(textCol).as("t"))
      .select(col("g"), explode(transform(
        sequence(lit(1), length(col("t")) - 1),
        i => col("t").substr(i, lit(2)))).as("bg"))
    val cells = big.groupBy("g", "bg").agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // totals + both entropies read it
    val tot = cells.groupBy("g").agg(sum(col("c")).as("nb"))
    // unigram marginal = FIRST char of each bigram, so
    // h2 − h1 = H(next | char) exactly (consistent marginals)
    val uni = cells.groupBy(col("g"), substring(col("bg"), 1, 1).as("u"))
      .agg(sum(col("c")).as("cu"))
    val h2 = cells.join(tot, "g")
      .select(col("g"), grid(-(col("c").cast("double") / col("nb")) *
        log(col("c").cast("double") / col("nb"))).as("tg"))
      .groupBy("g").agg(sum(col("tg")).as("h2g"))
    val h1 = uni.join(tot, "g")
      .select(col("g"), grid(-(col("cu").cast("double") / col("nb")) *
        log(col("cu").cast("double") / col("nb"))).as("tg"))
      .groupBy("g").agg(sum(col("tg")).as("h1g"))
    tot.join(h2, "g").join(h1, "g")
      .select(col("g").as(groupCol), col("nb").as("n_bigrams"),
        (col("h2g").cast("double") / 1e12).as("h2"),
        (col("h1g").cast("double") / 1e12).as("h1"),
        ((col("h2g") - col("h1g")).cast("double") / 1e12).as("h_cond"))
  }

  /** Term burstiness — the corpus statistic that separates CONTENT words
    * from FUNCTION words without any stopword list: a function word
    * ("the") spreads evenly (per-doc count ≈ Poisson, variance ≈ mean),
    * a content word ("tokenizer") is bursty — absent almost everywhere,
    * repeated where its topic lives — so its variance-to-mean ratio
    * (Fisher's index of dispersion, over ALL docs with zeros included)
    * runs ≫ 1. The automatic stopword/keyword discovery pass a corpus
    * pipeline wants before building retrieval or dedup vocabularies.
    *
    *   VMR(t) = Var_D[tf] / E_D[tf],  over all D docs (zeros count)
    *
    * Exactness: per-(doc, term) tf collapse (exact longs); per-term
    * Σtf, Σtf² widened to decimal(38,0) — absent docs contribute zero to
    * both sums, so the all-docs moments need no grid completion; VMR is
    * a fixed IEEE readout. Top-k by total tf with term-ascending
    * tie-break — a bounded, deterministic cut.
    *
    * Scale shape: one (doc, term) collapse (the tf-idf shuffle), one
    * term aggregate, one TakeOrdered top-k. Nothing is collected.
    */
  def termBurstiness(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dec   = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val docs = df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val tfd = col("tf").cast(dec19)
    val terms = tf.groupBy("term").agg(
      count(lit(1)).as("df"),
      sum(col("tf")).as("s"),
      sum((tfd * tfd).cast(dec)).as("q"))
    val n = col("n_docs").cast("double")
    val mean = col("s").cast("double") / n
    val varr = col("q").cast("double") / n - mean * mean
    terms.crossJoin(broadcast(total))
      .select(col("term"), col("df"), col("s").as("tf_total"),
        when(col("s") > 0, varr / mean).as("vmr"))
      .orderBy(col("tf_total").desc, col("term").asc)
      .limit(k)
  }
}
