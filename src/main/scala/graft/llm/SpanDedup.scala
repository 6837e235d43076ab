package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-document substring (token-span) deduplication — the dedup tier
  * between exact-document hashing and whole-document near-dup similarity:
  * finds token spans that recur across (or within) documents and either
  * reports per-document duplication stats or removes every occurrence but
  * the first, keeping the surrounding unique text.
  *
  * Semantics follow the exact-substring dedup of "Deduplicating Training
  * Data Makes Language Models Better" (Lee et al., 2022): repeated spans
  * of >= k tokens are training-set contamination even when the documents
  * containing them are globally dissimilar (license boilerplate, quoted
  * headers, templated navigation). Their suffix-array construction finds
  * arbitrary-length repeats; the Spark-native shape used here is
  * fixed-k-token rolling-hash windows — any repeated span of length
  * >= k tokens contains a repeated k-window, so detection recall at the
  * k-token granularity is exact, the work is one gram-keyed shuffle of
  * fixed-width rows, and no per-node suffix array is ever built. Window
  * hashes reuse the [[MinHashDedup]] polynomial algebra so the DuckDB
  * oracles reproduce them bit-for-bit.
  *
  * Reference behavioral anchor: the reference engine's dedup surface is
  * whole-item (id-keyed queues, `extractor/riot/user/queue.py:14` /
  * `extractor/riot/match/queue.py`); span-level dedup is
  * part of the beyond-reference training-data surface (SURVEY §2.11).
  *
  * Scale shape (both entry points):
  *  - per-doc window hashing is a pure array expression (narrow, codegen);
  *  - the occurrence table is (hash, doc, start) fixed-width rows, one per
  *    token position — linear in corpus tokens, shuffled ONCE by hash;
  *  - repeated-hash detection is a hash aggregate with map-side combine;
  *  - everything after operates on occurrences of REPEATED hashes only —
  *    in a deduplicated web corpus a small fraction of the token mass;
  *  - coverage/reconstruction group by doc_id — the second and final
  *    shuffle, proportional to affected docs, never corpus x corpus.
  */
object SpanDedup {

  /** (doc_id, n_tokens, hs) where hs[i] (0-based) is the rolling hash of
    * the k-token window starting at 1-based token position i+1.
    */
  private def windowHashes(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).as("n_tokens"),
      MinHashDedup.rollingShingleHashes(
        MinHashDedup.wordHashes(col(textCol)), k).as("hs"))

  /** One row per k-token window occurrence: (h, doc_id, start) with
    * 1-based `start`; `n_tokens` carried for downstream stats.
    */
  private def occurrences(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    windowHashes(docs, idCol, textCol, k)
      .select(col("doc_id"), col("n_tokens"), posexplode(col("hs")).as(Seq("p0", "h")))
      .select(col("h"), col("doc_id"), col("n_tokens"), (col("p0") + 1).as("start"))

  /** Per-document duplicated-span statistics: which part of each document
    * is covered by k-token windows that ALSO appear in at least
    * `minDocs - 1` other documents (cross-document repetition — the
    * contamination signal; within-document loops are
    * [[TextAnalysis.repetitionSignals]]).
    *
    * Returns one row per input document:
    * (doc_id, n_tokens, n_dup_spans, dup_tokens, dup_frac) where
    * `n_dup_spans` counts duplicated window starts, `dup_tokens` counts
    * distinct token positions covered by any duplicated window, and
    * `dup_frac` = dup_tokens / n_tokens (0 for empty docs).
    */
  def dupSpanStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    val occ = occurrences(docs, idCol, textCol, k)
    val dupHashes = occ.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("h")
    // token positions covered by >= 1 duplicated window, deduplicated by
    // exploding each window to its k positions and counting distinct
    val cov = occ.join(dupHashes, "h")
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (k - 1))).as("pos"),
        col("start"))
      .groupBy("doc_id")
      .agg(countDistinct(col("start")).as("n_dup_spans"),
        countDistinct(col("pos")).as("dup_tokens"))
    docs.select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") > 0,
          coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .otherwise(0.0).as("dup_frac"))
  }

  /** Remove every occurrence-but-the-first of each repeated k-token span
    * (Lee et al.'s dedup policy): a window hash occurring >= 2 times
    * ANYWHERE in the corpus (across or within documents) keeps only its
    * globally first occurrence — minimum (doc_id, start) — and every
    * token covered ONLY by later occurrences is dropped from its
    * document. Tokens under the surviving first occurrence (or under no
    * repeated window at all) stay, so unique surrounding text is kept and
    * exactly one copy of each repeated span survives corpus-wide. The
    * keep-first rule is a deterministic total order — identical output
    * across runs, partitionings and engines.
    *
    * Returns one row per input document:
    * (doc_id, n_kept, n_removed, text_scrubbed) with tokens rejoined by
    * single spaces in original order.
    */
  def scrubRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val occ = occurrences(docs, idCol, textCol, k)
    // first occurrence per repeated hash: min (doc_id, start) — hash agg
    // with map-side combine, no sort window
    val firsts = occ.groupBy("h")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("start"))).as("first"))
      .filter(col("n_occ") >= 2)
    // window starts of NON-first occurrences of repeated hashes
    val removedStarts = occ.join(firsts, "h")
      .filter(!(col("doc_id") === col("first.doc_id") && col("start") === col("first.start")))
      .select(col("doc_id"), col("start"))
    scrubByRemovedWindows(docs, idCol, textCol, removedStarts, k)
  }

  /** Shared scrub tail: expand removed window starts to covered token
    * positions, cut them from each document, rejoin with single spaces.
    * `removedStarts` is (doc_id, start).
    */
  private def scrubByRemovedWindows(docs: DataFrame, idCol: String,
      textCol: String, removedStarts: DataFrame, k: Int): DataFrame = {
    val removed = removedStarts
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (k - 1))).as("pos"))
      .groupBy("doc_id")
      .agg(collect_set(col("pos")).as("cut"))
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
      .join(removed, Seq("doc_id"), "left")
      // array_contains on the empty fallback is false → every token kept
      .select(col("doc_id"), size(col("ws")).as("n_toks"),
        filter(transform(col("ws"), (w, i) =>
            struct((i + 1).as("pos"), w.as("w"))),
          s => !array_contains(coalesce(col("cut"), array().cast("array<int>")), s("pos")))
          .as("kept"))
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("n_kept"),
        (col("n_toks") - size(col("kept"))).cast("long").as("n_removed"),
        array_join(transform(col("kept"), s => s("w")), " ").as("text_scrubbed"))
  }

  /** Incremental scrub of a NEW batch against a persisted span store —
    * the nightly-crawl / streaming shape of [[scrubRepeatedSpans]], where
    * historical text is never re-hashed: the store is just the distinct
    * window-hash set seen so far (one long per k-token span, the cheapest
    * possible historical state).
    *
    * Precedence is arrival order — the production contract: a span
    * already in the store keeps its historical first occurrence, so EVERY
    * batch occurrence of it is removed; spans new in this batch keep
    * their within-batch first (min (doc_id, start)) exactly as the batch
    * operator would. When batch ids grow monotonically, sequentially
    * scrubbing batches B₁…Bₙ therefore equals one batch scrub of their
    * union (pinned in SpanDedupSpec).
    *
    * Returns (scrubbed batch, this batch's NEW distinct window hashes) —
    * append the second element to the store for the next batch. Work is
    * O(batch windows) plus one hash-keyed join against the store; the
    * store never re-ships text, only longs.
    */
  def incrementalScrub(batch: DataFrame, storeHashes: DataFrame,
      idCol: String, textCol: String, k: Int = 8): (DataFrame, DataFrame) = {
    val occ = occurrences(batch, idCol, textCol, k)
      .localCheckpoint(false) // store split + fresh-first agg + new-store derivation
    val store = storeHashes.select(col("h"))
    // every occurrence of a historically-seen span is a later occurrence
    val seenStarts = occ.join(store, Seq("h"), "left_semi")
      .select(col("doc_id"), col("start"))
    val fresh = occ.join(store, Seq("h"), "left_anti")
    val freshFirsts = fresh.groupBy("h")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("start"))).as("first"))
      .filter(col("n_occ") >= 2)
    val freshLaterStarts = fresh.join(freshFirsts, "h")
      .filter(!(col("doc_id") === col("first.doc_id") && col("start") === col("first.start")))
      .select(col("doc_id"), col("start"))
    val scrubbed = scrubByRemovedWindows(batch, idCol, textCol,
      seenStarts.unionByName(freshLaterStarts), k)
    (scrubbed, fresh.select(col("h")).distinct())
  }
}
