package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.llm._

/** LLM-data-pipeline operators over the `documents` corpus: text analysis,
  * exact dedup, MinHash/SimHash/n-gram near-dup. Every query runs the real
  * `graft.llm` library code; oracles replicate the identical algebra in
  * DuckDB (md5-derived hashes keep both engines bit-compatible).
  */
object TextQueries {

  private val enStop = TextAnalysis.langStopwords.head._2
  private def stopList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  /** The documents table re-materialized as doc_id-ordered slab files with
    * strictly increasing mtimes — FileStreamSource replays them in doc_id
    * order, making micro-batch boundaries a monotone split of the id
    * order (the precondition for the span-dedup stream's batch-twin
    * oracle). Same discipline as EventsQueries' ordered event slabs.
    */
  private def orderedDocSlabs(s: SparkSession, d: String): String = {
    import org.apache.spark.sql.expressions.Window
    val nSlabs = 4
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$d:docs:ordered".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val dir = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_stream_docs_$key")
    FixtureLock.withLock(dir.toString) {
    if (!new java.io.File(dir, "_SUCCESS").exists()) {
      val slabbed = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .withColumn("__slab", ntile(nSlabs).over(Window.orderBy(col("doc_id").asc)))
        .localCheckpoint(true)
      dir.mkdirs()
      for (i <- 1 to nSlabs) {
        val stage = new java.io.File(dir, s"_stage$i")
        slabbed.filter(col("__slab") === i).drop("__slab")
          .coalesce(1).sortWithinPartitions("doc_id")
          .write.mode("overwrite").parquet(stage.toString)
        val part = stage.listFiles().find(_.getName.startsWith("part-")).get
        val dst = new java.io.File(dir, f"slab$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(1000000000000L + i * 60000L)
        stage.listFiles().foreach(_.delete()); stage.delete()
      }
      new java.io.File(dir, "_SUCCESS").createNewFile()
    }
    }
    dir.toString
  }

  // ------------------------------------------------------------- oracles --

  /** Rabin-Karp hashed trigram shingles from per-word md5 hashes —
    * mirrors `MinHashDedup.wordHashes` + `rollingShingleHashes` — over an
    * arbitrary (doc_id, text) source CTE/table.
    */
  private def hashedShinglesCte(src: String): String = {
    val M = graft.llm.MinHashDedup.Mod
    val a1 = graft.llm.MinHashDedup.PolyA1
    val a2 = graft.llm.MinHashDedup.PolyA2
    s"""wh AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % $M) AS wh
       |  FROM $src),
       |sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(wh) >= 3
       |      THEN list_transform(range(1, len(wh) - 1), i -> (wh[i] * $a2 % $M + wh[i+1] * $a1 % $M + wh[i+2]) % $M)
       |      ELSE [] END AS hsAll
       |  FROM wh),
       |shf AS (SELECT * FROM sh WHERE len(hsAll) > 0)""".stripMargin
  }

  /** k-token window rolling hashes with 1-based start positions — the
    * generalized (arbitrary-k, position-carrying) sibling of
    * [[hashedShinglesCte]], mirroring `MinHashDedup.wordHashes` +
    * `rollingShingleHashes(_, k)`. Defines CTEs `twh` (doc_id, ws, wh)
    * and `wins` (doc_id, n_tokens, i, h).
    */
  private def windowHashCtes(k: Int): String = {
    val M = graft.llm.MinHashDedup.Mod
    val terms = (0 until k).map { j =>
      val p = graft.llm.MinHashDedup.powMod(graft.llm.MinHashDedup.PolyA1, k - 1 - j)
      s"wh[i+$j] * $p % $M"
    }.mkString(" + ")
    s"""twh AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws,
       |    list_transform(string_split(text, ' '), w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % $M) AS wh
       |  FROM documents),
       |wins AS (
       |  SELECT doc_id, n_tokens, i, ($terms) % $M AS h
       |  FROM (SELECT doc_id, wh, len(wh) AS n_tokens, unnest(range(1, len(wh) - $k + 2)) AS i
       |        FROM twh WHERE len(wh) >= $k))""".stripMargin
  }

  /** Keep-first substring scrub in SQL — shared by q_substring_scrub and
    * its live-stream twin q_stream_span_dedup.
    */
  private lazy val substringScrubSql: String =
    s"""WITH ${windowHashCtes(5)},
       |occ AS (SELECT doc_id, i, row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn FROM wins),
       |cut AS (SELECT DISTINCT doc_id, p
       |        FROM (SELECT doc_id, unnest(range(i, i + 5)) AS p FROM occ WHERE rn >= 2)),
       |tok AS (SELECT doc_id, ws[i] AS w, i AS pos
       |        FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM twh)),
       |kept AS (
       |  SELECT t.doc_id, t.pos, t.w FROM tok t
       |  LEFT JOIN cut c ON t.doc_id = c.doc_id AND t.pos = c.p
       |  WHERE c.p IS NULL),
       |o AS (SELECT doc_id, count(*) AS n_kept, string_agg(w, ' ' ORDER BY pos) AS text_scrubbed
       |      FROM kept GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(o.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(len(string_split(d.text, ' ')) - coalesce(o.n_kept, 0) AS BIGINT) AS n_removed,
       |  coalesce(o.text_scrubbed, '') AS text_scrubbed
       |FROM documents d LEFT JOIN o USING (doc_id)""".stripMargin

  private val langCase: String = {
    val counts = TextAnalysis.langStopwords.map { case (lang, ws) =>
      lang -> s"len(list_filter(string_split(text, ' '), t -> t IN (${stopList(ws)})))"
    }
    val whens = counts.map { case (lang, c) =>
      val others = counts.filter(_._1 != lang).map(_._2)
      val cond = others.map(o => s"$c >= $o").mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }
    s"CASE ${whens.mkString(" ")} ELSE 'und' END"
  }

  private val affineSigSql: String =
    graft.llm.MinHashDedup.affineCoeffs(12).map { case (a, b) =>
      s"list_min(list_transform(hsAll, x -> (x * $a + $b) % 2147483647))"
    }.mkString("[", ", ", "]")

  /** Full MinHash LSH chain over `src` ending in a `verified(id_a, id_b,
    * jaccard)` CTE — the b=4, r=3, H=12 parameterization every minhash
    * query uses. Callers append their own threshold filter.
    */
  private def minhashCtes(src: String): String =
    s"""${hashedShinglesCte(src)},
       |sig AS (
       |  SELECT doc_id, $affineSigSql AS sig, list_distinct(hsAll) AS hs
       |  FROM shf),
       |bands AS (
       |  SELECT doc_id, b AS band_idx, md5(array_to_string(sig[b*3+1:b*3+3], ',')) AS band_key
       |  FROM sig, range(0, 4) t(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |verified AS (
       |  SELECT p.id_a, p.id_b,
       |    CASE WHEN len(list_distinct(list_concat(sa.hs, sb.hs))) > 0
       |      THEN len(list_intersect(sa.hs, sb.hs))::DOUBLE / len(list_distinct(list_concat(sa.hs, sb.hs)))
       |      ELSE 0.0 END AS jaccard
       |  FROM cand p JOIN sig sa ON p.id_a = sa.doc_id JOIN sig sb ON p.id_b = sb.doc_id)""".stripMargin

  /** Connected components over a pair selection, DuckDB recursive CTE:
    * `reach` enumerates (node, reachable node) over the symmetric edge
    * list (UNION dedups, so the fixpoint terminates); `clu` labels each
    * node with its minimum reachable id — exactly
    * [[graft.llm.DupClusters.clusters]]'s min-label fixpoint.
    */
  private[queries] def componentCtes(pairsSel: String): String =
    // MATERIALIZED on np/edges is load-bearing: the recursive `reach`
    // fixpoint references `edges` every iteration, and an inlined CTE
    // would re-evaluate the (often expensive) pair selection per round
    s"""np AS MATERIALIZED ($pairsSel),
       |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM np UNION SELECT id_b AS src, id_a AS dst FROM np),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
       |clu AS MATERIALIZED (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** Gate + exact-dedup prefix of the corpus scrub: quality >= 0.3 AND
    * lang = 'en', then min-id survivor per md5(text) group, as an `ex`
    * CTE. Mirrors `CorpusPipeline.scrub` stages 1-3.
    */
  private val scrubPrefixCtes: String =
    s"""tq AS (
       |  SELECT doc_id, text, len(string_split(text, ' ')) AS n, length(text) AS chars,
       |    len(list_filter(string_split(text, ' '), t -> t IN (${stopList(enStop)}))) AS hits
       |  FROM documents),
       |gated AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      0.4 * least(n::DOUBLE / 100.0, 1.0)
       |        + 0.3 * least((CASE WHEN n > 0 THEN hits::DOUBLE / n ELSE 0.0 END) * 5.0, 1.0)
       |        + 0.3 * least((CASE WHEN n > 0 THEN (chars - (n - 1))::DOUBLE / n ELSE 0.0 END) / 8.0, 1.0) AS quality,
       |      $langCase AS lang_pred
       |    FROM tq)
       |  WHERE quality >= 0.3 AND lang_pred IN ('en')),
       |ex AS (
       |  SELECT doc_id, text FROM gated
       |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1)""".stripMargin

  /** Winnowing fingerprint sets per doc (k=8 char-gram rolling polynomial
    * hash, window `w`) — mirrors `TextAnalysis.winnowingFingerprints`,
    * inlining the identical power-of-A literals.
    */
  private def winnowingCtes(w: Int): String = {
    val M = graft.llm.MinHashDedup.Mod
    val terms = (0 until 8).map { j =>
      s"cs[i+$j] * ${TextAnalysis.charPolyPow(8 - 1 - j)} % $M"
    }.mkString(" + ")
    s"""cc AS (
       |  SELECT doc_id,
       |    list_transform(range(1, length(text) + 1), i -> CAST(ord(text[i]) AS BIGINT)) AS cs
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    CASE WHEN len(cs) >= 8
       |      THEN list_transform(range(1, len(cs) - 6), i -> ($terms) % $M)
       |      ELSE [] END AS hs
       |  FROM cc),
       |f AS (
       |  SELECT doc_id,
       |    CASE WHEN len(hs) >= $w
       |      THEN list_distinct(list_transform(range(1, len(hs) - ${w - 2}), j -> list_min(hs[j:j+${w - 1}])))
       |      ELSE (CASE WHEN len(hs) > 0 THEN [list_min(hs)] ELSE [] END)
       |    END AS fps
       |  FROM h)""".stripMargin
  }

  /** SimHash bit-string over a hash-list column `hs` (mirrors
    * [[graft.llm.SimHashDedup.signature]]: md5 digits for the 32-bit
    * family, sha256 digits for the wide family).
    */
  private def simhashExpr(bits: Int): String =
    (1 to bits).map { j =>
      s"(CASE WHEN len(list_filter(hs, h -> substr(h, $j, 1) >= '8')) * 2 > n THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  /** The full greedy BPE training loop ([[graft.llm.Bpe.train]]) as DuckDB
    * SQL: `numMerges` is a compile-time constant, so the iterative
    * argmax-then-merge loop UNROLLS into a chain of materialized CTE
    * stages. The state-carrying trick is the encoding — each word's symbol
    * sequence is one string with every token wrapped in chr(31) delimiters
    * (`␟t1␟␟t2␟…`), absent from the corpus by construction. Under that
    * encoding DuckDB's `replace` (left-to-right, non-overlapping) applies
    * a merge EXACTLY like the trainer's greedy fold: consuming both
    * wrapped tokens per match means "a a a" under merge (a,a) yields
    * [aa, a], never re-matching inside a replacement, and whole-token
    * delimiter bounds prevent substring false matches ("a"+"b" never
    * matches inside token "ab"). `AS MATERIALIZED` is load-bearing: each
    * stage is referenced twice (pair stats + next state), so inlined CTEs
    * would expand 2^numMerges scans.
    *
    * Early stop matches the trainer too: when no pair reaches `minCount`,
    * `bestI` is empty, the cross join empties every later stage, and the
    * rank rows simply stop.
    */
  private def bpeMergesOracle(numMerges: Int, minCount: Long): String = {
    val d = "chr(31)"
    val sb = new StringBuilder
    sb ++= s"""WITH w AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) > 0 GROUP BY 1),
      |ws0 AS MATERIALIZED (
      |  SELECT array_to_string(list_transform(list_append(string_split(word, ''), '</w>'),
      |    x -> $d || x || $d), '') AS enc, n FROM w)""".stripMargin
    for (i <- 0 until numMerges) {
      sb ++= s""",
        |pc$i AS MATERIALIZED (
        |  SELECT p.l AS l, p.r AS r, CAST(sum(n) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(list_transform(range(1, len(s)), j -> {'l': s[j], 'r': s[j+1]})) AS p, n
        |    FROM (SELECT string_split(trim(enc, $d), $d || $d) AS s, n FROM ws$i))
        |  GROUP BY 1, 2),
        |best$i AS MATERIALIZED (
        |  SELECT l, r, cnt FROM pc$i WHERE cnt >= $minCount
        |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
        |ws${i + 1} AS MATERIALIZED (
        |  SELECT replace(enc, $d || b.l || $d || $d || b.r || $d, $d || b.l || b.r || $d) AS enc, n
        |  FROM ws$i, best$i b)""".stripMargin
    }
    sb ++= (0 until numMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, cnt AS pair_count FROM best$i")
      .mkString("\n", "\nUNION ALL\n", "")
    sb.toString
  }

  val specs: Seq[QuerySpec] = Seq(
    // BLEU-2 (clipped n-gram precision + brevity penalty) over adjacent
    // doc-id pairs — the dup-heavy corpus makes neighbors range from
    // verbatim clones (bleu 1) to unrelated (bleu ~0): the reference-
    // overlap score for distillation/paraphrase QA, asymmetric where the
    // dedup family's Jaccard is not.
    QuerySpec("q_bleu_pairs", (s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val pairs = docs.select(col("doc_id"), col("text"))
        .join(docs.select((col("doc_id") - 1).as("doc_id"),
          col("text").as("ref_text")), "doc_id")
      Bleu.bleuPairs(pairs, "doc_id", "text", "ref_text", maxN = 2)
        .select(col("doc_id"), col("len_c"), col("len_r"),
          qround(col("p1"), 6).as("p1"), qround(col("p2"), 6).as("p2"),
          qround(col("bp"), 6).as("bp"), qround(col("bleu"), 6).as("bleu"))
    },
    // clipped n-gram precisions from per-(pair, n, gram) exact counts,
    // BP/geometric mean as fixed per-pair IEEE (mirrors llm.Bleu)
    oracle = Some(
      """WITH p AS (SELECT a.doc_id AS id, a.text AS c, b.text AS r
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id IS NOT NULL AND a.text IS NOT NULL
        |    AND b.text IS NOT NULL),
        |cw AS (SELECT id, string_split(c, ' ') AS w FROM p),
        |rw AS (SELECT id, string_split(r, ' ') AS w FROM p),
        |cg AS (SELECT id, 1 AS n, g AS gram FROM cw, UNNEST(w) AS t(g)
        |  UNION ALL
        |  SELECT id, 2, w[i] || ' ' || w[i + 1]
        |  FROM cw, UNNEST(range(1, len(w))) AS t(i)),
        |rg AS (SELECT id, 1 AS n, g AS gram FROM rw, UNNEST(w) AS t(g)
        |  UNION ALL
        |  SELECT id, 2, w[i] || ' ' || w[i + 1]
        |  FROM rw, UNNEST(range(1, len(w))) AS t(i)),
        |cc AS (SELECT id, n, gram, count(*) AS cnt_c FROM cg GROUP BY 1, 2, 3),
        |rc AS (SELECT id, n, gram, count(*) AS cnt_r FROM rg GROUP BY 1, 2, 3),
        |cl AS (SELECT cc.id, cc.n,
        |    SUM(LEAST(cnt_c, COALESCE(cnt_r, 0))) AS clip, SUM(cnt_c) AS tot
        |  FROM cc LEFT JOIN rc ON rc.id = cc.id AND rc.n = cc.n
        |    AND rc.gram = cc.gram
        |  GROUP BY 1, 2),
        |wide AS (SELECT id,
        |    MAX(CASE WHEN n = 1 THEN clip END) AS clip1,
        |    MAX(CASE WHEN n = 1 THEN tot END) AS tot1,
        |    MAX(CASE WHEN n = 2 THEN clip END) AS clip2,
        |    MAX(CASE WHEN n = 2 THEN tot END) AS tot2
        |  FROM cl GROUP BY 1),
        |lens AS (SELECT id, CAST(len(string_split(c, ' ')) AS BIGINT) AS len_c,
        |    CAST(len(string_split(r, ' ')) AS BIGINT) AS len_r FROM p),
        |f AS (SELECT lens.id, len_c, len_r,
        |    CASE WHEN COALESCE(tot1, 0) > 0
        |      THEN CAST(COALESCE(clip1, 0) AS DOUBLE) / tot1 END AS p1,
        |    CASE WHEN COALESCE(tot2, 0) > 0
        |      THEN CAST(COALESCE(clip2, 0) AS DOUBLE) / tot2 END AS p2,
        |    CASE WHEN len_c >= len_r THEN 1.0
        |      ELSE exp(1.0 - CAST(len_r AS DOUBLE) / len_c) END AS bp
        |  FROM lens LEFT JOIN wide ON wide.id = lens.id)
        |SELECT id AS doc_id, len_c, len_r,
        |  floor(p1 * 1000000.0 + 0.5) / 1000000.0 AS p1,
        |  floor(p2 * 1000000.0 + 0.5) / 1000000.0 AS p2,
        |  floor(bp * 1000000.0 + 0.5) / 1000000.0 AS bp,
        |  floor((CASE WHEN p1 > 0 AND p2 > 0
        |    THEN bp * exp((ln(p1) + ln(p2)) / 2) ELSE 0.0 END)
        |    * 1000000.0 + 0.5) / 1000000.0 AS bleu
        |FROM f""".stripMargin),
    // sf1: per-(pair, n, gram) exact counts over adjacent docs — the tf-idf
    // shuffle class ×2 sides
    sf1 = true),

    // Multinomial Naive Bayes language classifier: fit on even doc_ids,
    // predict the odd half (leak-safe split). Every ln lands on the 1e-12
    // long grid BEFORE the per-document sum, so scores are exact integer
    // totals and the argmax a pure integer comparison.
    QuerySpec("q_nb_classify", (s, d) => {
      val docs = Tables.documents(s, d)
      TextClassify.naiveBayes(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", "lang")
        .select(col("doc_id"), col("actual"), col("pred"), col("correct"),
          qround(col("score"), 6).as("score"))
    },
    // add-one-smoothed MNB; per-term ln quantized to the 1e-12 long grid
    // before the per-document integer sum (mirrors llm.TextClassify)
    oracle = Some(
      """WITH tr AS (SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id % 2 = 0 AND text IS NOT NULL AND lang IS NOT NULL),
        |te AS (SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id % 2 = 1 AND text IS NOT NULL AND lang IS NOT NULL),
        |trt AS (SELECT lang AS lab, unnest(string_split(text, ' ')) AS term FROM tr),
        |tl AS MATERIALIZED (SELECT term, lab, count(*) AS c FROM trt GROUP BY 1, 2),
        |labtok AS (SELECT lab, sum(c) AS t_l FROM tl GROUP BY 1),
        |pri AS (SELECT lang AS lab, count(*) AS d_l FROM tr GROUP BY 1),
        |tot AS (SELECT sum(d_l) AS d_all FROM pri),
        |voc AS (SELECT count(DISTINCT term) AS v_all FROM tl),
        |lab AS (SELECT pri.lab AS lab, t_l, v_all,
        |    CAST(floor(ln(CAST(d_l AS DOUBLE) / d_all) * 1e12 + 0.5) AS BIGINT) AS lp_prior
        |  FROM pri JOIN labtok ON pri.lab = labtok.lab, tot, voc),
        |tet AS (SELECT doc_id, lang AS actual, unnest(string_split(text, ' ')) AS term FROM te),
        |tfc AS (SELECT doc_id, actual, term, count(*) AS tf FROM tet GROUP BY 1, 2, 3),
        |sc AS (SELECT tfc.doc_id AS doc_id, tfc.actual AS actual, lab.lab AS lab,
        |    tfc.tf AS tf, lab.lp_prior AS lp_prior,
        |    CAST(floor(ln(CAST(coalesce(tl.c, 0) + 1 AS DOUBLE) / (lab.t_l + lab.v_all))
        |      * 1e12 + 0.5) AS BIGINT) AS lp_term
        |  FROM tfc CROSS JOIN lab
        |  LEFT JOIN tl ON tl.term = tfc.term AND tl.lab = lab.lab),
        |ds AS (SELECT doc_id, actual, lab,
        |    sum(tf * lp_term) + min(lp_prior) AS s FROM sc GROUP BY 1, 2, 3),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY s DESC, lab ASC) AS rn FROM ds)
        |SELECT doc_id, actual, lab AS pred, (lab = actual) AS correct,
        |  floor((CAST(s AS DOUBLE) / 1e12) * 1000000.0 + 0.5) / 1000000.0 AS score
        |FROM r WHERE rn = 1""".stripMargin),
    // sf1: tf × |labels| join against the vocab-sized model —
    // superlinearity means the broadcast or the term join shuffled wrong
    sf1 = true),

    // Unrestricted Damerau–Levenshtein verify tier over the MinHash
    // candidate pairs (first 200 chars — the verify-budget cap for the
    // full-table DP): dl counts a transposition as ONE edit where plain
    // levenshtein bills two, so the delta column is exactly the
    // typo-transposition mass the cheaper metric over-penalizes.
    QuerySpec("q_damerau_verify", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = MinHashDedup.nearDuplicates(docs, "doc_id", "text",
        k = 3, numHashes = 12, numBands = 4, threshold = 0.5, oracleParity = true)
      val ta = docs.select(col("doc_id").as("id_a"),
        substring(col("text"), 1, 200).as("ta"))
      val tb = docs.select(col("doc_id").as("id_b"),
        substring(col("text"), 1, 200).as("tb"))
      pairs.join(ta, "id_a").join(tb, "id_b")
        .select(col("id_a"), col("id_b"),
          graft.functions.DamerauLevenshtein
            .damerauLevenshtein(col("ta"), col("tb")).as("dl_dist"),
          levenshtein(col("ta"), col("tb")).cast("long").as("lev_dist"))
    },
    oracle = Some(
      s"""WITH ${minhashCtes("documents")}
         |SELECT v.id_a, v.id_b,
         |  CAST(damerau_levenshtein(substr(a.text, 1, 200), substr(b.text, 1, 200)) AS BIGINT) AS dl_dist,
         |  CAST(levenshtein(substr(a.text, 1, 200), substr(b.text, 1, 200)) AS BIGINT) AS lev_dist
         |FROM verified v
         |JOIN documents a ON v.id_a = a.doc_id
         |JOIN documents b ON v.id_b = b.doc_id
         |WHERE v.jaccard >= 0.5""".stripMargin),
    // sf1: per-pair Θ(200²) DP — superlinear growth means the MinHash
    // candidate volume broke, not the DP
    sf1 = true),

    // Damerau–Levenshtein edge contracts against the driver's own oracle
    // engine: UNRESTRICTED semantics (CA→ABC = 2, not OSA's 3),
    // transposition+edit composition, byte-based multi-byte, empty side,
    // long-range multi-transposition.
    QuerySpec("q_damerau_edge", (s, d) => {
      import s.implicits._
      Seq(
        (1L, "CA", "ABC"),          // unrestricted: 2 (OSA would say 3)
        (2L, "teh", "the"),         // the classic typo: 1
        (3L, "a cat", "an act"),    // insert + transposition: 2
        (4L, "éa", "aé"),           // UTF-8 bytes: 2
        (5L, "", "abc"),            // empty side: length
        (6L, "same", "same"),       // identity: 0
        (7L, "abcdef", "badcfe"),   // three adjacent transpositions
        (8L, "kitten", "sitting"))  // levenshtein-classic, no transposition
        .toDF("pair_id", "a", "b")
        .select(col("pair_id"), graft.functions.DamerauLevenshtein
          .damerauLevenshtein(col("a"), col("b")).as("dl"))
    },
    oracle = Some(
      """SELECT pair_id, CAST(damerau_levenshtein(a, b) AS BIGINT) AS dl
        |FROM (VALUES (1, 'CA', 'ABC'), (2, 'teh', 'the'),
        |  (3, 'a cat', 'an act'), (4, 'éa', 'aé'), (5, '', 'abc'),
        |  (6, 'same', 'same'), (7, 'abcdef', 'badcfe'),
        |  (8, 'kitten', 'sitting')) AS t(pair_id, a, b)""".stripMargin)),

    // Full-covariance 2D Mahalanobis outliers per language on
    // (n_chars, token count) — the correlation-aware screen that catches
    // "long doc, too few tokens" where the diagonal z-score is blind.
    QuerySpec("q_mahalanobis2", (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("toks", size(split(col("text"), " ")).cast("long"))
      graft.ops.Outliers.mahalanobis2(docs, "lang", "n_chars", "toks")
        .select(col("doc_id"), col("lang"), qround(col("d2"), 6).as("d2"))
        .orderBy(col("d2").desc, col("doc_id").asc)
        .limit(20)
    },
    // population covariances + closed-form 2×2 inverse, written
    // operand-for-operand as in Outliers.mahalanobis2
    oracle = Some(
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        |    AND text IS NOT NULL),
        |m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    sum(n_chars) AS sx, sum(toks) AS sy,
        |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS sxx,
        |    sum(CAST(toks AS HUGEINT) * toks) AS syy,
        |    sum(CAST(n_chars AS HUGEINT) * toks) AS sxy
        |  FROM d GROUP BY 1),
        |f AS (SELECT d.doc_id AS doc_id, d.lang AS lang, n, n_chars, toks,
        |    CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
        |    CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS vxx,
        |    CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS vyy,
        |    CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS vxy
        |  FROM d JOIN m ON d.lang = m.lang),
        |g AS (SELECT doc_id, lang, n, vxx * vyy - vxy * vxy AS det,
        |    CAST(n_chars AS DOUBLE) - mx AS dx, CAST(toks AS DOUBLE) - my AS dy,
        |    vxx, vyy, vxy
        |  FROM f)
        |SELECT doc_id, lang,
        |  CASE WHEN n > 2 AND det > 0 THEN
        |    floor(((dx * dx * vyy - 2.0 * dx * dy * vxy + dy * dy * vxx) / det)
        |      * 1000000.0 + 0.5) / 1000000.0 END AS d2
        |FROM g ORDER BY 3 DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // Term burstiness (Fisher dispersion over all docs, zeros included):
    // the list-free stopword/keyword separator — VMR ≈ 1 is a function
    // word, VMR ≫ 1 is bursty content vocabulary.
    QuerySpec("q_term_burstiness", (s, d) =>
      TextAnalysis.termBurstiness(Tables.documents(s, d), "doc_id", "text",
          k = 40)
        .select(col("term"), col("df"), col("tf_total"),
          qround(col("vmr"), 6).as("vmr")),
    // all-docs dispersion moments (zeros contribute nothing to either
    // sum); top-k on the exact (tf_total, term) order
    oracle = Some(
      """WITH docs AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM docs),
        |tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM docs),
        |tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
        |terms AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(tf) AS BIGINT) AS s,
        |    sum(CAST(tf AS HUGEINT) * tf) AS q FROM tfc GROUP BY 1)
        |SELECT term, df, s AS tf_total,
        |  CASE WHEN s > 0 THEN
        |    floor(((CAST(q AS DOUBLE) / n_docs -
        |        (CAST(s AS DOUBLE) / n_docs) * (CAST(s AS DOUBLE) / n_docs)) /
        |      (CAST(s AS DOUBLE) / n_docs)) * 1000000.0 + 0.5) / 1000000.0
        |  END AS vmr
        |FROM terms, t ORDER BY tf_total DESC, term ASC LIMIT 40""".stripMargin),
    // sf1: the (doc, term) tf shuffle — the tf-idf scale class
    sf1 = true),

    // Krippendorff's α over the same gold-vs-heuristic labels as the
    // Cohen κ row — pooled-marginal chance term (κ's per-rater marginals
    // reward shared bias; reporting both is the annotation-QA standard).
    QuerySpec("q_krippendorff", (s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("lang").isNotNull && col("text").isNotNull)
        .select(col("lang").as("gold"),
          TextAnalysis.langId(col("text")).as("pred"))
      graft.ops.MlEval.krippendorffAlpha(docs, "gold", "pred")
        .select(col("n"), col("agree"), qround(col("d_o"), 6).as("d_o"),
          qround(col("d_e"), 6).as("d_e"),
          qround(col("alpha"), 6).as("alpha"))
    },
    // pooled coincidence marginals mirror MlEval.krippendorffAlpha
    oracle = Some(
      s"""WITH d AS (SELECT lang AS a, $langCase AS b FROM documents
         |  WHERE lang IS NOT NULL AND text IS NOT NULL),
         |cells AS MATERIALIZED (SELECT a, b, count(*) AS c FROM d GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS agree FROM cells),
         |ra AS (SELECT a AS k, sum(c) AS ma FROM cells GROUP BY 1),
         |rb AS (SELECT b AS k, sum(c) AS mb FROM cells GROUP BY 1),
         |pl AS (SELECT coalesce(ra.k, rb.k) AS k,
         |    coalesce(ma, 0) + coalesce(mb, 0) AS nc
         |  FROM ra FULL OUTER JOIN rb ON ra.k = rb.k),
         |pm AS (SELECT coalesce(sum(CAST(nc AS HUGEINT) * (nc - 1)), 0) AS dnum FROM pl),
         |r AS (SELECT n, agree,
         |    1.0 - CAST(agree AS DOUBLE) / n AS d_o,
         |    1.0 - CAST(dnum AS DOUBLE) / ((2.0 * n) * (2.0 * n - 1.0)) AS d_e
         |  FROM tot, pm)
         |SELECT n, agree,
         |  floor(d_o * 1000000.0 + 0.5) / 1000000.0 AS d_o,
         |  floor(d_e * 1000000.0 + 0.5) / 1000000.0 AS d_e,
         |  CASE WHEN d_e > 0 THEN
         |    floor((1.0 - d_o / d_e) * 1000000.0 + 0.5) / 1000000.0 END AS alpha
         |FROM r""".stripMargin)),

    // Label-noise screen: NB fit on the WHOLE corpus re-scores every doc;
    // docs whose own tokens out-vote their lang label surface with the
    // disagreement margin — the first pass of annotation cleaning.
    QuerySpec("q_label_noise", (s, d) =>
      TextClassify.labelNoise(Tables.documents(s, d), "doc_id", "text", "lang")
        .select(col("doc_id"), col("actual"), col("pred"),
          qround(col("margin"), 6).as("margin"))
        .orderBy(col("margin").desc, col("doc_id").asc)
        .limit(20),
    // the q_nb_classify machinery with train = test = the whole corpus,
    // plus the winner-vs-actual margin (mirrors TextClassify.labelNoise)
    oracle = Some(
      """WITH tr AS (SELECT doc_id, lang, text FROM documents
        |  WHERE text IS NOT NULL AND lang IS NOT NULL),
        |trt AS (SELECT lang AS lab, unnest(string_split(text, ' ')) AS term FROM tr),
        |tl AS MATERIALIZED (SELECT term, lab, count(*) AS c FROM trt GROUP BY 1, 2),
        |labtok AS (SELECT lab, sum(c) AS t_l FROM tl GROUP BY 1),
        |pri AS (SELECT lang AS lab, count(*) AS d_l FROM tr GROUP BY 1),
        |tot AS (SELECT sum(d_l) AS d_all FROM pri),
        |voc AS (SELECT count(DISTINCT term) AS v_all FROM tl),
        |lab AS (SELECT pri.lab AS lab, t_l, v_all,
        |    CAST(floor(ln(CAST(d_l AS DOUBLE) / d_all) * 1e12 + 0.5) AS BIGINT) AS lp_prior
        |  FROM pri JOIN labtok ON pri.lab = labtok.lab, tot, voc),
        |tet AS (SELECT doc_id, lang AS actual, unnest(string_split(text, ' ')) AS term FROM tr),
        |tfc AS (SELECT doc_id, actual, term, count(*) AS tf FROM tet GROUP BY 1, 2, 3),
        |sc AS (SELECT tfc.doc_id AS doc_id, tfc.actual AS actual, lab.lab AS lab,
        |    tfc.tf AS tf, lab.lp_prior AS lp_prior,
        |    CAST(floor(ln(CAST(coalesce(tl.c, 0) + 1 AS DOUBLE) / (lab.t_l + lab.v_all))
        |      * 1e12 + 0.5) AS BIGINT) AS lp_term
        |  FROM tfc CROSS JOIN lab
        |  LEFT JOIN tl ON tl.term = tfc.term AND tl.lab = lab.lab),
        |ds AS MATERIALIZED (SELECT doc_id, actual, lab,
        |    sum(tf * lp_term) + min(lp_prior) AS s FROM sc GROUP BY 1, 2, 3),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY s DESC, lab ASC) AS rn FROM ds),
        |win AS (SELECT doc_id, actual, lab AS pred, s AS s_pred FROM r WHERE rn = 1),
        |act AS (SELECT doc_id, s AS s_act FROM ds WHERE lab = actual)
        |SELECT win.doc_id AS doc_id, actual, pred,
        |  floor((CAST(s_pred - s_act AS DOUBLE) / 1e12) * 1000000.0 + 0.5) / 1000000.0 AS margin
        |FROM win JOIN act ON win.doc_id = act.doc_id
        |WHERE pred <> actual
        |ORDER BY 4 DESC, doc_id ASC LIMIT 20""".stripMargin),
    // sf1: re-runs the NB fit+apply over the whole corpus —
    // superlinearity means the model join or the argmax window broke
    sf1 = true),

    // The composed classifier-eval suite — the q_corpus_pipeline /
    // q_experiment_pipeline treatment for the model-eval family: ONE NB
    // fit (even docs) feeds the held-out apply, the per-label score then
    // drives best-F1 and the decile-1 gain as a RANKING signal for
    // "is this English", and the full-corpus refit runs the label-noise
    // screen — a 12-row all-rounded ledger pinning the COMPOSITION.
    QuerySpec("q_classifier_pipeline", (s, d) => {
      val docs = Tables.documents(s, d)
      val train = docs.filter(col("doc_id") % 2 === 0)
      val test = docs.filter(col("doc_id") % 2 === 1)
      // enScore feeds BOTH the best-F1 and the gains branches — without a
      // cut the docScores subtree (tokenize + NB fit + apply over the
      // whole corpus) ran twice (round 16, the q_mmr_select multi-consumer
      // lesson). Eager: the branch threads below must not race a lazy
      // checkpoint's first materialization.
      val enScore = TextClassify.docScores(train, test, "doc_id", "text", "lang")
        .filter(col("lab") === "en")
        .select(lit("all").as("g"), col("doc_id"), col("s"),
          (col("actual") === "en").as("is_en"))
        .localCheckpoint(true)
      // the five ledger branches are mutually independent; overlap them
      // (guide §2.6) — the full-corpus label-noise refit is the longest
      // and used to serialize behind fit/apply/f1/gains
      val Seq(fit, applied, f1, gains, noise) =
        graft.ops.Branches.materialize(Seq(
          () => train
            .filter(col("text").isNotNull && col("lang").isNotNull)
            .select(col("doc_id"), col("lang"),
              explode(split(col("text"), " ")).as("term"))
            .agg(count_distinct(col("doc_id")).cast("double").as("n_train"),
              count_distinct(col("term")).cast("double").as("vocab"),
              count_distinct(col("lang")).cast("double").as("n_labels")),
          () => TextClassify.naiveBayes(train, test, "doc_id", "text", "lang")
            .agg(count(lit(1)).cast("double").as("n_test"),
              count_if(col("correct")).cast("double").as("n_correct"))
            .withColumn("accuracy", col("n_correct") / col("n_test")),
          () => graft.ops.MlEval.bestF1(enScore, "g", "s", col("is_en"))
            .select((col("threshold").cast("double") / 1e12).as("f1_threshold"),
              col("f1")),
          () => graft.ops.MlEval.gainsTable(enScore, "g", "s", col("is_en"))
            .filter(col("decile") === 1)
            .select(col("gain").as("gain_d1"), col("lift").as("lift_d1")),
          () => TextClassify.labelNoise(docs, "doc_id", "text", "lang")
            .agg(count(lit(1)).cast("double").as("n_flagged"),
              coalesce(max(col("margin")), lit(0.0)).as("max_margin"))))
      fit.crossJoin(applied).crossJoin(f1).crossJoin(gains).crossJoin(noise)
        .select(col("n_train"), col("vocab"), col("n_labels"),
          col("n_test"), col("n_correct"),
          qround(col("accuracy"), 6).as("accuracy"),
          qround(col("f1_threshold"), 6).as("f1_threshold"),
          qround(col("f1"), 6).as("f1"),
          qround(col("gain_d1"), 6).as("gain_d1"),
          qround(col("lift_d1"), 6).as("lift_d1"),
          col("n_flagged"), qround(col("max_margin"), 6).as("max_margin"))
        .selectExpr("""stack(12,
          '00_fit_n_train', n_train, '00_fit_vocab', vocab,
          '00_fit_n_labels', n_labels,
          '01_apply_n_test', n_test, '01_apply_n_correct', n_correct,
          '01_apply_accuracy', accuracy,
          '02_rank_f1_threshold', f1_threshold, '02_rank_best_f1', f1,
          '02_rank_gain_d1', gain_d1, '02_rank_lift_d1', lift_d1,
          '03_noise_n_flagged', n_flagged,
          '03_noise_max_margin', max_margin) AS (metric, value)""")
    },
    // the composed classifier ledger: the q_nb_classify chain (even-half
    // fit), the en-score ranking stages (bestF1 / decile-1 gain forms),
    // and the q_label_noise full-corpus chain, unpivoted to 12 rows
    oracle = Some(
      """WITH tr AS (SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id % 2 = 0 AND text IS NOT NULL AND lang IS NOT NULL),
        |te AS (SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id % 2 = 1 AND text IS NOT NULL AND lang IS NOT NULL),
        |trt AS (SELECT doc_id, lang AS lab, unnest(string_split(text, ' ')) AS term FROM tr),
        |fit AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_train,
        |    CAST(count(DISTINCT term) AS DOUBLE) AS vocab,
        |    CAST(count(DISTINCT lab) AS DOUBLE) AS n_labels FROM trt),
        |tl AS MATERIALIZED (SELECT term, lab, count(*) AS c FROM trt GROUP BY 1, 2),
        |labtok AS (SELECT lab, sum(c) AS t_l FROM tl GROUP BY 1),
        |pri AS (SELECT lang AS lab, count(*) AS d_l FROM tr GROUP BY 1),
        |tot AS (SELECT sum(d_l) AS d_all FROM pri),
        |voc AS (SELECT count(DISTINCT term) AS v_all FROM tl),
        |lab AS (SELECT pri.lab AS lab, t_l, v_all,
        |    CAST(floor(ln(CAST(d_l AS DOUBLE) / d_all) * 1e12 + 0.5) AS BIGINT) AS lp_prior
        |  FROM pri JOIN labtok ON pri.lab = labtok.lab, tot, voc),
        |tet AS (SELECT doc_id, lang AS actual, unnest(string_split(text, ' ')) AS term FROM te),
        |tfc AS (SELECT doc_id, actual, term, count(*) AS tf FROM tet GROUP BY 1, 2, 3),
        |sc AS (SELECT tfc.doc_id AS doc_id, tfc.actual AS actual, lab.lab AS lab,
        |    tfc.tf AS tf, lab.lp_prior AS lp_prior,
        |    CAST(floor(ln(CAST(coalesce(tl.c, 0) + 1 AS DOUBLE) / (lab.t_l + lab.v_all))
        |      * 1e12 + 0.5) AS BIGINT) AS lp_term
        |  FROM tfc CROSS JOIN lab
        |  LEFT JOIN tl ON tl.term = tfc.term AND tl.lab = lab.lab),
        |ds AS MATERIALIZED (SELECT doc_id, actual, lab,
        |    sum(tf * lp_term) + min(lp_prior) AS s FROM sc GROUP BY 1, 2, 3),
        |win AS (SELECT doc_id, actual, lab,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lab) AS rn FROM ds),
        |applied AS (SELECT CAST(count(*) AS DOUBLE) AS n_test,
        |    CAST(sum(CASE WHEN lab = actual THEN 1 ELSE 0 END) AS DOUBLE) AS n_correct
        |  FROM win WHERE rn = 1),
        |es AS (SELECT CAST(s AS BIGINT) AS s, CAST(actual = 'en' AS INT) AS y
        |  FROM ds WHERE lab = 'en'),
        |gg AS (SELECT s, count(*) AS c, sum(y) AS p FROM es GROUP BY 1),
        |rr AS (SELECT *, sum(p) OVER (ORDER BY s DESC) AS tp,
        |    sum(c) OVER (ORDER BY s DESC) AS scd,
        |    sum(p) OVER () AS np, sum(c) OVER () AS n FROM gg),
        |ff AS (SELECT s, tp, scd - tp AS fp, np,
        |    2.0 * tp / (tp + (scd - tp) + np) AS f1v FROM rr),
        |fk AS (SELECT *, row_number() OVER (ORDER BY
        |    CAST(floor(f1v * 1e12 + 0.5) AS BIGINT) DESC, s ASC) AS rn FROM ff),
        |f1 AS (SELECT CAST(s AS DOUBLE) / 1e12 AS f1_threshold,
        |    CASE WHEN np > 0 THEN f1v END AS f1 FROM fk WHERE rn = 1),
        |g0 AS (SELECT *, sum(c) OVER (ORDER BY s DESC) AS cc,
        |    sum(p) OVER (ORDER BY s DESC) AS cp,
        |    sum(c) OVER () AS n, sum(p) OVER () AS np FROM gg),
        |g1 AS (SELECT min(CASE WHEN cc * 10 >= n * 1 THEN cc END) AS n_sc,
        |    min(CASE WHEN cc * 10 >= n * 1 THEN cp END) AS p_c,
        |    max(n) AS n, max(np) AS np FROM g0),
        |gains AS (SELECT
        |    CASE WHEN np > 0 THEN CAST(p_c AS DOUBLE) / np END AS gain_d1,
        |    CASE WHEN np > 0 THEN (CAST(p_c AS DOUBLE) / np) /
        |      (CAST(n_sc AS DOUBLE) / n) END AS lift_d1 FROM g1),
        |atr AS (SELECT doc_id, lang, text FROM documents
        |  WHERE text IS NOT NULL AND lang IS NOT NULL),
        |att AS (SELECT lang AS lab, unnest(string_split(text, ' ')) AS term FROM atr),
        |atl AS MATERIALIZED (SELECT term, lab, count(*) AS c FROM att GROUP BY 1, 2),
        |albtok AS (SELECT lab, sum(c) AS t_l FROM atl GROUP BY 1),
        |apri AS (SELECT lang AS lab, count(*) AS d_l FROM atr GROUP BY 1),
        |atot AS (SELECT sum(d_l) AS d_all FROM apri),
        |avoc AS (SELECT count(DISTINCT term) AS v_all FROM atl),
        |alab AS (SELECT apri.lab AS lab, t_l, v_all,
        |    CAST(floor(ln(CAST(d_l AS DOUBLE) / d_all) * 1e12 + 0.5) AS BIGINT) AS lp_prior
        |  FROM apri JOIN albtok ON apri.lab = albtok.lab, atot, avoc),
        |atet AS (SELECT doc_id, lang AS actual, unnest(string_split(text, ' ')) AS term FROM atr),
        |atfc AS (SELECT doc_id, actual, term, count(*) AS tf FROM atet GROUP BY 1, 2, 3),
        |asc2 AS (SELECT atfc.doc_id AS doc_id, atfc.actual AS actual, alab.lab AS lab,
        |    atfc.tf AS tf, alab.lp_prior AS lp_prior,
        |    CAST(floor(ln(CAST(coalesce(atl.c, 0) + 1 AS DOUBLE) / (alab.t_l + alab.v_all))
        |      * 1e12 + 0.5) AS BIGINT) AS lp_term
        |  FROM atfc CROSS JOIN alab
        |  LEFT JOIN atl ON atl.term = atfc.term AND atl.lab = alab.lab),
        |ads AS MATERIALIZED (SELECT doc_id, actual, lab,
        |    sum(tf * lp_term) + min(lp_prior) AS s FROM asc2 GROUP BY 1, 2, 3),
        |awin AS (SELECT doc_id, actual, lab AS pred, s AS s_pred,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lab) AS rn FROM ads),
        |aact AS (SELECT doc_id, s AS s_act FROM ads WHERE lab = actual),
        |noiserows AS (SELECT CAST(s_pred - s_act AS DOUBLE) / 1e12 AS margin
        |  FROM (SELECT * FROM awin WHERE rn = 1) w
        |  JOIN aact ON w.doc_id = aact.doc_id WHERE pred <> actual),
        |noise AS (SELECT CAST(count(*) AS DOUBLE) AS n_flagged,
        |    coalesce(max(margin), 0.0) AS max_margin FROM noiserows),
        |one AS (SELECT * FROM fit, applied, f1, gains, noise)
        |SELECT '00_fit_n_train' AS metric, n_train AS value FROM one
        |UNION ALL SELECT '00_fit_vocab', vocab FROM one
        |UNION ALL SELECT '00_fit_n_labels', n_labels FROM one
        |UNION ALL SELECT '01_apply_n_test', n_test FROM one
        |UNION ALL SELECT '01_apply_n_correct', n_correct FROM one
        |UNION ALL SELECT '01_apply_accuracy',
        |  floor((n_correct / n_test) * 1000000.0 + 0.5) / 1000000.0 FROM one
        |UNION ALL SELECT '02_rank_f1_threshold',
        |  floor(f1_threshold * 1000000.0 + 0.5) / 1000000.0 FROM one
        |UNION ALL SELECT '02_rank_best_f1',
        |  floor(f1 * 1000000.0 + 0.5) / 1000000.0 FROM one
        |UNION ALL SELECT '02_rank_gain_d1',
        |  floor(gain_d1 * 1000000.0 + 0.5) / 1000000.0 FROM one
        |UNION ALL SELECT '02_rank_lift_d1',
        |  floor(lift_d1 * 1000000.0 + 0.5) / 1000000.0 FROM one
        |UNION ALL SELECT '03_noise_n_flagged', n_flagged FROM one
        |UNION ALL SELECT '03_noise_max_margin',
        |  floor(max_margin * 1000000.0 + 0.5) / 1000000.0 FROM one""".stripMargin),
    // sf1: three corpus fits + ranking stages; tracks the whole eval
    // family's scale at once
    sf1 = true),

    // Character-bigram entropy per language: the byte-level fingerprint
    // that catches mojibake/base64 (H₂ jumps) and template boilerplate
    // (H₂ collapses) token-level quality screens miss; h_cond =
    // H(next char | char) via consistent first-char marginals.
    QuerySpec("q_char_entropy", (s, d) =>
      TextAnalysis.charNgramEntropy(Tables.documents(s, d), "lang", "text")
        .select(col("lang"), col("n_bigrams"), qround(col("h2"), 6).as("h2"),
          qround(col("h1"), 6).as("h1"),
          qround(col("h_cond"), 6).as("h_cond")),
    // p·ln terms on the 1e-12 grid before the alphabet²-bounded sums
    // (mirrors TextAnalysis.charNgramEntropy)
    oracle = Some(
      """WITH b AS (SELECT lang AS g, text AS t FROM documents
        |  WHERE lang IS NOT NULL AND text IS NOT NULL AND length(text) >= 2),
        |big AS (SELECT g, unnest(list_transform(range(1, length(t)),
        |    i -> substr(t, i, 2))) AS bg FROM b),
        |cells AS MATERIALIZED (SELECT g, bg, count(*) AS c FROM big GROUP BY 1, 2),
        |tot AS (SELECT g, sum(c) AS nb FROM cells GROUP BY 1),
        |uni AS (SELECT g, substr(bg, 1, 1) AS u, sum(c) AS cu
        |  FROM cells GROUP BY 1, 2),
        |h2 AS (SELECT cells.g AS g,
        |    sum(CAST(floor(-(CAST(c AS DOUBLE) / nb) *
        |      ln(CAST(c AS DOUBLE) / nb) * 1e12 + 0.5) AS BIGINT)) AS h2g
        |  FROM cells JOIN tot ON cells.g = tot.g GROUP BY 1),
        |h1 AS (SELECT uni.g AS g,
        |    sum(CAST(floor(-(CAST(cu AS DOUBLE) / nb) *
        |      ln(CAST(cu AS DOUBLE) / nb) * 1e12 + 0.5) AS BIGINT)) AS h1g
        |  FROM uni JOIN tot ON uni.g = tot.g GROUP BY 1)
        |SELECT tot.g AS lang, CAST(nb AS BIGINT) AS n_bigrams,
        |  floor((CAST(h2g AS DOUBLE) / 1e12) * 1000000.0 + 0.5) / 1000000.0 AS h2,
        |  floor((CAST(h1g AS DOUBLE) / 1e12) * 1000000.0 + 0.5) / 1000000.0 AS h1,
        |  floor((CAST(h2g - h1g AS DOUBLE) / 1e12) * 1000000.0 + 0.5) / 1000000.0 AS h_cond
        |FROM tot JOIN h2 ON tot.g = h2.g JOIN h1 ON tot.g = h1.g""".stripMargin)),

    // Token counting: whitespace + BPE-ish regex.
    QuerySpec("q_text_token_count", (s, d) => {
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.regexTokenCount(col("text")).as("n_bpe_tokens"))
    },
    oracle = Some(("SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)) AS BIGINT) AS n_bpe_tokens FROM documents"))),

    // Quality scoring: stopword/word-length/length signals.
    QuerySpec("q_text_quality", (s, d) => {
      Tables.documents(s, d).select(col("doc_id"),
        qround(TextAnalysis.stopwordRatio(col("text"), enStop), 6).as("stopword_ratio"),
        qround(TextAnalysis.avgWordLen(col("text")), 6).as("avg_word_len"),
        qround(TextAnalysis.qualityScore(col("text"), enStop), 6).as("quality"))
    },
    oracle = Some(
      s"""WITH t AS (
         |  SELECT doc_id, len(string_split(text, ' ')) AS n, length(text) AS chars,
         |    len(list_filter(string_split(text, ' '), t -> t IN (${stopList(enStop)}))) AS hits
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CASE WHEN n > 0 THEN hits::DOUBLE / n ELSE 0.0 END AS stopword_ratio,
         |    CASE WHEN n > 0 THEN (chars - (n - 1))::DOUBLE / n ELSE 0.0 END AS avg_word_len,
         |    n::DOUBLE AS tok
         |  FROM t)
         |SELECT doc_id,
         |  floor((stopword_ratio) * 1000000.0 + 0.5) / 1000000.0 AS stopword_ratio,
         |  floor((avg_word_len) * 1000000.0 + 0.5) / 1000000.0 AS avg_word_len,
         |  floor((0.4 * least(tok / 100.0, 1.0) + 0.3 * least(stopword_ratio * 5.0, 1.0) + 0.3 * least(avg_word_len / 8.0, 1.0)) * 1000000.0 + 0.5) / 1000000.0 AS quality
         |FROM m""".stripMargin)),

    // Language ID: stopword-table argmax with deterministic tie order.
    QuerySpec("q_text_lang_id", (s, d) => {
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
    },
    oracle = Some(s"SELECT doc_id, lang, $langCase AS lang_pred FROM documents")),

    // Chance-corrected agreement between the stopword-argmax language
    // heuristic and the stored lang label — Cohen's κ, the label-quality
    // audit for doubly-annotated data (classifier-vs-gold here).
    QuerySpec("q_lang_agreement_kappa", (s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("lang").isNotNull && col("text").isNotNull)
        .select(col("lang").as("gold"),
          TextAnalysis.langId(col("text")).as("pred"))
      graft.ops.MlEval.cohenKappa(docs, "gold", "pred")
        .select(col("n"), col("agree"),
          qround(col("po"), 6).as("po"), qround(col("pe"), 6).as("pe"),
          qround(col("kappa"), 6).as("kappa"))
    },
    oracle = Some(
      s"""WITH d AS (SELECT lang AS a, $langCase AS b FROM documents
         |  WHERE lang IS NOT NULL AND text IS NOT NULL),
         |cells AS (SELECT a, b, count(*) AS c FROM d GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS agree FROM cells),
         |ra AS (SELECT a AS k, sum(c) AS ma FROM cells GROUP BY 1),
         |rb AS (SELECT b AS k, sum(c) AS mb FROM cells GROUP BY 1),
         |pm AS (SELECT coalesce(sum(ma * mb), 0) AS pem FROM ra JOIN rb USING (k)),
         |r AS (SELECT n, agree,
         |    CAST(agree AS DOUBLE) / n AS po,
         |    CAST(pem AS DOUBLE) / (CAST(n AS DOUBLE) * n) AS pe
         |  FROM tot, pm)
         |SELECT n, agree,
         |  floor((po) * 1000000.0 + 0.5) / 1000000.0 AS po,
         |  floor((pe) * 1000000.0 + 0.5) / 1000000.0 AS pe,
         |  CASE WHEN pe < 1.0 THEN
         |    floor(((po - pe) / (1.0 - pe)) * 1000000.0 + 0.5) / 1000000.0 END AS kappa
         |FROM r""".stripMargin)),

    // Canonical-form fingerprint groups (dedup ladder rung 0).
    QuerySpec("q_text_fingerprint", (s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text", canonicalize = true),
    oracle = Some(("SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp, " +
        "min(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_dups FROM documents GROUP BY 1"))),

    // Exact content dedup via md5 hash-groupBy.
    QuerySpec("q_dedup_exact", (s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text"),
    oracle = Some("SELECT md5(text) AS fp, min(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_dups FROM documents GROUP BY 1")),

    // Asymmetric containment near-dup: ordered pairs where ≥70% of A's
    // 3-grams appear in B — the superset-duplicate case (B = A + extra
    // text) symmetric Jaccard structurally misses.
    QuerySpec("q_containment_pairs", (s, d) =>
      NGramJaccard.containmentPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.7, minGrams = 5)
        .select(col("id_a"), col("id_b"),
          qround(col("containment"), 6).as("containment")),
    oracle = Some(
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(ws)-2,0)+1), i -> array_to_string(ws[i:i+2], ' '))) AS grams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |f AS (SELECT * FROM g WHERE len(grams) >= 5),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.grams, b.grams))::DOUBLE / len(a.grams) AS containment
        |  FROM f a JOIN f b ON a.doc_id <> b.doc_id)
        |SELECT id_a, id_b, floor((containment) * 1000000.0 + 0.5) / 1000000.0 AS containment
        |FROM pairs WHERE containment >= 0.7""".stripMargin),
    sf1 = true),

    // MinHash LSH near-dup: shingle → signature → band → bucket join → verify.
    QuerySpec("q_minhash_neardup", (s, d) => {
      MinHashDedup.nearDuplicates(Tables.documents(s, d), "doc_id", "text",
          k = 3, numHashes = 12, numBands = 4, threshold = 0.5, oracleParity = true)
        .select(col("id_a"), col("id_b"), qround(col("jaccard"), 6).as("jaccard"))
    },
    oracle = Some(
      s"""WITH ${minhashCtes("documents")}
         |SELECT id_a, id_b, floor((jaccard) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
         |FROM verified WHERE jaccard >= 0.5""".stripMargin),
    sf1 = true),

    // Incremental near-dup: the new batch (doc_id % 4 == 0) deduped
    // against the persisted signature store of the rest — store×store
    // candidates are dropped before the verification join. The oracle
    // computes the full-corpus pair set and keeps pairs touching a new
    // id: provably the same relation.
    QuerySpec("q_minhash_incremental", (s, d) => {
      val docs = Tables.documents(s, d)
      val store = MinHashDedup.signatures(
        docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text", oracleParity = true)
      MinHashDedup.incrementalNearDuplicates(
          docs.filter(col("doc_id") % 4 === 0), store, "doc_id", "text",
          k = 3, numHashes = 12, numBands = 4, threshold = 0.5, oracleParity = true)
        .select(col("id_a"), col("id_b"), qround(col("jaccard"), 6).as("jaccard"))
    },
    oracle = Some(
      s"""WITH ${minhashCtes("documents")}
         |SELECT id_a, id_b, floor((jaccard) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
         |FROM verified
         |WHERE jaccard >= 0.5 AND (id_a % 4 = 0 OR id_b % 4 = 0)""".stripMargin),
    sf1 = true),

    // Edit-distance verification tier: character-exact similarity over the
    // MinHash candidate pairs only — the O(len²) DP runs on dup-mass pairs,
    // never corpus×corpus.
    QuerySpec("q_editdist_verify", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = MinHashDedup.nearDuplicates(docs, "doc_id", "text",
        k = 3, numHashes = 12, numBands = 4, threshold = 0.5, oracleParity = true)
      val ta = docs.select(col("doc_id").as("id_a"), col("text").as("ta"))
      val tb = docs.select(col("doc_id").as("id_b"), col("text").as("tb"))
      pairs.join(ta, "id_a").join(tb, "id_b")
        .select(col("id_a"), col("id_b"),
          levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
          qround(lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double") /
            greatest(length(col("ta")), length(col("tb"))), 6).as("edit_sim"))
    },
    oracle = Some(
      s"""WITH ${minhashCtes("documents")}
         |SELECT v.id_a, v.id_b,
         |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
         |  floor((1.0 - levenshtein(a.text, b.text)::DOUBLE / greatest(length(a.text), length(b.text))) * 1000000.0 + 0.5) / 1000000.0 AS edit_sim
         |FROM verified v
         |JOIN documents a ON v.id_a = a.doc_id
         |JOIN documents b ON v.id_b = b.doc_id
         |WHERE v.jaccard >= 0.5""".stripMargin),
    sf1 = true),

    // Exact n-gram Jaccard within length buckets (inverted-index impl).
    QuerySpec("q_ngram_jaccard", (s, d) => {
      NGramJaccard.similarPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, bucketWidth = 8, threshold = 0.3)
        .select(col("id_a"), col("id_b"), qround(col("jaccard"), 6).as("jaccard"))
    },
    oracle = Some(
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(ws)-2,0)+1), i -> array_to_string(ws[i:i+2], ' '))) AS grams,
        |    CAST(floor(len(ws) / 8.0) AS BIGINT) AS len_bucket
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) > 0
        |      THEN len(list_intersect(a.grams, b.grams))::DOUBLE / len(list_distinct(list_concat(a.grams, b.grams)))
        |      ELSE 0.0 END AS jaccard
        |  FROM g a JOIN g b ON a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, floor((jaccard) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        |FROM pairs WHERE jaccard >= 0.3""".stripMargin),
    sf1 = true),

    // Cross-table fuzzy similarity join (entity matching): even-id docs
    // matched against odd-id docs at trigram Jaccard >= 0.3 — the R x S
    // form of the prefix-filtered scheme, never forming left x right.
    QuerySpec("q_similarity_join", (s, d) => {
      val docs = Tables.documents(s, d)
      NGramJaccard.similarityJoin(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          n = 3, threshold = 0.3)
        .select(col("id_l"), col("id_r"), qround(col("jaccard"), 6).as("jaccard"))
    },
    oracle = Some(
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(ws)-2,0)+1), i -> array_to_string(ws[i:i+2], ' '))) AS grams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |l AS (SELECT doc_id AS id_l, grams FROM g WHERE doc_id % 2 = 0 AND len(grams) > 0),
        |r AS (SELECT doc_id AS id_r, grams FROM g WHERE doc_id % 2 = 1 AND len(grams) > 0),
        |pairs AS (
        |  SELECT id_l, id_r,
        |    CASE WHEN len(list_distinct(list_concat(l.grams, r.grams))) > 0
        |      THEN len(list_intersect(l.grams, r.grams))::DOUBLE / len(list_distinct(list_concat(l.grams, r.grams)))
        |      ELSE 0.0 END AS jaccard
        |  FROM l, r)
        |SELECT id_l, id_r, floor((jaccard) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        |FROM pairs WHERE jaccard >= 0.3""".stripMargin),
    sf1 = true),

    // Winnowing rolling-hash fingerprints: per-doc summary of the selected
    // fingerprint set (k=8 char-grams, window w=4).
    QuerySpec("q_text_winnowing", (s, d) => {
      Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.winnowingFingerprints(col("text"), 8, 4).as("fps"))
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fps"),
          array_min(col("fps")).as("min_fp"), array_max(col("fps")).as("max_fp"))
    },
    oracle = Some(
      s"""WITH ${winnowingCtes(4)}
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
         |  list_min(fps) AS min_fp, list_max(fps) AS max_fp
         |FROM f""".stripMargin)),

    // SimHash signatures: both hash families, pinned per-doc cross-engine —
    // the 32-bit md5 family and the 60-bit sha2-256 family the scaled
    // near-dup path runs on (see SimHashDedup.signature on why width is
    // the scale lever).
    QuerySpec("q_simhash", (s, d) => {
      Tables.documents(s, d).select(col("doc_id"),
        SimHashDedup.signature(col("text"), 32).as("simhash"),
        SimHashDedup.signature(col("text"), 60).as("simhash60"))
    },
    oracle = Some(
      s"""WITH h32 AS (
         |  SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)) AS hs,
         |    len(string_split(text, ' ')) AS n
         |  FROM documents),
         |h60 AS (
         |  SELECT doc_id, list_transform(string_split(text, ' '), t -> sha256(t)) AS hs,
         |    len(string_split(text, ' ')) AS n
         |  FROM documents),
         |s32 AS (SELECT doc_id, ${simhashExpr(32)} AS simhash FROM h32),
         |s60 AS (SELECT doc_id, ${simhashExpr(60)} AS simhash60 FROM h60)
         |SELECT s32.doc_id, simhash, simhash60 FROM s32 JOIN s60 USING (doc_id)""".stripMargin)),

    // Dunning G² keyness between the even- and odd-id corpus halves:
    // which terms DISTINGUISH slice A from B — the corpus-diff forensic
    // behind contamination hunts and source-mix shifts; top-40 on the
    // rounded-rank cut.
    QuerySpec("q_keyness", (s, d) =>
      TextAnalysis.keyness(Tables.documents(s, d)
          .filter(col("doc_id").isNotNull), "text",
          col("doc_id") % 2 === 0, k = 40)
        .select(col("term"), col("tf_a"), col("tf_b"), col("g2"),
          col("enriched_in")),
    oracle = Some(// exact per-term slice counts; each G² a fixed IEEE expression of
      // exact operands; rounded-rank top-40 (mirrors TextAnalysis.keyness)
      """WITH b AS (SELECT (doc_id % 2 = 0) AS a,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
        |tf AS (SELECT term, count(*) FILTER (a) AS tf_a,
        |    count(*) FILTER (NOT a) AS tf_b FROM b GROUP BY 1),
        |tot AS (SELECT SUM(tf_a) AS na, SUM(tf_b) AS nb FROM tf),
        |g AS (SELECT term, tf_a, tf_b,
        |    floor((2.0 * ((CASE WHEN tf_a > 0 THEN CAST(tf_a AS DOUBLE) *
        |        ln(CAST(tf_a AS DOUBLE) /
        |          (CAST(na AS DOUBLE) * (tf_a + tf_b) / (na + nb)))
        |      ELSE 0.0 END) +
        |      (CASE WHEN tf_b > 0 THEN CAST(tf_b AS DOUBLE) *
        |        ln(CAST(tf_b AS DOUBLE) /
        |          (CAST(nb AS DOUBLE) * (tf_a + tf_b) / (na + nb)))
        |      ELSE 0.0 END))) * 1000000.0 + 0.5) / 1000000.0 AS g2,
        |    CASE WHEN CAST(tf_a AS DOUBLE) * nb > CAST(tf_b AS DOUBLE) * na
        |      THEN 'A' ELSE 'B' END AS enriched_in
        |  FROM tf, tot)
        |SELECT term, tf_a, tf_b, g2, enriched_in FROM g
        |ORDER BY g2 DESC, term ASC LIMIT 40""".stripMargin)),

    // Monroe "Fightin' Words" log-odds keyness with informative Dirichlet
    // prior over the same corpus halves as q_keyness — the z-scored,
    // frequency-debiased ranking G² can't give (rare terms shrink toward
    // the pooled prior instead of topping the list); top-40 by |z|.
    QuerySpec("q_log_odds_keyness", (s, d) =>
      TextAnalysis.monroeLogOdds(Tables.documents(s, d)
          .filter(col("doc_id").isNotNull), "text",
          col("doc_id") % 2 === 0, priorMass = 500.0, k = 40)
        .select(col("term"), col("tf_a"), col("tf_b"), col("delta"),
          col("z"), col("enriched_in")),
    oracle = Some(// exact slice counts; alpha_t, delta, sigma, z fixed per-term IEEE
      // expressions (mirrors TextAnalysis.monroeLogOdds, priorMass=500)
      """WITH b AS (SELECT (doc_id % 2 = 0) AS a,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
        |tf AS (SELECT term, count(*) FILTER (a) AS tf_a,
        |    count(*) FILTER (NOT a) AS tf_b FROM b GROUP BY 1),
        |tot AS (SELECT SUM(tf_a) AS na, SUM(tf_b) AS nb FROM tf),
        |g AS (SELECT term, tf_a, tf_b,
        |    500.0 * CAST(tf_a + tf_b AS DOUBLE) / CAST(na + nb AS DOUBLE) AS at,
        |    CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd
        |  FROM tf, tot),
        |z AS (SELECT term, tf_a, tf_b,
        |    (ln((tf_a + at) / (nad + 500.0 - tf_a - at)) -
        |     ln((tf_b + at) / (nbd + 500.0 - tf_b - at))) AS delta,
        |    sqrt(1.0 / (tf_a + at) + 1.0 / (tf_b + at)) AS sigma,
        |    CASE WHEN CAST(tf_a AS DOUBLE) * nbd > CAST(tf_b AS DOUBLE) * nad
        |      THEN 'A' ELSE 'B' END AS enriched_in
        |  FROM g)
        |SELECT term, tf_a, tf_b,
        |  floor(delta * 1000000.0 + 0.5) / 1000000.0 AS delta,
        |  floor((delta / sigma) * 1000000.0 + 0.5) / 1000000.0 AS z,
        |  enriched_in
        |FROM z
        |ORDER BY abs(floor((delta / sigma) * 1000000.0 + 0.5) / 1000000.0) DESC,
        |  term ASC LIMIT 40""".stripMargin)),

    // Per-term χ² feature selection against the lang=en label — the
    // vocab screen before any text-classifier fit: document-presence
    // 2×2 cells, absent cells derived from the 1-row label totals,
    // top-30 by rounded χ².
    QuerySpec("q_term_chi2", (s, d) =>
      TextClassify.termChi2(Tables.documents(s, d), "doc_id", "text",
          col("lang") === "en", k = 30)
        .select(col("term"), col("a"), col("b"), col("c"), col("d"),
          col("chi2")),
    oracle = Some(// document-level presence cells; (ad-bc)² widened; one division
      // (mirrors TextClassify.termChi2, label = lang='en')
      """WITH b AS (SELECT doc_id AS doc, (lang = 'en') AS y,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND lang IS NOT NULL),
        |pres AS (SELECT term, doc, MAX(CASE WHEN y THEN 1 ELSE 0 END) AS y
        |  FROM b WHERE len(term) > 0 GROUP BY 1, 2),
        |pt AS (SELECT term, SUM(y) AS a, count(*) - SUM(y) AS bb
        |  FROM pres GROUP BY 1),
        |tot AS (SELECT count(*) FILTER (lang = 'en') AS npos,
        |    count(*) FILTER (lang <> 'en') AS nneg
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND lang IS NOT NULL),
        |cells AS (SELECT term, a, bb AS b, npos - a AS c, nneg - bb AS d
        |  FROM pt, tot),
        |x AS (SELECT term, a, b, c, d,
        |    CAST(npos + nneg AS DOUBLE) *
        |      CAST(CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c AS DOUBLE) *
        |      CAST(CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c AS DOUBLE) /
        |      (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE) *
        |       CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)) AS chi2
        |  FROM cells, tot),
        |r AS (SELECT term, a, b, c, d,
        |    CASE WHEN a + b > 0 AND c + d > 0 AND a + c > 0 AND b + d > 0
        |      THEN floor(chi2 * 1000000.0 + 0.5) / 1000000.0 END AS chi2
        |  FROM x)
        |SELECT term, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        |  CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d, chi2
        |FROM r ORDER BY chi2 DESC, term ASC LIMIT 30""".stripMargin),
    // sf1: document-presence collapse — the tf-idf shuffle class
    sf1 = true),

    // Context-window truncation-loss audit per language: docs past each
    // candidate limit and the token mass falling off the cut — the table
    // that prices a context-length decision before a training run.
    QuerySpec("q_truncation_loss", (s, d) =>
      TextAnalysis.truncationLoss(Tables.documents(s, d), "lang", "text",
          limits = Seq(64, 128, 256, 512))
        .select(col("lang"), col("lim"), col("n_docs"), col("n_truncated"),
          col("tokens_total"), col("tokens_lost"),
          qround(col("doc_share_truncated"), 6).as("doc_share_truncated"),
          qround(col("token_share_lost"), 6).as("token_share_lost")),
    oracle = Some(
      """WITH b AS (SELECT lang AS g,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tk
        |  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
        |ex AS (SELECT g, tk, unnest([64, 128, 256, 512]) AS lim FROM b),
        |a AS (SELECT g, CAST(lim AS BIGINT) AS lim, count(*) AS n_docs,
        |    count(*) FILTER (tk > lim) AS n_truncated,
        |    SUM(tk) AS tokens_total,
        |    SUM(GREATEST(tk - lim, 0)) AS tokens_lost
        |  FROM ex GROUP BY 1, 2)
        |SELECT g AS lang, lim, n_docs, n_truncated,
        |  CAST(tokens_total AS BIGINT) AS tokens_total,
        |  CAST(tokens_lost AS BIGINT) AS tokens_lost,
        |  floor((CAST(n_truncated AS DOUBLE) / n_docs) * 1000000.0 + 0.5)
        |    / 1000000.0 AS doc_share_truncated,
        |  CASE WHEN tokens_total > 0 THEN
        |    floor((CAST(tokens_lost AS DOUBLE) / tokens_total)
        |      * 1000000.0 + 0.5) / 1000000.0 END AS token_share_lost
        |FROM a""".stripMargin)),

    // Dedup yield-vs-threshold curve over the PPJoin pair table: pairs
    // and distinct docs implicated at each Jaccard threshold — the
    // sweep that picks a dedup threshold by MASS REMOVED, not by faith.
    QuerySpec("q_dedup_yield", (s, d) => {
      import s.implicits._
      val pairs = NGramJaccard.similarPairs(Tables.documents(s, d),
          "doc_id", "text", n = 3, bucketWidth = 8, threshold = 0.3)
        .localCheckpoint(false) // both counting passes share it
      val th = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
      val grid = th.toDF("threshold")
      val ex = pairs
        .select(col("id_a"), col("id_b"), col("jaccard"),
          explode(array(th.map(lit): _*)).as("threshold"))
        .filter(col("jaccard") >= col("threshold"))
      val np = ex.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
      val nd = ex
        .select(col("threshold"),
          explode(array(col("id_a"), col("id_b"))).as("id"))
        .groupBy("threshold").agg(count_distinct(col("id")).as("n_docs"))
      grid.join(np, Seq("threshold"), "left")
        .join(nd, Seq("threshold"), "left")
        .na.fill(0L, Seq("n_pairs", "n_docs"))
        .select(col("threshold"), col("n_pairs"), col("n_docs"))
    },
    oracle = Some(// the q_ngram_jaccard pair chain crossed with the threshold grid;
      // doc counts from the unioned pair endpoints
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(ws)-2,0)+1), i -> array_to_string(ws[i:i+2], ' '))) AS grams,
        |    CAST(floor(len(ws) / 8.0) AS BIGINT) AS len_bucket
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) > 0
        |      THEN len(list_intersect(a.grams, b.grams))::DOUBLE / len(list_distinct(list_concat(a.grams, b.grams)))
        |      ELSE 0.0 END AS jaccard
        |  FROM g a JOIN g b ON a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id),
        |kept AS (SELECT * FROM pairs WHERE jaccard >= 0.3),
        |th AS (SELECT CAST(unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
        |  AS DOUBLE) AS threshold),
        |ex AS (SELECT th.threshold, id_a, id_b FROM kept JOIN th
        |  ON kept.jaccard >= th.threshold),
        |np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM ex GROUP BY 1),
        |nd AS (SELECT threshold, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
        |  FROM (SELECT threshold, id_a AS id FROM ex
        |    UNION ALL SELECT threshold, id_b FROM ex) GROUP BY 1)
        |SELECT th.threshold, COALESCE(n_pairs, 0) AS n_pairs,
        |  COALESCE(n_docs, 0) AS n_docs
        |FROM th LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)""".stripMargin)),

    // Cluster-size histogram of the near-dup components: how duplicate
    // mass is SHAPED (many pairs vs few giant cliques) — the number that
    // decides between pairwise suppression and survivor policies.
    QuerySpec("q_dup_histogram", (s, d) => {
      val pairs = MinHashDedup.nearDuplicates(Tables.documents(s, d),
        "doc_id", "text",
        k = 3, numHashes = 12, numBands = 4, threshold = 0.5,
        oracleParity = true)
      DupClusters.clusters(pairs)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
    },
    oracle = Some(
      s"""WITH RECURSIVE ${minhashCtes("documents")},
         |${componentCtes("SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5")},
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM clu GROUP BY 1)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM sz GROUP BY 1""".stripMargin)),

    // Intra-document repetition (Gopher/C4 cleaning rules): duplicate-word
    // fraction and top-bigram dominance per document.
    QuerySpec("q_text_repetition", (s, d) => {
      val r = TextAnalysis.repetitionSignals(col("text"))
      Tables.documents(s, d).select(col("doc_id"), r.as("r"))
        .select(col("doc_id"),
          qround(col("r.dup_word_frac"), 6).as("dup_word_frac"),
          qround(col("r.top_bigram_frac"), 6).as("top_bigram_frac"))
    },
    oracle = Some {
      val M = graft.llm.MinHashDedup.Mod
      val a1 = graft.llm.MinHashDedup.PolyA1
      s"""WITH p AS (
         |  SELECT doc_id, string_split(text, ' ')[1:500] AS ws FROM documents),
         |w AS (
         |  SELECT doc_id, ws,
         |    list_transform(ws, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % $M) AS wh
         |  FROM p),
         |b AS (
         |  SELECT doc_id, ws,
         |    CASE WHEN len(wh) >= 2
         |      THEN list_transform(range(1, len(wh)), i -> (wh[i] * $a1 % $M + wh[i+1]) % $M)
         |      ELSE [] END AS bg
         |  FROM w),
         |m AS (
         |  SELECT doc_id,
         |    CASE WHEN len(ws) > 0 THEN 1.0 - len(list_distinct(ws))::DOUBLE / len(ws) ELSE 0.0 END AS dwf,
         |    CASE WHEN len(bg) > 0
         |      THEN list_max(list_transform(list_distinct(bg), g -> len(list_filter(bg, x -> x = g))))::DOUBLE / len(bg)
         |      ELSE 0.0 END AS tbf
         |  FROM b)
         |SELECT doc_id,
         |  floor((dwf) * 1000000.0 + 0.5) / 1000000.0 AS dup_word_frac,
         |  floor((tbf) * 1000000.0 + 0.5) / 1000000.0 AS top_bigram_frac
         |FROM m""".stripMargin
    }),

    // PII scan + redaction. The synthetic corpus carries no PII, so both
    // engines first append identical doc_id-derived PII (an email, an IPv4,
    // a phone number) to every row — the scan then counts and redacts real
    // matches instead of vacuously passing on zeros.
    QuerySpec("q_text_pii", (s, d) => {
      val salted = concat(col("text"),
        lit(" user"), col("doc_id").cast("string"),
        lit("@mail.example.org from 192.168."), (col("doc_id") % 256).cast("string"),
        lit(".7 call +1555"), lpad((col("doc_id") % 10000).cast("string"), 7, "0"))
      Tables.documents(s, d).select(col("doc_id"), salted.as("t"))
        .select(col("doc_id"), TextAnalysis.piiSignals(col("t")).as("p"),
          md5(TextAnalysis.redactPii(col("t"))).as("redacted_md5"))
        .select(col("doc_id"), col("p.n_emails").as("n_emails"),
          col("p.n_ipv4").as("n_ipv4"), col("p.n_phones").as("n_phones"),
          col("redacted_md5"))
    },
    oracle = Some {
      val e = TextAnalysis.PiiEmail; val ip = TextAnalysis.PiiIpv4; val ph = TextAnalysis.PiiPhone
      s"""WITH salted AS (
         |  SELECT doc_id,
         |    text || ' user' || CAST(doc_id AS VARCHAR) || '@mail.example.org from 192.168.'
         |      || CAST(doc_id % 256 AS VARCHAR) || '.7 call +1555'
         |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0') AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$e')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ipv4,
         |  CAST(len(regexp_extract_all(t, '$ph')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(t, '$e', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g')) AS redacted_md5
         |FROM salted""".stripMargin
    }),

    // Per-document salient terms: integer-keyed (tf desc, df asc, term)
    // ranking with a smoothed tf-idf score reported alongside.
    QuerySpec("q_text_tfidf", (s, d) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 5)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          qround(col("tfidf"), 6).as("tfidf"), col("rnk")),
    oracle = Some(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    tf.tf * (ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0) AS tfidf,
        |    row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rnk
        |  FROM tf JOIN df USING (term), n)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  floor((tfidf) * 1000000.0 + 0.5) / 1000000.0 AS tfidf, CAST(rnk AS BIGINT) AS rnk
        |FROM s WHERE rnk <= 5""".stripMargin)),

    // Context-window chunking: 12-token windows with 3-token overlap,
    // final window clipped to the tail.
    QuerySpec("q_text_chunks", (s, d) =>
      TextAnalysis.chunkByTokens(Tables.documents(s, d), "doc_id", "text",
        maxTokens = 12, overlap = 3),
    oracle = Some(// maxTokens=12, overlap=3, stride=9; chunk_idx recovered from the
      // start offset by exact integer division
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |st AS (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 3, 1) + 1, 9)) AS st FROM ws)
        |SELECT doc_id, CAST((st - 1) // 9 + 1 AS BIGINT) AS chunk_idx,
        |  array_to_string(ws[st:st+11], ' ') AS chunk_text,
        |  CAST(len(ws[st:st+11]) AS BIGINT) AS n_tokens
        |FROM st""".stripMargin)),

    // Vocabulary encode (tokenizer apply): top-20 vocab by frequency,
    // documents to token-id sequences, OOV → 0; the id sequence is
    // fingerprinted for the cross-engine compare.
    QuerySpec("q_vocab_encode", (s, d) => {
      TextAnalysis.encodeTokens(Tables.documents(s, d), "doc_id", "text", vocabSize = 20)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"), x => x === 0L)).cast("long").as("n_unk"),
          md5(concat_ws(",", transform(col("token_ids"), _.cast("string")))).as("ids_md5"))
    },
    oracle = Some(
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1), i -> {'pos': i - 1, 'term': ws[i]})) AS u
        |  FROM ws),
        |t2 AS (SELECT doc_id, u.pos AS pos, u.term AS term FROM tok),
        |v AS (SELECT term, count(*) AS cnt FROM t2 GROUP BY 1),
        |vr AS (SELECT term, row_number() OVER (ORDER BY cnt DESC, term ASC) AS token_id FROM v
        |       QUALIFY token_id <= 20),
        |enc AS (SELECT t2.doc_id, t2.pos, coalesce(vr.token_id, 0) AS tid
        |        FROM t2 LEFT JOIN vr USING (term)),
        |agg AS (SELECT doc_id, list(tid ORDER BY pos) AS ids FROM enc GROUP BY doc_id)
        |SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(ids, x -> x = 0)) AS BIGINT) AS n_unk,
        |  md5(array_to_string(ids, ',')) AS ids_md5
        |FROM agg""".stripMargin)),

    // Sequence packing over the chunk stream: exact distributed prefix sum
    // of token counts in (doc_id, chunk_idx) order, then integral division
    // into 64-token training sequences.
    QuerySpec("q_seq_pack", (s, d) =>
      TextAnalysis.packSequences(
        TextAnalysis.chunkByTokens(Tables.documents(s, d), "doc_id", "text",
          maxTokens = 12, overlap = 3).drop("chunk_text"),
        budget = 64),
    oracle = Some(
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |st AS (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 3, 1) + 1, 9)) AS st FROM ws),
        |c AS (SELECT doc_id, CAST((st - 1) // 9 + 1 AS BIGINT) AS chunk_idx,
        |        CAST(len(ws[st:st+11]) AS BIGINT) AS n_tokens FROM st),
        |s AS (SELECT doc_id, chunk_idx, n_tokens,
        |        sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx ROWS UNBOUNDED PRECEDING) AS cum FROM c)
        |SELECT doc_id, chunk_idx, n_tokens, CAST(cum AS BIGINT) AS cum_tokens,
        |  CAST((cum - n_tokens) // 64 AS BIGINT) AS seq_id,
        |  CAST((cum - n_tokens) % 64 AS BIGINT) AS tok_offset
        |FROM s""".stripMargin)),

    // Benchmark decontamination: training docs sharing any word 5-gram
    // with the held-out benchmark slice (doc_id % 20 == 0), with shared
    // distinct-gram counts.
    QuerySpec("q_decontaminate", (s, d) => {
      val docs = Tables.documents(s, d)
      Decontaminate.contaminated(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", n = 5)
    },
    oracle = Some {
      val M = graft.llm.MinHashDedup.Mod
      val terms = (0 until 5).map { j =>
        s"wh[i+$j] * ${graft.llm.MinHashDedup.powMod(graft.llm.MinHashDedup.PolyA1, 4 - j)} % $M"
      }.mkString(" + ")
      s"""WITH wh AS (
         |  SELECT doc_id, list_transform(string_split(text, ' '), w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % $M) AS wh
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(CASE WHEN len(wh) >= 5
         |    THEN list_distinct(list_transform(range(1, len(wh) - 3), i -> ($terms) % $M))
         |    ELSE [] END) AS gram
         |  FROM wh),
         |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
         |train AS (SELECT doc_id, gram FROM g WHERE doc_id % 20 <> 0)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
         |FROM train t JOIN bench USING (gram)
         |GROUP BY 1""".stripMargin
    }),

    // Corpus-wide top bigrams: the frequency table tokenizer training
    // starts from, under a deterministic (count desc, gram asc) cut.
    QuerySpec("q_vocab_topgrams", (s, d) =>
      TextAnalysis.vocabTopGrams(Tables.documents(s, d), "doc_id", "text", n = 2, k = 50),
    oracle = Some(
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1), i -> array_to_string(ws[i:i+1], ' '))) AS gram FROM ws)
        |SELECT gram, CAST(count(*) AS BIGINT) AS n_occ, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM g GROUP BY gram ORDER BY n_occ DESC, gram ASC LIMIT 50""".stripMargin)),

    // Balanced stratified 5-fold assignment: per-lang fold sizes differ
    // by at most one by construction (round-robin over hash order) —
    // checked surface is the (lang, fold) balance table.
    QuerySpec("q_kfold_balance", (s, d) =>
      Sampling.stratifiedKFold(Tables.documents(s, d), "lang", "doc_id", k = 5)
        .groupBy(col("lang"), col("fold"))
        .agg(count(lit(1)).as("n_docs")),
    oracle = Some(
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
        |  FROM documents),
        |f AS (
        |  SELECT lang,
        |    (row_number() OVER (PARTITION BY lang ORDER BY hv ASC, doc_id ASC) - 1) % 5 AS fold
        |  FROM h)
        |SELECT lang, CAST(fold AS BIGINT) AS fold, CAST(count(*) AS BIGINT) AS n_docs
        |FROM f GROUP BY 1, 2""".stripMargin)),

    // Importance reweighting: match the train slice's language
    // distribution onto the held-out target slice (q_decontaminate's
    // split) — per-lang w = p_tgt/p_src plus the effective sample size
    // of the reweighted source, the honesty metric of any reweighting.
    QuerySpec("q_importance_weights", (s, d) => {
      val docs = Tables.documents(s, d)
      Sampling.importanceWeights(
          docs.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0), "lang")
        .select(col("lang"), col("n_src"), col("n_tgt"),
          qround(col("w"), 6).as("w"), qround(col("ess"), 4).as("ess"))
    },
    oracle = Some(
      """WITH src AS (SELECT lang FROM documents WHERE doc_id % 20 <> 0),
        |tgt AS (SELECT lang FROM documents WHERE doc_id % 20 = 0),
        |sc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_src FROM src GROUP BY 1),
        |tc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_tgt FROM tgt GROUP BY 1),
        |st AS (SELECT CAST(sum(n_src) AS BIGINT) AS s FROM sc),
        |ttl AS (SELECT CAST(sum(n_tgt) AS BIGINT) AS t FROM tc),
        |w AS (SELECT lang, n_src, n_tgt,
        |    (CAST(n_tgt AS DOUBLE) / CAST(t AS DOUBLE))
        |      / (CAST(n_src AS DOUBLE) / CAST(s AS DOUBLE)) AS w
        |  FROM sc JOIN tc USING (lang), st, ttl),
        |e AS (SELECT sum(CAST(n_src AS DOUBLE) * w) * sum(CAST(n_src AS DOUBLE) * w)
        |    / sum(CAST(n_src AS DOUBLE) * (w * w)) AS ess FROM w)
        |SELECT lang, n_src, n_tgt,
        |  floor(w * 1000000.0 + 0.5) / 1000000.0 AS w,
        |  floor(ess * 10000.0 + 0.5) / 10000.0 AS ess
        |FROM w, e""".stripMargin)),

    // Padding-waste report: tokens padded to batch max under
    // length-sorted vs hash-order batching at batch size 32 — the table
    // that justifies length bucketing. Exact integer accounting; ranks
    // via PrefixScan, never a one-reducer window.
    QuerySpec("q_padding_waste", (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("toks", size(split(col("text"), " ")).cast("long"))
      Sampling.paddingWaste(docs, "doc_id", "toks", batchSize = 32)
        .select(col("strategy"), col("n_batches"), col("total_tokens"),
          col("padded_tokens"), qround(col("waste_frac"), 6).as("waste_frac"))
    },
    oracle = Some(
      """WITH d0 AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
        |h AS (SELECT doc_id, tok,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv FROM d0),
        |rs AS (SELECT tok, CAST(floor((row_number() OVER (ORDER BY tok ASC, doc_id ASC) - 1) / 32.0) AS BIGINT) AS b FROM h),
        |bs AS (SELECT b, count(*) AS n, max(tok) AS mx, sum(tok) AS s FROM rs GROUP BY 1),
        |sortd AS (SELECT 'sorted' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
        |    CAST(sum(s) AS BIGINT) AS total_tokens,
        |    CAST(sum(n * mx - s) AS BIGINT) AS padded_tokens FROM bs),
        |rh AS (SELECT tok, CAST(floor((row_number() OVER (ORDER BY hv ASC, doc_id ASC) - 1) / 32.0) AS BIGINT) AS b FROM h),
        |bh AS (SELECT b, count(*) AS n, max(tok) AS mx, sum(tok) AS s FROM rh GROUP BY 1),
        |hashd AS (SELECT 'hash' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
        |    CAST(sum(s) AS BIGINT) AS total_tokens,
        |    CAST(sum(n * mx - s) AS BIGINT) AS padded_tokens FROM bh),
        |u AS (SELECT * FROM sortd UNION ALL SELECT * FROM hashd)
        |SELECT strategy, n_batches, total_tokens, padded_tokens,
        |  floor((CAST(padded_tokens AS DOUBLE) / CAST(padded_tokens + total_tokens AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS waste_frac
        |FROM u""".stripMargin)),

    // Vocabulary coverage curve — token mass covered by the top-k terms
    // at k ∈ {10, 100, 1000}: the tokenizer-sizing table. Rank and
    // running mass over the vocab-sized table are two PrefixScan passes,
    // never a one-reducer global window.
    QuerySpec("q_vocab_coverage", (s, d) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, d), "text",
          ks = Seq(10L, 100L, 1000L))
        .select(col("k"), col("covered_tokens"), col("total_tokens"),
          qround(col("coverage"), 6).as("coverage")),
    oracle = Some(
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |tc AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok
        |  WHERE length(term) > 0 GROUP BY 1),
        |r AS (SELECT term, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, term ASC) AS rnk,
        |    CAST(SUM(cnt) OVER (ORDER BY cnt DESC, term ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM tc),
        |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM tc),
        |kk AS (SELECT unnest([10, 100, 1000]) AS k)
        |SELECT CAST(k AS BIGINT) AS k,
        |  CAST(max(CASE WHEN rnk <= k THEN cum END) AS BIGINT) AS covered_tokens,
        |  CAST(max(t) AS BIGINT) AS total_tokens,
        |  floor((CAST(max(CASE WHEN rnk <= k THEN cum END) AS DOUBLE)
        |    / CAST(max(t) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS coverage
        |FROM r, tt, kk GROUP BY 1""".stripMargin)),

    // Cross-document substring dedup, stats tier (Lee et al. 2022 shape):
    // share of each document covered by 5-token spans that also occur in
    // at least one other document — contamination whole-document
    // similarity dilutes away.
    QuerySpec("q_substring_dedup", (s, d) =>
      SpanDedup.dupSpanStats(Tables.documents(s, d), "doc_id", "text", k = 5)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_dup_spans"), col("dup_tokens"),
          qround(col("dup_frac"), 6).as("dup_frac")),
    oracle = Some(
      s"""WITH ${windowHashCtes(5)},
         |dup AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (
         |  SELECT doc_id, count(DISTINCT i) AS n_dup_spans, count(DISTINCT p) AS dup_tokens
         |  FROM (SELECT w.doc_id, w.i, unnest(range(w.i, w.i + 5)) AS p
         |        FROM wins w JOIN dup USING (h))
         |  GROUP BY 1),
         |base AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents)
         |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(coalesce(c.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
         |  CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |  CASE WHEN b.n_tokens > 0
         |    THEN floor((coalesce(c.dup_tokens, 0) * 1.0 / b.n_tokens) * 1000000.0 + 0.5) / 1000000.0
         |    ELSE 0.0 END AS dup_frac
         |FROM base b LEFT JOIN cov c USING (doc_id)""".stripMargin),
    sf1 = true),

    // Substring dedup, scrub tier: every occurrence-but-the-first of each
    // repeated 5-token span removed, unique surrounding text kept —
    // deterministic keep-first total order, identical in any engine.
    QuerySpec("q_substring_scrub", (s, d) =>
      SpanDedup.scrubRepeatedSpans(Tables.documents(s, d), "doc_id", "text", k = 5),
    oracle = Some(substringScrubSql),
    sf1 = true),

    // LIVE incremental span-dedup stream: the documents table replayed as
    // doc_id-ordered file slabs through foreachBatch + the window-hash
    // store. Arrival precedence = doc_id order here, and sequential
    // batches of a monotone split equal one batch scrub (SpanDedupSpec),
    // so the oracle is q_substring_scrub's own SQL — the batch twin.
    QuerySpec("q_stream_span_dedup", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val src = orderedDocSlabs(s, d)
      val schema = s.read.parquet(src).schema
      val tmp = java.nio.file.Files.createTempDirectory("stream_span").toString
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", EventsQueries.filesPerTrigger)
        .parquet(src)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          graft.streaming.IncrementalSpanDedup.processBatch(b, id, tmp, "doc_id", "text", k = 5)
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // materialize eagerly so the per-invocation store + checkpoint can
      // be deleted (harnesses invoke queries repeatedly in one JVM —
      // leftover temp dirs would accumulate over a session). Collect-and-
      // recreate, not localCheckpoint: checkpointed blocks stay pinned in
      // the block manager until ContextCleaner runs, and this query runs
      // 200+ times per harness JVM. The scrubbed store is corpus-sized at
      // verify SF (tiny); the recreated DataFrame is plain GC-able heap.
      val res = graft.streaming.IncrementalSpanDedup.scrubbedSoFar(s, tmp)
      val out = s.createDataFrame(
        java.util.Arrays.asList(res.collect(): _*), res.schema)
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      catch { case _: Throwable => () }
      out
    },
    // live stream twin: arrival order = doc_id order (ordered slabs), and
    // monotone-split sequential scrubbing equals the batch operator
    // (SpanDedupSpec) — the oracle is literally the batch scrub's SQL
    oracle = Some(substringScrubSql)),

    // Bigram-LM quality scores (CCNet-style perplexity filter) trained on
    // the corpus itself with add-0.5 smoothing.
    QuerySpec("q_lm_score", (s, d) =>
      TextAnalysis.lmScore(Tables.documents(s, d), "doc_id", "text", addK = 0.5)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_bigrams"), qround(col("alp"), 4).as("lm_logp")),
    oracle = Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |uni AS (SELECT w, count(*) AS cw FROM (SELECT unnest(ws) AS w FROM t) GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM uni),
        |bg AS (SELECT doc_id, ws[i] AS prev, ws[i+1] AS cur
        |       FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM t WHERE len(ws) >= 2)),
        |bc AS (SELECT prev, cur, count(*) AS cbw FROM bg GROUP BY 1, 2),
        |sc AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    avg(ln((cbw + 0.5) / (cprev + 0.5 * v))) AS alp
        |  FROM bg JOIN bc USING (prev, cur)
        |  JOIN (SELECT w AS prev, cw AS cprev FROM uni) USING (prev), v
        |  GROUP BY 1)
        |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  floor((sc.alp) * 10000.0 + 0.5) / 10000.0 AS lm_logp
        |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin),
    sf1 = true),

    // Deterministic data mixing: per-language sampling fractions applied
    // via hash-derived uniforms — identical row selection in any engine.
    QuerySpec("q_corpus_sample", (s, d) => {
      Sampling.stratifiedSample(Tables.documents(s, d), "lang", "doc_id",
          Map("en" -> 0.5, "fr" -> 0.25), defaultFraction = 0.1)
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          sum(col("doc_id")).as("sum_ids"))
    },
    oracle = Some(
      """WITH u AS (
        |  SELECT lang, doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT / 1152921504606846976.0 AS u
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM u
        |WHERE u < (CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'fr' THEN 0.25 ELSE 0.1 END)
        |GROUP BY lang""".stripMargin)),

    // Scalar string surface battery — case/trim/pad/slice/replace/regex
    // builtins over the corpus, every one codegen'd and bit-identical in
    // DuckDB. Rounds out SURVEY §2.8 with oracle evidence beyond equality.
    QuerySpec("q_string_fns", (s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        upper(substring(col("text"), 1, 12)).as("head_upper"),
        length(trim(col("text"))).cast("long").as("trimmed_len"),
        lpad(col("lang"), 5, "_").as("lang_padded"),
        regexp_extract(col("text"), "([a-z]+)", 1).as("first_word"),
        translate(col("source"), "aeiou", "AEIOU").as("source_vowels"),
        instr(col("text"), "table").cast("long").as("table_pos"),
        reverse(col("lang")).as("lang_rev"),
        concat_ws("|", col("lang"), col("source")).as("joined"))
    },
    oracle = Some(
      """SELECT doc_id,
        |  upper(substr(text, 1, 12)) AS head_upper,
        |  CAST(length(trim(text)) AS BIGINT) AS trimmed_len,
        |  lpad(lang, 5, '_') AS lang_padded,
        |  regexp_extract(text, '([a-z]+)', 1) AS first_word,
        |  translate(source, 'aeiou', 'AEIOU') AS source_vowels,
        |  CAST(instr(text, 'table') AS BIGINT) AS table_pos,
        |  reverse(lang) AS lang_rev,
        |  concat_ws('|', lang, source) AS joined
        |FROM documents""".stripMargin)),

    // Exact-k-per-stratum sampling (eval-set construction): 20 docs per
    // language in deterministic hash order — small strata yield all their
    // rows, large ones exactly k, reproducibly across runs and engines.
    QuerySpec("q_exact_k_sample", (s, d) =>
      Sampling.exactKPerStratum(Tables.documents(s, d), "lang", "doc_id", k = 20)
        .select(col("lang"), col("doc_id")),
    oracle = Some(
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
        |  FROM documents)
        |SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY hv ASC, doc_id ASC) AS rn
        |  FROM h) WHERE rn <= 20""".stripMargin)),

    // Temperature (alpha) mixture sampling — the multilingual rebalance
    // rule (n_s^alpha shares of a 200-row budget at alpha=0.5, head
    // flattened, tail boosted); per-row selection is an integer rank
    // against the per-stratum k, so no per-row float threshold exists.
    QuerySpec("q_alpha_mixture", (s, d) =>
      Sampling.alphaMixture(Tables.documents(s, d), "lang", "doc_id",
          alpha = 0.5, nTarget = 200)
        .select(col("lang"), col("doc_id")),
    oracle = Some(
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |w AS (SELECT lang, n, pow(CAST(n AS DOUBLE), 0.5) AS w FROM c),
        |k AS (SELECT lang, least(n,
        |        CAST(floor(200.0 * w / (SELECT sum(w) FROM w) + 0.5) AS BIGINT)) AS k
        |      FROM w),
        |h AS (SELECT lang, doc_id,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
        |      FROM documents),
        |r AS (SELECT lang, doc_id,
        |        row_number() OVER (PARTITION BY lang ORDER BY hv ASC, doc_id ASC) AS rn
        |      FROM h)
        |SELECT r.lang, r.doc_id FROM r JOIN k USING (lang) WHERE rn <= k""".stripMargin)),

    // Weighted sampling without replacement (Efraimidis–Spirakis): 25 docs
    // per source, longer documents proportionally likelier — the
    // quality-weighted eval/train selection. The oracle replays the same
    // exponential-clock ranking on the same md5 uniforms.
    QuerySpec("q_weighted_sample", (s, d) =>
      Sampling.weightedKPerStratum(Tables.documents(s, d), "source", "doc_id",
          "n_chars", k = 25)
        .select(col("source"), col("doc_id"), col("n_chars")),
    oracle = Some(
      """WITH h AS (
        |  SELECT source, doc_id, n_chars,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT / 1152921504606846976.0 AS u
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        |t AS (
        |  SELECT source, doc_id, n_chars,
        |    floor((-ln(u) / CAST(n_chars AS DOUBLE)) * 1000000000.0 + 0.5) / 1000000000.0 AS t
        |  FROM h)
        |SELECT source, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY t ASC, doc_id ASC) AS rn
        |  FROM t) WHERE rn <= 25""".stripMargin)),

    // BPE pair statistics — one training iteration's core, cross-engine:
    // char+marker symbol arrays per distinct word, adjacent pairs weighted
    // by corpus word count, top 20 by (count, pair) total order. The full
    // iterative merge loop is q_bpe_merges, oracle-pinned by an UNROLLED
    // 16-stage DuckDB CTE chain (see bpeMergesOracle).
    QuerySpec("q_bpe_top_pairs", (s, d) => {
      // the literal trainer expressions (Bpe.initialSymbols/pairCounts) so
      // the oracle checks the code that trains, not a lookalike
      val words = Bpe.wordCounts(Tables.documents(s, d), "text")
        .select(Bpe.initialSymbols.as("syms"), col("n"))
      Bpe.pairCounts(words)
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(20)
    },
    oracle = Some(
      """WITH w AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) > 0 GROUP BY 1),
        |sy AS (
        |  SELECT list_append(string_split(word, ''), '</w>') AS s, n FROM w),
        |px AS (
        |  SELECT unnest(list_transform(range(1, len(s)), i -> {'l': s[i], 'r': s[i+1]})) AS p, n
        |  FROM sy)
        |SELECT p.l AS l, p.r AS r, CAST(sum(n) AS BIGINT) AS cnt
        |FROM px GROUP BY 1, 2
        |ORDER BY cnt DESC, l ASC, r ASC LIMIT 20""".stripMargin)),

    // Full BPE training loop: 16 learned merges over the document corpus —
    // deterministic (count + lexicographic tie-break), validated by
    // hand-computed fixtures in BpeSpec AND cross-engine by the unrolled
    // DuckDB oracle. Cost is ~100 ms of driver planning per merge
    // (data-independent); production trainings amortize it over
    // vocabulary-sized data per iteration.
    // ("left"/"right" are SQL reserved words and the driver's comparator
    // re-selects columns by bare name, so the checked surface renames them)
    QuerySpec("q_bpe_merges", (s, d) =>
      Bpe.train(s, Tables.documents(s, d), "text", numMerges = 16, minCount = 2)
        .select(col("rank").as("merge_rank"), col("left").as("lhs"),
          col("right").as("rhs"), col("pair_count")),
    oracle = Some(bpeMergesOracle(numMerges = 16, minCount = 2L)),
    sf1 = true),

    // Deterministic shard assignment — the global training-data shuffle:
    // hash-derived shard + within-shard position, reproducible across
    // runs/partitionings/engines, parallel across shards (no global sort).
    QuerySpec("q_shard_assign", (s, d) =>
      Sampling.deterministicShards(Tables.documents(s, d), "doc_id", nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos")),
    oracle = Some(
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
        |  FROM documents)
        |SELECT doc_id, CAST(hv % 8 AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv ASC, doc_id ASC) AS BIGINT) AS pos
        |FROM h""".stripMargin)),

    // k-anonymity / l-diversity audit of the corpus metadata before
    // release: quasi-identifiers = (lang, 200-char length band),
    // sensitive attribute = source. One row per QI equivalence class
    // with exact size, distinct-sensitive count, and the size<k risk
    // flag — the table publishing (suppress/generalize) decisions read.
    // One hash-aggregate; output is |classes|-sized, never data-sized.
    QuerySpec("q_k_anonymity", (s, d) => {
      val qi = Tables.documents(s, d).select(
        col("lang"),
        floor(col("n_chars") / lit(200.0)).cast("long").as("len_band"),
        col("source"))
      Privacy.kAnonymityAudit(qi, Seq("lang", "len_band"), "source", k = 5L)
        .select(col("lang"), col("len_band"), col("class_size"),
          col("l_diversity"), col("at_risk"))
    },
    oracle = Some(
      """WITH q AS (
        |  SELECT lang, CAST(floor(n_chars / 200.0) AS BIGINT) AS len_band, source
        |  FROM documents)
        |SELECT lang, len_band, CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT source) AS BIGINT) AS l_diversity,
        |  count(*) < 5 AS at_risk
        |FROM q GROUP BY 1, 2""".stripMargin)),

    // t-closeness audit (ordered EMD): does each (lang, source) class's
    // length-band distribution track the corpus's? Integer cumulative
    // numerators over the |classes|×m grid, one division per class — the
    // distributional leak k-anonymity/l-diversity can't see.
    QuerySpec("q_t_closeness", (s, d) => {
      val qi = Tables.documents(s, d).select(col("lang"), col("source"),
        least(lit(9L), floor(col("n_chars") / 100).cast("long")).as("band"))
      Privacy.tClosenessAudit(qi, Seq("lang", "source"), "band", t = 0.2)
        .select(col("lang"), col("source"), col("class_size"), col("m"),
          qround(col("emd"), 6).as("emd"), col("at_risk"))
    },
    oracle = Some(
      """WITH base AS (SELECT lang, source,
        |    least(9, CAST(floor(n_chars / 100.0) AS BIGINT)) AS s
        |  FROM documents WHERE n_chars IS NOT NULL),
        |cells AS (SELECT lang, source, s, count(*) AS c FROM base GROUP BY 1, 2, 3),
        |vals AS (SELECT s, count(*) AS g FROM base GROUP BY 1),
        |tot AS (SELECT SUM(g) AS nn, count(*) AS m FROM vals),
        |cls AS (SELECT lang, source, SUM(c) AS ng FROM cells GROUP BY 1, 2),
        |grid AS (SELECT cl.lang, cl.source, v.s, cl.ng, coalesce(ce.c, 0) AS c, v.g
        |  FROM cls cl CROSS JOIN vals v
        |  LEFT JOIN cells ce ON ce.lang IS NOT DISTINCT FROM cl.lang
        |    AND ce.source IS NOT DISTINCT FROM cl.source AND ce.s = v.s),
        |w AS (SELECT lang, source, ng, s,
        |    SUM(c * (SELECT nn FROM tot) - g * ng) OVER (PARTITION BY lang, source
        |      ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS num
        |  FROM grid),
        |a AS (SELECT lang, source, ng, SUM(abs(num)) AS asum FROM w GROUP BY 1, 2, 3),
        |e AS (SELECT lang, source, ng,
        |    CASE WHEN (SELECT m FROM tot) > 1 THEN
        |      CAST(asum AS DOUBLE) /
        |        CAST(ng * (SELECT nn FROM tot) * ((SELECT m FROM tot) - 1) AS DOUBLE)
        |    ELSE 0.0 END AS emd FROM a)
        |SELECT lang, source, CAST(ng AS BIGINT) AS class_size,
        |  CAST((SELECT m FROM tot) AS BIGINT) AS m,
        |  floor(emd * 1000000.0 + 0.5) / 1000000.0 AS emd,
        |  emd > 0.2 AS at_risk
        |FROM e""".stripMargin)),

    // Laplace-mechanism count release (epsilon = 1, sensitivity 1): per
    // (lang, source) exact counts plus the inverse-CDF noisy copy drawn
    // from the deterministic group-key uniform, and the rounded/clamped
    // integer release. The oracle replays the identical draw — the same
    // md5-uniform contract as every sampler in the repo.
    QuerySpec("q_dp_noise", (s, d) =>
      Privacy.laplaceNoisyCounts(Tables.documents(s, d), Seq("lang", "source"),
          epsilon = 1.0)
        .select(col("lang"), col("source"), col("true_count"),
          qround(col("noisy_count"), 6).as("noisy_count"), col("released")),
    oracle = Some(// operand order mirrors Privacy.laplaceNoisyCounts textually:
      // sign(u-0.5) * ((0 - ln(1 - 2|u-0.5|)) * b), b = 1/epsilon = 1.0
      """WITH g AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS true_count
        |  FROM documents GROUP BY 1, 2),
        |uu AS (
        |  SELECT lang, source, true_count,
        |    ('0x' || substr(md5(concat_ws('|', lang, source)), 1, 15))::BIGINT
        |      / 1152921504606846976.0 AS u
        |  FROM g),
        |nn AS (
        |  SELECT lang, source, true_count,
        |    CAST(true_count AS DOUBLE) + CAST(sign(u - 0.5) AS DOUBLE)
        |      * ((0.0 - ln(1.0 - 2.0 * abs(u - 0.5))) * 1.0) AS noisy
        |  FROM uu)
        |SELECT lang, source, true_count,
        |  floor(noisy * 1000000.0 + 0.5) / 1000000.0 AS noisy_count,
        |  CAST(greatest(0, CAST(floor(noisy + 0.5) AS BIGINT)) AS BIGINT) AS released
        |FROM nn""".stripMargin)),

    // Small-file compaction plan (docs as pseudo-files, n_chars as bytes):
    // per-source deterministic hash-order walk, new ~4000-byte bin when
    // the running total crosses the target. The running total is the
    // PrefixScan two-pass cumulative sum — parallel at range-partition
    // width, never a one-reducer-per-source window. Checked surface is
    // the plan summary: files and bytes per (source, bin).
    QuerySpec("q_compaction_plan", (s, d) =>
      graft.ops.Layout.compactionPlan(Tables.documents(s, d), "source",
          "doc_id", "n_chars", targetBytes = 4000L)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("n_chars")).as("total_bytes")),
    oracle = Some(
      """WITH h AS (
        |  SELECT source, doc_id, n_chars,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
        |  FROM documents),
        |c AS (
        |  SELECT source, n_chars,
        |    CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY hv ASC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM h),
        |b AS (
        |  SELECT source, n_chars,
        |    CAST(floor((cum - n_chars) / 4000.0) AS BIGINT) AS bin
        |  FROM c)
        |SELECT source, bin, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(n_chars) AS BIGINT) AS total_bytes
        |FROM b GROUP BY 1, 2""".stripMargin),
    // sf1: PrefixScan two-pass scan — superlinearity here means the range
    // exchange or the offset broadcast broke
    sf1 = true),

    // Curriculum interleave: 8 equal-width length bands (difficulty
    // proxy), global order cycling round-robin through the bands so
    // every training prefix sees the full difficulty mix — deterministic
    // epoch ordering, reproducible cross-engine.
    QuerySpec("q_curriculum_order", (s, d) =>
      Sampling.curriculumInterleave(Tables.documents(s, d), "doc_id",
          "n_chars", nBuckets = 8)
        .select(col("doc_id"), col("bucket"), col("global_ord")),
    oracle = Some(
      """WITH m AS (SELECT max(n_chars) AS mx FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    CAST(floor(CAST(n_chars * 8 AS DOUBLE) / (CAST(mx AS DOUBLE) + 1.0)) AS BIGINT) AS bucket,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
        |  FROM documents, m)
        |SELECT doc_id, bucket,
        |  CAST(row_number() OVER (PARTITION BY bucket ORDER BY hv ASC, doc_id ASC) * 8 + bucket AS BIGINT) AS global_ord
        |FROM b""".stripMargin)),

    // Per-document n-gram novelty vs the held-out reference slice
    // (q_decontaminate's split, graded instead of binary): distinct-gram
    // count, reference-seen count, and the novel fraction — the
    // information-gain signal curation ranks on.
    QuerySpec("q_ngram_novelty", (s, d) => {
      val docs = Tables.documents(s, d)
      Decontaminate.noveltyScores(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_grams"), col("n_seen"), col("n_novel"),
          qround(col("n_novel").cast("double") / col("n_grams"), 6)
            .as("novel_frac"))
    },
    oracle = Some {
      val M = graft.llm.MinHashDedup.Mod
      val terms = (0 until 5).map { j =>
        s"wh[i+$j] * ${graft.llm.MinHashDedup.powMod(graft.llm.MinHashDedup.PolyA1, 4 - j)} % $M"
      }.mkString(" + ")
      s"""WITH wh AS (
         |  SELECT doc_id, list_transform(string_split(text, ' '), w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % $M) AS wh
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(CASE WHEN len(wh) >= 5
         |    THEN list_distinct(list_transform(range(1, len(wh) - 3), i -> ($terms) % $M))
         |    ELSE [] END) AS gram
         |  FROM wh),
         |ref AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
         |tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 20 <> 0)
         |SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(count(ref.gram) AS BIGINT) AS n_seen,
         |  CAST(count(*) - count(ref.gram) AS BIGINT) AS n_novel,
         |  floor((CAST(count(*) - count(ref.gram) AS DOUBLE) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS novel_frac
         |FROM tr LEFT JOIN ref USING (gram)
         |GROUP BY 1""".stripMargin
    }),

    // k-anonymity generalization ladder: the risk summary at four length
    // band widths in one pass (×4 narrow explode + one class aggregate)
    // — how coarse n_chars must get before every (lang, band) class
    // reaches k=5.
    QuerySpec("q_anon_ladder", (s, d) =>
      Privacy.generalizationLadder(Tables.documents(s, d), "lang", "n_chars",
          widths = Seq(200L, 400L, 800L, 1600L), k = 5L)
        .select(col("band_width"), col("n_classes"), col("n_risky"),
          col("rows_at_risk"), col("min_class_size")),
    oracle = Some(
      """WITH lv AS (SELECT unnest([200, 400, 800, 1600]) AS band_width),
        |cls AS (
        |  SELECT band_width, lang, CAST(floor(n_chars / band_width) AS BIGINT) AS band,
        |    CAST(count(*) AS BIGINT) AS class_size
        |  FROM documents, lv GROUP BY 1, 2, 3)
        |SELECT CAST(band_width AS BIGINT) AS band_width,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky,
        |  CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |  CAST(min(class_size) AS BIGINT) AS min_class_size
        |FROM cls GROUP BY 1""".stripMargin)),

    // URL canonicalization dedup: every document contributes two crawled
    // variants of the same logical page (uppercase host + utm/fragment
    // noise vs the clean form); the canonical key collapses them —
    // n_variants = 2 with half the raw-URL count per key proves the
    // collapse cross-engine. A narrow regexp projection + one aggregate.
    QuerySpec("q_url_canonical", (s, d) => {
      val site = element_at(
        array(lit("alpha"), lit("beta"), lit("gamma"), lit("delta"), lit("epsilon")),
        (col("doc_id") % 5 + 1).cast("int"))
      val tld = element_at(array(lit("com"), lit("net"), lit("org")),
        (col("doc_id") % 3 + 1).cast("int"))
      val page = (col("doc_id") % 50).cast("string")
      val sid = (col("doc_id") % 4).cast("string")
      val messy = concat(lit("https://WWW."), site, lit("."), tld, lit("/p/"),
        page, lit("?utm_source=feed&sid="), sid, lit("#sec"))
      val clean = concat(lit("https://www."), site, lit("."), tld, lit("/p/"),
        page, lit("?sid="), sid)
      Tables.documents(s, d)
        .select(col("doc_id"), explode(array(messy, clean)).as("url"))
        .withColumn("curl", TextAnalysis.canonicalizeUrl(col("url")))
        .groupBy(col("curl"))
        .agg(count(lit(1)).as("n_urls"),
          count_distinct(col("url")).as("n_variants"),
          count_distinct(col("doc_id")).as("n_docs"))
    },
    oracle = Some(// the rule chain mirrors TextAnalysis.canonicalizeUrl step for
      // step ('g'-flagged where Spark's replace-all is implicit)
      """WITH v AS (
        |  SELECT doc_id,
        |    'https://WWW.' || (['alpha', 'beta', 'gamma', 'delta', 'epsilon'])[CAST(doc_id % 5 AS INT) + 1] ||
        |      '.' || (['com', 'net', 'org'])[CAST(doc_id % 3 AS INT) + 1] ||
        |      '/p/' || CAST(doc_id % 50 AS VARCHAR) ||
        |      '?utm_source=feed&sid=' || CAST(doc_id % 4 AS VARCHAR) || '#sec' AS u1,
        |    'https://www.' || (['alpha', 'beta', 'gamma', 'delta', 'epsilon'])[CAST(doc_id % 5 AS INT) + 1] ||
        |      '.' || (['com', 'net', 'org'])[CAST(doc_id % 3 AS INT) + 1] ||
        |      '/p/' || CAST(doc_id % 50 AS VARCHAR) ||
        |      '?sid=' || CAST(doc_id % 4 AS VARCHAR) AS u2
        |  FROM documents),
        |u AS (SELECT doc_id, unnest([u1, u2]) AS url FROM v),
        |s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '', 'g') AS t FROM u),
        |s2 AS (SELECT doc_id, url,
        |  regexp_replace(t, '[?&](utm_[A-Za-z]+|fbclid|gclid|ref)=[A-Za-z0-9_.%-]*', '', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id, url, regexp_replace(t, '^([^?&]*)&', '\1?') AS t FROM s2),
        |s4 AS (SELECT doc_id, url,
        |  lower(regexp_extract(t, '^(https?://[A-Za-z0-9.-]+)', 1)) ||
        |    regexp_extract(t, '^https?://[A-Za-z0-9.-]+(.*)', 1) AS t FROM s3),
        |c AS (SELECT doc_id, url, regexp_replace(t, '/$', '') AS curl FROM s4)
        |SELECT curl, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM c GROUP BY 1""".stripMargin)),

    // Fellegi–Sunter record-linkage scoring over the SNM candidate pairs
    // (q_snm_pairs' blocking): per-field m/u log-likelihood weights on
    // (lang, source, 100-char band), summed score, match/review/nonmatch
    // triage. Weights are literals, so the score takes one of 2³
    // constant values and thresholds sit safely between them.
    QuerySpec("q_record_linkage", (s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), substring(col("text"), 1, 16).as("k16"),
          col("lang"), col("source"),
          floor(col("n_chars") / lit(100.0)).cast("long").as("band"))
      val pairs = SortedNeighborhood.candidatePairs(
        docs.select("doc_id", "k16"), "doc_id", "k16", 8)
      val af = docs.select(col("doc_id").as("a_id"), col("lang").as("a_lang"),
        col("source").as("a_source"), col("band").as("a_band"))
      val bf = docs.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
        col("source").as("b_source"), col("band").as("b_band"))
      val joined = pairs.select("a_id", "b_id").join(af, "a_id").join(bf, "b_id")
      RecordLinkage.score(joined, Seq(
          RecordLinkage.FieldSpec("a_lang", "b_lang", m = 0.95, u = 0.2),
          RecordLinkage.FieldSpec("a_source", "b_source", m = 0.9, u = 0.05),
          RecordLinkage.FieldSpec("a_band", "b_band", m = 0.8, u = 0.1)),
          tUpper = 2.5, tLower = -1.0)
        .select(col("a_id"), col("b_id"),
          qround(col("fs_score"), 6).as("fs_score"), col("decision"))
    },
    oracle = Some(// CASE WHEN a = b treats nulls as disagreement — the same contract
      // RecordLinkage.score documents; weight sums are left-associative
      // in field order on both sides
      """WITH s AS (SELECT doc_id, substring(text, 1, 16) AS k, lang, source,
        |    CAST(floor(n_chars / 100.0) AS BIGINT) AS band
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT doc_id, k, lang, source, band,
        |    CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) AS rn FROM s),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    a.lang AS al, b.lang AS bl, a.source AS asrc, b.source AS bsrc,
        |    a.band AS ab, b.band AS bb
        |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn < 8),
        |sc AS (SELECT a_id, b_id,
        |    (CASE WHEN al = bl THEN ln(0.95 / 0.2) ELSE ln(0.05 / 0.8) END)
        |    + (CASE WHEN asrc = bsrc THEN ln(0.9 / 0.05) ELSE ln(0.1 / 0.95) END)
        |    + (CASE WHEN ab = bb THEN ln(0.8 / 0.1) ELSE ln(0.2 / 0.9) END) AS score
        |  FROM p)
        |SELECT a_id, b_id,
        |  floor(score * 1000000.0 + 0.5) / 1000000.0 AS fs_score,
        |  CASE WHEN score >= 2.5 THEN 'match' WHEN score <= -1.0 THEN 'nonmatch'
        |    ELSE 'review' END AS decision
        |FROM sc""".stripMargin)),

    // Corpus-frequent span scrub (C4-style boilerplate removal): delete
    // every 3-gram span appearing in >= 5 distinct docs, reassemble the
    // survivors in order; fingerprint the scrubbed text for the compare.
    QuerySpec("q_scrub_spans", (s, d) => {
      TextAnalysis.scrubFrequentSpans(Tables.documents(s, d), "doc_id", "text",
          n = 3, minDf = 5L)
        .select(col("doc_id"), col("n_before"), col("n_after"),
          md5(col("scrubbed")).as("fp"))
    },
    oracle = Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |gr0 AS (
        |  SELECT doc_id, unnest(list_transform(range(0, greatest(len(ws) - 3, -1) + 1),
        |    i -> {'start': i, 'g': array_to_string(ws[i+1:i+3], ' ')})) AS u
        |  FROM toks),
        |grams AS (SELECT doc_id, u.start AS start, u.g AS g FROM gr0),
        |freq AS (
        |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY 1)
        |  WHERE df >= 5),
        |cov AS (
        |  SELECT doc_id, list(start) AS starts FROM grams JOIN freq USING (g) GROUP BY doc_id),
        |j AS (
        |  SELECT t.doc_id, t.ws, coalesce(c.starts, []) AS starts
        |  FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_before,
        |  CAST(len(list_filter(range(1, len(ws) + 1),
        |    p -> len(list_filter(starts, st -> st + 1 <= p AND p <= st + 3)) = 0)) AS BIGINT) AS n_after,
        |  md5(coalesce(array_to_string(list_transform(list_filter(range(1, len(ws) + 1),
        |    p -> len(list_filter(starts, st -> st + 1 <= p AND p <= st + 3)) = 0),
        |    p -> ws[p]), ' '), '')) AS fp
        |FROM j""".stripMargin)),

    // Token-budget mixture sampling: per-source documents in hash order
    // until 2000 tokens — mixtures specified as token budgets (the way
    // training recipes state them), built on the PrefixScan two-pass
    // distributed cumulative sum, never a one-reducer global window.
    QuerySpec("q_token_budget_sample", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("toks"))
      Sampling.tokenBudget(docs, "source", "doc_id", "toks", budget = 2000L)
        .select(col("source"), col("doc_id"), col("toks"), col("cum_tokens"))
    },
    oracle = Some(
      """WITH t AS (
        |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS u
        |  FROM documents),
        |c AS (
        |  SELECT *, SUM(toks) OVER (PARTITION BY source ORDER BY u ASC, doc_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT source, doc_id, toks, CAST(cum AS BIGINT) AS cum_tokens
        |FROM c WHERE cum <= 2000""".stripMargin)),

    // Corpus profile: the per-language stats report every training-data
    // pipeline starts from — volume, token mass, quality, length quantiles.
    QuerySpec("q_corpus_stats", (s, d) => {
      // ONE text scan (checkpointed narrow projection); the moment
      // aggregate and the length-quantile collapse both read it. The
      // quantiles ride groupedQuantilesCont — distinct (lang, n_tokens)
      // counts, window partition = distinct lengths per lang — not a
      // per-group percentile buffer holding every doc length of a lang.
      // lang is coalesced to a sentinel BEFORE both passes: the moment
      // aggregate would emit a null-lang group but groupedQuantilesCont
      // (and the inner join back) drops null keys — the sentinel keeps
      // null-lang docs in the report on both engines by construction
      val base = Tables.documents(s, d)
        .select(coalesce(col("lang"), lit("__null__")).as("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.qualityScore(col("text"), enStop).as("q"))
        .localCheckpoint(false)
      val agg = base.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          qround(avg("q"), 6).as("avg_quality"))
      val qs = graft.ops.Aggregates
        .groupedQuantilesCont(base, "lang", "n_tokens",
          Seq(0.5 -> "p50", 0.95 -> "p95"))
      agg.join(qs, "lang")
        .select(col("lang"), col("n_docs"), col("total_tokens"),
          col("avg_quality"),
          qround(col("p50"), 4).as("p50_tokens"),
          qround(col("p95"), 4).as("p95_tokens"))
    },
    oracle = Some(
      s"""WITH t AS (
         |  SELECT coalesce(lang, '__null__') AS lang,
         |    len(string_split(text, ' ')) AS n, length(text) AS chars,
         |    len(list_filter(string_split(text, ' '), t -> t IN (${stopList(enStop)}))) AS hits
         |  FROM documents),
         |m AS (
         |  SELECT lang, CAST(n AS BIGINT) AS n_tokens,
         |    0.4 * least(n::DOUBLE / 100.0, 1.0)
         |      + 0.3 * least((CASE WHEN n > 0 THEN hits::DOUBLE / n ELSE 0.0 END) * 5.0, 1.0)
         |      + 0.3 * least((CASE WHEN n > 0 THEN (chars - (n - 1))::DOUBLE / n ELSE 0.0 END) / 8.0, 1.0) AS q
         |  FROM t)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  floor((avg(q)) * 1000000.0 + 0.5) / 1000000.0 AS avg_quality,
         |  floor((quantile_cont(n_tokens, 0.5)) * 10000.0 + 0.5) / 10000.0 AS p50_tokens,
         |  floor((quantile_cont(n_tokens, 0.95)) * 10000.0 + 0.5) / 10000.0 AS p95_tokens
         |FROM m GROUP BY lang""".stripMargin)),

    // Winnowing near-dup pairs: inverted index over the selected
    // fingerprints with a 5% document-frequency cut. w=16 selects sparse
    // fingerprints (any shared substring >= k+w-1 = 23 chars is still
    // guaranteed a shared fingerprint), keeping the pair volume linear-ish
    // on this template-heavy corpus; >= 5 shared fingerprints survive.
    QuerySpec("q_winnowing_pairs", (s, d) =>
      TextAnalysis.winnowingPairs(Tables.documents(s, d), "doc_id", "text",
        k = 8, w = 16, minShared = 5, maxDocFreqRatio = 0.05),
    oracle = Some(
      s"""WITH ${winnowingCtes(16)},
         |ex AS (SELECT doc_id, unnest(fps) AS fp FROM f),
         |cnt AS (SELECT fp, count(*) AS c FROM ex GROUP BY fp),
         |cap AS (SELECT greatest(2, CAST(floor(0.05 * count(*)) AS BIGINT)) AS v FROM documents),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         |  FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  JOIN cnt ON cnt.fp = a.fp, cap
         |  WHERE cnt.c BETWEEN 2 AND cap.v
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
         |FROM pairs WHERE n_shared >= 5""".stripMargin),
    sf1 = true),

    // SimHash near-dup pairs: pigeonhole banding (maxDist+1 segments) +
    // full-hamming verify. The oracle computes all-pairs hamming directly —
    // semantically equal because the banding has full recall. 60-bit
    // signatures (15-bit bands): at 32 bits the 8-bit band buckets saturate
    // with corpus size and candidate pairs grow quadratically — the sf1
    // bench measured 66× wall for 10× docs before the widening.
    QuerySpec("q_simhash_neardup", (s, d) =>
      SimHashDedup.nearDuplicates(Tables.documents(s, d), "doc_id", "text",
        bits = 60, maxDist = 3),
    oracle = Some(
      s"""WITH h AS (
         |  SELECT doc_id, list_transform(string_split(text, ' '), t -> sha256(t)) AS hs,
         |    len(string_split(text, ' ')) AS n
         |  FROM documents),
         |sigs AS (SELECT doc_id, ${simhashExpr(60)} AS sig FROM h),
         |ham AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_filter(range(1, 61), i -> substr(a.sig, i, 1) <> substr(b.sig, i, 1))) AS BIGINT) AS hamming
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3""".stripMargin),
    sf1 = true),

    // Transitive dup clustering: connected components (min-label
    // propagation) over the verified MinHash near-dup pair graph.
    QuerySpec("q_dup_clusters", (s, d) => {
      val pairs = MinHashDedup.nearDuplicates(Tables.documents(s, d), "doc_id", "text",
        k = 3, numHashes = 12, numBands = 4, threshold = 0.5, oracleParity = true)
      DupClusters.clusters(pairs)
    },
    oracle = Some(
      s"""WITH RECURSIVE ${minhashCtes("documents")},
         |${componentCtes("SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5")}
         |SELECT id, cluster_id FROM clu""".stripMargin),
    sf1 = true),

    // Quality-policy cluster dedup: per near-dup component keep the BEST
    // doc (longest, tie → min id) instead of the min id — the survivor
    // policy production dedup actually wants.
    QuerySpec("q_keep_best", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = MinHashDedup.nearDuplicates(docs, "doc_id", "text",
        k = 3, numHashes = 12, numBands = 4, threshold = 0.5, oracleParity = true)
      DupClusters.keepBestPerCluster(docs, pairs, "doc_id", Seq(col("n_chars").desc))
        .select(col("doc_id"))
    },
    oracle = Some(
      s"""WITH RECURSIVE ${minhashCtes("documents")},
         |${componentCtes("SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5")},
         |m AS (
         |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cl, d.n_chars
         |  FROM documents d LEFT JOIN clu c ON d.doc_id = c.id)
         |SELECT doc_id FROM (
         |  SELECT doc_id,
         |    row_number() OVER (PARTITION BY cl ORDER BY n_chars DESC, doc_id ASC) AS rn
         |  FROM m) WHERE rn = 1""".stripMargin),
    sf1 = true),

    // Composite corpus scrub end-to-end: quality+lang gates → exact dedup
    // → MinHash near-dup with transitive (connected-component) survivorship.
    QuerySpec("q_corpus_scrub", (s, d) => {
      val (cleaned, _) = CorpusPipeline.scrub(Tables.documents(s, d), "doc_id", "text",
        CorpusPipeline.Config(minQuality = 0.3, keepLangs = Seq("en"),
          jaccardThreshold = 0.5, transitive = true, oracleParity = true))
      cleaned.select(col("doc_id"))
    },
    oracle = Some(
      s"""WITH RECURSIVE $scrubPrefixCtes,
         |${minhashCtes("ex")},
         |${componentCtes("SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5")}
         |SELECT doc_id FROM ex
         |WHERE doc_id NOT IN (SELECT id FROM clu WHERE id <> cluster_id)""".stripMargin),
    sf1 = true),

    // Windowed skip-gram co-occurrence + PMI (the SPPMI / word2vec prep
    // pass). Pair generation is a pure array expression; counting is one
    // map-side-combined hash agg; doubles use a fixed operand order so
    // the oracle reproduces them bit-for-bit before rounding.
    QuerySpec("q_pmi_pairs", (s, d) =>
      Cooccurrence.pmiPairs(Tables.documents(s, d), "doc_id", "text",
          window = 3, minPairCount = 5L)
        .select(col("wa"), col("wb"), col("cab"),
          qround(col("pmi"), 6).as("pmi")),
    oracle = Some(
      """WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |uni AS (SELECT w, count(*) AS cw FROM (SELECT unnest(ws) AS w FROM t) GROUP BY 1),
        |tt AS (SELECT count(*) AS tok_total FROM (SELECT unnest(ws) AS w FROM t)),
        |pr AS (SELECT least(ws[i], ws[j]) AS wa, greatest(ws[i], ws[j]) AS wb FROM (
        |  SELECT ws, i, unnest(range(i + 1, least(i + 4, len(ws) + 1))) AS j FROM (
        |    SELECT ws, unnest(range(1, len(ws))) AS i FROM t WHERE len(ws) >= 2))),
        |pt AS (SELECT count(*) AS pair_total FROM pr),
        |pc AS (SELECT wa, wb, count(*) AS cab FROM pr GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT wa, wb, CAST(cab AS BIGINT) AS cab,
        |  floor(ln((CAST(cab AS DOUBLE) * tok_total * tok_total) /
        |            (CAST(pair_total AS DOUBLE) * ca * cb)) * 1000000.0 + 0.5) / 1000000.0 AS pmi
        |FROM pc JOIN (SELECT w AS wa, cw AS ca FROM uni) USING (wa)
        |  JOIN (SELECT w AS wb, cw AS cb FROM uni) USING (wb), tt, pt""".stripMargin)),

    // Okapi BM25 over the 5 most frequent length>=4 tokens as single-term
    // queries: corpus tokenized once, the tiny term set broadcast against
    // the (term, doc) frequency table — nothing corpus-sized shuffles
    // after the first aggregate.
    QuerySpec("q_bm25_scores", (s, d) => {
      val docs = Tables.documents(s, d)
      val terms = docs.select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
        .filter(length(col("term")) >= 4)
        .orderBy(col("c").desc, col("term").asc).limit(5)
        .select("term")
      Retrieval.bm25(docs, "doc_id", "text", terms)
        .select(col("term"), col("doc_id"), col("tf"),
          qround(col("score"), 6).as("score"))
    },
    oracle = Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS term FROM t),
        |uni AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
        |terms AS (SELECT term FROM uni WHERE len(term) >= 4 ORDER BY c DESC, term ASC LIMIT 5),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok JOIN terms USING (term) GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, len(ws) AS dl FROM t),
        |st AS (SELECT count(*) AS n, CAST(sum(len(ws)) AS DOUBLE) / count(*) AS avgdl FROM t)
        |SELECT term, doc_id, CAST(tf AS BIGINT) AS tf,
        |  floor((ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1)) /
        |         (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) * 1000000.0 + 0.5) / 1000000.0 AS score
        |FROM tf JOIN df USING (term) JOIN dl USING (doc_id), st""".stripMargin),
    sf1 = true),

    // Exact per-segment ROC-AUC (Mann-Whitney with tie-averaged ranks).
    // Scores collapse to distinct (group, score) counts before any
    // ordering, so every rank term is a half-integer and the single final
    // division is the only rounding site — bit-identical cross-engine.
    QuerySpec("q_ml_auc", (s, d) =>
      graft.ops.MlEval.groupAuc(Tables.documents(s, d), "source",
          "n_chars", col("lang") === "en")
        .select(col("source"), qround(col("auc"), 6).as("auc"),
          col("n_pos"), col("n_neg")),
    oracle = Some(
      """WITH src AS (SELECT source AS g, n_chars AS s, CAST(lang = 'en' AS INT) AS y
        |  FROM documents WHERE n_chars IS NOT NULL AND (lang = 'en') IS NOT NULL),
        |gg AS (SELECT g, s, count(*) AS c, sum(y) AS p FROM src GROUP BY 1, 2),
        |r AS (SELECT *, coalesce(sum(c) OVER (PARTITION BY g ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM gg),
        |a AS (SELECT g, sum(p) AS np, sum(c) - sum(p) AS nn,
        |        sum(p * (cb + (c + 1) / 2.0)) AS rsum FROM r GROUP BY 1)
        |SELECT g AS source,
        |  CASE WHEN np > 0 AND nn > 0 THEN
        |    floor(((rsum - np * (np + 1) / 2.0) / (CAST(np AS DOUBLE) * nn)) * 1000000.0 + 0.5) / 1000000.0
        |  END AS auc,
        |  CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
        |FROM a""".stripMargin)),

    // Best-F1 operating point per segment over the same score/label as
    // q_ml_auc: the deployment threshold question, answered by one
    // descending cumulative over distinct scores (1e-12-grid argmax,
    // smallest threshold on ties).
    QuerySpec("q_best_f1", (s, d) =>
      graft.ops.MlEval.bestF1(Tables.documents(s, d), "source",
          "n_chars", col("lang") === "en")
        .select(col("source"), col("threshold"), col("tp"), col("fp"),
          col("fn"), col("n_pos"), qround(col("f1"), 6).as("f1")),
    // descending distinct-score cumulative; single-division F1 form and
    // the 1e-12-grid argmax mirror MlEval.bestF1
    oracle = Some(
      """WITH src AS (SELECT source AS g, n_chars AS s, CAST(lang = 'en' AS INT) AS y
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |    AND (lang = 'en') IS NOT NULL),
        |gg AS (SELECT g, s, count(*) AS c, sum(y) AS p FROM src GROUP BY 1, 2),
        |r AS (SELECT *, sum(p) OVER (PARTITION BY g ORDER BY s DESC) AS tp,
        |    sum(c) OVER (PARTITION BY g ORDER BY s DESC) AS sc,
        |    sum(p) OVER (PARTITION BY g) AS np FROM gg),
        |f AS (SELECT g, s, tp, sc - tp AS fp, np,
        |    2.0 * tp / (tp + (sc - tp) + np) AS f1 FROM r),
        |k AS (SELECT *, row_number() OVER (PARTITION BY g
        |    ORDER BY CAST(floor(f1 * 1e12 + 0.5) AS BIGINT) DESC, s ASC) AS rn
        |  FROM f)
        |SELECT g AS source, s AS threshold, CAST(tp AS BIGINT) AS tp,
        |  CAST(fp AS BIGINT) AS fp, CAST(np - tp AS BIGINT) AS fn,
        |  CAST(np AS BIGINT) AS n_pos,
        |  CASE WHEN np > 0 THEN
        |    floor(f1 * 1000000.0 + 0.5) / 1000000.0 END AS f1
        |FROM k WHERE rn = 1""".stripMargin)),

    // Cumulative gains/lift deciles per segment — "scan the top d/10 by
    // score, capture what fraction of positives at what lift"; tied
    // scores are indivisible, so a straddling tie honestly overshoots
    // the nominal decile mass.
    QuerySpec("q_gains_table", (s, d) =>
      graft.ops.MlEval.gainsTable(Tables.documents(s, d), "source",
          "n_chars", col("lang") === "en")
        .select(col("source"), col("decile"), col("n_scanned"),
          col("pos_captured"), qround(col("gain"), 6).as("gain"),
          qround(col("lift"), 6).as("lift")),
    // decile prefix = smallest distinct-score prefix covering ceil(dn/10)
    // rows (integer 10cc >= dn form); cc strictly increases, so min(cc)
    // and min(cp) over the qualifying suffix pick the same row
    oracle = Some(
      """WITH src AS (SELECT source AS g, n_chars AS s, CAST(lang = 'en' AS INT) AS y
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |    AND (lang = 'en') IS NOT NULL),
        |gg AS (SELECT g, s, count(*) AS c, sum(y) AS p FROM src GROUP BY 1, 2),
        |r AS (SELECT *, sum(c) OVER (PARTITION BY g ORDER BY s DESC) AS cc,
        |    sum(p) OVER (PARTITION BY g ORDER BY s DESC) AS cp,
        |    sum(c) OVER (PARTITION BY g) AS n,
        |    sum(p) OVER (PARTITION BY g) AS np FROM gg),
        |d AS (SELECT g, n, np, t.d AS decile,
        |    min(CASE WHEN cc * 10 >= n * t.d THEN cc END) AS n_scanned,
        |    min(CASE WHEN cc * 10 >= n * t.d THEN cp END) AS pos_captured
        |  FROM r CROSS JOIN (SELECT unnest(range(1, 11)) AS d) AS t
        |  GROUP BY 1, 2, 3, 4)
        |SELECT g AS source, CAST(decile AS BIGINT) AS decile,
        |  CAST(n_scanned AS BIGINT) AS n_scanned,
        |  CAST(pos_captured AS BIGINT) AS pos_captured,
        |  CASE WHEN np > 0 THEN
        |    floor((CAST(pos_captured AS DOUBLE) / np) * 1000000.0 + 0.5) / 1000000.0
        |  END AS gain,
        |  CASE WHEN np > 0 THEN
        |    floor(((CAST(pos_captured AS DOUBLE) / np) /
        |      (CAST(n_scanned AS DOUBLE) / n)) * 1000000.0 + 0.5) / 1000000.0
        |  END AS lift
        |FROM d""".stripMargin)),

    // Thresholded confusion matrix + precision/recall/F1 per segment —
    // one aggregate job, null metrics on zero denominators.
    QuerySpec("q_ml_confusion", (s, d) =>
      graft.ops.MlEval.confusionStats(Tables.documents(s, d), "source",
          col("n_chars") >= 500, col("lang") === "en")
        .select(col("source"), col("tp"), col("fp"), col("tn"), col("fn"),
          qround(col("precision"), 6).as("precision"),
          qround(col("recall"), 6).as("recall"),
          qround(col("f1"), 6).as("f1")),
    oracle = Some(
      """WITH c AS (SELECT source, n_chars >= 500 AS yh, lang = 'en' AS y FROM documents),
        |m AS (SELECT source,
        |  count(*) FILTER (yh AND y) AS tp, count(*) FILTER (yh AND NOT y) AS fp,
        |  count(*) FILTER (NOT yh AND NOT y) AS tn, count(*) FILTER (NOT yh AND y) AS fn
        |  FROM c GROUP BY 1)
        |SELECT source, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
        |  CASE WHEN tp + fp > 0 THEN floor((CAST(tp AS DOUBLE) / (tp + fp)) * 1000000.0 + 0.5) / 1000000.0 END AS precision,
        |  CASE WHEN tp + fn > 0 THEN floor((CAST(tp AS DOUBLE) / (tp + fn)) * 1000000.0 + 0.5) / 1000000.0 END AS recall,
        |  CASE WHEN tp * 2 + fp + fn > 0 THEN floor(((tp * 2.0) / (tp * 2 + fp + fn)) * 1000000.0 + 0.5) / 1000000.0 END AS f1
        |FROM m""".stripMargin)),

    // Feature-dependence probe: mutual information between language and
    // source, with the entropies it decomposes into — mi ≈ h_x means
    // source determines language (a leakage/redundancy signal before
    // training on either). One (x, y) count shuffle; everything else
    // re-aggregates that bounded table.
    QuerySpec("q_mutual_info", (s, d) =>
      graft.ops.Distribution.mutualInformation(
          Tables.documents(s, d), "lang", "source")
        .select(col("n"), qround(col("h_x"), 6).as("h_x"),
          qround(col("h_y"), 6).as("h_y"), qround(col("h_xy"), 6).as("h_xy"),
          qround(col("mi"), 6).as("mi")),
    oracle = Some(
      """WITH j AS (SELECT lang AS x, source AS y, count(*) AS n FROM documents
        |    WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |gr AS (SELECT SUM(n) AS tot FROM j),
        |mx AS (SELECT x, SUM(n) AS n FROM j GROUP BY 1),
        |my AS (SELECT y, SUM(n) AS n FROM j GROUP BY 1),
        |hx AS (SELECT (-SUM(n * ln(CAST(n AS DOUBLE) / (SELECT tot FROM gr))))
        |         / (SELECT tot FROM gr) AS h_x FROM mx),
        |hy AS (SELECT (-SUM(n * ln(CAST(n AS DOUBLE) / (SELECT tot FROM gr))))
        |         / (SELECT tot FROM gr) AS h_y FROM my),
        |hxy AS (SELECT (-SUM(n * ln(CAST(n AS DOUBLE) / (SELECT tot FROM gr))))
        |         / (SELECT tot FROM gr) AS h_xy FROM j)
        |SELECT CAST((SELECT tot FROM gr) AS BIGINT) AS n,
        |  floor(h_x * 1000000.0 + 0.5) / 1000000.0 AS h_x,
        |  floor(h_y * 1000000.0 + 0.5) / 1000000.0 AS h_y,
        |  floor(h_xy * 1000000.0 + 0.5) / 1000000.0 AS h_xy,
        |  floor((h_x + h_y - h_xy) * 1000000.0 + 0.5) / 1000000.0 AS mi
        |FROM hx, hy, hxy""".stripMargin)),

    // Reliability (calibration) bins for a length-based pseudo-probability
    // of lang=en: score_fp = min(999, n_chars/10) on scale 1000, 10 equal-
    // width bins. Integer bin index and exact-long bin sums make mean_pred
    // and frac_pos single divisions of identical operands on both engines.
    QuerySpec("q_ml_calibration", (s, d) =>
      graft.ops.MlEval.calibrationBins(Tables.documents(s, d),
          least(lit(999L), floor(col("n_chars") / 10).cast("long")),
          col("lang") === "en", bins = 10, scale = 1000L)
        .select(col("bin"), col("n"),
          qround(col("mean_pred"), 6).as("mean_pred"),
          qround(col("frac_pos"), 6).as("frac_pos"),
          qround(col("gap"), 6).as("gap")),
    oracle = Some(
      """WITH b AS (SELECT least(999, CAST(floor(n_chars / 10.0) AS BIGINT)) AS sc,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |x AS (SELECT least(CAST(floor((sc * 10) / 1000.0) AS BIGINT), 9) AS bin, sc, y FROM b),
        |g AS (SELECT bin, count(*) AS n, SUM(sc) AS ssum, SUM(y) AS pos FROM x GROUP BY 1)
        |SELECT bin, CAST(n AS BIGINT) AS n,
        |  floor((CAST(ssum AS DOUBLE) / n / 1000) * 1000000.0 + 0.5) / 1000000.0 AS mean_pred,
        |  floor((CAST(pos AS DOUBLE) / n) * 1000000.0 + 0.5) / 1000000.0 AS frac_pos,
        |  floor((CAST(pos AS DOUBLE) / n - CAST(ssum AS DOUBLE) / n / 1000) * 1000000.0 + 0.5) / 1000000.0 AS gap
        |FROM g""".stripMargin)),

    // Weight-of-Evidence / Information-Value screen: how much doc length
    // separates lang=en from the rest, per equal-width length bin.
    // Integer bin assignment, exact counts, one ln per bin; the IV total
    // sums 1e-9-quantized terms as longs — order-free by construction.
    QuerySpec("q_woe_iv", (s, d) =>
      graft.ops.Encoding.woeIv(Tables.documents(s, d),
          col("n_chars"), col("lang") === "en", bins = 10)
        .select(col("bin"), col("n"), col("pos"), col("neg"),
          qround(col("woe"), 6).as("woe"),
          qround(col("iv_term"), 6).as("iv_term"),
          qround(col("iv"), 6).as("iv")),
    oracle = Some(
      """WITH r0 AS (SELECT CAST(n_chars AS BIGINT) AS v,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |ext AS (SELECT min(v) AS lo, max(v) AS hi FROM r0),
        |b AS (SELECT least(9, CAST(floor(CAST((v - lo) * 10 AS DOUBLE) / (hi - lo + 1)) AS BIGINT)) AS bin, y
        |  FROM r0, ext),
        |g AS (SELECT bin, count(*) AS n, SUM(y) AS pos, count(*) - SUM(y) AS neg
        |  FROM b GROUP BY 1),
        |w AS (SELECT bin, n, pos, neg,
        |    SUM(pos) OVER () AS pt, SUM(neg) OVER () AS nt FROM g),
        |w2 AS (SELECT *,
        |    ln(((pos + 0.5) * nt) / ((neg + 0.5) * pt)) AS woe FROM w),
        |w3 AS (SELECT *,
        |    CAST(floor((CAST(pos AS DOUBLE) / pt - CAST(neg AS DOUBLE) / nt) * woe * 1000000000.0 + 0.5) AS BIGINT) AS tq
        |  FROM w2)
        |SELECT bin, CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
        |  CAST(neg AS BIGINT) AS neg,
        |  floor(woe * 1000000.0 + 0.5) / 1000000.0 AS woe,
        |  floor((CAST(tq AS DOUBLE) / 1000000000.0) * 1000000.0 + 0.5) / 1000000.0 AS iv_term,
        |  floor((CAST(SUM(tq) OVER () AS DOUBLE) / 1000000000.0) * 1000000.0 + 0.5) / 1000000.0 AS iv
        |FROM w3""".stripMargin)),

    // Source-vocabulary overlap: Jaccard + containment of distinct-term
    // sets per source pair — the "do these sources restate each other?"
    // mix audit. One distinct collapse, a term-keyed pair join bounded by
    // the source taxonomy, exact set arithmetic.
    QuerySpec("q_vocab_overlap", (s, d) =>
      graft.llm.TextAnalysis.vocabOverlap(Tables.documents(s, d),
          "source", "text", minLen = 4)
        .select(col("ga"), col("gb"), col("na"), col("nb"), col("inter"),
          qround(col("jaccard"), 6).as("jaccard"),
          qround(col("containment"), 6).as("containment")),
    oracle = Some(
      """WITH w AS (SELECT source AS g, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE source IS NOT NULL),
        |t AS (SELECT DISTINCT g, term FROM w WHERE len(term) >= 4),
        |sz AS (SELECT g, count(*) AS nv FROM t GROUP BY 1),
        |it AS (SELECT a.g AS ga, b.g AS gb, count(*) AS inter
        |  FROM t a JOIN t b ON a.term = b.term AND a.g < b.g GROUP BY 1, 2)
        |SELECT ga, gb, CAST(sa.nv AS BIGINT) AS na, CAST(sb.nv AS BIGINT) AS nb,
        |  CAST(inter AS BIGINT) AS inter,
        |  floor((CAST(inter AS DOUBLE) / (sa.nv + sb.nv - inter)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard,
        |  floor((CAST(inter AS DOUBLE) / least(sa.nv, sb.nv)) * 1000000.0 + 0.5) / 1000000.0 AS containment
        |FROM it JOIN sz sa ON it.ga = sa.g JOIN sz sb ON it.gb = sb.g""".stripMargin)),

    // TextRank keywords: PageRank over the word-adjacency graph — the
    // unsupervised corpus keyword scorer, composed from the repo's exact
    // integer PageRank on md5 word ids (oracle unrolls the identical
    // recurrence). Top-20 by (pr, word), a deterministic cut.
    QuerySpec("q_textrank", (s, d) =>
      graft.llm.Cooccurrence.textRankKeywords(Tables.documents(s, d),
        "doc_id", "text", minLen = 4, iterations = 5, topK = 20),
    oracle = Some {
      val base =
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM t),
          |ad AS (SELECT a.w AS wa, b.w AS wb FROM w a
          |  JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
          |  WHERE len(a.w) >= 4 AND len(b.w) >= 4),
          |eu AS (SELECT ('0x' || substr(md5(wa), 1, 15))::BIGINT AS src,
          |    ('0x' || substr(md5(wb), 1, 15))::BIGINT AS dst FROM ad
          |  UNION SELECT ('0x' || substr(md5(wb), 1, 15))::BIGINT,
          |    ('0x' || substr(md5(wa), 1, 15))::BIGINT FROM ad),
          |words AS (SELECT DISTINCT w AS word,
          |    ('0x' || substr(md5(w), 1, 15))::BIGINT AS node
          |  FROM (SELECT wa AS w FROM ad UNION SELECT wb FROM ad)),
          |nodes AS (SELECT DISTINCT src AS node FROM eu),
          |deg AS (SELECT src, count(*) AS outdeg FROM eu GROUP BY 1),
          |p AS (SELECT 1000000000000 // count(*) AS init FROM nodes),
          |r0 AS (SELECT node, (SELECT init FROM p) AS pr FROM nodes)""".stripMargin
      val iters = (1 to 5).map { i =>
        s""",
           |r$i AS (SELECT n.node,
           |  (SELECT (15*init)//100 FROM p) + (85 * COALESCE(s.inflow, 0)) // 100 AS pr
           |  FROM nodes n LEFT JOIN (
           |    SELECT eu.dst AS node, SUM(r.pr // d.outdeg) AS inflow
           |    FROM eu JOIN r${i - 1} r ON eu.src = r.node JOIN deg d ON eu.src = d.src
           |    GROUP BY 1) s ON n.node = s.node)""".stripMargin
      }.mkString
      base + iters +
        "\nSELECT word, CAST(pr AS BIGINT) AS pr FROM r5 JOIN words USING (node)" +
        "\nORDER BY pr DESC, word ASC LIMIT 20"
    },
    // sf1: adjacent-pair generation + the PageRank loop over the 10× word graph
    sf1 = true),

    // Murphy decomposition of the Brier score for the q_ml_calibration
    // forecast (length-based pseudo-probability of lang=en): exact BS
    // from an integer square-sum, reliability/resolution via the
    // order-free 1e-9 term quantization, one-row scorecard.
    QuerySpec("q_brier_decomp", (s, d) =>
      graft.ops.MlEval.brierDecompose(Tables.documents(s, d),
          least(lit(999L), floor(col("n_chars") / 10).cast("long")),
          col("lang") === "en", bins = 10, scale = 1000L)
        .select(col("n"), col("pos"), qround(col("brier"), 6).as("brier"),
          qround(col("reliability"), 6).as("reliability"),
          qround(col("resolution"), 6).as("resolution"),
          qround(col("uncertainty"), 6).as("uncertainty")),
    oracle = Some(
      """WITH b0 AS (SELECT least(999, CAST(floor(n_chars / 10.0) AS BIGINT)) AS sc,
        |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |x AS (SELECT least(CAST(floor((sc * 10) / 1000.0) AS BIGINT), 9) AS bin, sc, y FROM b0),
        |g AS (SELECT bin, count(*) AS n, SUM(sc) AS ssum, SUM(y) AS pos,
        |    SUM((sc - y * 1000) * (sc - y * 1000)) AS sq FROM x GROUP BY 1),
        |w AS (SELECT *, SUM(n) OVER () AS nt, SUM(pos) OVER () AS pt,
        |    SUM(sq) OVER () AS sqt FROM g),
        |t AS (SELECT nt, pt, sqt,
        |    CAST(floor(n * (CAST(ssum AS DOUBLE) / n / 1000 - CAST(pos AS DOUBLE) / n) *
        |      (CAST(ssum AS DOUBLE) / n / 1000 - CAST(pos AS DOUBLE) / n) * 1000000000.0 + 0.5) AS BIGINT) AS relq,
        |    CAST(floor(n * (CAST(pos AS DOUBLE) / n - CAST(pt AS DOUBLE) / nt) *
        |      (CAST(pos AS DOUBLE) / n - CAST(pt AS DOUBLE) / nt) * 1000000000.0 + 0.5) AS BIGINT) AS resq
        |  FROM w),
        |a AS (SELECT nt, pt, sqt, SUM(relq) AS rel, SUM(resq) AS res FROM t GROUP BY 1, 2, 3)
        |SELECT CAST(nt AS BIGINT) AS n, CAST(pt AS BIGINT) AS pos,
        |  floor((CAST(sqt AS DOUBLE) / 1000000.0 / nt) * 1000000.0 + 0.5) / 1000000.0 AS brier,
        |  floor((CAST(rel AS DOUBLE) / 1000000000.0 / nt) * 1000000.0 + 0.5) / 1000000.0 AS reliability,
        |  floor((CAST(res AS DOUBLE) / 1000000000.0 / nt) * 1000000.0 + 0.5) / 1000000.0 AS resolution,
        |  floor(((CAST(pt AS DOUBLE) / nt) * (1.0 - CAST(pt AS DOUBLE) / nt)) * 1000000.0 + 0.5) / 1000000.0 AS uncertainty
        |FROM a""".stripMargin)),

    // One distributed gradient-descent step of logistic regression
    // (lang=en on a bias + length feature): gradients are map-combined
    // sums, the step is a broadcast, and loss(w¹) < ln 2 is the descent
    // evidence — the data-parallel training mechanics, pinned exactly.
    QuerySpec("q_logreg_step", (s, d) =>
      graft.ops.Regression.logregGdStep(Tables.documents(s, d),
          Seq("bias" -> lit(1L), "n_chars" -> col("n_chars")),
          col("lang") === "en", lr = 1e-8)
        .select(col("feature"), col("n"), qround(col("grad0"), 6).as("grad0"),
          qround(col("w1"), 12).as("w1"),
          qround(col("grad1"), 6).as("grad1"),
          qround(col("loss0"), 6).as("loss0"),
          qround(col("loss1"), 6).as("loss1")),
    oracle = Some(
      """WITH r0 AS (SELECT CAST(1 AS BIGINT) AS b, CAST(n_chars AS BIGINT) AS x,
        |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |st AS (SELECT count(*) AS n, SUM(b) AS sb, SUM(CASE WHEN y = 1 THEN b ELSE 0 END) AS syb,
        |    SUM(x) AS sx, SUM(CASE WHEN y = 1 THEN x ELSE 0 END) AS syx FROM r0),
        |w AS (SELECT n, sb, syb, sx, syx,
        |    (1e-8 * CAST(2 * syb - sb AS DOUBLE)) / (2 * n) AS wb,
        |    (1e-8 * CAST(2 * syx - sx AS DOUBLE)) / (2 * n) AS wx FROM st),
        |rows2 AS (SELECT r0.*, w.*,
        |    wb * CAST(b AS DOUBLE) + wx * CAST(x AS DOUBLE) AS z FROM r0, w),
        |rows3 AS (SELECT *, exp(z) AS ez FROM rows2),
        |rows4 AS (SELECT *, ez / (1.0 + ez) AS p,
        |    ln(1.0 + ez) - y * z AS lossr FROM rows3),
        |ag AS (SELECT
        |    SUM(CAST(floor(lossr * 1000000000.0 + 0.5) AS BIGINT)) AS slq,
        |    SUM(CAST(floor((p - y) * CAST(b AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT)) AS sgb,
        |    SUM(CAST(floor((p - y) * CAST(x AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT)) AS sgx
        |  FROM rows4),
        |fin AS (SELECT * FROM w, ag)
        |SELECT 'bias' AS feature, CAST(n AS BIGINT) AS n,
        |  floor((CAST(sb - 2 * syb AS DOUBLE) / (2 * n)) * 1000000.0 + 0.5) / 1000000.0 AS grad0,
        |  floor(wb * 1000000000000.0 + 0.5) / 1000000000000.0 AS w1,
        |  floor((CAST(sgb AS DOUBLE) / 1000000000.0 / n) * 1000000.0 + 0.5) / 1000000.0 AS grad1,
        |  floor(ln(2.0) * 1000000.0 + 0.5) / 1000000.0 AS loss0,
        |  floor((CAST(slq AS DOUBLE) / 1000000000.0 / n) * 1000000.0 + 0.5) / 1000000.0 AS loss1
        |FROM fin
        |UNION ALL
        |SELECT 'n_chars' AS feature, CAST(n AS BIGINT) AS n,
        |  floor((CAST(sx - 2 * syx AS DOUBLE) / (2 * n)) * 1000000.0 + 0.5) / 1000000.0 AS grad0,
        |  floor(wx * 1000000000000.0 + 0.5) / 1000000000000.0 AS w1,
        |  floor((CAST(sgx AS DOUBLE) / 1000000000.0 / n) * 1000000.0 + 0.5) / 1000000.0 AS grad1,
        |  floor(ln(2.0) * 1000000.0 + 0.5) / 1000000.0 AS loss0,
        |  floor((CAST(slq AS DOUBLE) / 1000000000.0 / n) * 1000000.0 + 0.5) / 1000000.0 AS loss1
        |FROM fin""".stripMargin)),

    // Association drill-down: observed/expected lift per (lang, source)
    // cell — over-represented combos (lift ≫ 1) are the "one source feeds
    // one language" signals a mix curator acts on. Absent cells never
    // materialize.
    QuerySpec("q_lift_anomaly", (s, d) =>
      graft.ops.Distribution.liftCells(Tables.documents(s, d), "lang", "source")
        .select(col("lang"), col("source"), col("o"),
          qround(col("e"), 6).as("e"), qround(col("lift"), 6).as("lift")),
    oracle = Some(
      """WITH j AS (SELECT lang AS x, source AS y, count(*) AS o FROM documents
        |    WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |rx AS (SELECT x, SUM(o) AS rt FROM j GROUP BY 1),
        |cy AS (SELECT y, SUM(o) AS ct FROM j GROUP BY 1),
        |gr AS (SELECT SUM(o) AS tot FROM j)
        |SELECT x AS lang, y AS source, CAST(o AS BIGINT) AS o,
        |  floor((CAST(rt AS DOUBLE) * ct / tot) * 1000000.0 + 0.5) / 1000000.0 AS e,
        |  floor((CAST(o AS DOUBLE) * tot / (CAST(rt AS DOUBLE) * ct)) * 1000000.0 + 0.5) / 1000000.0 AS lift
        |FROM j JOIN rx USING (x) JOIN cy USING (y), gr""".stripMargin)),

    // Corpus-concentration audit: per-source Gini of character mass across
    // documents — how dominated each source is by its largest docs. The
    // tie-averaged rank identity keeps every term integer; the single
    // final division is the only rounding site.
    QuerySpec("q_gini_concentration", (s, d) =>
      graft.ops.Aggregates.giniConcentration(
          Tables.documents(s, d), "source", "n_chars")
        .select(col("source"), col("n_rows"), qround(col("gini"), 6).as("gini")),
    oracle = Some(
      """WITH b AS (SELECT source AS g, n_chars AS v FROM documents
        |    WHERE source IS NOT NULL AND n_chars IS NOT NULL AND n_chars >= 0),
        |d AS (SELECT g, v, count(*) AS c FROM b GROUP BY 1, 2),
        |w AS (SELECT g, v, c,
        |    COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp,
        |    SUM(c) OVER (PARTITION BY g) AS n,
        |    SUM(v * c) OVER (PARTITION BY g) AS mass
        |  FROM d)
        |SELECT g AS source, CAST(MAX(n) AS BIGINT) AS n_rows,
        |  CASE WHEN MAX(mass) > 0 THEN
        |    floor((CAST(SUM(v * c * (2 * cp + c - n)) AS DOUBLE) /
        |           (CAST(MAX(n) AS DOUBLE) * MAX(mass))) * 1000000.0 + 0.5) / 1000000.0
        |  END AS gini
        |FROM w GROUP BY 1""".stripMargin)),

    // Retrieval-quality scorecard (MRR / P@10 / R@10 / nDCG@10): three
    // two-term queries built from the top-6 corpus terms; the ranker is
    // summed BM25 rounded to 6dp BEFORE ranking (+ doc_id tie-break) so
    // float noise can never reorder across engines; gold = docs
    // containing BOTH terms. One corpus tokenization feeds scoring and
    // gold; the metric join is aggregate-sized (ops.MlEval
    // .retrievalMetrics), the ideal-DCG explode is ≤ k per query.
    QuerySpec("q_retrieval_eval", (s, d) => {
      val docs = Tables.documents(s, d)
      val top6 = docs.select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
        .filter(length(col("term")) >= 4)
        .orderBy(col("c").desc, col("term").asc).limit(6)
      val qt = top6
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("c").desc, col("term").asc)))
        .select(col("term"), ceil(col("rnk") / 2.0).cast("long").as("qid"))
      val scored = graft.llm.Retrieval.bm25(docs, "doc_id", "text",
          qt.select("term"))
        .join(broadcast(qt), Seq("term"))
      val ranked = scored.groupBy(col("qid"), col("doc_id"))
        .agg(qround(sum(col("score")), 6).as("sc"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("sc").desc, col("doc_id").asc)))
      // gold = docs where EVERY query term appears ≥ 4 times (a graded-
      // relevance proxy; plain co-occurrence saturates P@10 at 1.0 on
      // this corpus's small vocabulary)
      val gold = scored.groupBy(col("qid"), col("doc_id"))
        .agg(count_distinct(col("term")).as("nt"), min(col("tf")).as("mtf"))
        .filter(col("nt") === 2 && col("mtf") >= 4).select("qid", "doc_id")
      graft.ops.MlEval.retrievalMetrics(ranked, gold, "qid", "doc_id", "rnk", k = 10)
        .select(col("qid"), col("n_rel"), qround(col("rr"), 6).as("rr"),
          qround(col("p_at_k"), 6).as("p_at_k"),
          qround(col("recall_at_k"), 6).as("recall_at_k"),
          qround(col("ndcg_at_k"), 6).as("ndcg_at_k"))
    },
    oracle = Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS term FROM t),
        |uni AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
        |top6 AS (SELECT term, c FROM uni WHERE len(term) >= 4
        |  ORDER BY c DESC, term ASC LIMIT 6),
        |qt AS (SELECT term,
        |    CAST(ceil(row_number() OVER (ORDER BY c DESC, term ASC) / 2.0) AS BIGINT) AS qid
        |  FROM top6),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok
        |  JOIN (SELECT term FROM qt) USING (term) GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, len(ws) AS dl FROM t),
        |st AS (SELECT count(*) AS n, CAST(sum(len(ws)) AS DOUBLE) / count(*) AS avgdl FROM t),
        |sc AS (SELECT term, doc_id,
        |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS score
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), st),
        |qs AS (SELECT qid, doc_id,
        |    floor(sum(score) * 1000000.0 + 0.5) / 1000000.0 AS s
        |  FROM sc JOIN qt USING (term) GROUP BY 1, 2),
        |rk AS (SELECT qid, doc_id, CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY s DESC, doc_id ASC) AS BIGINT) AS rnk FROM qs),
        |gold AS (SELECT qid, doc_id FROM tf JOIN qt USING (term)
        |  GROUP BY 1, 2 HAVING count(DISTINCT term) = 2 AND min(tf) >= 4),
        |nrel AS (SELECT qid, count(*) AS n_rel FROM gold GROUP BY 1),
        |j AS (SELECT r.qid, r.rnk,
        |    CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM rk r LEFT JOIN gold g ON g.qid = r.qid AND g.doc_id = r.doc_id),
        |pq AS (SELECT qid, min(CASE WHEN hit = 1 THEN rnk END) AS first_rel,
        |    sum(CASE WHEN hit = 1 AND rnk <= 10 THEN 1 ELSE 0 END) AS hits_k,
        |    sum(CASE WHEN hit = 1 AND rnk <= 10 THEN 1.0 / log2(rnk + 1) ELSE 0.0 END) AS dcg
        |  FROM j GROUP BY 1),
        |idcg AS (SELECT qid, sum(1.0 / log2(i + 1)) AS idcg FROM
        |    (SELECT qid, unnest(generate_series(1, least(n_rel, 10))) AS i FROM nrel)
        |  GROUP BY 1),
        |base AS (SELECT coalesce(pq.qid, nrel.qid) AS qid, first_rel,
        |    coalesce(hits_k, 0) AS hits_k, coalesce(dcg, 0.0) AS dcg,
        |    coalesce(n_rel, 0) AS n_rel
        |  FROM pq FULL JOIN nrel ON pq.qid = nrel.qid)
        |SELECT base.qid, CAST(n_rel AS BIGINT) AS n_rel,
        |  floor((1.0 / first_rel) * 1000000.0 + 0.5) / 1000000.0 AS rr,
        |  floor((CAST(hits_k AS DOUBLE) / 10) * 1000000.0 + 0.5) / 1000000.0 AS p_at_k,
        |  CASE WHEN n_rel > 0 THEN
        |    floor((CAST(hits_k AS DOUBLE) / n_rel) * 1000000.0 + 0.5) / 1000000.0
        |  END AS recall_at_k,
        |  CASE WHEN idcg IS NOT NULL THEN
        |    floor((dcg / idcg) * 1000000.0 + 0.5) / 1000000.0
        |  END AS ndcg_at_k
        |FROM base LEFT JOIN idcg USING (qid)""".stripMargin)),

    // Average precision @10 + MAP — the TREC headline the scorecard
    // above lacks: AP rewards putting EVERY relevant doc early, not just
    // the first (MRR) or the count in the window (P@10). Same ranker /
    // gold construction as q_retrieval_eval; AP's P@i terms come from a
    // per-query cumulative-hit window over the candidate list (bounded),
    // MAP is the 1e-6-grid integer mean over queries — one division of
    // identical operands in both engines, repeated per row.
    QuerySpec("q_retrieval_ap", (s, d) => {
      val docs = Tables.documents(s, d)
      val top6 = docs.select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
        .filter(length(col("term")) >= 4)
        .orderBy(col("c").desc, col("term").asc).limit(6)
      val qt = top6
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("c").desc, col("term").asc)))
        .select(col("term"), ceil(col("rnk") / 2.0).cast("long").as("qid"))
      val scored = graft.llm.Retrieval.bm25(docs, "doc_id", "text",
          qt.select("term"))
        .join(broadcast(qt), Seq("term"))
      val ranked = scored.groupBy(col("qid"), col("doc_id"))
        .agg(qround(sum(col("score")), 6).as("sc"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("sc").desc, col("doc_id").asc)))
      val gold = scored.groupBy(col("qid"), col("doc_id"))
        .agg(count_distinct(col("term")).as("nt"), min(col("tf")).as("mtf"))
        .filter(col("nt") === 2 && col("mtf") >= 4).select("qid", "doc_id")
      val met = graft.ops.MlEval.retrievalMetrics(
          ranked, gold, "qid", "doc_id", "rnk", k = 10)
        .select(col("qid"), col("n_rel"),
          qround(col("ap_at_k"), 6).as("ap_at_k"))
      val wAll = org.apache.spark.sql.expressions.Window
        .rowsBetween(Long.MinValue, Long.MaxValue)
      met.withColumn("map_at_k", qround(
        sum(floor(col("ap_at_k") * 1e6 + 0.5)).over(wAll) /
          (lit(1e6) * count(col("ap_at_k")).over(wAll)), 9))
    },
    oracle = Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS term FROM t),
        |uni AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
        |top6 AS (SELECT term, c FROM uni WHERE len(term) >= 4
        |  ORDER BY c DESC, term ASC LIMIT 6),
        |qt AS (SELECT term,
        |    CAST(ceil(row_number() OVER (ORDER BY c DESC, term ASC) / 2.0) AS BIGINT) AS qid
        |  FROM top6),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok
        |  JOIN (SELECT term FROM qt) USING (term) GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, len(ws) AS dl FROM t),
        |st AS (SELECT count(*) AS n, CAST(sum(len(ws)) AS DOUBLE) / count(*) AS avgdl FROM t),
        |sc AS (SELECT term, doc_id,
        |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS score
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), st),
        |qs AS (SELECT qid, doc_id,
        |    floor(sum(score) * 1000000.0 + 0.5) / 1000000.0 AS s
        |  FROM sc JOIN qt USING (term) GROUP BY 1, 2),
        |rk AS (SELECT qid, doc_id, CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY s DESC, doc_id ASC) AS BIGINT) AS rnk FROM qs),
        |gold AS (SELECT qid, doc_id FROM tf JOIN qt USING (term)
        |  GROUP BY 1, 2 HAVING count(DISTINCT term) = 2 AND min(tf) >= 4),
        |nrel AS (SELECT qid, count(*) AS n_rel FROM gold GROUP BY 1),
        |j AS (SELECT r.qid, r.rnk,
        |    CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM rk r LEFT JOIN gold g ON g.qid = r.qid AND g.doc_id = r.doc_id),
        |jc AS (SELECT qid, rnk, hit,
        |    sum(hit) OVER (PARTITION BY qid ORDER BY rnk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM j),
        |pq AS (SELECT qid,
        |    sum(CASE WHEN hit = 1 AND rnk <= 10
        |      THEN CAST(cum AS DOUBLE) / rnk ELSE 0.0 END) AS ap_num
        |  FROM jc GROUP BY 1),
        |base AS (SELECT coalesce(pq.qid, nrel.qid) AS qid,
        |    coalesce(ap_num, 0.0) AS ap_num, coalesce(n_rel, 0) AS n_rel
        |  FROM pq FULL JOIN nrel ON pq.qid = nrel.qid),
        |apq AS (SELECT qid, CAST(n_rel AS BIGINT) AS n_rel,
        |    CASE WHEN n_rel > 0 THEN
        |      floor((ap_num / least(n_rel, 10)) * 1000000.0 + 0.5) / 1000000.0
        |    END AS ap FROM base)
        |SELECT qid, n_rel, ap AS ap_at_k,
        |  floor(CAST(sum(CAST(floor(ap * 1000000.0 + 0.5) AS BIGINT)) OVER () AS DOUBLE)
        |    / (1000000.0 * count(ap) OVER ()) * 1000000000.0 + 0.5) / 1000000000.0 AS map_at_k
        |FROM apq""".stripMargin)),

    // The COMPOSED retrieval suite, end-to-end in one oracled ledger —
    // the last pillar without a composition pin (corpus, experimentation,
    // classifier and drift each have theirs): BM25 lexical run → a
    // second tf-sum lexical run → RRF fusion per query (Retrieval
    // .rrfFuse, k = 60, both runs cut to bounded top-50 candidate
    // lists) → retrieval scorecard of the FUSED ranking against gold
    // (MlEval.retrievalMetrics) → best-F1 operating point of the fused
    // score (MlEval.bestF1 — the deployment gate a hybrid ranker ships
    // behind). Every unit stage is green on its own (q_bm25_scores,
    // q_rrf_fusion, q_retrieval_eval, q_best_f1); this row pins the
    // COMPOSITION: one shared corpus tokenization feeds term discovery,
    // BOTH runs and gold; fusion ranks exactly the rounded scores the
    // runs emit; the F1 gate thresholds the same 1e-9-grid fused score
    // in both engines. Scale shape: ONE corpus tokenize + collapse
    // (checkpointed, four consumers); every downstream stage is
    // candidate-bounded (≤100 rows per query) or aggregate-sized.
    QuerySpec("q_retrieval_pipeline", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val tfAll = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        .localCheckpoint(false) // terms, bm25 run, tf run, gold
      val top6 = tfAll.groupBy("term").agg(sum(col("tf")).as("c"))
        .filter(length(col("term")) >= 4)
        .orderBy(col("c").desc, col("term").asc).limit(6)
      val qt = top6
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("c").desc, col("term").asc)))
        .select(col("term"), ceil(col("rnk") / 2.0).cast("long").as("qid"))
      // run 1: BM25 (summed per query, 1e-6 grid, top-50 per qid)
      val scored = Retrieval.bm25FromTf(tfAll, qt.select("term"))
        .join(broadcast(qt), Seq("term"))
        .localCheckpoint(false) // lex run + tf run + gold read it
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("sc").desc, col("doc_id").asc)
      val lex50 = scored.groupBy(col("qid"), col("doc_id"))
        .agg(qround(sum(col("score")), 6).as("sc"))
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 50)
        .localCheckpoint(false) // ledger + per-qid fusion slices
      // run 2: raw term-frequency sum (the quorum-style lexical variant)
      val tf50 = scored.groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("tf")).cast("double").as("sc"))
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 50)
        .localCheckpoint(false)
      // RRF fusion per query (qid ∈ {1,2,3} by construction: 6 terms,
      // 2 per query) — each fusion sees two bounded candidate lists
      val fused = Seq(1L, 2L, 3L).map { q =>
        Retrieval.rrfFuse(Seq(
            "bm25" -> lex50.filter(col("qid") === q)
              .select(col("doc_id"), col("sc")),
            "tfsum" -> tf50.filter(col("qid") === q)
              .select(col("doc_id"), col("sc"))),
          "doc_id", "sc")
          .withColumn("qid", lit(q))
      }.reduce(_ unionByName _)
        .localCheckpoint(false) // ranking, F1 gate, ledger
      val frk = fused
        .withColumn("rnk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(qround(col("rrf"), 9).desc, col("doc_id").asc)))
      val gold = scored.groupBy(col("qid"), col("doc_id"))
        .agg(count_distinct(col("term")).as("nt"), min(col("tf")).as("mtf"))
        .filter(col("nt") === 2 && col("mtf") >= 4).select("qid", "doc_id")
        .localCheckpoint(false) // metrics + F1 label
      val met = graft.ops.MlEval.retrievalMetrics(
          frk, gold, "qid", "doc_id", "rnk", k = 10)
        .select(col("qid"), col("n_rel"), qround(col("rr"), 6).as("rr_r"),
          qround(col("p_at_k"), 6).as("p_r"),
          qround(col("ndcg_at_k"), 6).as("nd_r"),
          qround(col("ap_at_k"), 6).as("ap_r"))
      // grid-summed means: each addend is an exact 1e-6-grid long, so
      // the cross-query average is ONE division of identical operands
      def gridMean(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(count(c) > 0,
          sum(floor(c * 1e6 + 0.5)).cast("double") / (lit(1e6) * count(c)))
      val metLedger = met.agg(
        sum(col("n_rel")).cast("double").as("rel_total"),
        qround(gridMean(col("rr_r")), 9).as("mean_rr"),
        qround(gridMean(col("p_r")), 9).as("mean_p"),
        qround(gridMean(col("nd_r")), 9).as("mean_nd"),
        qround(gridMean(col("ap_r")), 9).as("mean_ap"))
      val labeled = fused
        .join(gold.withColumn("is_rel", lit(1)), Seq("qid", "doc_id"),
          "left_outer")
        .withColumn("sgrid", floor(col("rrf") * 1e9 + 0.5).cast("long"))
      val bfLedger = graft.ops.MlEval.bestF1(labeled, "qid", "sgrid",
          coalesce(col("is_rel"), lit(0)) === 1)
        .agg(sum(col("tp")).cast("double").as("f1_tp"),
          sum(col("n_pos")).cast("double").as("f1_npos"),
          max(qround(col("f1"), 6)).as("f1_max"))
      val counts = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val qtLedger = qt.agg(count(lit(1)).cast("double").as("n_terms"))
      val lexLedger = lex50.agg(
        count(lit(1)).cast("double").as("lex_rows"),
        max(col("sc")).as("lex_top"))
      val fusedLedger = fused.agg(
        count(lit(1)).cast("double").as("fused_rows"),
        count_if(col("n_runs") === 2).cast("double").as("fused_both"),
        max(qround(col("rrf"), 9)).as("fused_top"))
      counts.crossJoin(qtLedger).crossJoin(lexLedger).crossJoin(fusedLedger)
        .crossJoin(metLedger).crossJoin(bfLedger)
        .selectExpr("""stack(15,
          '00_n_docs', n_docs, '00_n_query_terms', n_terms,
          '01_lex_candidates', lex_rows, '01_lex_top_score', lex_top,
          '02_fused_docs', fused_rows, '02_fused_in_both', fused_both,
          '02_fused_top_rrf', fused_top,
          '03_rel_total', rel_total, '03_mean_rr', mean_rr,
          '03_mean_p_at_10', mean_p, '03_mean_ndcg_at_10', mean_nd,
          '03_mean_ap_at_10', mean_ap,
          '04_best_f1_max', f1_max, '04_best_f1_tp', f1_tp,
          '04_best_f1_npos', f1_npos) AS (metric, value)""")
    },
    oracle = Some(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS term FROM t),
        |tfall AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
        |uni AS (SELECT term, sum(tf) AS c FROM tfall GROUP BY 1),
        |top6 AS (SELECT term, c FROM uni WHERE len(term) >= 4
        |  ORDER BY c DESC, term ASC LIMIT 6),
        |qt AS (SELECT term,
        |    CAST(ceil(row_number() OVER (ORDER BY c DESC, term ASC) / 2.0) AS BIGINT) AS qid
        |  FROM top6),
        |tf AS (SELECT f.term, f.doc_id, f.tf, qid FROM tfall f
        |  JOIN qt ON qt.term = f.term),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tfall GROUP BY 1),
        |st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |sc AS (SELECT tf.term, tf.doc_id, tf.qid, tf.tf,
        |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1)) /
        |      (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)) AS score
        |  FROM tf JOIN dft USING (term) JOIN dl ON dl.doc_id = tf.doc_id, st),
        |qs AS (SELECT qid, doc_id,
        |    floor(sum(score) * 1000000.0 + 0.5) / 1000000.0 AS s
        |  FROM sc GROUP BY 1, 2),
        |lex50 AS (SELECT * FROM (SELECT qid, doc_id, s,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY s DESC, doc_id ASC) AS BIGINT) AS rn FROM qs)
        |  WHERE rn <= 50),
        |ts AS (SELECT qid, doc_id, CAST(sum(tf) AS DOUBLE) AS s
        |  FROM sc GROUP BY 1, 2),
        |tf50 AS (SELECT * FROM (SELECT qid, doc_id, s,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY s DESC, doc_id ASC) AS BIGINT) AS rn FROM ts)
        |  WHERE rn <= 50),
        |fused AS (SELECT qid, doc_id, count(*) AS n_runs,
        |    sum(1.0 / (rn + 60)) AS rrf
        |  FROM (SELECT qid, doc_id, rn FROM lex50
        |    UNION ALL SELECT qid, doc_id, rn FROM tf50)
        |  GROUP BY 1, 2),
        |frk AS (SELECT qid, doc_id, CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY floor(rrf * 1000000000.0 + 0.5) / 1000000000.0 DESC,
        |      doc_id ASC) AS BIGINT) AS rnk FROM fused),
        |gold AS (SELECT qid, doc_id FROM tf GROUP BY 1, 2
        |  HAVING count(DISTINCT term) = 2 AND min(tf) >= 4),
        |nrel AS (SELECT qid, count(*) AS n_rel FROM gold GROUP BY 1),
        |j AS (SELECT r.qid, r.rnk,
        |    CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM frk r LEFT JOIN gold g ON g.qid = r.qid AND g.doc_id = r.doc_id),
        |jc AS (SELECT qid, rnk, hit,
        |    sum(hit) OVER (PARTITION BY qid ORDER BY rnk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM j),
        |pq AS (SELECT qid, min(CASE WHEN hit = 1 THEN rnk END) AS first_rel,
        |    sum(CASE WHEN hit = 1 AND rnk <= 10 THEN 1 ELSE 0 END) AS hits_k,
        |    sum(CASE WHEN hit = 1 AND rnk <= 10 THEN 1.0 / log2(rnk + 1) ELSE 0.0 END) AS dcg,
        |    sum(CASE WHEN hit = 1 AND rnk <= 10
        |      THEN CAST(cum AS DOUBLE) / rnk ELSE 0.0 END) AS ap_num
        |  FROM jc GROUP BY 1),
        |idcg AS (SELECT qid, sum(1.0 / log2(i + 1)) AS idcg FROM
        |    (SELECT qid, unnest(generate_series(1, least(n_rel, 10))) AS i FROM nrel)
        |  GROUP BY 1),
        |met AS (SELECT coalesce(pq.qid, nrel.qid) AS qid,
        |    coalesce(n_rel, 0) AS n_rel,
        |    floor((1.0 / first_rel) * 1000000.0 + 0.5) / 1000000.0 AS rr_r,
        |    floor((CAST(coalesce(hits_k, 0) AS DOUBLE) / 10) * 1000000.0 + 0.5) / 1000000.0 AS p_r,
        |    CASE WHEN idcg IS NOT NULL THEN
        |      floor((coalesce(dcg, 0.0) / idcg) * 1000000.0 + 0.5) / 1000000.0
        |    END AS nd_r,
        |    CASE WHEN n_rel > 0 THEN
        |      floor((coalesce(ap_num, 0.0) / least(n_rel, 10)) * 1000000.0 + 0.5) / 1000000.0
        |    END AS ap_r
        |  FROM pq FULL JOIN nrel ON pq.qid = nrel.qid
        |  LEFT JOIN idcg ON idcg.qid = coalesce(pq.qid, nrel.qid)),
        |metagg AS (SELECT CAST(sum(n_rel) AS DOUBLE) AS rel_total,
        |    CASE WHEN count(rr_r) > 0 THEN floor((CAST(sum(CAST(floor(rr_r * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (1000000.0 * count(rr_r))) * 1000000000.0 + 0.5) / 1000000000.0 END AS mean_rr,
        |    CASE WHEN count(p_r) > 0 THEN floor((CAST(sum(CAST(floor(p_r * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (1000000.0 * count(p_r))) * 1000000000.0 + 0.5) / 1000000000.0 END AS mean_p,
        |    CASE WHEN count(nd_r) > 0 THEN floor((CAST(sum(CAST(floor(nd_r * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (1000000.0 * count(nd_r))) * 1000000000.0 + 0.5) / 1000000000.0 END AS mean_nd,
        |    CASE WHEN count(ap_r) > 0 THEN floor((CAST(sum(CAST(floor(ap_r * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / (1000000.0 * count(ap_r))) * 1000000000.0 + 0.5) / 1000000000.0 END AS mean_ap
        |  FROM met),
        |lab AS (SELECT f.qid, f.doc_id,
        |    CAST(floor(f.rrf * 1000000000.0 + 0.5) AS BIGINT) AS s,
        |    CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END AS y
        |  FROM fused f LEFT JOIN gold g ON g.qid = f.qid AND g.doc_id = f.doc_id),
        |gsc AS (SELECT qid, s, count(*) AS c, sum(y) AS p FROM lab GROUP BY 1, 2),
        |scan AS (SELECT qid, s,
        |    sum(p) OVER (PARTITION BY qid ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        |    sum(c) OVER (PARTITION BY qid ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scnt,
        |    sum(p) OVER (PARTITION BY qid) AS np
        |  FROM gsc),
        |f1s AS (SELECT qid, s, tp, scnt - tp AS fp, np,
        |    2.0 * tp / (tp + (scnt - tp) + np) AS f1 FROM scan),
        |pick AS (SELECT qid, tp, np, f1,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY CAST(floor(f1 * 1000000000000.0 + 0.5) AS BIGINT) DESC, s ASC) AS prn
        |  FROM f1s),
        |bf AS (SELECT qid, tp, np, CASE WHEN np > 0 THEN f1 END AS f1
        |  FROM pick WHERE prn = 1),
        |bfagg AS (SELECT CAST(sum(tp) AS DOUBLE) AS f1_tp,
        |    CAST(sum(np) AS DOUBLE) AS f1_npos,
        |    max(floor(f1 * 1000000.0 + 0.5) / 1000000.0) AS f1_max FROM bf),
        |cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |qtn AS (SELECT CAST(count(*) AS DOUBLE) AS n_terms FROM qt),
        |lexagg AS (SELECT CAST(count(*) AS DOUBLE) AS lex_rows, max(s) AS lex_top FROM lex50),
        |fusedagg AS (SELECT CAST(count(*) AS DOUBLE) AS fused_rows,
        |    CAST(sum(CASE WHEN n_runs = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS fused_both,
        |    max(floor(rrf * 1000000000.0 + 0.5) / 1000000000.0) AS fused_top
        |  FROM fused)
        |SELECT metric, value FROM (
        |  SELECT '00_n_docs' AS metric, n_docs AS value FROM cnt
        |  UNION ALL SELECT '00_n_query_terms', n_terms FROM qtn
        |  UNION ALL SELECT '01_lex_candidates', lex_rows FROM lexagg
        |  UNION ALL SELECT '01_lex_top_score', lex_top FROM lexagg
        |  UNION ALL SELECT '02_fused_docs', fused_rows FROM fusedagg
        |  UNION ALL SELECT '02_fused_in_both', fused_both FROM fusedagg
        |  UNION ALL SELECT '02_fused_top_rrf', fused_top FROM fusedagg
        |  UNION ALL SELECT '03_rel_total', rel_total FROM metagg
        |  UNION ALL SELECT '03_mean_rr', mean_rr FROM metagg
        |  UNION ALL SELECT '03_mean_p_at_10', mean_p FROM metagg
        |  UNION ALL SELECT '03_mean_ndcg_at_10', mean_nd FROM metagg
        |  UNION ALL SELECT '03_mean_ap_at_10', mean_ap FROM metagg
        |  UNION ALL SELECT '04_best_f1_max', f1_max FROM bfagg
        |  UNION ALL SELECT '04_best_f1_tp', f1_tp FROM bfagg
        |  UNION ALL SELECT '04_best_f1_npos', f1_npos FROM bfagg)""".stripMargin),
    // sf1: one corpus tokenization + candidate-bounded fusion/metrics/F1
    // — superlinearity means a candidate stage started moving corpus mass
    sf1 = true),

    // Per-domain link profile (the Common-Crawl-style outlink report).
    // The corpus carries no URLs, so both engines first append identical
    // doc_id-derived URLs (the q_text_pii salting pattern) — extraction,
    // host parsing and the registrable-domain rollup then exercise real
    // matches. Narrow per-row regex work; ONE domain-key aggregate.
    QuerySpec("q_url_domains", (s, d) => {
      val site = element_at(
        array(lit("alpha"), lit("beta"), lit("gamma"), lit("delta"), lit("epsilon")),
        (col("doc_id") % 5 + 1).cast("int"))
      val tld = element_at(array(lit("com"), lit("net"), lit("org")),
        (col("doc_id") % 3 + 1).cast("int"))
      val salted = concat(col("text"),
        lit(" see https://www."), site, lit("."), tld,
        lit("/p/"), col("doc_id").cast("string"),
        lit(" and http://cdn"), (col("doc_id") % 7).cast("string"),
        lit(".assets.example.org/img"), col("doc_id").cast("string"), lit(".png"))
      import graft.llm.TextAnalysis
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          explode(TextAnalysis.extractUrls(salted)).as("url"))
        .withColumn("host", TextAnalysis.urlHost(col("url")))
        .withColumn("domain", TextAnalysis.registrableDomain(col("host")))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_urls"),
          count_distinct(col("doc_id")).as("n_docs"),
          count_distinct(col("host")).as("n_hosts"),
          count_distinct(col("lang")).as("n_langs"),
          qround(sum(col("n_chars")).cast("double") / count(lit(1)), 4)
            .as("avg_chars"))
    },
    oracle = Some(
      """WITH salted AS (SELECT doc_id, lang, n_chars,
        |    text || ' see https://www.' ||
        |      (['alpha', 'beta', 'gamma', 'delta', 'epsilon'])[CAST(doc_id % 5 AS INT) + 1] ||
        |      '.' || (['com', 'net', 'org'])[CAST(doc_id % 3 AS INT) + 1] ||
        |      '/p/' || CAST(doc_id AS VARCHAR) ||
        |      ' and http://cdn' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.assets.example.org/img' || CAST(doc_id AS VARCHAR) || '.png' AS t
        |  FROM documents),
        |u AS (SELECT doc_id, lang, n_chars,
        |    unnest(regexp_extract_all(t, 'https?://[A-Za-z0-9.-]+(/[A-Za-z0-9./_-]*)?', 0)) AS url
        |  FROM salted),
        |h AS (SELECT doc_id, lang, n_chars,
        |    regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1) AS host FROM u),
        |d AS (SELECT doc_id, lang, n_chars, host,
        |    array_to_string(list_slice(string_split(host, '.'),
        |      greatest(len(string_split(host, '.')) - 1, 1),
        |      len(string_split(host, '.'))), '.') AS domain
        |  FROM h)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  floor((CAST(sum(n_chars) AS DOUBLE) / count(*)) * 10000.0 + 0.5) / 10000.0 AS avg_chars
        |FROM d GROUP BY 1""".stripMargin)),

    // Sorted-neighborhood candidate generation: rank the corpus by a
    // 16-char text-prefix key, pair rows within 8 positions — the
    // blocking scheme for near-dups a cheap canonical key sorts
    // adjacently (llm.SortedNeighborhood: two-pass parallel rank + block
    // equi-join, pair volume Θ(n·w) by construction). Verified through
    // per-gap pair counts + how many pairs share the exact key.
    QuerySpec("q_snm_pairs", (s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), substring(col("text"), 1, 16).as("k16"))
      graft.llm.SortedNeighborhood.candidatePairs(docs, "doc_id", "k16", 8)
        .groupBy(col("gap"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("a_key") === col("b_key"), 1L).otherwise(0L))
            .as("n_key_match"))
    },
    oracle = Some(
      """WITH s AS (SELECT doc_id, substring(text, 1, 16) AS k
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT doc_id, k,
        |    CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) AS rn FROM s),
        |p AS (SELECT a.k AS ak, b.k AS bk, b.rn - a.rn AS gap
        |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn < 8)
        |SELECT gap, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN ak = bk THEN 1 ELSE 0 END) AS BIGINT) AS n_key_match
        |FROM p GROUP BY 1""".stripMargin),
    // sf1: Θ(n·w) pair generation — superlinear growth here means the
    // block join broke
    sf1 = true),

    // Hashing-trick encoder (ops.Encoding.hashFeatures): lang+source
    // dicts into a fixed 64-dim signed sparse space with no fitted
    // dictionary — verified through per-bucket totals, which pin every
    // row's bucket AND sign (the md5-60-bit derivation both engines
    // share).
    QuerySpec("q_feature_hash", (s, d) =>
      graft.ops.Encoding.hashFeatures(Tables.documents(s, d), "doc_id",
          Seq("lang", "source"), dim = 64)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum(col("x")).as("sum_x")),
    oracle = Some(
      """WITH f AS (
        |  SELECT doc_id, 'lang=' || lang AS t FROM documents WHERE lang IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, 'source=' || source FROM documents WHERE source IS NOT NULL),
        |h AS (SELECT doc_id,
        |    ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM f),
        |v AS (SELECT doc_id, hv % 64 AS bucket,
        |    SUM(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END) AS x
        |  FROM h GROUP BY 1, 2)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(x) AS BIGINT) AS sum_x
        |FROM v GROUP BY 1""".stripMargin)),

    // Sparse TF-IDF cosine similarity join (TextAnalysis
    // .tfidfCosinePairs): lexical-vector pair scores through the
    // inverted index with a df-250 posting cap — the sparse complement
    // of the dense ANN tiers and the Jaccard set joins.
    QuerySpec("q_tfidf_cosine_pairs", (s, d) =>
      graft.llm.TextAnalysis.tfidfCosinePairs(Tables.documents(s, d),
          "doc_id", "text", maxDf = 250, minCosine = 0.3)
        .select(col("a"), col("b"), qround(col("cosine"), 6).as("cosine")),
    oracle = Some(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 250),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w AS (SELECT tf.doc_id, tf.term,
        |    CAST(tf.tf AS DOUBLE) * (ln((1.0 + n_docs) / (1.0 + df.df)) + 1.0) AS wt
        |  FROM tf JOIN df USING (term), n),
        |nrm AS (SELECT doc_id, sqrt(sum(wt * wt)) AS nm FROM w GROUP BY 1),
        |dots AS (SELECT a.doc_id AS a, b.doc_id AS b, sum(a.wt * b.wt) AS dot
        |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |cos AS (SELECT a, b, dot / (x.nm * y.nm) AS cosine
        |  FROM dots JOIN nrm x ON x.doc_id = a JOIN nrm y ON y.doc_id = b)
        |SELECT a, b, floor(cosine * 1000000.0 + 0.5) / 1000000.0 AS cosine
        |FROM cos WHERE cosine >= 0.3""".stripMargin)),

    // Multivariate z-outlier screen (ops.Outliers.zScoreMulti): joint
    // (n_chars, word-count) deviation per language — rows anomalous in
    // the 2-feature ellipse even when neither feature trips alone.
    // Reported per language: n, outliers past score 6, max score.
    QuerySpec("q_zscore_outliers", (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("n_words", size(split(col("text"), " ")).cast("long"))
      graft.ops.Outliers.zScoreMulti(docs, "lang", Seq("n_chars", "n_words"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("score") > 6.0, 1L).otherwise(0L)).as("n_outliers"),
          qround(max(col("score")), 6).as("max_score"))
    },
    oracle = Some(
      """WITH x AS (SELECT lang, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |  FROM documents WHERE lang IS NOT NULL),
        |st AS (SELECT lang,
        |    CAST(SUM(n_chars) AS BIGINT) AS sx1, CAST(SUM(n_chars * n_chars) AS BIGINT) AS sq1, count(n_chars) AS n1,
        |    CAST(SUM(n_words) AS BIGINT) AS sx2, CAST(SUM(n_words * n_words) AS BIGINT) AS sq2, count(n_words) AS n2
        |  FROM x GROUP BY 1),
        |sc AS (SELECT x.lang,
        |    (CASE WHEN n1 >= 2 AND (CAST(sq1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n1) / (n1 - 1) > 0 AND n_chars IS NOT NULL
        |      THEN ((CAST(n_chars AS DOUBLE) - CAST(sx1 AS DOUBLE) / n1) /
        |            sqrt((CAST(sq1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n1) / (n1 - 1)))
        |         * ((CAST(n_chars AS DOUBLE) - CAST(sx1 AS DOUBLE) / n1) /
        |            sqrt((CAST(sq1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n1) / (n1 - 1)))
        |      ELSE 0.0 END) +
        |    (CASE WHEN n2 >= 2 AND (CAST(sq2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n2) / (n2 - 1) > 0 AND n_words IS NOT NULL
        |      THEN ((CAST(n_words AS DOUBLE) - CAST(sx2 AS DOUBLE) / n2) /
        |            sqrt((CAST(sq2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n2) / (n2 - 1)))
        |         * ((CAST(n_words AS DOUBLE) - CAST(sx2 AS DOUBLE) / n2) /
        |            sqrt((CAST(sq2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n2) / (n2 - 1)))
        |      ELSE 0.0 END) AS score
        |  FROM x JOIN st ON x.lang = st.lang)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN score > 6.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  floor(max(score) * 1000000.0 + 0.5) / 1000000.0 AS max_score
        |FROM sc GROUP BY 1""".stripMargin)),

    // Pareto coverage (Aggregates.paretoCoverage): sources ranked by
    // character mass with cumulative shares and the minimal-prefix
    // in_top flag at 80% — "which sources carry the corpus".
    QuerySpec("q_pareto_cut", (s, d) =>
      graft.ops.Aggregates.paretoCoverage(Tables.documents(s, d),
          "source", "n_chars", target = 0.8)
        .select(col("source"), col("mass"), qround(col("share"), 6).as("share"),
          qround(col("cum_share"), 6).as("cum_share"), col("in_top")),
    oracle = Some(
      """WITH a AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS mass
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
        |w AS (SELECT source, mass,
        |    CAST(SUM(mass) OVER () AS BIGINT) AS total,
        |    CAST(SUM(mass) OVER (ORDER BY mass DESC, source ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM a)
        |SELECT source, mass,
        |  floor((CAST(mass AS DOUBLE) / total) * 1000000.0 + 0.5) / 1000000.0 AS share,
        |  floor((CAST(cum AS DOUBLE) / total) * 1000000.0 + 0.5) / 1000000.0 AS cum_share,
        |  (CAST(cum - mass AS DOUBLE) / total < 0.8) AS in_top
        |FROM w""".stripMargin)),

    // Jensen-Shannon drift between the even- and odd-doc_id halves'
    // language distributions — the bounded symmetric member of the drift
    // family (PSI unbounded on vanishing bins, TVD magnitude-blind).
    QuerySpec("q_js_drift", (s, d) =>
      graft.ops.Distribution.jsDivergence(Tables.documents(s, d), "lang",
          pmod(col("doc_id"), lit(2)) === 0)
        .select(col("n_a"), col("n_b"), col("n_cats"),
          qround(col("js"), 6).as("js"),
          qround(col("js_norm"), 6).as("js_norm")),
    oracle = Some(
      """WITH c AS (SELECT lang,
        |    SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS nb
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |t AS (SELECT SUM(na) AS ta, SUM(nb) AS tb, count(*) AS n_cats FROM c),
        |terms AS (SELECT
        |    (CASE WHEN na > 0 THEN (CAST(na AS DOUBLE) / ta) / 2 *
        |        ln((CAST(na AS DOUBLE) / ta) /
        |           ((CAST(na AS DOUBLE) / ta + CAST(nb AS DOUBLE) / tb) / 2))
        |      ELSE 0.0 END) +
        |    (CASE WHEN nb > 0 THEN (CAST(nb AS DOUBLE) / tb) / 2 *
        |        ln((CAST(nb AS DOUBLE) / tb) /
        |           ((CAST(na AS DOUBLE) / ta + CAST(nb AS DOUBLE) / tb) / 2))
        |      ELSE 0.0 END) AS term
        |  FROM c, t)
        |SELECT CAST(t.ta AS BIGINT) AS n_a, CAST(t.tb AS BIGINT) AS n_b,
        |  CAST(t.n_cats AS BIGINT) AS n_cats,
        |  floor(SUM(term) * 1000000.0 + 0.5) / 1000000.0 AS js,
        |  floor((SUM(term) / ln(2)) * 1000000.0 + 0.5) / 1000000.0 AS js_norm
        |FROM terms, t GROUP BY 1, 2, 3""".stripMargin)),

    // Quantile normalization (Preprocess.quantileNormalizeGrid): src0's
    // doc-length distribution mapped onto src1's via a 101-point
    // reference quantile grid — the distribution-matching transform for
    // mixing feature sources; mid-rank percentiles, engine-exact.
    QuerySpec("q_quantile_norm", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.aram.Preprocess.quantileNormalizeGrid(
          docs.filter(col("source") === "src0"), "n_chars",
          docs.filter(col("source") === "src1")
            .select(col("n_chars").cast("double").as("r")), "r", k = 100)
        .select(col("doc_id"), col("n_chars"), qround(col("qn"), 6).as("qn"))
    },
    oracle = Some(
      s"""WITH x AS (SELECT doc_id, n_chars FROM documents WHERE source = 'src0'),
         |r AS (SELECT CAST(n_chars AS DOUBLE) AS rv FROM documents WHERE source = 'src1'),
         |g AS (SELECT quantile_cont(rv, ${(0 to 100).map(_.toDouble / 100).mkString("[", ", ", "]")}) AS gl FROM r),
         |d AS (SELECT n_chars AS v, count(*) AS c FROM x GROUP BY 1),
         |w AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS cw, SUM(c) OVER () AS n FROM d),
         |m AS (SELECT v,
         |    (CASE WHEN n = 1 THEN 0.5
         |     ELSE ((cw - c) + (c + 1) / 2.0 - 1.0) / (n - 1) END) * 100 AS h
         |  FROM w),
         |mp AS (SELECT v,
         |    gl[CAST(floor(h) AS INT) + 1] + (h - floor(h)) *
         |      (gl[CAST(ceil(h) AS INT) + 1] - gl[CAST(floor(h) AS INT) + 1]) AS qn
         |  FROM m, g)
         |SELECT x.doc_id, x.n_chars,
         |  floor(qn * 1000000.0 + 0.5) / 1000000.0 AS qn
         |FROM x JOIN mp ON x.n_chars = mp.v""".stripMargin)),

    // The COMPOSED training-corpus pipeline, end-to-end in one oracled
    // query: gate → exact dedup → near-dup → decontaminate → chunk → pack
    // → mix → shard, reported as the per-stage row-count ledger plus the
    // final shard histogram. Every unit stage is green on its own; this
    // row pins the COMPOSITION — the row accounting where integration
    // bugs (a stage reading the wrong predecessor, a filter applied out
    // of order) would hide. All counts are integral, so the cross-engine
    // compare is exact by construction. Scale shape: each stage shrinks
    // its successor's input (cheapest gates first), the ledger is eight
    // scalar aggregates over shared checkpointed intermediates, and the
    // shard histogram is an 8-group aggregate — nothing here adds a scan
    // the stages themselves didn't already pay for.
    QuerySpec("q_corpus_pipeline", (s, d) => {
      val docs = Tables.documents(s, d)
      val (cleaned, scrubStats) = CorpusPipeline.scrub(docs, "doc_id", "text",
        CorpusPipeline.Config(minQuality = 0.3, keepLangs = Seq("en"),
          jaccardThreshold = 0.5, transitive = true, oracleParity = true))
      // held-out benchmark slice = doc_id % 20 == 0 of the RAW corpus
      // (contamination is against what the benchmark contains, not what
      // survived scrubbing); training side drops the slice, then every
      // doc sharing a word 5-gram with it
      val decon = Decontaminate.decontaminate(
          cleaned.filter(col("doc_id") % 20 =!= 0),
          docs.filter(col("doc_id") % 20 === 0),
          "doc_id", "text", n = 5)
        .localCheckpoint(false) // fans out: chunk/pack, mix, ledger count
      val packs = TextAnalysis.packSequences(
        TextAnalysis.chunkByTokens(decon, "doc_id", "text",
          maxTokens = 12, overlap = 3).drop("chunk_text"), budget = 64)
      val mixed = Sampling.stratifiedSample(decon, "source", "doc_id",
          Map("src0" -> 0.9, "src1" -> 0.75), defaultFraction = 0.5)
        .localCheckpoint(false) // fans out: shard histogram, ledger count
      val shardHist = Sampling.deterministicShards(mixed, "doc_id", nShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n"))
        .select(concat(lit("shard_"), col("shard")).as("stage"), col("n"))
      scrubStats
        .crossJoin(decon.select(count(lit(1)).as("n_decon")))
        .crossJoin(packs.agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("seq_id")).as("n_packs")))
        .crossJoin(mixed.select(count(lit(1)).as("n_mixed")))
        .selectExpr("""stack(8,
          '00_input', n_input, '01_gated', n_after_gates,
          '02_exact', n_after_exact, '03_neardup', n_after_neardup,
          '04_decontaminated', n_decon, '05_chunks', n_chunks,
          '06_packs', n_packs, '07_mixed', n_mixed) AS (stage, n)""")
        .unionByName(shardHist)
        .select(col("stage"), col("n").cast("long").as("n"))
    },
    oracle = Some {
      // scrub prefix (gate → exact → near-dup) = q_corpus_scrub's CTEs;
      // decontamination grams = q_decontaminate's Rabin-Karp family;
      // chunk/pack = q_text_chunks/q_seq_pack algebra over the survivors;
      // mix/shard = the md5-uniform and md5-60 idioms of
      // q_corpus_sample/q_shard_assign. Counts only → exact compare.
      val M = graft.llm.MinHashDedup.Mod
      val terms = (0 until 5).map { j =>
        s"wh[i+$j] * ${graft.llm.MinHashDedup.powMod(graft.llm.MinHashDedup.PolyA1, 4 - j)} % $M"
      }.mkString(" + ")
      s"""WITH RECURSIVE $scrubPrefixCtes,
         |${minhashCtes("ex")},
         |${componentCtes("SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5")},
         |cleaned AS (
         |  SELECT doc_id, text FROM ex
         |  WHERE doc_id NOT IN (SELECT id FROM clu WHERE id <> cluster_id)),
         |dwh AS (
         |  SELECT doc_id, list_transform(string_split(text, ' '), w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % $M) AS wh
         |  FROM documents),
         |dg AS (
         |  SELECT doc_id, unnest(CASE WHEN len(wh) >= 5
         |    THEN list_distinct(list_transform(range(1, len(wh) - 3), i -> ($terms) % $M))
         |    ELSE [] END) AS gram
         |  FROM dwh),
         |bgrams AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 20 = 0),
         |contam AS (
         |  SELECT DISTINCT t.doc_id FROM dg t JOIN bgrams USING (gram)
         |  WHERE t.doc_id % 20 <> 0),
         |decon AS (
         |  SELECT c.doc_id, c.text FROM cleaned c
         |  WHERE c.doc_id % 20 <> 0 AND c.doc_id NOT IN (SELECT doc_id FROM contam)),
         |dws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM decon),
         |dst AS (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 3, 1) + 1, 9)) AS st FROM dws),
         |ch AS (SELECT doc_id, CAST((st - 1) // 9 + 1 AS BIGINT) AS chunk_idx,
         |         CAST(len(ws[st:st+11]) AS BIGINT) AS n_tokens FROM dst),
         |pk AS (SELECT n_tokens,
         |         sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx ROWS UNBOUNDED PRECEDING) AS cum FROM ch),
         |pkc AS (SELECT CAST(count(*) AS BIGINT) AS n_chunks,
         |          CAST(count(DISTINCT (cum - n_tokens) // 64) AS BIGINT) AS n_packs FROM pk),
         |mix AS (
         |  SELECT d.doc_id FROM decon c JOIN documents d USING (doc_id)
         |  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT / 1152921504606846976.0
         |    < (CASE WHEN d.source = 'src0' THEN 0.9 WHEN d.source = 'src1' THEN 0.75 ELSE 0.5 END)),
         |shard_hist AS (
         |  SELECT CAST(hv % 8 AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv FROM mix)
         |  GROUP BY 1)
         |SELECT stage, n FROM (
         |  SELECT '00_input' AS stage, CAST((SELECT count(*) FROM documents) AS BIGINT) AS n
         |  UNION ALL SELECT '01_gated', CAST((SELECT count(*) FROM gated) AS BIGINT)
         |  UNION ALL SELECT '02_exact', CAST((SELECT count(*) FROM ex) AS BIGINT)
         |  UNION ALL SELECT '03_neardup', CAST((SELECT count(*) FROM cleaned) AS BIGINT)
         |  UNION ALL SELECT '04_decontaminated', CAST((SELECT count(*) FROM decon) AS BIGINT)
         |  UNION ALL SELECT '05_chunks', (SELECT n_chunks FROM pkc)
         |  UNION ALL SELECT '06_packs', (SELECT n_packs FROM pkc)
         |  UNION ALL SELECT '07_mixed', CAST((SELECT count(*) FROM mix) AS BIGINT)
         |  UNION ALL SELECT 'shard_' || shard, n FROM shard_hist)""".stripMargin
    },
    // sf1: every stage's scale contract at once — contains the full scrub,
    // so expect ~scrub+ε
    sf1 = true),

    // Cluster-aware leakage-safe split: the unit of train/val/test
    // assignment is the NEAR-DUP CLUSTER, not the document — groupSplit
    // keyed on the row (or even on exact-hash groups) still leaks when a
    // near-duplicate of a training doc lands in eval, and any memorizing
    // model grades itself on data it has effectively seen. Composition:
    // MinHash pair generation → connected-component cluster ids
    // (singletons label themselves) → hash-of-cluster split assignment.
    // Scale shape: the pair/components cost is the dedup pipeline's
    // (banded, capped — no all-pairs); the assignment itself is one
    // narrow expression, no extra shuffle, stable under repartitioning
    // and late arrival (hash, not state).
    QuerySpec("q_cluster_split", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = MinHashDedup.nearDuplicates(docs, "doc_id", "text",
        k = 3, numHashes = 12, numBands = 4, threshold = 0.5,
        oracleParity = true)
      val clu = DupClusters.clusters(pairs)
        .withColumnRenamed("id", "doc_id")
      docs.join(clu, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .transform(Sampling.groupSplit(_, "cluster_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        .select(col("doc_id"), col("cluster_id"), col("split"))
    },
    oracle = Some(
      s"""WITH RECURSIVE ${minhashCtes("documents")},
         |${componentCtes("SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5")},
         |wc AS (
         |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN clu c ON d.doc_id = c.id),
         |u AS (
         |  SELECT doc_id, cluster_id,
         |    ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT
         |      / 1152921504606846976.0 AS u
         |  FROM wc)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN u < 0.8 THEN 'train' WHEN u < (0.8 + 0.1) THEN 'val'
         |       ELSE 'test' END AS split
         |FROM u""".stripMargin),
    // sf1: components + a narrow assignment
    sf1 = true),

    // Soft quality filter (quality-temperature mixing): each document
    // survives with probability quality², so low-quality mass is
    // downweighted smoothly instead of annihilated at a threshold — the
    // acceptance-sampling form of the quality gate, with T=2 sharpening.
    // Deterministic (hash-uniform vs a per-row probability column), and
    // the quality expression is the same one already proven bit-identical
    // cross-engine by the q_corpus_scrub gate. Reported per language with
    // id-sum fingerprints so the compare is integral.
    QuerySpec("q_quality_mix", (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("q", TextAnalysis.qualityScore(col("text"), enStop))
      Sampling.acceptBy(docs, "doc_id", col("q") * col("q"))
        .groupBy("lang").agg(count(lit(1)).as("n_kept"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          sum(col("doc_id")).as("sum_ids"))
    },
    oracle = Some(
      s"""WITH t AS (
         |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n, length(text) AS chars,
         |    len(list_filter(string_split(text, ' '), t -> t IN (${stopList(enStop)}))) AS hits
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, lang,
         |    0.4 * least(n::DOUBLE / 100.0, 1.0)
         |      + 0.3 * least((CASE WHEN n > 0 THEN hits::DOUBLE / n ELSE 0.0 END) * 5.0, 1.0)
         |      + 0.3 * least((CASE WHEN n > 0 THEN (chars - (n - 1))::DOUBLE / n ELSE 0.0 END) / 8.0, 1.0) AS q,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |      / 1152921504606846976.0 AS u
         |  FROM t)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM m WHERE u < q * q GROUP BY lang""".stripMargin)),

    // Isotonic (PAV) calibration of the q_ml_calibration forecast: the
    // best MONOTONE map from the length-based score cell to P(lang=en),
    // fitted distributedly via the minimax characterization (corpus →
    // ≤100-cell collapse, then metadata-sized block-mean algebra — no
    // sequential PAV stack). fitted is non-decreasing by construction;
    // the oracle restates the identical prefix-sum/min/max algebra.
    QuerySpec("q_isotonic_fit", (s, d) =>
      graft.ops.Isotonic.pavFit(
          Tables.documents(s, d).filter(col("lang").isNotNull),
          least(lit(99L), floor(col("n_chars") / 100).cast("long")),
          (col("lang") === "en").cast("long"))
        .select(col("cell"), col("n"), col("sy"),
          qround(col("empirical"), 6).as("empirical"),
          qround(col("fitted"), 6).as("fitted")),
    oracle = Some(// the identical minimax algebra: prefix sums -> block means ->
      // running min from the right per start cell -> max over starts
      """WITH b AS (SELECT least(99, CAST(floor(n_chars / 100.0) AS BIGINT)) AS cell,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |cells AS (SELECT cell, count(*) AS n, SUM(y) AS sy FROM b GROUP BY 1),
        |pre AS (SELECT cell, n, sy,
        |    SUM(n) OVER (ORDER BY cell) AS cn, SUM(sy) OVER (ORDER BY cell) AS cy
        |  FROM cells),
        |blocks AS (SELECT j.cell AS cj, k.cell AS ck,
        |    CAST(k.cy - (j.cy - j.sy) AS DOUBLE) / (k.cn - (j.cn - j.n)) AS avg
        |  FROM pre j JOIN pre k ON j.cell <= k.cell),
        |mf AS (SELECT cj, ck AS cell,
        |    MIN(avg) OVER (PARTITION BY cj ORDER BY ck DESC
        |      ROWS UNBOUNDED PRECEDING) AS mf
        |  FROM blocks),
        |fit AS (SELECT cell, MAX(mf) AS fitted FROM mf GROUP BY 1)
        |SELECT c.cell, CAST(c.n AS BIGINT) AS n, CAST(c.sy AS BIGINT) AS sy,
        |  floor((CAST(c.sy AS DOUBLE) / c.n) * 1000000.0 + 0.5) / 1000000.0 AS empirical,
        |  floor(fitted * 1000000.0 + 0.5) / 1000000.0 AS fitted
        |FROM cells c JOIN fit USING (cell)""".stripMargin),
    // sf1: the corpus collapse must stay the only data-sized stage — the
    // Θ(m²) block algebra is constant in SF
    sf1 = true),

    // Jaro-Winkler fuzzy verify over SNM-blocked candidates: the record-
    // linkage compare step where levenshtein over-penalizes transposed
    // tokens. Native codegen Expression (graft.functions.JaroWinkler,
    // byte-based — verified value-identical to the oracle engine's
    // jaro_winkler_similarity); accept decisions threshold the ROUNDED
    // similarity so they can never straddle an ulp. Pair volume is the
    // SNM Θ(n·w) contract, never all-pairs.
    QuerySpec("q_jaro_winkler", (s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), substring(col("text"), 1, 16).as("k16"),
          substring(col("text"), 1, 32).as("k32"))
      val pairs = SortedNeighborhood.candidatePairs(
        docs.select("doc_id", "k16"), "doc_id", "k16", 8)
      val af = docs.select(col("doc_id").as("a_id"), col("k32").as("a_k"))
      val bf = docs.select(col("doc_id").as("b_id"), col("k32").as("b_k"))
      pairs.select("a_id", "b_id").join(af, "a_id").join(bf, "b_id")
        .withColumn("jw", qround(
          graft.functions.JaroWinkler.jaroWinkler(col("a_k"), col("b_k")), 6))
        .filter(col("jw") >= 0.85)
        .select(col("a_id"), col("b_id"), col("jw"))
    },
    oracle = Some(// same SNM blocking as q_record_linkage; jaro_winkler_similarity is
      // byte-based with the 0.7 boost threshold, exactly the native
      // expression's contract; both engines threshold the ROUNDED value
      """WITH s AS (SELECT doc_id, substring(text, 1, 16) AS k16,
        |    substring(text, 1, 32) AS k32
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT doc_id, k16, k32,
        |    CAST(row_number() OVER (ORDER BY k16, doc_id) AS BIGINT) AS rn FROM s),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    floor(jaro_winkler_similarity(a.k32, b.k32) * 1000000.0 + 0.5)
        |      / 1000000.0 AS jw
        |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn < 8)
        |SELECT a_id, b_id, jw FROM p WHERE jw >= 0.85""".stripMargin),
    // sf1: SNM Θ(n·w) pair volume; superlinearity means the blocking broke
    sf1 = true),

    // Jaro-Winkler edge-contract pins, cross-engine: odd transposition
    // counts halve by INTEGER floor ('abcxxx'/'cabxxx' has 3 mismatched
    // matched positions -> trans=1 -> 17/18, not the real-halving
    // 0.9166…), the 0.7 boost threshold, the 4-char prefix cap, and
    // byte-based multi-byte handling. The corpus pairs in q_jaro_winkler
    // can't be relied on to exercise these corners at every SF; this
    // fixture pins each one against the driver's own oracle-engine
    // release (the ADVICE r11 floor-halving divergence risk).
    QuerySpec("q_jaro_winkler_edge", (s, d) => {
      import s.implicits._
      Seq(
        (1L, "abcxxx", "cabxxx"),   // odd trans (3 -> floor 1), no prefix
        (2L, "abcde", "bacde"),     // odd trans (1), no prefix
        (3L, "MARTHA", "MARHTA"),   // even trans + 3-char prefix boost
        (4L, "abcdefgh", "abzzzzzz"), // jaro exactly 0.5: NO boost at <=0.7
        (5L, "aaaaaX", "aaaaaY"),   // prefix run 5 capped at l=4
        (6L, "héllo", "hello"),     // byte-based: 6-vs-5 UTF-8 bytes
        (7L, "ab", "ba"),           // window 0: no matches at all
        (8L, "DIXON", "DICKSONX"))  // length-asymmetric window
        .toDF("pair_id", "a", "b")
        .select(col("pair_id"), qround(
          graft.functions.JaroWinkler.jaroWinkler(col("a"), col("b")), 6)
          .as("jw"))
    },
    oracle = Some(// literal pairs; the oracle engine's own jaro_winkler_similarity
      // must agree on every corner (floor-halved odd transpositions,
      // boost threshold, prefix cap, byte-based multi-byte)
      """WITH p(pair_id, a, b) AS (VALUES
        |  (1, 'abcxxx', 'cabxxx'), (2, 'abcde', 'bacde'),
        |  (3, 'MARTHA', 'MARHTA'), (4, 'abcdefgh', 'abzzzzzz'),
        |  (5, 'aaaaaX', 'aaaaaY'), (6, 'héllo', 'hello'),
        |  (7, 'ab', 'ba'), (8, 'DIXON', 'DICKSONX'))
        |SELECT CAST(pair_id AS BIGINT) AS pair_id,
        |  floor(jaro_winkler_similarity(a, b) * 1000000.0 + 0.5) / 1000000.0 AS jw
        |FROM p""".stripMargin)),

    // Flesch reading-ease + FK grade per source (TextAnalysis.
    // readability): vowel-group syllable proxy, [.!?]+ sentence runs
    // floored at 1/doc, exact per-group count sums, two fixed-IEEE
    // scores. Narrow regexp counting; one aggregate.
    QuerySpec("q_readability", (s, d) =>
      graft.llm.TextAnalysis.readability(Tables.documents(s, d),
          "source", "text")
        .select(col("g"), col("n_docs"), col("n_words"), col("n_sentences"),
          col("n_syllables"),
          qround(col("flesch_ease"), 6).as("flesch_ease"),
          qround(col("fk_grade"), 6).as("fk_grade")),
    oracle = Some(// identical vowel-group / sentence-run / token counts; scores are
      // fixed expressions of the exact group sums
      """WITH p AS (SELECT source AS g,
        |    len(list_filter(string_split(text, ' '), t -> len(t) >= 1)) AS w,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y,
        |    greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS s
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
        |g AS (SELECT g, count(*) AS n_docs, SUM(w) AS n_words,
        |    SUM(s) AS n_sentences, SUM(y) AS n_syllables
        |  FROM p GROUP BY 1)
        |SELECT g, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_sentences AS BIGINT) AS n_sentences,
        |  CAST(n_syllables AS BIGINT) AS n_syllables,
        |  floor((206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words))
        |    * 1000000.0 + 0.5) / 1000000.0 AS flesch_ease,
        |  floor((0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59)
        |    * 1000000.0 + 0.5) / 1000000.0 AS fk_grade
        |FROM g""".stripMargin)),

    // Character-class mix per language (TextAnalysis.charClassMix):
    // ASCII letter/digit/space/other shares from exact stripped-length
    // counts — the script/encoding audit upstream of trusting langId.
    QuerySpec("q_script_mix", (s, d) =>
      graft.llm.TextAnalysis.charClassMix(Tables.documents(s, d),
          "lang", "text")
        .select(col("g"), col("n_docs"), col("n_chars"),
          qround(col("letter_share"), 9).as("letter_share"),
          qround(col("digit_share"), 9).as("digit_share"),
          qround(col("space_share"), 9).as("space_share"),
          qround(col("other_share"), 9).as("other_share")),
    oracle = Some(// length minus class-stripped length, literal classes only
      """WITH p AS (SELECT lang AS g, len(text) AS nc,
        |    len(text) - len(regexp_replace(text, '[A-Za-z]', '', 'g')) AS nl,
        |    len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS nd,
        |    len(text) - len(regexp_replace(text, ' ', '', 'g')) AS ns
        |  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
        |g AS (SELECT g, count(*) AS n_docs, SUM(nc) AS n_chars,
        |    SUM(nl) AS n_letters, SUM(nd) AS n_digits, SUM(ns) AS n_spaces
        |  FROM p GROUP BY 1)
        |SELECT g, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_chars AS BIGINT) AS n_chars,
        |  floor((CASE WHEN n_chars > 0 THEN CAST(n_letters AS DOUBLE) / n_chars END)
        |    * 1000000000.0 + 0.5) / 1000000000.0 AS letter_share,
        |  floor((CASE WHEN n_chars > 0 THEN CAST(n_digits AS DOUBLE) / n_chars END)
        |    * 1000000000.0 + 0.5) / 1000000000.0 AS digit_share,
        |  floor((CASE WHEN n_chars > 0 THEN CAST(n_spaces AS DOUBLE) / n_chars END)
        |    * 1000000000.0 + 0.5) / 1000000000.0 AS space_share,
        |  floor((CASE WHEN n_chars > 0 THEN
        |      CAST(n_chars - n_letters - n_digits - n_spaces AS DOUBLE) / n_chars END)
        |    * 1000000000.0 + 0.5) / 1000000000.0 AS other_share
        |FROM g""".stripMargin)),

    // Vocabulary richness per source: Chao1 estimate of the true
    // vocabulary and the Good-Turing unseen mass — "how much new
    // vocabulary would more data from this source still surface?", the
    // sizing complement of q_vocab_coverage. One term-frequency
    // collapse; exact f1/f2/V/N; one division per estimate.
    QuerySpec("q_vocab_richness", (s, d) =>
      graft.llm.TextAnalysis.vocabRichness(Tables.documents(s, d),
          "source", "text", minLen = 1)
        .select(col("g"), col("n_tokens"), col("vocab"), col("f1"), col("f2"),
          qround(col("chao1"), 6).as("chao1"),
          qround(col("gt_unseen"), 6).as("gt_unseen")),
    oracle = Some(
      """WITH w AS (SELECT source AS g, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE source IS NOT NULL),
        |tf AS (SELECT g, term, count(*) AS tf FROM w WHERE len(term) >= 1
        |  GROUP BY 1, 2),
        |agg AS (SELECT g, SUM(tf) AS n_tokens, count(*) AS vocab,
        |    count(*) FILTER (tf = 1) AS f1, count(*) FILTER (tf = 2) AS f2
        |  FROM tf GROUP BY 1)
        |SELECT g, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(vocab AS BIGINT) AS vocab, CAST(f1 AS BIGINT) AS f1,
        |  CAST(f2 AS BIGINT) AS f2,
        |  floor((vocab + CAST(f1 * (f1 - 1) AS DOUBLE) / (2.0 * (f2 + 1)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS chao1,
        |  floor((CAST(f1 AS DOUBLE) / n_tokens) * 1000000.0 + 0.5) / 1000000.0
        |    AS gt_unseen
        |FROM agg""".stripMargin)),

    // Isotonic fit/apply split — the leak-safety form: fit the monotone
    // map on EVEN doc_ids, apply to ODD, and report the held-out Brier
    // improvement. Apply is one broadcast join; Brier sums run over the
    // (cell, y) collapse with 1e-9-quantized per-cell terms × exact
    // counts (the temperatureScan discipline). Unmatched cells stay
    // null and are excluded from BOTH briers (fair comparison).
    QuerySpec("q_isotonic_apply", (s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("lang").isNotNull && col("n_chars").isNotNull)
      val cell = least(lit(99L), floor(col("n_chars") / 100).cast("long"))
      val y = (col("lang") === "en").cast("long")
      val model = graft.ops.Isotonic.pavFit(
        docs.filter(col("doc_id") % 2 === 0), cell, y)
      val odd = docs.filter(col("doc_id") % 2 === 1)
        .groupBy(cell.as("c"), y.as("y")).agg(count(lit(1)).as("cnt"))
      val applied = graft.ops.Isotonic.pavApply(model, odd, col("c"), "cal")
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val praw = (col("c").cast("double") + lit(0.5)) / lit(100.0)
      def sq(p: org.apache.spark.sql.Column) =
        floor((p - col("y")) * (p - col("y")) * 1e9 + lit(0.5)).cast(dec) * col("cnt")
      applied.agg(
          sum(col("cnt")).as("n_apply"),
          sum(when(col("cal").isNotNull, col("cnt")).otherwise(0L)).as("n_matched"),
          sum(when(col("cal").isNotNull, sq(praw)).otherwise(lit(0).cast(dec)))
            .cast(dec).as("rq"),
          sum(when(col("cal").isNotNull, sq(col("cal"))).otherwise(lit(0).cast(dec)))
            .cast(dec).as("cq"))
        .select(col("n_apply"), col("n_matched"),
          qround(col("rq").cast("double") / 1e9 / col("n_matched"), 6).as("brier_raw"),
          qround(col("cq").cast("double") / 1e9 / col("n_matched"), 6).as("brier_cal"),
          (qround(col("cq").cast("double") / 1e9 / col("n_matched"), 6) <=
            qround(col("rq").cast("double") / 1e9 / col("n_matched"), 6))
            .as("improved"))
    },
    oracle = Some(// the q_isotonic_fit minimax CTEs on the EVEN half (UNROUNDED
      // fitted — rounding is an output concern), applied to the odd
      // half's (cell, y) collapse; HUGEINT Brier sums
      """WITH b AS (SELECT least(99, CAST(floor(n_chars / 100.0) AS BIGINT)) AS cell,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND doc_id % 2 = 0),
        |cells AS (SELECT cell, count(*) AS n, SUM(y) AS sy FROM b GROUP BY 1),
        |pre AS (SELECT cell, n, sy,
        |    SUM(n) OVER (ORDER BY cell) AS cn, SUM(sy) OVER (ORDER BY cell) AS cy
        |  FROM cells),
        |blocks AS (SELECT j.cell AS cj, k.cell AS ck,
        |    CAST(k.cy - (j.cy - j.sy) AS DOUBLE) / (k.cn - (j.cn - j.n)) AS avg
        |  FROM pre j JOIN pre k ON j.cell <= k.cell),
        |mf AS (SELECT cj, ck AS cell,
        |    MIN(avg) OVER (PARTITION BY cj ORDER BY ck DESC
        |      ROWS UNBOUNDED PRECEDING) AS mf
        |  FROM blocks),
        |fit AS (SELECT cell, MAX(mf) AS fitted FROM mf GROUP BY 1),
        |odd AS (SELECT least(99, CAST(floor(n_chars / 100.0) AS BIGINT)) AS c,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, count(*) AS cnt
        |  FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND doc_id % 2 = 1
        |  GROUP BY 1, 2),
        |ap AS (SELECT o.c, o.y, o.cnt, f.fitted AS cal
        |  FROM odd o LEFT JOIN fit f ON f.cell = o.c),
        |ag AS (SELECT SUM(cnt) AS n_apply,
        |    SUM(CASE WHEN cal IS NOT NULL THEN cnt ELSE 0 END) AS n_matched,
        |    SUM(CASE WHEN cal IS NOT NULL THEN
        |      CAST(floor(((c + 0.5) / 100.0 - y) * ((c + 0.5) / 100.0 - y)
        |        * 1000000000.0 + 0.5) AS HUGEINT) * cnt ELSE 0 END) AS rq,
        |    SUM(CASE WHEN cal IS NOT NULL THEN
        |      CAST(floor((cal - y) * (cal - y) * 1000000000.0 + 0.5) AS HUGEINT)
        |        * cnt ELSE 0 END) AS cq
        |  FROM ap)
        |SELECT CAST(n_apply AS BIGINT) AS n_apply,
        |  CAST(n_matched AS BIGINT) AS n_matched,
        |  floor((CAST(rq AS DOUBLE) / 1000000000.0 / n_matched) * 1000000.0 + 0.5)
        |    / 1000000.0 AS brier_raw,
        |  floor((CAST(cq AS DOUBLE) / 1000000000.0 / n_matched) * 1000000.0 + 0.5)
        |    / 1000000.0 AS brier_cal,
        |  floor((CAST(cq AS DOUBLE) / 1000000000.0 / n_matched) * 1000000.0 + 0.5)
        |    <= floor((CAST(rq AS DOUBLE) / 1000000000.0 / n_matched) * 1000000.0 + 0.5)
        |    AS improved
        |FROM ag""".stripMargin)),

    // Zipf rank-frequency fit: f(r) ≈ C·r^s over the top-1000 unigram
    // ranks (WindowGroupLimit-pruned), s ≈ −1 for natural text — the
    // head-concentration leg of the corpus tripod (Chao1 = size, Heaps
    // = growth, Zipf = concentration). Power-of-two sample ranks out.
    QuerySpec("q_zipf_fit", (s, d) =>
      graft.llm.TextAnalysis.zipfFit(Tables.documents(s, d), "text",
          minLen = 1, topR = 1000)
        .select(col("rank"), col("tf"),
          qround(col("slope"), 6).as("slope"),
          qround(col("c_coef"), 6).as("c_coef")),
    oracle = Some(// identical rank order (tf DESC, term binary ASC), top-1000 cut,
      // and the heaps-style quantized OLS; output = power-of-two ranks
      """WITH tf AS (SELECT term, count(*) AS tf FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE len(term) >= 1 GROUP BY 1),
        |r AS (SELECT CAST(row_number() OVER (ORDER BY tf DESC, term ASC) AS BIGINT)
        |    AS rank, tf FROM tf QUALIFY rank <= 1000),
        |q AS (SELECT rank, tf,
        |    CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000000.0 + 0.5) AS HUGEINT) AS xq,
        |    CAST(floor(ln(CAST(tf AS DOUBLE)) * 1000000000.0 + 0.5) AS HUGEINT) AS yq
        |  FROM r),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS m, SUM(xq) AS sx, SUM(yq) AS sy,
        |    SUM(xq * yq) AS sxy, SUM(xq * xq) AS sxx FROM q),
        |f AS (SELECT CAST(m * sxy - sx * sy AS DOUBLE) /
        |      CAST(m * sxx - sx * sx AS DOUBLE) AS slope, m, sx, sy FROM m),
        |f2 AS (SELECT slope,
        |    exp((CAST(sy AS DOUBLE) / 1000000000.0 -
        |      slope * (CAST(sx AS DOUBLE) / 1000000000.0)) / CAST(m AS DOUBLE)) AS c_coef
        |  FROM f)
        |SELECT rank, CAST(tf AS BIGINT) AS tf,
        |  floor(slope * 1000000.0 + 0.5) / 1000000.0 AS slope,
        |  floor(c_coef * 1000000.0 + 0.5) / 1000000.0 AS c_coef
        |FROM q, f2 WHERE (rank & (rank - 1)) = 0""".stripMargin)),

    // Heaps' law vocabulary-growth fit: V(n) ≈ K·n^β along the
    // (doc_id, position) token stream, V evaluated at 10 prefix
    // checkpoints, (ln n, ln V) OLS on 1e-9-quantized terms — "how fast
    // does vocabulary keep arriving at 10× the corpus?", the sizing
    // extrapolation q_vocab_richness's Chao1 answers pointwise.
    QuerySpec("q_heaps_law", (s, d) =>
      graft.llm.TextAnalysis.heapsLaw(Tables.documents(s, d),
          "doc_id", "text", minLen = 1, checkpoints = 10)
        .select(col("j"), col("n"), col("v"),
          qround(col("beta"), 6).as("beta"),
          qround(col("k_coef"), 6).as("k_coef")),
    oracle = Some(// same stream order, first-occurrence collapse, and quantized OLS;
      // the global row_number equals off + within-doc rank by construction
      """WITH t0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents WHERE doc_id IS NOT NULL),
        |t AS (SELECT * FROM t0 WHERE len(term) >= 1),
        |idx AS (SELECT term,
        |    CAST(row_number() OVER (ORDER BY doc_id, pos) AS BIGINT) AS g FROM t),
        |firsts AS (SELECT term, MIN(g) AS fg FROM idx GROUP BY 1),
        |tot AS (SELECT count(*) AS n_total FROM t),
        |ck AS (SELECT CAST(j AS BIGINT) AS j,
        |    CAST((j * n_total) // 10 AS BIGINT) AS n
        |  FROM range(1, 11) r(j), tot WHERE (j * n_total) // 10 >= 1),
        |vt AS (SELECT j, n, count(*) AS v FROM ck JOIN firsts ON fg <= n
        |  GROUP BY 1, 2),
        |q AS (SELECT j, n, v,
        |    CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000000.0 + 0.5) AS HUGEINT) AS xq,
        |    CAST(floor(ln(CAST(v AS DOUBLE)) * 1000000000.0 + 0.5) AS HUGEINT) AS yq
        |  FROM vt),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS m, SUM(xq) AS sx, SUM(yq) AS sy,
        |    SUM(xq * yq) AS sxy, SUM(xq * xq) AS sxx FROM q),
        |f AS (SELECT CAST(m * sxy - sx * sy AS DOUBLE) /
        |      CAST(m * sxx - sx * sx AS DOUBLE) AS beta, m, sx, sy FROM m),
        |f2 AS (SELECT beta,
        |    exp((CAST(sy AS DOUBLE) / 1000000000.0 -
        |      beta * (CAST(sx AS DOUBLE) / 1000000000.0)) / CAST(m AS DOUBLE)) AS k_coef
        |  FROM f)
        |SELECT j, n, CAST(v AS BIGINT) AS v,
        |  floor(beta * 1000000.0 + 0.5) / 1000000.0 AS beta,
        |  floor(k_coef * 1000000.0 + 0.5) / 1000000.0 AS k_coef
        |FROM q, f2""".stripMargin),
    // sf1: per-doc windows + one vocab collapse; must track the token count
    // linearly
    sf1 = true),

    // Temperature-scaling scan: NLL of σ(logit(p)/T) over a literal T
    // grid for the q_ml_calibration forecast — the one-parameter
    // calibrator (argmin T > 1 ⇒ the score was overconfident), isotonic's
    // complement. Corpus collapses ONCE to (cell, y) counts; all libm
    // work runs on that metadata table, per-cell terms quantize to 1e-9
    // and weight by exact counts, argmin compares exact decimal sums.
    QuerySpec("q_temp_scaling", (s, d) =>
      graft.ops.MlEval.temperatureScan(
          Tables.documents(s, d).filter(col("lang").isNotNull),
          least(lit(999L), floor(col("n_chars") / 10).cast("long")),
          (col("lang") === "en").cast("long"), scale = 1000L,
          grid = Seq(0.25, 0.5, 0.75, 1.0, 1.5, 2.0, 3.0, 4.0))
        .select(col("t"), col("n"), qround(col("nll"), 6).as("nll"),
          col("best")),
    oracle = Some(// identical collapse + per-cell quantized loss; best = lexicographic
      // min over (exact decimal sum, t), staged as two window CTEs
      """WITH cells AS (SELECT least(999, CAST(floor(n_chars / 10.0) AS BIGINT)) AS cell,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, count(*) AS cnt
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1, 2),
        |g AS (SELECT unnest([0.25, 0.5, 0.75, 1.0, 1.5, 2.0, 3.0, 4.0]::DOUBLE[]) AS t),
        |zt AS (SELECT t, cnt, y,
        |    ln(((cell + 0.5) / 1000.0) / (1.0 - (cell + 0.5) / 1000.0)) / t AS zt
        |  FROM cells, g),
        |terms AS (SELECT t, cnt,
        |    CAST(floor((ln(1.0 + exp(zt)) - y * zt) * 1000000000.0 + 0.5)
        |      AS HUGEINT) * cnt AS lq
        |  FROM zt),
        |pt AS (SELECT t, SUM(cnt) AS n, SUM(lq) AS lq FROM terms GROUP BY 1),
        |p2 AS (SELECT *, MIN(lq) OVER () AS mlq FROM pt),
        |p3 AS (SELECT *, MIN(CASE WHEN lq = mlq THEN t END) OVER () AS mt FROM p2)
        |SELECT t, CAST(n AS BIGINT) AS n,
        |  floor((CAST(lq AS DOUBLE) / 1000000000.0 / n) * 1000000.0 + 0.5)
        |    / 1000000.0 AS nll,
        |  lq = mlq AND t = mt AS best
        |FROM p3""".stripMargin),
    // sf1: ONE fact collapse; the ×|grid| libm stage must stay metadata-sized
    sf1 = true),

    // Rendezvous (HRW) shard routing: doc_id → argmax_s md5(id:s), the
    // consistent-placement scheme where growing the shard set moves only
    // the keys the NEW shard wins (~1/(n+1) of them). The output is the
    // 5-shard → 6-shard transition matrix: off-diagonal mass exists only
    // in the new shard's column — that asymmetry IS the rendezvous
    // guarantee, and the oracle replays the identical md5-60 argmax.
    QuerySpec("q_hrw_shards", (s, d) => {
      val shards5 = (0 until 5).map(i => s"node$i")
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val before = graft.ops.Partitioning.rendezvousAssign(
        docs, "doc_id", shards5, "shard_before")
      val both = graft.ops.Partitioning.rendezvousAssign(
        before, "doc_id", shards5 :+ "node5", "shard_after")
      both.groupBy(col("shard_before"), col("shard_after"))
        .agg(count(lit(1)).as("n"))
    },
    oracle = Some(// md5-60 argmax replay; ties (never observed at 60 bits) break on
      // shard name DESC to mirror greatest(struct(w, s))
      """WITH k AS (SELECT doc_id FROM documents),
        |sh5 AS (SELECT unnest(['node0','node1','node2','node3','node4']) AS s),
        |sh6 AS (SELECT unnest(['node0','node1','node2','node3','node4','node5']) AS s),
        |w5 AS (SELECT doc_id, s,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || s), 1, 15))::BIGINT AS w
        |  FROM k, sh5),
        |a5 AS (SELECT doc_id, s AS shard_before FROM (SELECT doc_id, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, s DESC) AS rn
        |  FROM w5) WHERE rn = 1),
        |w6 AS (SELECT doc_id, s,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || s), 1, 15))::BIGINT AS w
        |  FROM k, sh6),
        |a6 AS (SELECT doc_id, s AS shard_after FROM (SELECT doc_id, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, s DESC) AS rn
        |  FROM w6) WHERE rn = 1)
        |SELECT shard_before, shard_after, count(*) AS n
        |FROM a5 JOIN a6 USING (doc_id) GROUP BY 1, 2""".stripMargin))
  )
}
