package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-touch conversion attribution — the marketing-analytics operator
  * that splits each conversion's credit across the touchpoints that
  * preceded it inside a lookback window. Complements [[AsOfJoin]] (which
  * is exactly last-touch, a single match per conversion) and
  * [[graft.ops.Funnel]] (existence of an ordered path, no credit): here
  * every qualifying touch gets a defined fraction and per-channel totals
  * follow by aggregation.
  *
  * Credit models (`model`):
  *  - `linear`: each of the n touches gets 1/n.
  *  - `ushape`: first and last get 0.4 each, the n−2 middles split 0.2
  *    evenly (the standard position-based U; n=1 → 1.0, n=2 → 0.5/0.5).
  * Every credit is ONE division of exact integers (position/count from
  * windows), so per-touch rows reproduce bit-for-bit cross-engine;
  * channel rollups sum doubles and callers qround (the `q_a9` contract).
  *
  * Window semantics: a touch qualifies iff
  * 0 ≤ conv_ts − touch_ts ≤ lookback (microsecond arithmetic — inclusive
  * at both ends, mirrored by the oracle). Ordering inside a conversion is
  * (touch_ts, touch_id) — the unique-id tie-break makes first/last
  * deterministic under simultaneous touches.
  *
  * Scale shape: ONE equi-join on the entity key (never a theta-join: the
  * range predicate filters after the hash match) — per-key fan-out is
  * bounded by real per-user activity in the lookback, the same
  * bounded-human-sessions argument as [[graft.streaming.Sessionize]].
  * The credit windows partition by (entity key, conversion id) — robust
  * to conversion ids that repeat across entities, and partitions are
  * lookback-bounded, never corpus-sized. Per-channel totals are one hash
  * aggregate of the credit rows.
  */
object Attribution {

  /** conversions: (keyCol, convTsCol, convIdCol); touches: (keyCol,
    * touchTsCol, touchIdCol, channelCol). Returns one row per qualifying
    * (conversion, touch): (conv_id, touch_id, channel, pos, n_touches,
    * credit). Conversions with zero qualifying touches emit nothing.
    */
  def multiTouch(conversions: DataFrame, touches: DataFrame, keyCol: String,
                 convTsCol: String, convIdCol: String, touchTsCol: String,
                 touchIdCol: String, channelCol: String,
                 lookbackDays: Int, model: String = "linear"): DataFrame = {
    require(lookbackDays > 0, "lookbackDays must be positive")
    val lookbackUs = lookbackDays.toLong * 86400L * 1000000L
    val c = conversions.select(col(keyCol).as("__k"),
      col(convTsCol).as("__cts"), col(convIdCol).as("conv_id"))
    val t = touches.select(col(keyCol).as("__k"),
      col(touchTsCol).as("__tts"), col(touchIdCol).as("touch_id"),
      col(channelCol).as("channel"))
    val gap = unix_micros(col("__cts")) - unix_micros(col("__tts"))
    val j = c.join(t, Seq("__k")).filter(gap >= 0 && gap <= lookbackUs)
    // Partition by (entity key, conversion id), not conv_id alone: the
    // API never promised conv_id is globally unique across keys, and the
    // compound key costs nothing — it is the same single exchange.
    val wOrd = Window.partitionBy(col("__k"), col("conv_id"))
      .orderBy(col("__tts").asc, col("touch_id").asc)
    val wAll = Window.partitionBy(col("__k"), col("conv_id"))
    val credit = model match {
      case "linear" => lit(1.0) / col("n_touches")
      case "ushape" =>
        when(col("n_touches") === 1, lit(1.0))
          .when(col("n_touches") === 2, lit(0.5))
          .when(col("pos") === 1 || col("pos") === col("n_touches"), lit(0.4))
          .otherwise(lit(0.2) / (col("n_touches") - 2))
      case other => throw new IllegalArgumentException(
        s"unknown attribution model: $other")
    }
    j.withColumn("pos", row_number().over(wOrd).cast("long"))
      .withColumn("n_touches", count(lit(1)).over(wAll))
      .withColumn("credit", credit)
      .select(col("conv_id"), col("touch_id"), col("channel"),
        col("pos"), col("n_touches"), col("credit"))
  }

  /** Per-channel rollup of [[multiTouch]]: (channel, n_touches_total,
    * n_conversions_touched, total_credit). `total_credit` sums doubles —
    * callers qround.
    */
  def channelCredit(credits: DataFrame): DataFrame =
    credits.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches_total"),
        countDistinct(col("conv_id")).as("n_conversions_touched"),
        sum(col("credit")).as("total_credit"))

  /** Journey-surprise scoring — sequence anomaly detection on event
    * streams: fit a first-order Markov transition model over everyone's
    * (type → next type) bigrams, then score each entity by the mean
    * negative log-likelihood of ITS transitions under that model. Bots,
    * broken clients, and fraud rings follow transition paths the
    * population rarely takes, so they surface at the top without any
    * labeled examples — the sequence sibling of [[Outliers]]' value
    * screens.
    *
    *   surprise(u) = (1/|T_u|) Σ_{(a→b) ∈ T_u} −ln P̂(b | a),
    *   P̂(b | a) = (c_ab + 1) / (c_a· + V)     (add-one over observed
    *                                            next-type vocabulary V)
    *
    * Determinism: each −ln lands on the 1e-12 long grid BEFORE the
    * per-entity sum (the [[graft.llm.TextClassify]] discipline), so
    * entity totals are exact integer sums; the mean is one IEEE division.
    *
    * Scale shape: transitions come from ONE lead() window per entity
    * (partition = the entity's events); the model is a
    * |types|²-bounded count table joined back by BROADCAST; one
    * per-entity aggregate ends it. The checkpoint pins a single
    * materialization feeding both the model and the scoring pass.
    */
  def transitionSurprise(df: DataFrame, entityCol: String, tsCol: String,
      tieCol: String, typeCol: String): DataFrame = {
    val trans = transitions(df, entityCol, tsCol, tieCol, typeCol)
      .localCheckpoint(false) // feeds the model AND the scoring pass
    val model = trans.groupBy("a", "b").agg(count(lit(1)).as("c"))
    val fromTot = model.groupBy("a").agg(sum(col("c")).as("ca"))
    val vocab = model.select("b").distinct().agg(count(lit(1)).as("v"))
    val scored = model.join(fromTot, "a").crossJoin(broadcast(vocab))
      .withColumn("lp", floor(-log((col("c") + 1L).cast("double") /
        (col("ca") + col("v"))) * 1e12 + 0.5).cast("long"))
      .select(col("a"), col("b"), col("lp"))
    trans.join(broadcast(scored), Seq("a", "b"))
      .groupBy(col(entityCol))
      .agg(count(lit(1)).as("n_trans"), sum(col("lp")).as("s"))
      .select(col(entityCol), col("n_trans"),
        (col("s").cast("double") / col("n_trans") / 1e12).as("surprise"))
  }

  /** Every consecutive event pair of an entity, in (ts, tie) order:
    * (entity, a = type, b = next type) — what [[transitionSurprise]] and
    * [[transitionEntropy]] count.
    */
  private def transitions(df: DataFrame, entityCol: String, tsCol: String,
      tieCol: String, typeCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(entityCol)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    df.filter(col(entityCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isNotNull)
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .select(col(entityCol), col(typeCol).as("a"), col("__next").as("b"))
  }

  /** Entropy rate of the event stream — the corpus-level summary
    * [[transitionSurprise]] scores entities against: how predictable is
    * the NEXT event given the current one, in nats?
    *
    *   H_rate = −Σ_{a,b} p(a,b)·ln p(b|a)      (conditional entropy)
    *   H_marg = −Σ_b p(b)·ln p(b)              (ignore-the-past baseline)
    *   predictability = 1 − H_rate/H_marg      (how much the Markov
    *                                            structure buys)
    *
    * A stream whose predictability collapses release-over-release grew
    * genuinely new behavior; one that spikes toward 1 is a bot swarm
    * replaying one path. No smoothing — the entropies are properties of
    * the OBSERVED transition table itself.
    *
    * Determinism: each p·ln term lands on the 1e-12 long grid before the
    * sum (|types|²-bounded, the [[transitionSurprise]] discipline);
    * exact counts from the same lead() window. NULL predictability when
    * H_marg = 0 (a single next-state — nothing to predict).
    *
    * Scale shape: one lead() window per entity, one |types|²-bounded
    * count aggregate, metadata algebra after.
    */
  def transitionEntropy(df: DataFrame, entityCol: String, tsCol: String,
      tieCol: String, typeCol: String): DataFrame = {
    val cells = transitions(df, entityCol, tsCol, tieCol, typeCol)
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // totals + both entropies read it
    val fromTot = cells.groupBy("a").agg(sum(col("c")).as("ca"))
    val grand = cells.agg(sum(col("c")).as("t"),
      count(lit(1)).as("n_cells"))
    def grid(c: Column): Column = floor(c * 1e12 + 0.5).cast("long")
    val hRate = cells.join(fromTot, "a").crossJoin(broadcast(grand))
      .select(grid(-(col("c").cast("double") / col("t")) *
        log(col("c").cast("double") / col("ca"))).as("tg"))
      .agg(sum(col("tg")).as("hr"))
    val hMarg = cells.groupBy("b").agg(sum(col("c")).as("cb"))
      .crossJoin(broadcast(grand))
      .select(grid(-(col("cb").cast("double") / col("t")) *
        log(col("cb").cast("double") / col("t"))).as("tg"))
      .agg(sum(col("tg")).as("hm"))
    val states = cells.select(col("a")).union(cells.select(col("b")))
      .distinct().agg(count(lit(1)).as("n_states"))
    val hr = col("hr").cast("double") / 1e12
    val hm = col("hm").cast("double") / 1e12
    grand.crossJoin(broadcast(hRate)).crossJoin(broadcast(hMarg))
      .crossJoin(broadcast(states))
      .select(col("t").as("n_trans"), col("n_states"),
        hr.as("h_rate"), hm.as("h_marginal"),
        when(hm > 0, lit(1.0) - hr / hm).as("predictability"))
  }

  /** Frequent consecutive event-type sequences (n-grams over each
    * entity's ordered stream, n = 2..maxN) — the PrefixSpan-lite
    * discovery pass that finds the funnels worth defining: which 2- and
    * 3-step paths actually occur, in how many journeys, how often.
    * [[graft.ops.Funnel]] checks a GIVEN path; this mines the candidates.
    *
    *   (gram, n, n_entities, n_occurrences)
    *
    * Exactness: grouping is on the type ARRAY (collision-proof even if
    * a type name contains the `>` display separator — the gram string
    * is rendered only AFTER aggregation); counts are exact longs from
    * one aggregate; distinct-entity counts ride the same shuffle via an
    * (array, entity) pre-collapse.
    *
    * Scale shape: ONE ordered window per entity carries all maxN−1 lead
    * columns (a single exchange); the gram table is ≤(maxN−1)·rows
    * narrow; output is |types|^maxN-bounded (taxonomies are small).
    */
  def sequencePatterns(df: DataFrame, entityCol: String, tsCol: String,
      tieCol: String, typeCol: String, maxN: Int): DataFrame = {
    require(maxN >= 2 && maxN <= 4, s"maxN in [2, 4], got $maxN")
    val w = Window.partitionBy(entityCol)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val base = df
      .filter(col(entityCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isNotNull)
      .select(Seq(col(entityCol).as("e"), col(typeCol).as("t0")) ++
        (1 until maxN).map(k => lead(col(typeCol), k).over(w).as(s"t$k")): _*)
    val grams = (2 to maxN).map { n =>
      base.filter((1 until n).map(k => col(s"t$k").isNotNull).reduce(_ && _))
        .select(col("e"), lit(n.toLong).as("n"),
          array((0 until n).map(k => col(s"t$k")): _*).as("garr"))
    }.reduce(_ unionByName _)
    val perEntity = grams.groupBy("garr", "n", "e")
      .agg(count(lit(1)).as("c"))
    perEntity.groupBy("garr", "n")
      .agg(count(lit(1)).as("n_entities"), sum(col("c")).as("n_occurrences"))
      .select(concat_ws(">", col("garr")).as("gram"), col("n"),
        col("n_entities"), col("n_occurrences"))
  }

  /** Markov removal-effect attribution (Anderl et al. 2014) — the
    * data-driven credit model that retires [[multiTouch]]'s positional
    * heuristics: build the first-order journey chain over channels with
    * absorbing CONVERSION and NULL states, then ask per channel "how
    * much conversion mass dies if this channel vanishes?"
    *
    *   RE(c)    = 1 − P(conv | chain with c's visits redirected to NULL)
    *                  / P(conv | full chain)
    *   share(c) = RE(c)⁺ / Σ RE⁺
    *
    * Journeys: per entity, events ordered by (ts, tie); the path is
    * TRUNCATED at the first `convType` event (→ CONV); paths that never
    * convert end in NULL. Transition probabilities are per-source count
    * ratios of the truncated paths. Removal keeps the full chain's
    * probabilities and redirects every edge INTO the removed channel to
    * NULL (visits die rather than re-normalize — the standard removal
    * semantics), dropping the channel's outgoing rows.
    *
    * Absorption runs `iters` synchronous value-iteration sweeps
    * v(s) ← Σ_t P(s,t)·v(t) + P(s,CONV) from v = 0 — i.e. the emitted
    * probability is "absorbed into CONV within `iters` steps". With
    * iters pinned, both engines compute the identical intermediate (the
    * [[graft.llm.Pca]] power-iteration contract); pick iters ≳ the
    * longest journey you care to credit.
    *
    * Exactness: counts and path truncation are exact; p = one division;
    * v is held in 1e-12 GRID LONGS — each sweep term floor(p·vq + ½) is
    * an integer, so the Σ over incoming edges is order-free and the
    * whole iteration is integer-exact given the p doubles, which both
    * engines derive identically. RE/share are fixed IEEE readouts
    * (callers qround). NULL RE when the base probability is 0.
    *
    * Scale shape: ONE lead() window per entity over the truncated paths
    * (the [[transitionSurprise]] exchange) + one |states|²-bounded count
    * — the only corpus-mass stages. The (1+|channels|) removal variants
    * replicate the COUNT table (≤ |channels|·|states|² metadata rows),
    * and every sweep is a join+aggregate on that metadata. Nothing is
    * collected; nothing data-sized iterates.
    */
  def markovRemovalEffects(df: DataFrame, entityCol: String, tsCol: String,
      tieCol: String, typeCol: String, convType: String,
      iters: Int = 24): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val Start = "__START__"; val Conv = "__CONV__"; val Nul = "__NULL__"
    val w = Window.partitionBy(entityCol)
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val ranked = df
      .filter(col(entityCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cr",
        min(when(col(typeCol) === convType, col("__rn")))
          .over(Window.partitionBy(entityCol)))
      .filter(col("__cr").isNull || col("__rn") <= col("__cr"))
      .withColumn("__st",
        when(col(typeCol) === convType, Conv).otherwise(col(typeCol)))
    val wk = Window.partitionBy(entityCol)
      .orderBy(col("__rn").asc) // already unique within entity
    val steps = ranked
      .withColumn("__nx", lead(col("__st"), 1).over(wk))
      .select(col("__st").as("src"),
        // last kept event: CONV absorbs (no outgoing), else → NULL
        coalesce(col("__nx"),
          when(col("__st") === Conv, lit(null).cast("string"))
            .otherwise(lit(Nul))).as("dst"),
        col("__rn"))
    val starts = ranked.filter(col("__rn") === 1)
      .select(lit(Start).as("src"), col("__st").as("dst"))
    val counts = steps.filter(col("dst").isNotNull).select("src", "dst")
      .unionByName(starts)
      .groupBy("src", "dst").agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // variants, channels and totals share it
    val tots = counts.groupBy("src").agg(sum(col("c")).as("tot"))
    val base = counts.join(tots, "src")
      .select(col("src"), col("dst"),
        (col("c").cast("double") / col("tot")).as("p"))
      .localCheckpoint(false)
    val channels = base.select(col("src")).distinct()
      .filter(col("src") =!= Start)
    // variant table: '' = base chain; 'c' = channel c removed
    val variants = base.crossJoin(
        broadcast(channels.select(col("src").as("rm"))
          .unionByName(base.sparkSession.range(1)
            .select(lit("").as("rm")))))
      .filter(col("rm") === "" || col("src") =!= col("rm"))
      .select(col("rm"),
        col("src"),
        when(col("rm") =!= "" && col("dst") === col("rm"), lit(Nul))
          .otherwise(col("dst")).as("dst"),
        col("p"))
      .localCheckpoint(false) // every sweep re-reads it
    val pconv = variants
      .groupBy("rm", "src")
      .agg(sum(when(col("dst") === Conv,
        floor(col("p") * 1e12 + 0.5).cast("long")).otherwise(0L))
        .as("pcg"))
      .localCheckpoint(false)
    val internal = variants.filter(col("dst") =!= Conv && col("dst") =!= Nul)
    var v = pconv.select(col("rm"), col("src").as("state"),
      lit(0L).as("vq"))
    for (i <- 1 to iters) {
      val next = internal
        .join(v.select(col("rm"), col("state").as("dst"), col("vq")),
          Seq("rm", "dst"), "left")
        .groupBy("rm", "src")
        .agg(sum(floor(col("p") * coalesce(col("vq"), lit(0L)) + 0.5)
          .cast("long")).as("inflow"))
      v = pconv.join(next, Seq("rm", "src"), "left")
        .select(col("rm"), col("src").as("state"),
          (col("pcg") + coalesce(col("inflow"), lit(0L))).as("vq"))
      if (i % 4 == 0) v = v.localCheckpoint(false)
    }
    val pAt = v.filter(col("state") === Start)
      .select(col("rm"), (col("vq").cast("double") / 1e12).as("pv"))
    val pBase = pAt.filter(col("rm") === "")
      .select(col("pv").as("p_base"))
    val re = pAt.filter(col("rm") =!= "")
      .crossJoin(broadcast(pBase))
      .select(col("rm").as("channel"), col("p_base"),
        col("pv").as("p_removed"),
        when(col("p_base") > 0,
          lit(1.0) - col("pv") / col("p_base")).as("removal_effect"))
      .localCheckpoint(false) // share denominator re-reads it
    val tot = re.agg(sum(floor(greatest(col("removal_effect"), lit(0.0))
      * 1e12 + 0.5).cast("long")).as("reg"))
    re.crossJoin(broadcast(tot))
      .select(col("channel"), col("p_base"), col("p_removed"),
        col("removal_effect"),
        when(col("reg") > 0,
          floor(greatest(col("removal_effect"), lit(0.0)) * 1e12 + 0.5)
            .cast("long").cast("double") / col("reg")).as("share"))
  }
}
