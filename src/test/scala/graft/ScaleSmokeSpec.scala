package graft

import org.apache.spark.sql.functions._

/** Scale smoke: the heaviest pipelines on 8× self-unioned sf0.1 inputs
  * (~4.8M lineitem rows, 40k docs). Not a benchmark — a structural check
  * that the plans keep working when the data outgrows a single partition's
  * comfort zone: no collect-to-driver, no quadratic blowup, shuffles stay
  * keyed. Row-count algebra doubles as a correctness spot-check.
  */
class ScaleSmokeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.1"
  private def x8(df: org.apache.spark.sql.DataFrame) =
    (1 to 8).map(i => df.withColumn("__rep", lit(i))).reduce(_.unionByName(_))

  test("flagship ranking at 4.8M rows: ranks complete, per-order algebra holds") {
    val li = x8(Tables.lineitem(spark, sf))
      // make keys distinct across replicas so partitions multiply too
      .withColumn("l_orderkey", col("l_orderkey") * 10 + col("__rep"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_orderkey")
    val ranked = li
      .withColumn("score", col("l_extendedprice") * (lit(1) - col("l_discount")))
      .withColumn("rnk", rank().over(w.orderBy(col("score").desc)))
    val n = ranked.count()
    assert(n === 4800000L)
    // every order's best rank is 1
    assert(ranked.groupBy("l_orderkey").agg(min("rnk").as("m"))
      .filter(col("m") =!= 1).count() === 0)
  }

  test("exact dedup at 40k docs × 8 replicas collapses to the base corpus") {
    val docs = x8(Tables.documents(spark, sf)).drop("__rep")
    val base = Tables.documents(spark, sf)
    val groups = graft.llm.Dedup.exactGroups(docs, "doc_id", "text")
    // replicas are exact dups: group count equals distinct texts of base
    assert(groups.count() === base.select(md5(col("text"))).distinct().count())
    assert(groups.agg(sum("n_dups")).head().getLong(0) === base.count() * 8)
  }

  test("chunk → pack at 8× distinct docs: counts scale exactly, budgets never overflow") {
    val base = Tables.documents(spark, sf)
    // distinct ids per replica so the corpus truly grows 8×
    val docs8 = x8(base).withColumn("doc_id", col("doc_id") * 10 + col("__rep")).drop("__rep")
    val chunks1 = graft.llm.TextAnalysis.chunkByTokens(base, "doc_id", "text", 12, 3)
    val chunks8 = graft.llm.TextAnalysis.chunkByTokens(docs8, "doc_id", "text", 12, 3)
    assert(chunks8.count() === chunks1.count() * 8)
    val packed = graft.llm.TextAnalysis.packSequences(chunks8.drop("chunk_text"), budget = 64)
    // the distributed prefix sum must equal a sequential scan of the same
    // rows (falsifiable end-to-end: wrong partition offsets cannot hide
    // behind aggregate invariants) — and the packing positions must be the
    // integral quotient/remainder of the exclusive prefix
    val rows = packed.select("doc_id", "chunk_idx", "n_tokens", "cum_tokens", "seq_id", "tok_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(t => (t._1, t._2))
    var acc = 0L
    rows.foreach { case (doc, idx, n, cum, seq, off) =>
      assert(cum === acc + n, s"prefix sum diverged at ($doc,$idx)")
      assert(seq === acc / 64 && off === acc % 64, s"packing position wrong at ($doc,$idx)")
      acc += n
    }
  }

  test("decontamination at 8× distinct train docs: every replica of a contaminated doc flags") {
    val base = Tables.documents(spark, sf)
    val bench = base.filter(col("doc_id") % 20 === 0)
    val train1 = base.filter(col("doc_id") % 20 =!= 0)
    val hits1 = graft.llm.Decontaminate.contaminated(train1, bench, "doc_id", "text", n = 5)
    val train8 = x8(train1).withColumn("doc_id", col("doc_id") * 10 + col("__rep")).drop("__rep")
    val hits8 = graft.llm.Decontaminate.contaminated(train8, bench, "doc_id", "text", n = 5)
    // same text ⇒ same gram overlap: each base hit appears once per replica
    assert(hits8.count() === hits1.count() * 8)
    assert(hits1.count() > 0, "fixture produced no contamination — smoke is vacuous")
  }

  test("bloom semi join at 4.8M probe rows: exact, and the sketch stays sketch-sized") {
    val li = x8(Tables.lineitem(spark, sf)).drop("__rep")
    val keys = Tables.orders(spark, sf).filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey").as("l_orderkey"))
    val pruned = graft.ops.BloomJoin.prunedSemiJoin(li, keys, Seq("l_orderkey"),
      expectedItems = 200000L, numBits = 1L << 21)
    val plain = li.join(keys, Seq("l_orderkey"), "left_semi")
    assert(pruned.count() === plain.count())
    // the sketch over 12k keys is ~256 KB — fixed by numBits, never by rows
    val sk = graft.ops.BloomJoin.buildSketch(keys, Seq("l_orderkey"), 200000L, 1L << 21)
    assert(sk.length <= (1 << 21) / 8 + 64)
  }

  test("incremental agg at 8× batches: 8-way fold equals the one-shot aggregate") {
    val ev = Tables.events(spark, sf)
      .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
    val batches = (1 to 8).map(i => ev.filter(pmod(col("event_id"), lit(8L)) === (i - 1)))
    val partials = Seq(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    val merges = Seq(sum(col("n")).as("n"), sum(col("s")).as("s"))
    val folded = graft.ops.IncrementalAgg.replay(batches, Seq("user_id"), partials, merges)
    val direct = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    assert(folded.exceptAll(direct).isEmpty && direct.exceptAll(folded).isEmpty)
  }

  test("z-order at 4.8M rows: clustering is a permutation and both spans stay narrow") {
    val li = x8(Tables.lineitem(spark, sf)).drop("__rep")
      .select("l_partkey", "l_suppkey", "l_orderkey")
    // quantize both keys to 10 bits against their bounds, then range-sort
    // on the interleaved z-value
    import graft.ops.Layout.{quantize, zValue}
    val b = li.agg(min("l_partkey").as("lp"), max("l_partkey").as("hp"),
      min("l_suppkey").as("ls"), max("l_suppkey").as("hs"))
    val z = li.crossJoin(broadcast(b))
      .withColumn("z", zValue(Seq(
        quantize(col("l_partkey").cast("double"), col("lp"), col("hp"), 10),
        quantize(col("l_suppkey").cast("double"), col("ls"), col("hs"), 10)), 10))
      .repartitionByRange(32, col("z")).sortWithinPartitions("z")
      .select(li.columns.map(col): _*)
    assert(z.count() === li.count())
    // per-partition spans of BOTH key domains ≪ global span
    val spans = z.withColumn("p", spark_partition_id())
      .groupBy("p").agg((max("l_partkey") - min("l_partkey")).as("sp"),
        (max("l_suppkey") - min("l_suppkey")).as("ss"))
      .agg(avg("sp"), avg("ss")).head()
    val (gp, gs) = (li.agg(max("l_partkey") - min("l_partkey")).head().getLong(0),
      li.agg(max("l_suppkey") - min("l_suppkey")).head().getLong(0))
    assert(spans.getDouble(0) < gp * 0.5, s"partkey span ${spans.getDouble(0)} vs $gp")
    assert(spans.getDouble(1) < gs * 0.5, s"suppkey span ${spans.getDouble(1)} vs $gs")
  }

  test("corpus scrub at 8× replication: identical survivor set as the base corpus") {
    // replicas are exact dups, so stage 3 (exact dedup) collapses them and
    // stages 1-4 must land on the same survivors — the composite is
    // replication-invariant, proving no stage leaks duplicate mass through
    val base = Tables.documents(spark, sf)
    val docs8 = x8(base).drop("__rep")
    val cfg = graft.llm.CorpusPipeline.Config(jaccardThreshold = 0.5)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val (c1, stats1) = graft.llm.CorpusPipeline.scrub(base, "doc_id", "text", cfg)
    val (c8, _) = graft.llm.CorpusPipeline.scrub(docs8, "doc_id", "text", cfg)
    val survivors = ids(c1)
    assert(survivors.nonEmpty && ids(c8) === survivors)
    // stage counts are monotone non-increasing
    val s = stats1.head()
    val counts = Seq("n_input", "n_after_gates", "n_after_exact", "n_after_neardup")
      .map(c => s.getAs[Long](c))
    assert(counts === counts.sorted.reverse)
  }
}
