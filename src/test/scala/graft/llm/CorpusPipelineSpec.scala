package graft.llm

import graft.SparkSpec

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the cat sat on the mat and then the cat slept near the warm fire all day long"),
    (2L, "the cat sat on the mat and then the cat slept near the warm fire all day"), // near-dup of 1
    (3L, "the cat sat on the mat and then the cat slept near the warm fire all day long"), // exact dup of 1
    (4L, "le chat est sur le tapis et le chat dort"),  // non-en
    (5L, "x"),                                          // junk (fails quality gate)
    (6L, "a completely different english document about the weather in the mountains today it is")
  ).toDF("doc_id", "text")

  test("scrub: gates, exact dedup, near-dup removal compose; stats track stages") {
    val (cleaned, stats) = CorpusPipeline.scrub(docs, "doc_id", "text",
      CorpusPipeline.Config(minQuality = 0.25, jaccardThreshold = 0.6))
    val kept = cleaned.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L))      // survivor of its dup cluster (min id)
    assert(!kept.contains(3L))     // exact dup dropped
    assert(!kept.contains(2L))     // near dup dropped
    assert(!kept.contains(4L))     // language gate
    assert(!kept.contains(5L))     // quality gate
    assert(kept.contains(6L))

    val s = stats.head()
    assert(s.getAs[Long]("n_input") === 6L)
    assert(s.getAs[Long]("n_after_gates") === 4L)
    assert(s.getAs[Long]("n_after_exact") === 3L)
    assert(s.getAs[Long]("n_after_neardup") === 2L)
  }

  test("composed pipeline ledger (q_corpus_pipeline): stage counts are " +
      "monotone through the doc stages and the shard histogram sums to the mix") {
    val df = graft.SparkEntry.queries("q_corpus_pipeline")(
      spark, "/root/testdata/sf0.001")
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docStages = Seq("00_input", "01_gated", "02_exact", "03_neardup",
      "04_decontaminated")
    docStages.foreach(k => assert(m.contains(k), s"missing ledger row $k"))
    docStages.sliding(2).foreach { case Seq(a, b) =>
      assert(m(a) >= m(b), s"$a=${m(a)} < $b=${m(b)} — stage grew")
    }
    assert(m("04_decontaminated") > 0)
    // chunking expands docs; packing compresses chunks into sequences
    assert(m("05_chunks") >= m("04_decontaminated"))
    assert(m("06_packs") <= m("05_chunks"))
    // mixing samples the decontaminated set; sharding partitions the mix
    assert(m("07_mixed") <= m("04_decontaminated"))
    val shardSum = m.collect { case (k, v) if k.startsWith("shard_") => v }.sum
    assert(shardSum === m("07_mixed"),
      s"shard histogram sums to $shardSum, expected ${m("07_mixed")}")
  }

  test("cluster-aware split (q_cluster_split): no near-dup cluster straddles " +
      "splits, every doc is assigned, and real multi-doc clusters exist") {
    val rows = graft.SparkEntry.queries("q_cluster_split")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => Set("train", "val", "test")(r.getString(2))))
    val byCluster = rows.groupBy(_.getLong(1))
    // the leak invariant: one split label per cluster
    byCluster.foreach { case (cl, rs) =>
      assert(rs.map(_.getString(2)).toSet.size === 1,
        s"cluster $cl straddles splits")
    }
    // the fixture must actually exercise the invariant (multi-doc clusters)
    assert(byCluster.exists(_._2.length > 1),
      "fixture has no multi-doc near-dup cluster — invariant untested")
  }
}
