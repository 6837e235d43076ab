package graft.ops

import graft.SparkSpec

class PrefixScanSpec extends SparkSpec {
  import spark.implicits._

  test("distributed cumulative sum equals the sequential scan") {
    val rnd = new scala.util.Random(42)
    val rows = (1L to 5000L).map(i => (i, rnd.nextInt(100).toLong))
    val df = rnd.shuffle(rows).toDF("k", "v").repartition(16)
    val got = PrefixScan.cumulativeSum(df, Seq("k"), "v", "cum", numParts = Some(8))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("cum")).toMap
    var acc = 0L
    rows.foreach { case (k, v) =>
      acc += v
      assert(got(k) === acc, s"mismatch at k=$k")
    }
  }

  test("input columns survive; works on a compound order key") {
    val df = Seq((1L, 1L, 10L, "a"), (1L, 2L, 5L, "b"), (2L, 1L, 7L, "c"))
      .toDF("g", "i", "v", "tag")
    val out = PrefixScan.cumulativeSum(df, Seq("g", "i"), "v", "cum")
    assert(out.columns.toSet === Set("g", "i", "v", "tag", "cum"))
    val m = out.collect().map(r => (r.getAs[Long]("g"), r.getAs[Long]("i")) -> r.getAs[Long]("cum")).toMap
    assert(m === Map((1L, 1L) -> 10L, (1L, 2L) -> 15L, (2L, 1L) -> 22L))
  }

  test("sequence packing positions chunks contiguously under the budget") {
    val chunks = Seq(
      (1L, 1L, 50L), (1L, 2L, 30L), (2L, 1L, 40L), (3L, 1L, 10L)
    ).toDF("doc_id", "chunk_idx", "n_tokens")
    val packed = graft.llm.TextAnalysis.packSequences(chunks, budget = 64)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx")) ->
        (r.getAs[Long]("seq_id"), r.getAs[Long]("tok_offset"))).toMap
    // cumulative starts: 0, 50, 80, 120 → seqs 0,0,1,1 at offsets 0,50,16,56
    assert(packed === Map(
      (1L, 1L) -> ((0L, 0L)), (1L, 2L) -> ((0L, 50L)),
      (2L, 1L) -> ((1L, 16L)), (3L, 1L) -> ((1L, 56L))))
  }
}
