package graft

/** Smoke: every registered query runs and returns rows at sf0.001, and every
  * query has either an oracle or is explicitly registered as rows-only.
  */
class QueriesSmokeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("rows-only queries are exactly the documented whitelist") {
    // every other query MUST carry a DuckDB oracle — this guards against
    // accidentally dropping one during a refactor. The one rows-only
    // query decodes real PNG bytes through javax.imageio, which no SQL
    // oracle engine can replay; its determinism is pinned by
    // MultimodalSpec instead.
    val rowsOnly = SparkEntry.specs.filter(_.oracle.isEmpty).map(_.name)
    assert(rowsOnly === Seq("q_multimodal_decode"),
      s"unexpected rows-only queries: $rowsOnly")
  }

  test("spec names are unique and no sf1 spec shadows a bench override") {
    // queries/oracleSql are Maps built from the specs: a duplicate name
    // would silently keep only one of the two records
    val dups = SparkEntry.specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    assert(dups.isEmpty, s"duplicate spec names: $dups")
    val shadowed = SparkEntry.specs.filter(_.sf1).map(_.name).filter(Bench.Sf1Overrides.contains)
    assert(shadowed.isEmpty, s"sf1 specs named like a Bench.Sf1Overrides key: $shadowed")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"$name returned 0 rows")
    }
  }
}
