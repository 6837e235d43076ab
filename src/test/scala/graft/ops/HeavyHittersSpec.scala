package graft.ops

import graft.SparkSpec

class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  /** Skewed fixture: key k appears k times, k in 1..40 (820 rows,
    * 40 distinct). With denom/numer = 25 the capacity is 25 < 40, so the
    * sketch genuinely prunes — and every key with cnt > 820/25 = 32.8
    * (keys 33..40) must come back with exact counts.
    */
  private def skewed = (1 to 40).flatMap(k => Seq.fill(k)(k.toLong)).toDF("k")

  test("exactOverThreshold equals GROUP BY ... HAVING on a pruning-capacity run") {
    val got = HeavyHitters.exactOverThreshold(skewed, "k", numer = 1, denom = 25)
      .as[(Long, Long)].collect().sorted
    val want = (33 to 40).map(k => (k.toLong, k.toLong)).sorted
    assert(got.toSeq === want)
  }

  test("MG guarantee: a just-above-threshold key survives adversarial eviction") {
    // 1 heavy key (60 copies) drowned in 540 singletons: N=600, k=10 —
    // every overflow decrements the heavy key's counter, but 60 > 600/10
    // means it cannot be evicted for good.
    val heavy = Seq.fill(60)(7L)
    val noise = (1000L until 1540L)
    val df = spark.sparkContext.parallelize(
      scala.util.Random.shuffle(heavy ++ noise), 8).toDF("k")
    val (cands, n) = HeavyHitters.candidates(df, "k", k = 10)
    assert(n === 600L)
    assert(cands.contains(7L), s"heavy key evicted; candidates=${cands.mkString(",")}")
    assert(cands.length <= 10)
  }

  test("result is partitioning-independent (mergeable summaries)") {
    for (p <- Seq(1, 3, 16)) {
      val got = HeavyHitters.exactOverThreshold(skewed.repartition(p), "k", 1, 25)
        .as[(Long, Long)].collect().sorted.toSeq
      assert(got === (33 to 40).map(k => (k.toLong, k.toLong)).sorted)
    }
  }

  test("null keys are excluded from both candidates and the threshold base") {
    val df = (Seq.fill(30)(Some(1L)) ++ Seq.fill(5)(Some(2L)) ++
      Seq.fill(10)(Option.empty[Long])).toDF("k")
    // N = 35 non-null; threshold cnt*2 > 35 → only key 1 (30 > 17.5)
    val got = HeavyHitters.exactOverThreshold(df, "k", numer = 1, denom = 2)
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 30L)))
  }

  test("phase-2 scan filters to candidates only (In pushdown present)") {
    val plan = HeavyHitters.exactOverThreshold(skewed, "k", 1, 25)
      .queryExecution.executedPlan.toString
    assert(plan.contains("k#") && plan.contains("Filter"), plan.take(800))
  }

  test("non-integral key columns are rejected loudly, not silently coerced") {
    // phase 1 sketches the key cast to long, phase 2 filters the native
    // column — for a string key those key spaces diverge, so it must throw
    val strings = Seq("a", "b", "a").toDF("k")
    val e = intercept[IllegalArgumentException] {
      HeavyHitters.exactOverThreshold(strings, "k", 1, 2)
    }
    assert(e.getMessage.contains("integral"))
  }
}
