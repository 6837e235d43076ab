package graft

import org.scalatest.funsuite.AnyFunSuite

/** Harness-logic tests for [[Bench]] — no Spark session needed: the
  * contended-vs-regressed gate, the flag rule, and the coverage-first
  * runs decision are pure bookkeeping and must behave identically in a
  * 30-second unit test and a 40-minute driver run.
  */
class BenchSpec extends AnyFunSuite {

  test("partitionFlags: contended flags self-identify, quiet flags stay regressed") {
    val spinStart = 50.0
    val spins = Map(
      "q_noise_a" -> 160.0, // 3.2× start spin — machine load, not a regression
      "q_noise_b" -> 80.0,  // 1.6× — still past the 1.5× gate
      "q_real" -> 55.0,     // quiet: a real regression must survive
      "q_border" -> 75.0)   // exactly 1.5× — NOT strictly greater, stays regressed
    val (regressed, contended, contendedChild) = Bench.partitionFlags(
      Seq("q_real", "q_noise_a", "q_border", "q_noise_b"),
      spins.get, spinStart)
    assert(regressed === Seq("q_border", "q_real"))
    assert(contended === Seq("q_noise_a", "q_noise_b"))
    assert(contendedChild.isEmpty)
  }

  test("partitionFlags: fully-contended run empties regressed; missing sample is conservative") {
    // simulated-contention shape: every sample >= 3× start spin
    val (r1, c1, cc1) = Bench.partitionFlags(
      Seq("a", "b", "c"), (_: String) => Some(200.0), 50.0)
    assert(r1.isEmpty && c1 === Seq("a", "b", "c") && cc1.isEmpty)
    // a flag with no recorded spin sample must NOT be excused
    val (r2, c2, cc2) = Bench.partitionFlags(
      Seq("q_unsampled"), (_: String) => None, 50.0)
    assert(r2 === Seq("q_unsampled") && c2.isEmpty && cc2.isEmpty)
  }

  test("partitionFlags v2: bursty child contention parks quiet-spin flags under contended_child") {
    // r13's failure shape: hogs idle during the ~40 ms probe window, so
    // the per-query spins read quiet — but the whole child ran 4.9× its
    // committed floor. The child gate must park these.
    val childRatios = Map("q_a" -> 4.9, "q_b" -> 4.9)
    val (r, c, cc) = Bench.partitionFlags(
      Seq("q_a", "q_b"), (_: String) => Some(45.0), 40.0,
      childRatios.get, (_: String) => false)
    assert(r.isEmpty && c.isEmpty && cc === Seq("q_a", "q_b"))
  }

  test("partitionFlags v2: a flag re-timed in a later child bypasses the child gate") {
    // planted real regression: its own child ran hot (the regression
    // itself inflated it), but a LATER fresh child reproduced the slow
    // time — that flag has cross-JVM evidence and must land regressed.
    val (r, c, cc) = Bench.partitionFlags(
      Seq("q_planted", "q_bursty"), (_: String) => Some(45.0), 40.0,
      Map("q_planted" -> 3.0, "q_bursty" -> 3.0).get,
      Set("q_planted"))
    assert(r === Seq("q_planted"))
    assert(cc === Seq("q_bursty"))
    assert(c.isEmpty)
  }

  test("partitionFlags v2: spin gate has precedence over the child gate") {
    // a re-timed flag whose RE-TIME sample was itself contended still
    // parks under contended (spin inline) — re-timing under load proves
    // nothing
    val (r, c, cc) = Bench.partitionFlags(
      Seq("q_x"), (_: String) => Some(200.0), 40.0,
      Map("q_x" -> 3.0).get, Set("q_x"))
    assert(r.isEmpty && c === Seq("q_x") && cc.isEmpty)
  }

  test("isFlagged: ratio + absolute excess, with the sub-3s deadband") {
    // classic regression: 10 s floor -> 16 s (1.6×, +6 s) flags
    assert(Bench.isFlagged(10.0, 16.0))
    // ratio past 1.5 but tiny absolute excess: never flags
    assert(!Bench.isFlagged(0.1, 0.3))
    // sub-3 s floor row: +1 s of run-order noise clears the old ratio
    // gate (0.9 -> 1.9 is 2.1×) but NOT the round-14 deadband
    assert(!Bench.isFlagged(0.9, 1.9))
    // sub-3 s floor row with second-scale evidence (+1.6 s) still flags
    assert(Bench.isFlagged(0.9, 2.5))
    // at/above the 3 s floor the old rule applies unchanged
    assert(Bench.isFlagged(3.0, 4.6))
    // no floor recorded: nothing to compare against
    assert(!Bench.isFlagged(0.0, 9.9))
  }

  test("decideRuns: coverage before precision") {
    // ample budget: remaining 30 min vs projected 20 min at runs=2 → 2
    assert(Bench.decideRuns(1800.0, 1200.0) === 2)
    // tight budget: 20 min budget vs 21 min projected at runs=2 → 1
    // (the r13 shape: the suite no longer fits at 2 runs — halve the
    // dominant term instead of dropping rows later)
    assert(Bench.decideRuns(1200.0, 1260.0) === 1)
    // boundary: exactly 1.25× margin keeps runs=2
    assert(Bench.decideRuns(1500.0, 1200.0) === 2)
    assert(Bench.decideRuns(1499.0, 1200.0) === 1)
  }

  test("graceMin: coverage phases get a bounded overrun window") {
    // 25% of the budget, floored at 2 min — catch-up must be able to
    // act even when the main plan ran the soft budget dry
    assert(Bench.graceMin(20L) === 5L)
    assert(Bench.graceMin(40L) === 10L)
    assert(Bench.graceMin(4L) === 2L)
  }

  test("Sf1HeavyIsolated rows are members of the sf1 tripwire set") {
    Bench.Sf1HeavyIsolated.foreach(n =>
      assert(Bench.Sf1Queries.contains(n), n))
  }

  private def tempFile(content: Option[String]): java.io.File = {
    val f = java.io.File.createTempFile("bench_floor", ".json")
    f.deleteOnExit()
    content match {
      case Some(c) => java.nio.file.Files.writeString(f.toPath, c)
      case None => f.delete()
    }
    f
  }

  test("a query that throws gets no time row, only a failed entry") {
    val boom: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (_, _) => throw new IllegalStateException("boom")
    // no session is touched: the build function throws before any action
    val out = Bench.timeQueries(null, "unused", Seq("q_boom" -> boom), runs = 2,
      keyPrefix = "sf1:", prev = Map("sf1:q_boom" -> 1.0), retryFlagged = true)
    assert(out === Seq(Bench.Failed("sf1:q_boom", "IllegalStateException: boom")))
    // a failed row is done: neither a follow-up child nor catch-up re-queues it
    val batch = Bench.Batch(sf1 = true, Seq("q_boom", "q_other"), runs = 1)
    assert(batch.unfinished(out.map(_.key).toSet) === Seq("q_other"))
    // and it blocks the floor write even when every other row landed
    assert(Bench.floorBlockers("sf", Some("sf"), Bench.FloorKeys,
      failed = 1, runsDegraded = false, childrenTimedOut = 0).contains("1 queries failed"))
  }

  test("committed floor: a quiet, complete run over exactly today's registry") {
    val sf = Bench.readFloor(Bench.FloorFile, "").sf
    assert(sf.nonEmpty)
    val floor = Bench.readFloor(Bench.FloorFile, sf.get)
    Seq("runs_degraded", "partial", "children_timed_out").foreach(k =>
      assert(!floor.fields(k), k))
    assert(floor.queries.keySet ===
      SparkEntry.queries.keySet ++ Bench.Sf1Queries.map("sf1:" + _))
  }

  test("readFloor: missing file and another sf give an empty floor") {
    assert(Bench.readFloor(tempFile(None), "/data/sf0.1").queries.isEmpty)
    val other = tempFile(Some(Bench.line(Seq("queries" -> Map("q_a" -> 1.5),
      "sf" -> "/data/sf0.01", "cal_spin_start_ms" -> 40.0))))
    val f = Bench.readFloor(other, "/data/sf0.1")
    assert(f.queries.isEmpty && f.sf.contains("/data/sf0.01"))
    assert(Bench.readFloor(tempFile(Some("{\"queries\":{\"q_a\":1.")), "/data/sf0.1")
      .queries.isEmpty)
  }

  test("readFloor: a written line reads back identically, quotes and backslashes included") {
    val sf = "/data/sf \"0.1\" \\ v2"
    val queries = Map("q_a" -> 1.25, "q_\"quoted\"" -> 0.5, "sf1:q_back\\slash" -> 3.0)
    val file = tempFile(Some(Bench.line(Seq("metric" -> "total", "queries" -> queries,
      "sf" -> sf, "runs_degraded" -> true, "cal_spin_start_ms" -> 39.1)) + "\n"))
    assert(Bench.readFloor(file, sf) === Bench.Floor(Some(sf), queries, Some(39.1),
      Set("metric", "queries", "sf", "runs_degraded", "cal_spin_start_ms")))
  }

  test("progress lines: round trip, a torn last line and non-JSON lines are skipped") {
    val outcomes = Seq(Bench.Timed("q_\"a\"\\b", 1.234, 41.5),
      Bench.Failed("sf1:q_c", "SparkException: bad \"input\"\tat\\x"))
    val lines = outcomes.map(Bench.progressLine)
    val out = ("WARN some log line" +: lines :+ "{\"q\":\"q_torn\",\"sec\":2.").mkString("\n")
    assert(Bench.parseProgress(out) === outcomes)
    assert(Bench.parseProgress("") === Seq.empty)
  }

  test("floor guard: degraded, timed-out, missing, failed and other-sf runs keep the floor") {
    def blockers(sf: String = "s", floorSf: Option[String] = Some("s"),
        measured: Set[String] = Bench.FloorKeys, failed: Int = 0,
        degraded: Boolean = false, timedOut: Int = 0) =
      Bench.floorBlockers(sf, floorSf, measured, failed, degraded, timedOut)
    assert(blockers().isEmpty) // a clean run writes
    assert(blockers(floorSf = None).isEmpty) // and may start a floor
    assert(blockers(degraded = true) === Seq("runs degraded"))
    assert(blockers(timedOut = 2) === Seq("2 children timed out"))
    assert(blockers(measured = Bench.FloorKeys.filterNot(_.startsWith("sf1:"))) ===
      Seq(s"${Bench.Sf1Queries.size} rows missing"))
    assert(blockers(failed = 1) === Seq("1 queries failed"))
    assert(blockers(sf = "other") === Seq("floor is at s"))
  }

  test("Batch: the child command line round-trips") {
    val b = Bench.Batch(sf1 = false, Seq("q_a", "q_b"), runs = 1)
    assert(Bench.Batch.parse(b.args) === Some(b))
    val s = Bench.Batch(sf1 = true, Seq("q_c"), runs = 1)
    assert(Bench.Batch.parse(s.args) === Some(s))
    // hand-typed defaults: two runs at sf0.1, the whole sf1 section
    assert(Bench.Batch.parse(Seq("--batch", "q_a")) === Some(Bench.Batch(false, Seq("q_a"), 2)))
    assert(Bench.Batch.parse(Seq("--sf1-batch")) ===
      Some(Bench.Batch(true, Bench.Sf1Queries, 1)))
    assert(Bench.Batch.parse(Seq("q_a")) === None)
  }

  test("fitCompact: detail caps shrink until the line fits 2,000 chars") {
    val line = (cap: Int) => "x" * (300 * cap)
    assert(Bench.fitCompact(line).length === 1500) // cap 5
    assert(Bench.fitCompact(_ => "x" * 3000).length === 3000) // cap 0: nothing left to drop
  }
}
