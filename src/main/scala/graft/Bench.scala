package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): runs every registered query against
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line with per-query wall-clock.
  * A warmup action first so JVM/classloader/codegen startup is not billed
  * to whichever query happens to run first.
  *
  * Execution model (round 9): the full suite forks FRESH CHILD JVMs per
  * batch of ~50 queries (plus one for the sf1 section). Rounds 4-8 all
  * hit the same failure mode — with 240+ timed runs in one JVM, late
  * rows absorb accumulated heap/JIT/page-cache pressure, inflating
  * untouched queries 1.5-2.2× and drifting the committed baseline until
  * real regressions hide under the rising floor while phantom ones get
  * flagged. Fresh-JVM batches bound that pressure to ~50 queries; the
  * cost is a few extra session startups (~15 s each, untimed).
  *
  * Resilience model (round 12): batches run sequentially, HEAVY-FIRST
  * (unrecorded queries, then heaviest-by-previous-timing; the sf1 child
  * second), so budget exhaustion drops the sub-second tail instead of
  * the signal. Children print one JSON progress line per finished
  * query; a timed-out or crashed child's finished rows are HARVESTED
  * from its output file, and only the unfinished names go to one
  * follow-up child (never a same-size retry of a timeout — under
  * contention it just times out again; in-process fallback only after
  * a crash). After every batch the artifact (BENCH_LOCAL.json + a
  * compact summary line on stdout) is rewritten over results-so-far,
  * so a run killed at ANY point still leaves a parseable snapshot.
  * Child timeouts are weighted slices of the remaining wall budget
  * (SPARK_GRAFT_BENCH_BUDGET_MIN, default 40; the sf1 child weighs 4×
  * an sf0.1 batch).
  *
  * Regression tracking: the line also carries `vs_prev` — this run's
  * per-query time divided by the same query's time in the latest
  * baseline (BENCH_LOCAL.json, else the newest driver BENCH_r{N}.json at
  * the same SF) — and `regressed`, the queries that got >1.5× slower
  * AND >0.25 s absolutely. A query that lands past that gate is re-timed
  * on the spot (cache cleared, GC nudged, min-of-2 retry, best kept), so
  * a flag that survives IS a reproduced regression, not run-order noise.
  *
  * Contention gating (round 13): every timed query also records ITS OWN
  * calibration-spin sample (the wall of a fixed single-thread loop,
  * taken right after the query — ~40-65 ms quiet, inflating
  * proportionally under co-tenant CPU load). A flagged query whose own
  * spin exceeded 1.5× the run's start spin is parked under
  * `"contended":{name: spin_ms}` instead of `"regressed"`: round 12's
  * driver artifact carried 31 `regressed` flags that ALL adjudicated as
  * machine noise (probe 45→164 ms in the same line), and a reader
  * should never have to cross-reference two fields to learn the flag
  * list is vacuous. `regressed` now holds only flags reproduced at
  * quiet spin — a planted real regression on a quiet box still lands
  * there, while a fully-contended run emits `regressed:[]` with the
  * noise self-identified.
  *
  * Coverage-first degradation (round 14): r13's driver run lost 136 of
  * 399 rows to budget-skipped batches while spending its budget on
  * SECOND runs of rows it had already timed. The harness now degrades
  * precision before coverage, in order:
  *   1. before each sf0.1 child, [[decideRuns]] compares the remaining
  *      budget against the remaining projected cost at runs=2 — if it
  *      doesn't fit with margin, that child and all later ones run at
  *      runs=1 (halving the dominant term). No row gets its run 2 while
  *      any row still has no run 1 under a tight budget.
  *   2. after the main plan, any rows still missing (skipped batches,
  *      twice-killed children) are RE-QUEUED into catch-up children at
  *      runs=1 until the budget truly dies — a skipped batch loses its
  *      second run, never its rows.
  * Spin-gate v2 (round 14): the per-query spin probe misses BURSTY
  * contention (hogs that idle during the ~40 ms probe window). Each
  * child now also records its own contention ratio — Σ measured secs /
  * Σ committed-floor secs over its already-recorded rows. A flag from a
  * child whose ratio exceeded 2× parks under
  * `"contended_child":{name: ratio}` UNLESS the row was re-timed in a
  * later child (see below) — then a surviving flag is a reproduced
  * regression and stays in `regressed`. After catch-up, remaining
  * quiet-spin quiet-child flags get ONE re-time child (runs=1, min
  * merged), so every `regressed` entry in a full run is reproduced in a
  * SECOND JVM, not a single contended sample. Sub-3 s floor rows also
  * need an absolute +1.5 s excess to flag at all (second-scale rows are
  * run-order-noise-dominated; see [[isFlagged]]).
  *
  * Heavy-row isolation (round 14): the two heaviest sf1 rows
  * (`q_bootstrap_ci_b20`, `q_graph_ppr`) run in their own single-row
  * children — a timeout there costs one row, not a 24-row chunk.
  */
object Bench {

  /** Per-query seconds from the previous run at the same SF: prefer the
    * repo-local BENCH_LOCAL.json (written by the previous Bench run —
    * always the complete line), falling back to the newest driver
    * BENCH_r{N}.json. The driver file stores only the last 2000 chars of
    * our output, so once the suite outgrew that window the embedded line
    * lost its head — the local file exists precisely so regression
    * tracking never depends on the driver's tail budget.
    */
  /** The committed floor's OWN quiet start-spin (cal_spin_start_ms from
    * the same line [[prevBench]] reads) — the contended-vs-regressed
    * gate's fallback reference for runs that begin already contended.
    */
  private[graft] def prevSpinStart(repoDir: String): Option[Double] = {
    val local = new java.io.File(repoDir, "BENCH_LOCAL.json")
    if (!local.isFile) None
    else {
      val src = scala.io.Source.fromFile(local, "UTF-8")
      val txt = try src.mkString finally src.close()
      "\"cal_spin_start_ms\":([0-9.]+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble)
    }
  }

  private[graft] def prevBench(repoDir: String, sfDir: String): Map[String, Double] = {
    val re = "BENCH_r(\\d+)\\.json".r
    val newest = Option(new java.io.File(repoDir).listFiles()).getOrElse(Array.empty)
      .flatMap(f => f.getName match {
        case re(n) => Some(n.toInt -> f)
        case _ => None
      }).sortBy(_._1).lastOption.map(_._2)
    val local = new java.io.File(repoDir, "BENCH_LOCAL.json")
    (Seq(local).filter(_.isFile) ++ newest.toSeq).iterator.map { f =>
      val txt = {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        // the driver embeds our JSON line escaped inside its "tail" field;
        // unescaping makes both the raw and the wrapped format parseable
        try src.mkString.replace("\\\"", "\"") finally src.close()
      }
      val sameSf = "\"sf\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt)
        .exists(_.group(1) == sfDir)
      val qIdx = txt.indexOf("\"queries\":{")
      if (!sameSf || qIdx < 0) Map.empty[String, Double]
      else {
        val body = txt.substring(qIdx + "\"queries\":{".length, txt.indexOf('}', qIdx))
        "\"([^\"]+)\":([-+0-9.eE]+)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }.find(_.nonEmpty).getOrElse(Map.empty)
  }

  /** Bench-only sf1 variants. The sf1 bootstrap row exists to catch
    * superlinearity in the ×B explode, not to tighten the CI — at B=40
    * it was ~25% of the whole sf1 section (88-96 s of md5 derivations),
    * drowning the tripwire's sensitivity for everything else. B=20
    * halves the constant while the linearity contract stays observable;
    * the oracle-verified B=40 form remains `q_bootstrap_ci` at sf0.01
    * and in the sf0.1 section.
    */
  private[graft] val Sf1Overrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bootstrap_ci_b20" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_id").isNotNull && col("value").isNotNull)
        .withColumn("v4", floor(col("value") * 10000 + 0.5).cast("long"))
      graft.ops.Bootstrap.meanCI(ev, "event_type", "v4", "event_id", b = 20)
    })
  )

  /** Queries timed again at 10× the bench SF (the "sf1" section): the
    * most expensive pipelines, where a scale regression (a plan that went
    * quadratic, a shuffle that stopped coalescing) shows up as a superlinear
    * wall-clock jump rather than jitter. Each registry record carries its
    * own `sf1` flag and, where one applies, the scale contract it guards.
    */
  private[graft] val Sf1Queries: Seq[String] =
    SparkEntry.specs.filter(_.sf1).map(_.name) ++ Sf1Overrides.keys

  /** sf1 rows heavy enough to own a single-row child JVM (round 14):
    * a timeout or contention burst there costs one row, not the chunk.
    */
  private[graft] val Sf1HeavyIsolated = Seq("q_bootstrap_ci_b20", "q_graph_ppr")

  private def sf1Query(name: String): (SparkSession, String) => DataFrame =
    Sf1Overrides.getOrElse(name, SparkEntry.queries(name))

  /** Materialize a 10×-scaled copy of `sfDir` into `outDir`.
    *
    * documents are replicated verbatim under fresh ids (`doc_id*16+rep`):
    * any text rewrite would shift the language/quality gate selectivity in
    * `q_corpus_scrub`, so the honest scale-up is the dup-heavy corpus — 10×
    * the input mass and ~C(10,2)× the candidate-pair mass through the
    * near-dup machinery, exactly the shape a web-scale dedup faces.
    * lineitem/orders replicate under remapped order keys (`key*16+rep`) so
    * the star join's fact side truly grows while its FK into orders holds;
    * dimension tables are symlinked unchanged.
    */
  private[graft] def prepareScaled(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    // Reuse marker (round 12): a follow-up sf1 child (re-timing only a
    // killed child's unfinished rows) must not pay the ~1-2 min 10×
    // rebuild again. The marker is written AFTER a successful build and
    // carries the source dir + its lineitem mtime, so regenerated
    // testdata still forces a rebuild; a child killed mid-build leaves
    // no marker and the next attempt rebuilds from scratch.
    val marker = new java.io.File(outDir, "_graft_prepared")
    // layout=v2 (round 16): the stamp carries a fixture-layout version so
    // changing how the copy is WRITTEN (not what it contains) invalidates
    // a stale pre-change copy on disk.
    val srcStamp =
      s"$sfDir@${new java.io.File(s"$sfDir/lineitem.parquet").lastModified}@layout=v2"
    if (marker.isFile) {
      val prior =
        try java.nio.file.Files.readString(marker.toPath)
        catch { case _: Throwable => "" }
      if (prior == srcStamp) return
    }
    val root = new java.io.File(outDir)
    rm(root); root.mkdirs()
    val rep = explode(array((0 until 10).map(lit): _*)).as("__rep")
    // Splittable output (round 16, guide §2.5 "input skew: one huge
    // unsplittable file" / §6): the 10× copy used to be written through
    // the source's single-row-group scan — ONE task, ONE output file,
    // ONE row group — so every sf1 row opened with a serialized
    // one-task scan (+3-4.5 s measured on the edge-build and melt map
    // sides at sf1: stage profiles showed wall ≈ task_ms on "19-task"
    // stages where only the row-group-owning task did work). A
    // production input is thousands of files; a round-robin
    // repartition to the session's parallelism before the write makes
    // the fixture's layout match that posture. Same rows, same values —
    // only file layout changes; the sf1 section times the same queries
    // against honestly-splittable input.
    def write(df: DataFrame, name: String): Unit =
      df.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    write(docs.select(col("*"), rep)
      .withColumn("doc_id", col("doc_id") * 16 + col("__rep")).drop("__rep"),
      "documents")
    // part/supp keys are remapped per replica too: the graph queries
    // (triangles, pagerank) build their edge sets from DISTINCT
    // (l_partkey, l_suppkey) pairs, so verbatim replicas would collapse
    // back to the base-scale graph and the sf1 row would measure nothing.
    // Namespacing both keys makes the co-supplier graph 10 disjoint copies
    // — a genuine 10× graph. No sf1 query joins lineitem to part/supplier.
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    write(li.select(col("*"), rep)
      .withColumn("l_orderkey", col("l_orderkey") * 16 + col("__rep"))
      .withColumn("l_partkey", col("l_partkey") * 16 + col("__rep"))
      .withColumn("l_suppkey", col("l_suppkey") * 16 + col("__rep")).drop("__rep"),
      "lineitem")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
    write(ord.select(col("*"), rep)
      .withColumn("o_orderkey", col("o_orderkey") * 16 + col("__rep")).drop("__rep"),
      "orders")
    // embeddings replicate verbatim under fresh ids: identical vectors are
    // cosine-1 cliques, the dup-heavy shape for semantic dedup
    val embSrc = java.nio.file.Paths.get(s"$sfDir/embeddings.parquet")
    if (java.nio.file.Files.exists(embSrc)) {
      val emb = spark.read.parquet(embSrc.toString)
      write(emb.select(col("*"), rep)
        .withColumn("vec_id", col("vec_id") * 16 + col("__rep")).drop("__rep"),
        "embeddings")
    }
    // events replicate under namespaced user ids (and fresh event ids):
    // user population grows 10× while the event-type taxonomy and time
    // range stay fixed — the honest scale-up (taxonomies don't grow with
    // traffic). Cohort/funnel see 10× user sequences; cusum/spearman see
    // 10× rows flowing into the same series grid.
    val evSrc = java.nio.file.Paths.get(s"$sfDir/events.parquet")
    if (java.nio.file.Files.exists(evSrc)) {
      val ev = spark.read.parquet(evSrc.toString)
      write(ev.select(col("*"), rep)
        .withColumn("event_id", col("event_id") * 16 + col("__rep"))
        .withColumn("user_id", col("user_id") * 16 + col("__rep")).drop("__rep"),
        "events")
    }
    Seq("customer", "supplier", "part", "nation", "region")
      .foreach { t =>
        val src = java.nio.file.Paths.get(s"$sfDir/$t.parquet")
        if (java.nio.file.Files.exists(src))
          java.nio.file.Files.createSymbolicLink(
            java.nio.file.Paths.get(s"$outDir/$t.parquet"), src)
      }
    java.nio.file.Files.writeString(marker.toPath, srcStamp)
    ()
  }

  private def newSession(sfDir: String, warm: Boolean): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // bench measures dataflow: one big trigger per live streaming query
    // (multi-batch semantics are Verify's and StreamingSpec's job)
    if (!sys.props.contains("graft.stream.filesPerTrigger"))
      sys.props("graft.stream.filesPerTrigger") = "8"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: the driver keeps only a bounded tail of our
    // combined output, and streaming-query WARN spam (AQE-disabled
    // notices etc., hundreds of lines over 200 queries) is exactly what
    // pushed the round-8/9 summary line out of that window.
    spark.sparkContext.setLogLevel("ERROR")
    // Warmup: touch every table once (schema read + codegen paths).
    if (warm) warmTables(spark, sfDir)
    spark
  }

  /** Untimed first-touch of every table under `dir` (schema read, footer
    * decode, page-cache fill, codegen classes). The sf0.1 children warm
    * via `newSession(warm = true)`; the sf1 child calls this AFTER
    * [[prepareScaled]] against the SCALED dir — round 12's sf1 child
    * opened cold and its first timed row absorbed the 10× fixture's
    * first-touch (judge measured `sf1:q_winnowing_pairs` 13.98 s when it
    * ran first vs 6.80 s behind a sacrificial query).
    */
  private def warmTables(spark: SparkSession, dir: String): Unit =
    try {
      Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "events", "documents", "embeddings")
        .foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
    } catch { case _: Throwable => () }

  /** Fixed single-thread calibration spin (~40 ms quiet): its wall time
    * inflates under co-tenant CPU pressure. Sampled after EVERY timed
    * query (closing the round-11 between-children blind spot: transient
    * load inside a 10-min child window was invisible) and merged across
    * child JVMs via the `spin_max_ms` field each child prints.
    */
  private[graft] def calSpinMs(): Double = {
    var x = 0L; var i = 0
    val t = System.nanoTime()
    while (i < 30000000) { x += (i.toLong * i) % 7; i += 1 }
    if (x == Long.MinValue) println("") // defeat dead-code elimination
    (System.nanoTime() - t) / 1e6
  }
  @volatile private[graft] var spinMaxMs: Double = 0.0

  /** Per-query contention sample: the calibration-spin wall observed
    * right after each timed query, keyed exactly like the results map
    * ("sf1:" prefix included). In-process timing fills it directly;
    * fork-parent runs harvest it from the children's per-query progress
    * lines (which carry the query's OWN sample, not the cumulative max).
    */
  private val spinByQuery = scala.collection.mutable.Map.empty[String, Double]

  /** The regression-flag rule, shared by the retry gate, the emit-time
    * flag list, and the re-time phase: ratio > 1.5× AND > 0.25 s
    * absolute excess, AND — for floor rows under 3 s — at least +1.5 s
    * absolute (round 14: r13's three cry-wolf sf1 flags were all
    * sub-3 s rows where ±1 s of run-order noise clears a pure ratio
    * gate; second-scale rows need second-scale evidence).
    */
  private[graft] def isFlagged(prevSec: Double, nowSec: Double): Boolean =
    prevSec > 0 && nowSec / prevSec > 1.5 && nowSec - prevSec > 0.25 &&
      (prevSec >= 3.0 || nowSec - prevSec > 1.5)

  /** Coverage-before-precision (round 14): pick the per-query run count
    * for the NEXT sf0.1 child. runs=2 only while the remaining budget
    * covers the remaining projected cost at runs=2 with a 25% margin;
    * otherwise drop to runs=1 — first-run coverage of every row beats
    * second-run precision on some (r13 lost 136 rows to batches skipped
    * AFTER earlier batches had spent the budget on second runs).
    */
  private[graft] def decideRuns(remainingSec: Double,
      projRuns2Sec: Double): Int =
    if (remainingSec >= projRuns2Sec * 1.25) 2 else 1

  /** Grace window for the coverage phases (round 14, demo-run lesson):
    * a 20-min budget whose natural runs=1 cost is ~21 min left 240 rows
    * missing because the catch-up phase was gated on the SAME exhausted
    * budget. Catch-up and re-time may overrun the soft budget by up to
    * 25% (≥2 min) — an artifact that lands a few minutes late with every
    * row timed beats a punctual one missing a third of its rows; the
    * overrun is recorded in the line (`grace_used_min`). The MAIN plan
    * loop still defers at the soft budget, so second runs never spend
    * the grace.
    */
  private[graft] def graceMin(budgetMin: Long): Long =
    math.max(2L, budgetMin / 4)

  /** Partition flagged queries into (regressed, contendedSpin,
    * contendedChild).
    *
    * Gate 1 (per-query spin): a flag whose own spin sample exceeded
    * `1.5 × spinStart` at measurement time is contention noise by
    * construction (the probe is a fixed single-thread loop — only
    * machine load moves it). A flag with no recorded sample is NOT
    * excused (conservative).
    *
    * Gate 2 (per-child ratio, round 14): bursty hogs can idle during
    * the probe window, so a quiet-spin flag from a child whose whole
    * measured mass ran >2× its committed floor is still contention —
    * UNLESS the row was re-timed in a LATER child (`retimed`), in which
    * case the flag reproduced across JVMs and is a real regression.
    *
    * `spinStart` must be the QUIET reference — callers pass
    * min(this run's start spin, the committed floor's start spin): a
    * run that STARTS contended would otherwise gate against its own
    * inflated baseline and never park anything (observed live: start
    * 60.3 ms under 48 hogs, samples 60-131 — zero parked against
    * 1.5 × 60.3 where every one parks against 1.5 × the floor's 39.1).
    */
  private[graft] def partitionFlags(flagged: Seq[String],
      spinOf: String => Option[Double],
      spinStart: Double,
      childRatioOf: String => Option[Double] = _ => None,
      retimed: String => Boolean = _ => false)
      : (Seq[String], Seq[String], Seq[String]) = {
    val gate = spinStart * 1.5
    val (contendedSpin, rest) =
      flagged.partition(k => spinOf(k).exists(_ > gate))
    val (contendedChild, regressed) =
      rest.partition(k => !retimed(k) && childRatioOf(k).exists(_ > 2.0))
    (regressed.sorted, contendedSpin.sorted, contendedChild.sorted)
  }

  /** Time `entries` (min of `runs` each) with the flag-retry protocol.
    * With `progress = true` (the fork-child modes), one compact JSON
    * line per FINISHED query is printed and flushed as it completes —
    * the parent harvests these from a timed-out/crashed child's output
    * file, so a killed child still contributes every row it measured
    * (round 11 burned ~12 min on a twice-killed batch that had timed
    * 40+ of its 50 queries each attempt and contributed nothing).
    */
  private def timeQueries(spark: SparkSession, dir: String,
      entries: Seq[(String, (SparkSession, String) => DataFrame)],
      runs: Int, keyPrefix: String, prev: Map[String, Double],
      retryFlagged: Boolean, progress: Boolean = false): Seq[(String, Double)] = {
    def flagged(k: String, v: Double): Boolean =
      prev.get(k).exists(p => isFlagged(p, v))
    entries.map { case (name, fn) =>
      def timeOnce(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, dir).count() } catch { case _: Throwable => -1L }
        (System.nanoTime() - t0) / 1e9
      }
      val key = keyPrefix + name
      val first = (1 to runs).map(_ => timeOnce()).min
      val best =
        if (!retryFlagged || !flagged(key, first)) first
        else {
          spark.catalog.clearCache(); System.gc()
          math.min(first, (1 to 2).map(_ => timeOnce()).min)
        }
      val spin = calSpinMs()
      spinMaxMs = math.max(spinMaxMs, spin)
      spinByQuery(key) = spin
      if (progress) {
        println(s"""{"q":"$key","sec":$best,"spin_ms":${math.round(spin * 10) / 10.0}}""")
        System.out.flush()
      }
      key -> best
    }
  }

  private def jsonQueries(all: Seq[(String, Double)]): String =
    all.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** Outcome of one fork-child attempt. `rows` is ALWAYS everything the
    * child measured — for a completed child, its final queries map; for
    * a timed-out or crashed child, the per-query progress lines
    * harvested from its output file. Timeouts and crashes are distinct
    * because their retry policies differ: a crash (OOM, classload races
    * with a concurrent compile) is transient and worth one same-shape
    * retry of the unfinished names; a TIMEOUT under contention will
    * time out again at the same size (round 11: 2 × 6 min burned on the
    * same batch for zero retained rows) — the only sane follow-up is a
    * smaller child over just the unfinished names.
    */
  private sealed trait ChildOutcome { def rows: Seq[(String, Double)] }
  private case class ChildDone(rows: Seq[(String, Double)]) extends ChildOutcome
  private case class ChildTimedOut(rows: Seq[(String, Double)]) extends ChildOutcome
  private case class ChildCrashed(rows: Seq[(String, Double)]) extends ChildOutcome

  /** Per-query progress lines from a (possibly killed) child's output. */
  private def parseProgress(out: String): Seq[(String, Double)] =
    "\\{\"q\":\"([^\"]+)\",\"sec\":([-+0-9.eE]+)".r.findAllMatchIn(out)
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq

  /** Fork `graft.Bench <childArgs>` in a fresh JVM (same module opens,
    * heap, and classpath as this one — `run / fork := true` means
    * java.class.path is the real application classpath) and parse its
    * output. Completed children yield their final queries map; killed
    * ones yield whatever progress lines they flushed (round 12: a
    * timed-out child salvages its completed rows instead of discarding
    * them — the caller then re-runs only the unfinished names).
    *
    * Child stdout/stderr are redirected to files (`/tmp/graft_bench_child_
    * <tag>.{out,err}`), not inherited: reading the out-FILE after waitFor
    * removes the unsynchronized reader-thread handoff (a timed-out join
    * had no happens-before edge to its `var out`), and — load-bearing for
    * the driver — keeps the parent's stdout/stderr free of the children's
    * Spark WARN spam, so the driver's bounded log tail always ends with
    * our latest summary JSON line instead of 2,000 chars of WARNs (the
    * exact failure shape of the empty round-8/9 artifacts).
    */
  private def forkChild(childArgs: Seq[String],
      timeoutMin: Long): ChildOutcome = {
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = new java.io.File(
        new java.io.File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
      val cp = System.getProperty("java.class.path")
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench") ++ childArgs
      val tag = childArgs.headOption.getOrElse("x").replaceAll("[^a-zA-Z0-9]", "") +
        "_" + math.abs(childArgs.hashCode())
      val outFile = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_bench_child_$tag.out")
      val errFile = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_bench_child_$tag.err")
      val pb = new java.lang.ProcessBuilder(cmd.asJava)
      pb.redirectOutput(outFile)
      pb.redirectError(errFile)
      val p = pb.start()
      val timedOut = !p.waitFor(timeoutMin, java.util.concurrent.TimeUnit.MINUTES)
      if (timedOut) {
        p.destroyForcibly()
        p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
      }
      val out =
        try java.nio.file.Files.readString(outFile.toPath)
        catch { case _: Throwable => "" }
      // merge the child's in-window contention probes into the parent's
      // (final-line spin_max_ms AND per-query spin_ms progress samples)
      ("\"spin_max_ms\":([0-9.]+)".r.findAllMatchIn(out) ++
        "\"spin_ms\":([0-9.]+)".r.findAllMatchIn(out))
        .foreach(m => spinMaxMs = math.max(spinMaxMs, m.group(1).toDouble))
      // per-query spin samples feed the contended-vs-regressed gate
      "\\{\"q\":\"([^\"]+)\",\"sec\":[-+0-9.eE]+,\"spin_ms\":([0-9.]+)".r
        .findAllMatchIn(out)
        .foreach(m => spinByQuery(m.group(1)) = m.group(2).toDouble)
      if (timedOut) {
        val partial = parseProgress(out)
        System.err.println(s"[bench] child timed out after ${timeoutMin}m — " +
          s"salvaged ${partial.size} finished rows (log: $errFile)")
        return ChildTimedOut(partial)
      }
      if (p.exitValue() != 0) {
        val partial = parseProgress(out)
        System.err.println(s"[bench] child exit ${p.exitValue()} — " +
          s"salvaged ${partial.size} finished rows (log: $errFile)")
        return ChildCrashed(partial)
      }
      val qIdx = out.indexOf("\"queries\":{")
      if (qIdx < 0) {
        System.err.println("[bench] child emitted no queries map")
        ChildCrashed(parseProgress(out))
      } else {
        val body = out.substring(qIdx + "\"queries\":{".length, out.indexOf('}', qIdx))
        ChildDone("\"([^\"]+)\":([-+0-9.eE]+)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toSeq)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] fork failed: ${e.getMessage}")
      ChildCrashed(Seq.empty)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val prev = prevBench("/root/repo", sfDir)

    // ---- child / utility modes -------------------------------------
    if (args.headOption.contains("--prepare-sf1")) {
      // materializes the 10×-scaled copy of sfDir into /tmp/graft_bench_sf1
      // and exits: adjudication runs then point SPARK_GRAFT_SF_DIR at it
      // for isolated min-of-4 timing without rebuilding the data per run.
      val spark = newSession(sfDir, warm = false)
      prepareScaled(spark, sfDir, "/tmp/graft_bench_sf1")
      println(s"""{"prepared":"/tmp/graft_bench_sf1","from":"$sfDir"}""")
      spark.stop()
      return
    }
    if (args.headOption.contains("--batch")) {
      // fresh-JVM batch child: time the named queries at sfDir, print a
      // progress line per finished query (the parent's salvage source if
      // this JVM is killed) and the full line at the end (parent parses
      // the queries map), write nothing. `--runs=1` (round 14) is the
      // parent's coverage-first degradation: one timed run per query.
      val runs = if (args.contains("--runs=1")) 1 else 2
      val names = args.drop(1).filterNot(_.startsWith("--")).toSet
      val spark = newSession(sfDir, warm = true)
      val entries = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => names(n) }
      val res = timeQueries(spark, sfDir, entries, runs = runs, keyPrefix = "",
        prev = prev, retryFlagged = true, progress = true)
      println(s"""{"metric":"batch","queries":${jsonQueries(res)},"sf":"$sfDir","spin_max_ms":${math.round(spinMaxMs * 10) / 10.0}}""")
      spark.stop()
      return
    }
    if (args.headOption.contains("--sf1-batch")) {
      // fresh-JVM sf1 child: build (or reuse — prepareScaled marker) the
      // 10× copy, time the sf1 tripwire rows (one run each —
      // multi-second queries, jitter is proportionally small), print
      // progress lines + the full line. Extra args filter the tripwire
      // set: the parent's follow-up child after a timeout re-times ONLY
      // the unfinished rows.
      val only = args.drop(1).filterNot(_.startsWith("--")).toSet
      val spark = newSession(sfDir, warm = false)
      val scaledDir = "/tmp/graft_bench_sf1"
      prepareScaled(spark, sfDir, scaledDir)
      warmTables(spark, scaledDir) // untimed: first row must not absorb first-touch
      val entries = Sf1Queries.filter(n => only.isEmpty || only(n))
        .map(n => n -> sf1Query(n))
      val res = timeQueries(spark, scaledDir, entries, runs = 1,
        keyPrefix = "sf1:", prev = prev, retryFlagged = true, progress = true)
      println(s"""{"metric":"batch","queries":${jsonQueries(res)},"sf":"$sfDir","spin_max_ms":${math.round(spinMaxMs * 10) / 10.0}}""")
      spark.stop()
      return
    }

    // ---- filtered adjudication mode ---------------------------------
    // Extra args act as a query-name filter: isolated re-timing of a
    // handful of queries with 4 runs each, for adjudicating "regressed"
    // flags without a 200-query suite around them. Filtered runs never
    // touch BENCH_LOCAL.json and skip the sf1 section.
    if (args.nonEmpty) {
      val filter = args.toSet
      val spark = newSession(sfDir, warm = true)
      val entries = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => filter(n) }
      val res = timeQueries(spark, sfDir, entries, runs = 4, keyPrefix = "",
        prev = prev, retryFlagged = false)
      val total = res.map(_._2).sum
      // real vs_prev for the selected keys (`regressed` stays empty by
      // design: adjudication runs EXIST to re-examine flags, not raise
      // them — the human reads the ratios directly)
      val vs = res.flatMap { case (k, v) =>
        prev.get(k).filter(_ > 0).map(p =>
          "\"" + k + "\":" + (math.round(v / p * 1000) / 1000.0))
      }.mkString("{", ",", "}")
      println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${jsonQueries(res)},"sf":"$sfDir","vs_prev":$vs,"regressed":[]}""")
      spark.stop()
      return
    }

    // ---- full suite ---------------------------------------------------
    // Round 10: BATCH-GRANULAR resilience. Rounds 8 and 9 both left the
    // driver with no artifact (empty / rc-124) because (a) one failed
    // fork child discarded every completed batch and re-ran the whole
    // suite single-JVM — a guaranteed timeout under any budget — and
    // (b) nothing was emitted until the final sf1 child finished, so a
    // killed run left only Spark WARNs in the log tail. Now:
    //   - batches run sequentially; a failed child is retried ONCE, and
    //     if that fails too, ONLY that batch runs in-process (shared
    //     lazily-created fallback session). Completed work is never
    //     discarded or repeated.
    //   - after EVERY batch, BENCH_LOCAL.json is rewritten with the full
    //     line over results-so-far and ONE complete compact summary line
    //     (≤2,000 chars) is printed, so a kill -9 at ANY point leaves the
    //     driver's log tail ending in a parseable snapshot of every
    //     completed batch.
    //   - per-child timeouts are budget-bound: remaining wall budget
    //     (SPARK_GRAFT_BENCH_BUDGET_MIN, default 40) split across the
    //     remaining children, floored at 6 min — not a flat 40 min that a
    //     single wedged child could eat whole. If the budget is exhausted,
    //     remaining batches are SKIPPED (reported in the line) rather
    //     than risking the artifact.
    // HEAVY-FIRST ordering (round 12): queries with no previous
    // recording go first (a new operator's first timing is information
    // the round cannot get any other way), then known queries heaviest
    // to cheapest — so when the wall budget dies under contention, what
    // drops is the sub-second tail, not the graph/near-dup signal. The
    // sf1 tripwire child runs SECOND for the same reason (it is the
    // single heaviest child and the one a budget collapse used to
    // silence entirely).
    val allNames = SparkEntry.queries.keys.toSeq
      .sortBy(n => (prev.contains(n), -prev.getOrElse(n, 0.0), n))
    val sf1Enabled = !sys.env.get("SPARK_GRAFT_SF1").contains("0")
    val forkEnabled = !sys.env.get("SPARK_GRAFT_FORK").contains("0")
    val budgetMin = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_MIN", "40").toLong
    // hard wall for the COVERAGE phases only (see [[graceMin]]): the
    // main plan loop defers at budgetMin; catch-up and re-time may run
    // up to this
    val budgetHardMin = budgetMin + graceMin(budgetMin)
    val t0 = System.nanoTime()
    def elapsedMin: Double = (System.nanoTime() - t0) / 6e10

    // Ambient-contention telemetry (round 11): the round-11 full runs
    // sat a median 1.4× above the committed floor while isolated
    // re-timing landed every row back AT the floor — co-tenant machine
    // load over the ~30-min suite window, invisible in the artifact
    // until now and only diagnosable forensically. The probe: a FIXED
    // single-thread spin timed in the (otherwise idle) parent before
    // each child. Quiet box → constant wall; CPU contention → the spin
    // inflates proportionally. `cal_spin_max_ms / cal_spin_start_ms ≳ 2`
    // reads as "discount this run's absolute numbers; adjudicate flags
    // isolated" — in the artifact, not re-derived next round. (A 1-min
    // loadavg can't serve here: between children it still carries the
    // previous child's own decaying load.)
    calSpinMs() // JIT warm-up; discard
    val spinStart = calSpinMs()
    spinMaxMs = math.max(spinMaxMs, spinStart)
    // gate reference: the quiet of {this run's start, the committed
    // floor's start} — a run that BEGINS contended must not normalize
    // its own inflation away (see partitionFlags)
    val spinRef = prevSpinStart("/root/repo")
      .map(math.min(_, spinStart)).getOrElse(spinStart)

    var sf1Error: Option[String] = None
    var skipped = 0
    var fellBack = 0
    var timedOutChildren = 0
    var fallback: Option[SparkSession] = None
    def fallbackSession(): SparkSession = fallback.getOrElse {
      val s = newSession(sfDir, warm = true); fallback = Some(s); s
    }

    // (tag, sf0.1 query names | names-filter for the sf1 children). The
    // sf1 children slot in SECOND (see heavy-first note above).
    // Round 13: the sf1 section is CHUNKED into fresh JVMs of ≤24 rows
    // like the sf0.1 batches — a single 70-row sf1 child accumulated the
    // same heap/JIT pressure the sf0.1 batching exists to bound (this
    // round's single-child run inflated its late rows up to 4× their
    // isolated floors: graph_hits 84.7 s in-suite vs 20.5 s min-of-4).
    // The prepareScaled marker makes the 10× fixture build a one-time
    // cost paid by the first chunk; later chunks reuse it.
    // Round 14 (20-min demo lesson): decide the INITIAL runs BEFORE the
    // plan is built — a budget that cannot fit runs=2 cannot afford 7+
    // sf0.1 child startups either. At runs=1 each child carries half the
    // runs=2 heap/JIT pressure, so 100-row children hold the r9 pressure
    // bound while halving the startup+warm overhead.
    val projRuns2All =
      allNames.map(n => prev.getOrElse(n, 1.0)).sum * 2 +
        60.0 * (allNames.size / 50 + 1) +
        (if (sf1Enabled)
          Sf1Queries.map(n => prev.getOrElse("sf1:" + n, 5.0)).sum +
            150.0 + 40.0 * 4
        else 0.0)
    var runsDegraded = decideRuns(budgetMin * 60.0, projRuns2All) == 1
    if (runsDegraded)
      System.err.println(s"[bench] coverage-first: budget ${budgetMin}m < projected runs=2 cost ${math.round(projRuns2All / 60)}m x1.25 - runs=1, 100-row children from the start")
    val sf0Batches = allNames.grouped(if (runsDegraded) 100 else 50)
      .toSeq.map(b => "--batch" +: b)
    // Round 14: the two heaviest sf1 rows get single-row children — they
    // dominated (and under contention, blew) any chunk they shared
    // (r13 driver: bootstrap 239 s, ppr 166 s in timed-out children); a
    // timeout now costs one row, not a 24-row chunk.
    val sf1Batches: Seq[Seq[String]] =
      if (sf1Enabled)
        Sf1HeavyIsolated.filter(Sf1Queries.contains).map(n => Seq("--sf1-batch", n)) ++
          Sf1Queries.filterNot(Sf1HeavyIsolated.contains)
            .grouped(24).toSeq.map(c => "--sf1-batch" +: c)
      else Seq.empty
    val plan: Seq[Seq[String]] =
      if (sf0Batches.nonEmpty)
        (sf0Batches.head +: sf1Batches) ++ sf0Batches.tail
      else sf1Batches

    // Results accumulate by MIN per key: catch-up and re-time children
    // can re-measure a row, and floor semantics keep the best
    // observation (identical to the min-of-N inside one child, spread
    // across JVMs).
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]    // sf0.1
    val sf1Results = scala.collection.mutable.LinkedHashMap.empty[String, Double] // sf1:
    // (declared before mergeRows, which records into it)
    val retimedKeys = scala.collection.mutable.Set.empty[String]
    // A row merged when it ALREADY has a recorded time was by definition
    // re-measured in a later child (each child reports one min-of-N row
    // per key, and children within one batch cover disjoint names) — so
    // catch-up/salvage re-measurements count as re-timed evidence, not
    // just the dedicated re-time phase (round-15 ADVICE fix: a flag
    // reproduced by a quiet catch-up child no longer waits for an extra
    // JVM to prove what was already measured twice).
    def mergeRows(rows: Seq[(String, Double)]): Unit = rows.foreach { case (k, v) =>
      val into = if (k.startsWith("sf1:")) sf1Results else results
      if (into.contains(k)) retimedKeys += k
      into(k) = into.get(k).map(math.min(_, v)).getOrElse(v)
    }
    // Spin-gate v2 state: per-query child-contention ratio (the whole
    // child ran >2x its committed floor) and the re-timed set (rows
    // measured again in a LATER child — their flags are reproduced, not
    // single-sample).
    val childRatioByQuery = scala.collection.mutable.Map.empty[String, Double]
    var sf1Prepared = false

    /** Record child-level contention: if this child's measured mass ran
      * >2x its committed floor (only rows WITH a floor count; needs >=5 s
      * of floor mass to be meaningful), every row it measured carries
      * the child ratio — bursty contention the per-query spin probe
      * slept through still self-identifies.
      */
    def recordChildRatio(rows: Seq[(String, Double)]): Unit = {
      val known = rows.filter { case (k, _) => prev.getOrElse(k, 0.0) > 0 }
      val prevSum = known.map { case (k, _) => prev(k) }.sum
      if (prevSum >= 5.0) {
        val ratio = math.round(known.map(_._2).sum / prevSum * 100) / 100.0
        if (ratio > 2.0) rows.foreach { case (k, _) =>
          childRatioByQuery(k) =
            math.max(childRatioByQuery.getOrElse(k, 0.0), ratio)
        }
      }
    }

    /** Rewrite BENCH_LOCAL.json + print the compact summary over
      * everything completed so far. Called after every batch AND at the
      * end (where it emits the final, complete line).
      */
    def emit(batchesDone: Int, full: Boolean = false): Unit = {
      val all = (results ++ sf1Results).toSeq
      val total = math.round(results.valuesIterator.sum * 1000) / 1000.0
      val vsPrev = all.flatMap { case (k, v) =>
        prev.get(k).filter(_ > 0).map(p => k -> v / p)
      }
      val vsStr = vsPrev.map { case (k, r) =>
        "\"" + k + "\":" + (math.round(r * 1000) / 1000.0)
      }.mkString("{", ",", "}")
      // flag rule (shared isFlagged): ratio AND absolute excess, with
      // the round-14 deadband for sub-3 s floor rows
      val flaggedKeys = all.collect {
        case (k, v) if prev.get(k).exists(p => isFlagged(p, v)) => k
      }
      // gates: per-query spin (contended), then per-child ratio
      // (contended_child) unless the row was re-timed in a later child
      val (regressedKeys, contSpinKeys, contChildKeys) =
        partitionFlags(flaggedKeys, spinByQuery.get, spinRef,
          childRatioByQuery.get, retimedKeys)
      val regressed = regressedKeys.map("\"" + _ + "\"").mkString("[", ",", "]")
      val contended = contSpinKeys
        .map(k => "\"" + k + "\":" +
          (math.round(spinByQuery(k) * 10) / 10.0))
        .mkString("{", ",", "}")
      val contendedChild = contChildKeys
        .map(k => "\"" + k + "\":" + childRatioByQuery(k))
        .mkString("{", ",", "}")
      val retimedStr = retimedKeys.toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val sf1Err = sf1Error.map(m => s""","sf1_error":"$m"""").getOrElse("")
      // precise partiality: rows actually missing vs the full plan (a
      // salvaged timed-out child may still have contributed everything
      // via its follow-up / the catch-up phase — then NOT partial)
      val expectedRows = allNames.size +
        (if (sf1Enabled) Sf1Queries.size else 0)
      val missingRows = expectedRows - all.size
      val timeoutSeg =
        if (timedOutChildren > 0) s""","children_timed_out":$timedOutChildren""" else ""
      val degradedSeg = (if (runsDegraded) s""","runs_degraded":true""" else "") +
        (if (elapsedMin > budgetMin)
          s""","grace_used_min":${math.round((elapsedMin - budgetMin) * 10) / 10.0}"""
        else "")
      val partial =
        if (missingRows > 0)
          s""","partial":true,"batches_done":$batchesDone,"batches_total":${plan.size},"batches_skipped":$skipped,"rows_missing":$missingRows""" + timeoutSeg + degradedSeg
        else timeoutSeg + degradedSeg
      val spin = s""","cal_spin_start_ms":${math.round(spinStart * 10) / 10.0},"cal_spin_ref_ms":${math.round(spinRef * 10) / 10.0},"cal_spin_max_ms":${math.round(spinMaxMs * 10) / 10.0}"""
      // Adjudication sidecar (round-15 ADVICE fix): floor bookkeeping
      // like floor_appended / floor_adjudicated used to be hand-merged
      // into BENCH_LOCAL.json and silently lost on the next emit. Keep
      // such annotations in BENCH_ADJUDICATION.json ({"key":value,...});
      // emit() splices its top-level keys into every line it writes, so
      // the committed artifact's self-description survives re-runs.
      val sidecar = try {
        val p = java.nio.file.Paths.get("/root/repo/BENCH_ADJUDICATION.json")
        if (java.nio.file.Files.exists(p)) {
          val t = java.nio.file.Files.readString(p).trim
          if (t.length > 2 && t.startsWith("{") && t.endsWith("}"))
            "," + t.substring(1, t.length - 1).trim
          else ""
        } else ""
      } catch { case _: Throwable => "" }
      val line =
        s"""{"metric":"total","value":$total,"unit":"sec","queries":${jsonQueries(all)},"sf":"$sfDir","vs_prev":$vsStr,"regressed":$regressed,"contended":$contended,"contended_child":$contendedChild,"retimed":$retimedStr$sf1Err$partial$spin$sidecar}"""
      // The full line (200+ query times + vs_prev ratios) outgrew the
      // driver's 2000-char log-tail window long ago: printing it means
      // the tail snapshot truncates mid-map. Full-suite runs persist it
      // to BENCH_LOCAL.json ONLY (the committed per-query baseline) and
      // print just the compact summary — ONE complete JSON line well
      // under the window, so the driver's `tail` always parses.
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("/root/repo/BENCH_LOCAL.json"), line + "\n")
      catch { case _: Throwable => () }
      val slowest = results.toSeq.sortBy(-_._2).take(8)
        .map { case (k, v) => "\"" + k + "\":" + (math.round(v * 1000) / 1000.0) }
        .mkString("{", ",", "}")
      val sf1Slowest = sf1Results.toSeq.sortBy(-_._2).take(6)
        .map { case (k, v) => "\"" + k + "\":" + (math.round(v * 1000) / 1000.0) }
        .mkString("{", ",", "}")
      val sf1Total = math.round(sf1Results.valuesIterator.sum * 1000) / 1000.0
      val regressedCapped = regressedKeys.take(20)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val contendedCapped = contSpinKeys.take(12)
        .map(k => "\"" + k + "\":" +
          (math.round(spinByQuery(k) * 10) / 10.0))
        .mkString("{", ",", "}") +
        (if (contSpinKeys.size > 12) s""","n_contended":${contSpinKeys.size}""" else "")
      val contChildCapped = contChildKeys.take(12)
        .map(k => "\"" + k + "\":" + childRatioByQuery(k))
        .mkString("{", ",", "}")
      val compact = s"""{"metric":"total","value":${math.round(total * 1000) / 1000.0},"unit":"sec","n_queries":${results.size},"sf":"$sfDir","sf1_total_sec":$sf1Total$sf1Err$partial$spin,"slowest":$slowest,"sf1_slowest":$sf1Slowest,"regressed":$regressedCapped,"contended":$contendedCapped,"contended_child":$contChildCapped,"n_retimed":${retimedKeys.size},"full_line":"BENCH_LOCAL.json"}"""
      // Driver contract (round 16): the bench must print ONE JSON line
      // whose `queries` map carries EVERY per-query second — the
      // optimization driver diffs per-query times and measures per-query
      // core-count scaling from it, and rounds 12-15's compact-only
      // stdout left PERF_r15 with per_query={} / now_bench_ok=false.
      // Progressive per-batch emits keep printing the ≤2,000-char
      // compact line (a kill -9 mid-run must still leave a parseable
      // snapshot inside the driver's 2,000-char log tail); the FINAL
      // emit prints the full line as the last stdout line instead. The
      // compact twin goes to stderr for humans either way.
      if (full) {
        println(line)
        System.err.println(compact)
      } else println(compact)
      System.out.flush()
    }

    /** Run one batch in THIS JVM — only ever for the batch whose child
      * failed twice; completed fork results are untouched.
      */
    def inProcess(childArgs: Seq[String]): Seq[(String, Double)] =
      try {
        val spark = fallbackSession()
        if (childArgs.headOption.contains("--sf1-batch")) {
          val only = childArgs.drop(1).filterNot(_.startsWith("--")).toSet
          val scaledDir = "/tmp/graft_bench_sf1"
          prepareScaled(spark, sfDir, scaledDir)
          warmTables(spark, scaledDir)
          timeQueries(spark, scaledDir,
            Sf1Queries.filter(n => only.isEmpty || only(n))
              .map(n => n -> sf1Query(n)), runs = 1,
            keyPrefix = "sf1:", prev = prev, retryFlagged = true)
        } else {
          val runs = if (childArgs.contains("--runs=1")) 1 else 2
          val names = childArgs.drop(1).filterNot(_.startsWith("--")).toSet
          val entries = SparkEntry.queries.toSeq.sortBy(_._1)
            .filter { case (n, _) => names(n) }
          timeQueries(spark, sfDir, entries, runs = runs, keyPrefix = "",
            prev = prev, retryFlagged = true)
        }
      } catch {
        case e: Throwable =>
          val msg = (e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse(""))
            .replaceAll("[\"\\\\\\r\\n]", " ").take(160)
          if (childArgs.headOption.contains("--sf1-batch")) sf1Error = Some(msg)
          System.err.println(s"[bench] in-process batch failed: $msg")
          Seq.empty
      }

    // Per-child wall budgets are WEIGHTED BY EXPECTED COST from the
    // previous floor (runs x sum of prev seconds + fixed startup; the
    // FIRST sf1 child adds the 10x prepare, later ones reuse the
    // marker). A uniform split gave the heavy-first batch 1 the same
    // slice as the sub-second tail — at 2 runs per query it grazed the
    // 6-min floor on a quiet box (run 2, round 12) and burned a
    // follow-up child for nothing. Unknown queries count 1 s (sf0.1) /
    // 5 s (sf1). The floor stays a lower bound only — an oversized
    // timeout on a cheap batch costs nothing.
    def expectedSec(childArgs: Seq[String], runs: Int): Double =
      if (childArgs.headOption.contains("--sf1-batch")) {
        val names = {
          val explicit = childArgs.drop(1).filterNot(_.startsWith("--"))
          if (explicit.nonEmpty) explicit else Sf1Queries
        }
        names.map(n => prev.getOrElse("sf1:" + n, 5.0)).sum +
          (if (sf1Prepared) 40.0 else 150.0)
      } else childArgs.drop(1).filterNot(_.startsWith("--"))
        .map(n => prev.getOrElse(n, 1.0)).sum * runs + 60.0
    def weightOf(j: Int): Double =
      expectedSec(plan(j), if (runsDegraded) 1 else 2)

    val childFloorMin =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_CHILD_MIN", "6").toLong

    plan.zipWithIndex.foreach { case (baseArgs, i) =>
      spinMaxMs = math.max(spinMaxMs, calSpinMs())
      val remainingMin = budgetMin - elapsedMin
      if (remainingMin < 2) {
        // rows are NOT lost here: the catch-up phase below re-queues
        // every missing row at runs=1 against whatever budget remains
        skipped += 1
        System.err.println(s"[bench] budget exhausted — deferring batch ${i + 1}/${plan.size} to catch-up")
      } else {
        val isSf1 = baseArgs.headOption.contains("--sf1-batch")
        // Coverage-first (round 14): before this child launches, does
        // the REMAINING budget cover the REMAINING projected cost at
        // runs=2 with margin? If not, this and all later sf0.1 children
        // run at runs=1 — the dominant term halves before any row risks
        // being dropped. One-way: precision never re-escalates mid-run.
        if (!isSf1 && !runsDegraded) {
          val projRuns2 = (i until plan.size).map(j => expectedSec(plan(j), 2)).sum
          if (decideRuns(remainingMin * 60.0, projRuns2) == 1) {
            runsDegraded = true
            System.err.println(s"[bench] coverage-first: remaining budget ${math.round(remainingMin)}m < projected runs=2 cost ${math.round(projRuns2 / 60)}m x1.25 — degrading to runs=1")
          }
        }
        val childArgs =
          if (!isSf1 && runsDegraded) baseArgs.head +: "--runs=1" +: baseArgs.tail
          else baseArgs
        if (isSf1) sf1Prepared = true
        val batchNames: Seq[String] = {
          val explicit = childArgs.drop(1).filterNot(_.startsWith("--"))
          if (isSf1 && explicit.isEmpty) Sf1Queries else explicit
        }
        def keyOf(n: String): String = if (isSf1) "sf1:" + n else n
        val remWeight = (i until plan.size).map(weightOf).sum
        def slice(): Long =
          math.max(childFloorMin,
            ((budgetMin - elapsedMin) * weightOf(i) / remWeight).toLong)
        // Retry policy (round 12): a TIMED-OUT child keeps its salvaged
        // rows and gets ONE follow-up child over only the unfinished
        // names (a same-size retry of a timeout re-times out — r11
        // burned 12 min proving it); a CRASHED child gets one retry of
        // its unfinished names (crashes are transient), then the
        // in-process fallback for whatever is still missing. Nothing
        // measured is ever discarded. Follow-up --batch children always
        // run at runs=1 (coverage first — the batch already proved it
        // cannot afford 2 runs in its slice).
        def unfinishedOf(done: Seq[(String, Double)]): Seq[String] = {
          val doneKeys = done.map(_._1).toSet
          batchNames.filterNot(n => doneKeys(keyOf(n)))
        }
        def followArgs(unfinished: Seq[String]): Seq[String] =
          if (isSf1) childArgs.head +: unfinished
          else Seq(childArgs.head, "--runs=1") ++ unfinished
        val res: Seq[(String, Double)] =
          if (!forkEnabled) inProcess(childArgs)
          else forkChild(childArgs, slice()) match {
            case ChildDone(rows) => rows
            case first =>
              if (first.isInstanceOf[ChildTimedOut]) timedOutChildren += 1
              val unfinished = unfinishedOf(first.rows)
              val more: Seq[(String, Double)] =
                if (unfinished.isEmpty || budgetMin - elapsedMin < 2) Seq.empty
                else {
                  System.err.println(s"[bench] batch ${i + 1}/${plan.size}: " +
                    s"follow-up child for ${unfinished.size} unfinished queries")
                  forkChild(followArgs(unfinished), slice()) match {
                    case ChildDone(rows) => rows
                    case second =>
                      if (second.isInstanceOf[ChildTimedOut]) timedOutChildren += 1
                      val still = unfinishedOf(first.rows ++ second.rows)
                      // in-process only after a CRASH (its cost is
                      // bounded by the queries themselves); after two
                      // timeouts the box is contended — spending the
                      // remaining budget un-killable helps nothing
                      val rest =
                        if (second.isInstanceOf[ChildCrashed] && still.nonEmpty &&
                            budgetMin - elapsedMin >= 2) {
                          System.err.println(s"[bench] batch ${i + 1}/${plan.size}: " +
                            s"in-process fallback for ${still.size} queries")
                          fellBack += 1
                          inProcess(followArgs(still))
                        } else Seq.empty
                      second.rows ++ rest
                  }
                }
              first.rows ++ more
          }
        if (isSf1 && res.isEmpty && sf1Error.isEmpty)
          sf1Error = Some("sf1 child JVM failed (see stderr)")
        recordChildRatio(res)
        mergeRows(res)
        emit(i + 1)
      }
    }

    // ---- coverage catch-up (round 14): every missing row re-queued at
    // runs=1 against whatever budget remains. A batch skipped on budget
    // (or a twice-killed child's residue) loses its second run, never
    // its rows. Bounded at 3 rounds so a query that reliably kills its
    // JVM cannot loop forever.
    var catchupRound = 0
    while (catchupRound < 3 && budgetHardMin - elapsedMin >= 1 && {
        val m0 = allNames.filterNot(results.contains)
        val m1 = if (sf1Enabled)
          Sf1Queries.filterNot(n => sf1Results.contains("sf1:" + n))
          else Seq.empty
        m0.nonEmpty || m1.nonEmpty
      }) {
      catchupRound += 1
      val m0 = allNames.filterNot(results.contains)
      val m1 = if (sf1Enabled)
        Sf1Queries.filterNot(n => sf1Results.contains("sf1:" + n))
        else Seq.empty
      val chunks: Seq[Seq[String]] =
        m0.grouped(100).toSeq.map(c => Seq("--batch", "--runs=1") ++ c) ++
          m1.grouped(24).toSeq.map(c => "--sf1-batch" +: c)
      System.err.println(s"[bench] catch-up round $catchupRound: " +
        s"${m0.size} sf0.1 + ${m1.size} sf1 rows missing, ${chunks.size} children")
      chunks.zipWithIndex.foreach { case (ca, j) =>
        if (budgetHardMin - elapsedMin >= 1) {
          val sliceMin = math.max(childFloorMin,
            ((budgetHardMin - elapsedMin) / (chunks.size - j)).toLong)
          val out = forkChild(ca, sliceMin)
          if (out.isInstanceOf[ChildTimedOut]) timedOutChildren += 1
          recordChildRatio(out.rows)
          mergeRows(out.rows)
          if (sf1Prepared || ca.headOption.contains("--sf1-batch"))
            sf1Prepared = true
          emit(plan.size - skipped)
        }
      }
    }

    // ---- flag re-time (spin-gate v2, round 14): every surviving flag
    // gets ONE re-measurement in a LATER fresh child (min merged). A
    // flag that dissolves was run-order/contention noise; a flag that
    // survives is reproduced across two JVMs and earns `regressed`.
    val toRetime = (results ++ sf1Results).iterator.collect {
      case (k, v) if prev.get(k).exists(p => isFlagged(p, v)) &&
        !retimedKeys(k) && !spinByQuery.get(k).exists(_ > spinRef * 1.5) => k
    }.toSeq.sorted
    if (toRetime.nonEmpty && budgetHardMin - elapsedMin >= 1) {
      val f0 = toRetime.filterNot(_.startsWith("sf1:"))
      val f1 = toRetime.filter(_.startsWith("sf1:")).map(_.stripPrefix("sf1:"))
      val jobs: Seq[Seq[String]] =
        (if (f0.nonEmpty) Seq(Seq("--batch", "--runs=1") ++ f0) else Seq.empty) ++
          (if (f1.nonEmpty) Seq("--sf1-batch" +: f1) else Seq.empty)
      System.err.println(s"[bench] re-time child(ren) for ${toRetime.size} flagged rows")
      jobs.foreach { ca =>
        if (budgetHardMin - elapsedMin >= 1) {
          val out = forkChild(ca, math.max(childFloorMin,
            (budgetHardMin - elapsedMin).toLong))
          if (out.isInstanceOf[ChildTimedOut]) timedOutChildren += 1
          retimedKeys ++= out.rows.map(_._1)
          mergeRows(out.rows)
          emit(plan.size - skipped)
        }
      }
    }

    emit(plan.size - skipped, full = true)
    fallback.foreach(_.stop())
  }
}
