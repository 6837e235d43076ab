package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Try

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
  * the signal. A child prints one JSON progress line per finished query
  * and nothing else — that is its whole output record. A timed-out or
  * crashed child's finished rows are HARVESTED from its output file, and
  * only the unfinished names go to one follow-up child (never a
  * same-size retry of a timeout — under contention it just times out
  * again; in-process fallback only after a crash). After every batch a
  * compact summary line over results-so-far is printed, so a run killed
  * at ANY point still leaves a parseable snapshot. Child timeouts are
  * weighted slices of the remaining wall budget
  * (SPARK_GRAFT_BENCH_BUDGET_MIN, default 40; the sf1 child weighs 4×
  * an sf0.1 batch).
  *
  * Regression tracking: the line also carries `vs_prev` — this run's
  * per-query time divided by the same query's time in the committed
  * floor (BENCH_LOCAL.json, when it was measured at the same SF) — and
  * `regressed`, the queries that got >1.5× slower AND >0.25 s
  * absolutely. A query that lands past that gate is re-timed on the
  * spot (cache cleared, GC nudged, min-of-2 retry, best kept), so a flag
  * that survives IS a reproduced regression, not run-order noise. A
  * query that throws gets no time: it is listed under
  * `"failed":{name: "Class: msg"}` and is not re-queued.
  *
  * Floor rule: BENCH_LOCAL.json is the committed floor, the full line of
  * the last clean full-suite run. Only the FINAL emit of a full-suite
  * run replaces it, and only when every row landed, no query failed, no
  * child timed out, runs were not degraded and the run's SF equals the
  * floor's ([[floorBlockers]]); the line says `"floor_written"`. Notes
  * about a floor (adjudicated rows, provenance) are written into that
  * file by hand and live until a clean run replaces it.
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

  /** The one JSON codec for every line this harness reads or writes. */
  private[graft] val Json: ObjectMapper =
    new ObjectMapper().registerModule(DefaultScalaModule)

  private[graft] def line(fields: Seq[(String, Any)]): String =
    Json.writeValueAsString(ListMap(fields: _*))

  private def r1(x: Double): Double = math.round(x * 10) / 10.0
  private def r3(x: Double): Double = math.round(x * 1000) / 1000.0

  /** The committed floor, relative to the working directory (the repo
    * root under `sbt run`). */
  private[graft] val FloorFile = new java.io.File("BENCH_LOCAL.json")

  /** Where the sf1 section's 10×-scaled copy of the SF dir lives. */
  private val ScaledDir = "/tmp/graft_bench_sf1"

  /** The committed floor as a run reads it. `queries` holds per-query
    * seconds only when the floor was measured at this run's SF (it is
    * empty for a missing or unreadable file and for another SF);
    * `spinStartMs` is the floor's own quiet start spin, a machine
    * reference kept whatever the SF; `fields` are the line's top-level
    * keys.
    */
  private[graft] final case class Floor(sf: Option[String],
      queries: Map[String, Double], spinStartMs: Option[Double],
      fields: Set[String])

  private[graft] def readFloor(file: java.io.File, sfDir: String): Floor =
    try {
      val node = Json.readTree(file)
      def field(k: String) = Option(node.get(k))
      val sf = field("sf").map(_.asText)
      val queries =
        if (!sf.contains(sfDir)) Map.empty[String, Double]
        else field("queries").toSeq.flatMap(_.properties.asScala)
          .map(e => e.getKey -> e.getValue.asDouble).toMap
      Floor(sf, queries, field("cal_spin_start_ms").map(_.asDouble),
        node.properties.asScala.map(_.getKey).toSet)
    } catch { case _: java.io.IOException => Floor(None, Map.empty, None, Set.empty) }

  /** Why a finished full-suite run may NOT replace the committed floor;
    * empty means it may. `measured` are the keys that got a time, and
    * the floor must hold every registered row, sf1 section included.
    */
  private[graft] def floorBlockers(sf: String, floorSf: Option[String],
      measured: Set[String], failed: Int, runsDegraded: Boolean,
      childrenTimedOut: Int): Seq[String] = {
    val missing = FloorKeys.count(k => !measured(k))
    Seq(
      Option.when(missing > 0)(s"$missing rows missing"),
      Option.when(failed > 0)(s"$failed queries failed"),
      Option.when(runsDegraded)("runs degraded"),
      Option.when(childrenTimedOut > 0)(s"$childrenTimedOut children timed out"),
      floorSf.filter(_ != sf).map(f => s"floor is at $f")
    ).flatten
  }

  /** One query's result in a batch: the min-of-runs seconds with the
    * calibration spin sampled right after it, or the error that stopped
    * it (a failed query gets no time row).
    */
  private[graft] sealed trait Outcome { def key: String }
  private[graft] final case class Timed(key: String, sec: Double, spinMs: Double)
    extends Outcome
  private[graft] final case class Failed(key: String, error: String) extends Outcome

  /** The progress line a child prints, and flushes, per finished query. */
  private[graft] def progressLine(o: Outcome): String = o match {
    case Timed(k, sec, spin) => line(Seq("q" -> k, "sec" -> sec, "spin_ms" -> r1(spin)))
    case Failed(k, error) => line(Seq("q" -> k, "failed" -> error))
  }

  /** A child's outcomes, one per progress line in its stdout. A line
    * that is not a progress record (the torn last line of a killed
    * child, stray output) is skipped.
    */
  private[graft] def parseProgress(out: String): Seq[Outcome] =
    out.linesIterator.flatMap { l =>
      Try(Json.readTree(l)).toOption.filter(_.hasNonNull("q")).flatMap { n =>
        val key = n.get("q").asText
        if (n.hasNonNull("sec"))
          Some(Timed(key, n.get("sec").asDouble, n.path("spin_ms").asDouble))
        else if (n.hasNonNull("failed")) Some(Failed(key, n.get("failed").asText))
        else None
      }
    }.toSeq

  /** One child's work: the names to time (sf1 rows against the 10× copy)
    * and the timed runs per query. [[args]] and [[Batch.parse]] are the
    * child's command line, in one place.
    */
  private[graft] final case class Batch(sf1: Boolean, names: Seq[String], runs: Int) {
    def keyOf(name: String): String = if (sf1) "sf1:" + name else name
    /** The names whose result key `done` does not hold (timed or failed). */
    def unfinished(done: String => Boolean): Seq[String] =
      names.filterNot(n => done(keyOf(n)))
    def args: Seq[String] =
      (if (sf1) "--sf1-batch" else "--batch") +: s"--runs=$runs" +: names
  }

  private[graft] object Batch {
    /** `--batch|--sf1-batch [--runs=N] name...`; an sf1 batch without
      * names is the whole sf1 section. */
    def parse(args: Seq[String]): Option[Batch] = args.headOption.collect {
      case mode @ ("--batch" | "--sf1-batch") =>
        val sf1 = mode == "--sf1-batch"
        val names = args.tail.filterNot(_.startsWith("--"))
        val runs = args.collectFirst { case s"--runs=$n" => n.toInt }
          .getOrElse(if (sf1) 1 else 2)
        Batch(sf1, if (sf1 && names.isEmpty) Sf1Queries else names, runs)
    }
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

  /** The rows a committed floor holds: every registered query at the
    * bench SF, and the sf1 section under its `sf1:` prefix. */
  private[graft] val FloorKeys: Set[String] =
    SparkEntry.queries.keySet ++ Sf1Queries.map("sf1:" + _)

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
    * child JVMs via the `spin_ms` field of each progress line.
    */
  private[graft] def calSpinMs(): Double = {
    var x = 0L; var i = 0
    val t = System.nanoTime()
    while (i < 30000000) { x += (i.toLong * i) % 7; i += 1 }
    if (x == Long.MinValue) println("") // defeat dead-code elimination
    (System.nanoTime() - t) / 1e6
  }
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

  /** `Class: message`, first line only, short enough for a summary line. */
  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.nextOption().getOrElse("").take(160)

  /** Time `entries` (min of `runs` each) with the flag-retry protocol.
    * With `progress = true` (the fork-child modes), one JSON line per
    * FINISHED query is printed and flushed as it completes — the parent
    * harvests these from a timed-out/crashed child's output file, so a
    * killed child still contributes every row it measured (round 11
    * burned ~12 min on a twice-killed batch that had timed 40+ of its 50
    * queries each attempt and contributed nothing).
    */
  private[graft] def timeQueries(spark: SparkSession, dir: String,
      entries: Seq[(String, (SparkSession, String) => DataFrame)],
      runs: Int, keyPrefix: String, prev: Map[String, Double],
      retryFlagged: Boolean, progress: Boolean = false): Seq[Outcome] = {
    def flagged(k: String, v: Double): Boolean =
      prev.get(k).exists(p => isFlagged(p, v))
    entries.map { case (name, fn) =>
      def timeOnce(): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val key = keyPrefix + name
      val outcome =
        try {
          val first = (1 to runs).map(_ => timeOnce()).min
          val best =
            if (!retryFlagged || !flagged(key, first)) first
            else {
              spark.catalog.clearCache(); System.gc()
              math.min(first, (1 to 2).map(_ => timeOnce()).min)
            }
          Timed(key, best, calSpinMs())
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $key failed: ${describe(e)}")
          Failed(key, describe(e))
        }
      if (progress) {
        println(progressLine(outcome))
        System.out.flush()
      }
      outcome
    }
  }

  /** Time one batch in `spark`: sf0.1 rows in name order against `sfDir`,
    * sf1 rows in section order against the 10× copy (built or reused,
    * then warmed untimed so the first row does not absorb first-touch).
    * The child modes of [[main]] and the in-process crash fallback both
    * run batches here.
    */
  private def runBatch(spark: SparkSession, sfDir: String, batch: Batch,
      prev: Map[String, Double], progress: Boolean): Seq[Outcome] = {
    val names = batch.names.toSet
    if (batch.sf1) {
      prepareScaled(spark, sfDir, ScaledDir)
      warmTables(spark, ScaledDir)
      timeQueries(spark, ScaledDir, Sf1Queries.filter(names).map(n => n -> sf1Query(n)),
        batch.runs, "sf1:", prev, retryFlagged = true, progress)
    } else
      timeQueries(spark, sfDir,
        SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) => names(n) },
        batch.runs, "", prev, retryFlagged = true, progress)
  }

  /** `vs_prev`: this run's seconds over the floor's, per key the floor has. */
  private def vsPrev(rows: Seq[(String, Double)],
      prev: Map[String, Double]): ListMap[String, Double] =
    ListMap(rows.flatMap { case (k, v) =>
      prev.get(k).filter(_ > 0).map(p => k -> r3(v / p))
    }: _*)

  /** How one fork-child attempt ended. Timeouts and crashes are distinct
    * because their retry policies differ: a crash (OOM, classload races
    * with a concurrent compile) is transient and worth one same-shape
    * retry of the unfinished names; a TIMEOUT under contention will
    * time out again at the same size (round 11: 2 × 6 min burned on the
    * same batch for zero retained rows) — the only sane follow-up is a
    * smaller child over just the unfinished names. A child that exits 0
    * without a line for every name counts as crashed.
    */
  private sealed trait ChildEnd
  private case object Finished extends ChildEnd
  private case object TimedOut extends ChildEnd
  private case object Crashed extends ChildEnd

  /** One fork-child attempt: how it ended and ALWAYS everything it
    * measured (its progress lines, whether or not it finished). */
  private final case class ChildRun(end: ChildEnd, outcomes: Seq[Outcome])

  /** Fork `graft.Bench <batch.args>` in a fresh JVM (same module opens,
    * heap, and classpath as this one — `run / fork := true` means
    * java.class.path is the real application classpath) and parse its
    * progress lines, each once (round 12: a timed-out child salvages its
    * completed rows instead of discarding them — the caller then re-runs
    * only the unfinished names).
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
  private def forkChild(batch: Batch, timeoutMin: Long): ChildRun =
    try {
      val javaBin = new java.io.File(
        new java.io.File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
      val cp = System.getProperty("java.class.path")
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench") ++ batch.args
      val tag = (if (batch.sf1) "sf1batch" else "batch") + "_" + math.abs(batch.args.hashCode())
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
      val outcomes = parseProgress(
        try java.nio.file.Files.readString(outFile.toPath)
        catch { case _: Throwable => "" })
      val end =
        if (timedOut) TimedOut
        else if (p.exitValue() == 0 && batch.unfinished(outcomes.map(_.key).toSet).isEmpty)
          Finished
        else Crashed
      if (end != Finished)
        System.err.println(s"[bench] child " +
          (if (timedOut) s"timed out after ${timeoutMin}m" else s"exit ${p.exitValue()}") +
          s" — salvaged ${outcomes.size} finished rows (log: $errFile)")
      ChildRun(end, outcomes)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] fork failed: ${e.getMessage}")
      ChildRun(Crashed, Seq.empty)
    }

  /** The widest compact line, over detail caps 20, 10, 5, 2, 1 and 0,
    * that fits the driver's 2,000-char log tail. */
  private[graft] def fitCompact(compact: Int => String): String =
    Iterator(20, 10, 5, 2, 1).map(compact).find(_.length <= 2000)
      .getOrElse(compact(0))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val floor = readFloor(FloorFile, sfDir)
    val prev = floor.queries

    // ---- child / utility modes -------------------------------------
    if (args.headOption.contains("--prepare-sf1")) {
      // materializes the 10×-scaled copy of sfDir into ScaledDir and
      // exits: adjudication runs then point SPARK_GRAFT_SF_DIR at it
      // for isolated min-of-4 timing without rebuilding the data per run.
      val spark = newSession(sfDir, warm = false)
      prepareScaled(spark, sfDir, ScaledDir)
      println(line(Seq("prepared" -> ScaledDir, "from" -> sfDir)))
      spark.stop()
      return
    }
    Batch.parse(args.toSeq) match {
      case Some(batch) =>
        // fresh-JVM batch child: time the batch, print a progress line
        // per finished query (the parent's only record of this child,
        // and its salvage source if this JVM is killed), write nothing.
        // `--runs=1` (round 14) is the parent's coverage-first
        // degradation: one timed run per query.
        val spark = newSession(sfDir, warm = !batch.sf1)
        runBatch(spark, sfDir, batch, prev, progress = true)
        spark.stop()
        return
      case None => ()
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
      val times = res.collect { case Timed(k, sec, _) => k -> sec }
      // real vs_prev for the selected keys (`regressed` stays empty by
      // design: adjudication runs EXIST to re-examine flags, not raise
      // them — the human reads the ratios directly)
      println(line(Seq("metric" -> "total", "value" -> times.map(_._2).sum,
        "unit" -> "sec", "queries" -> ListMap(times: _*), "sf" -> sfDir,
        "vs_prev" -> vsPrev(times, prev), "regressed" -> Seq.empty[String],
        "failed" -> ListMap(res.collect { case Failed(k, e) => k -> e }: _*))))
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
    //   - after EVERY batch ONE complete compact summary line (≤2,000
    //     chars) over results-so-far is printed, so a kill -9 at ANY
    //     point leaves the driver's log tail ending in a parseable
    //     snapshot of every completed batch. BENCH_LOCAL.json is written
    //     only by the final emit, under the floor rule.
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
    var spinMaxMs = spinStart
    // gate reference: the quiet of {this run's start, the committed
    // floor's start} — a run that BEGINS contended must not normalize
    // its own inflation away (see partitionFlags)
    val spinRef = floor.spinStartMs.map(math.min(_, spinStart)).getOrElse(spinStart)

    var sf1Error: Option[String] = None
    var skipped = 0
    var fellBack = 0
    var timedOutChildren = 0
    var fallback: Option[SparkSession] = None
    def fallbackSession(): SparkSession = fallback.getOrElse {
      val s = newSession(sfDir, warm = true); fallback = Some(s); s
    }

    // The sf1 children slot in SECOND (see heavy-first note above).
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
      .toSeq.map(b => Batch(sf1 = false, b, runs = 2))
    // Round 14: the two heaviest sf1 rows get single-row children — they
    // dominated (and under contention, blew) any chunk they shared
    // (r13 driver: bootstrap 239 s, ppr 166 s in timed-out children); a
    // timeout now costs one row, not a 24-row chunk.
    val sf1Batches: Seq[Batch] =
      if (sf1Enabled)
        (Sf1HeavyIsolated.filter(Sf1Queries.contains).map(Seq(_)) ++
          Sf1Queries.filterNot(Sf1HeavyIsolated.contains).grouped(24))
          .map(Batch(sf1 = true, _, runs = 1))
      else Seq.empty
    val plan: Seq[Batch] =
      if (sf0Batches.nonEmpty)
        (sf0Batches.head +: sf1Batches) ++ sf0Batches.tail
      else sf1Batches

    // Results accumulate by MIN per key: catch-up and re-time children
    // can re-measure a row, and floor semantics keep the best
    // observation (identical to the min-of-N inside one child, spread
    // across JVMs).
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]    // sf0.1
    val sf1Results = scala.collection.mutable.LinkedHashMap.empty[String, Double] // sf1:
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Per-query contention sample: the calibration-spin wall observed
    // right after each timed query, keyed exactly like the results map
    // ("sf1:" prefix included) — the query's OWN sample, not the
    // cumulative max.
    val spinByQuery = scala.collection.mutable.Map.empty[String, Double]
    // A row is done once it is timed or has failed: catch-up re-queues
    // neither.
    def isDone(k: String): Boolean =
      results.contains(k) || sf1Results.contains(k) || failed.contains(k)
    // (declared before mergeRows, which records into it)
    val retimedKeys = scala.collection.mutable.Set.empty[String]
    // A row merged when it ALREADY has a recorded time was by definition
    // re-measured in a later child (each child reports one min-of-N row
    // per key, and children within one batch cover disjoint names) — so
    // catch-up/salvage re-measurements count as re-timed evidence, not
    // just the dedicated re-time phase (round-15 ADVICE fix: a flag
    // reproduced by a quiet catch-up child no longer waits for an extra
    // JVM to prove what was already measured twice).
    def mergeRows(outcomes: Seq[Outcome]): Unit = outcomes.foreach {
      case Timed(k, v, spin) =>
        val into = if (k.startsWith("sf1:")) sf1Results else results
        if (into.contains(k)) retimedKeys += k
        into(k) = into.get(k).map(math.min(_, v)).getOrElse(v)
        spinByQuery(k) = spin
        spinMaxMs = math.max(spinMaxMs, spin)
      case Failed(k, error) => failed(k) = error
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
    def recordChildRatio(outcomes: Seq[Outcome]): Unit = {
      val rows = outcomes.collect { case Timed(k, v, _) => k -> v }
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

    /** Print the compact summary over everything completed so far.
      * Called after every batch AND at the end, where it prints the
      * full line instead and, under the floor rule, writes it to
      * BENCH_LOCAL.json.
      */
    def emit(batchesDone: Int, full: Boolean = false): Unit = {
      val all = (results ++ sf1Results).toSeq
      val total = r3(results.valuesIterator.sum)
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
      def contended(n: Int) = ListMap(contSpinKeys.take(n).map(k => k -> r1(spinByQuery(k))): _*)
      def contendedChild(n: Int) = ListMap(contChildKeys.take(n).map(k => k -> childRatioByQuery(k)): _*)
      // precise partiality: rows actually missing vs the full plan (a
      // salvaged timed-out child may still have contributed everything
      // via its follow-up / the catch-up phase — then NOT partial)
      val missingRows = (allNames ++ (if (sf1Enabled) Sf1Queries.map("sf1:" + _) else Nil))
        .count(k => !isDone(k))
      val status: Seq[(String, Any)] =
        sf1Error.map("sf1_error" -> _).toSeq ++
          (if (missingRows > 0)
            Seq("partial" -> true, "batches_done" -> batchesDone,
              "batches_total" -> plan.size, "batches_skipped" -> skipped,
              "rows_missing" -> missingRows)
          else Nil) ++
          Option.when(timedOutChildren > 0)("children_timed_out" -> timedOutChildren) ++
          Option.when(runsDegraded)("runs_degraded" -> true) ++
          Option.when(elapsedMin > budgetMin)("grace_used_min" -> r1(elapsedMin - budgetMin)) ++
          Seq("cal_spin_start_ms" -> r1(spinStart),
            "cal_spin_ref_ms" -> r1(spinRef), "cal_spin_max_ms" -> r1(spinMaxMs))
      def slowest(rows: Iterable[(String, Double)], n: Int) =
        ListMap(rows.toSeq.sortBy(-_._2).take(n).map { case (k, v) => k -> r3(v) }: _*)
      def compact(cap: Int): String = line(
        Seq("metric" -> "total", "value" -> total, "unit" -> "sec",
          "n_queries" -> results.size, "sf" -> sfDir,
          "sf1_total_sec" -> r3(sf1Results.valuesIterator.sum)) ++
          status ++
          Seq("slowest" -> slowest(results, cap min 8),
            "sf1_slowest" -> slowest(sf1Results, cap min 6),
            "regressed" -> regressedKeys.take(cap),
            "contended" -> contended(cap min 12)) ++
          Option.when(contSpinKeys.size > (cap min 12))("n_contended" -> contSpinKeys.size) ++
          Seq("contended_child" -> contendedChild(cap min 12),
            "n_retimed" -> retimedKeys.size, "n_failed" -> failed.size))
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
        def fullLine(written: Boolean): String = line(
          Seq("metric" -> "total", "value" -> total, "unit" -> "sec",
            "queries" -> ListMap(all: _*), "sf" -> sfDir,
            "vs_prev" -> vsPrev(all, prev), "regressed" -> regressedKeys,
            "contended" -> contended(contSpinKeys.size),
            "contended_child" -> contendedChild(contChildKeys.size),
            "retimed" -> retimedKeys.toSeq.sorted) ++
            status ++
            Seq("failed" -> ListMap.from(failed), "floor_written" -> written))
        val blockers = floorBlockers(sfDir, floor.sf, all.map(_._1).toSet,
          failed.size, runsDegraded, timedOutChildren)
        val written = blockers.isEmpty && Try(java.nio.file.Files.writeString(
          FloorFile.toPath, fullLine(written = true) + "\n")).isSuccess
        if (!written)
          System.err.println(s"[bench] floor kept: ${if (blockers.isEmpty) "write failed" else blockers.mkString(", ")}")
        println(fullLine(written))
        System.err.println(fitCompact(compact))
      } else println(fitCompact(compact))
      System.out.flush()
    }

    /** Run one batch in THIS JVM — only ever for the batch whose child
      * failed twice; completed fork results are untouched.
      */
    def inProcess(batch: Batch): Seq[Outcome] =
      try runBatch(fallbackSession(), sfDir, batch, prev, progress = false)
      catch {
        case e: Throwable =>
          if (batch.sf1) sf1Error = Some(describe(e))
          System.err.println(s"[bench] in-process batch failed: ${describe(e)}")
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
    def expectedSec(batch: Batch, runs: Int): Double =
      if (batch.sf1)
        batch.names.map(n => prev.getOrElse("sf1:" + n, 5.0)).sum +
          (if (sf1Prepared) 40.0 else 150.0)
      else batch.names.map(n => prev.getOrElse(n, 1.0)).sum * runs + 60.0
    def weightOf(j: Int): Double =
      expectedSec(plan(j), if (runsDegraded) 1 else 2)

    val childFloorMin =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_CHILD_MIN", "6").toLong

    plan.zipWithIndex.foreach { case (planned, i) =>
      spinMaxMs = math.max(spinMaxMs, calSpinMs())
      val remainingMin = budgetMin - elapsedMin
      if (remainingMin < 2) {
        // rows are NOT lost here: the catch-up phase below re-queues
        // every missing row at runs=1 against whatever budget remains
        skipped += 1
        System.err.println(s"[bench] budget exhausted — deferring batch ${i + 1}/${plan.size} to catch-up")
      } else {
        // Coverage-first (round 14): before this child launches, does
        // the REMAINING budget cover the REMAINING projected cost at
        // runs=2 with margin? If not, this and all later sf0.1 children
        // run at runs=1 — the dominant term halves before any row risks
        // being dropped. One-way: precision never re-escalates mid-run.
        if (!planned.sf1 && !runsDegraded) {
          val projRuns2 = (i until plan.size).map(j => expectedSec(plan(j), 2)).sum
          if (decideRuns(remainingMin * 60.0, projRuns2) == 1) {
            runsDegraded = true
            System.err.println(s"[bench] coverage-first: remaining budget ${math.round(remainingMin)}m < projected runs=2 cost ${math.round(projRuns2 / 60)}m x1.25 — degrading to runs=1")
          }
        }
        val batch = if (!planned.sf1 && runsDegraded) planned.copy(runs = 1) else planned
        if (batch.sf1) sf1Prepared = true
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
        // measured is ever discarded. Follow-up children always run at
        // runs=1 (coverage first — the batch already proved it cannot
        // afford 2 runs in its slice).
        def unfinishedOf(done: Seq[Outcome]): Seq[String] =
          batch.unfinished(done.map(_.key).toSet)
        val first = forkChild(batch, slice())
        val res: Seq[Outcome] =
          if (first.end == Finished) first.outcomes
          else {
            if (first.end == TimedOut) timedOutChildren += 1
            val unfinished = unfinishedOf(first.outcomes)
            val more: Seq[Outcome] =
              if (unfinished.isEmpty || budgetMin - elapsedMin < 2) Seq.empty
              else {
                System.err.println(s"[bench] batch ${i + 1}/${plan.size}: " +
                  s"follow-up child for ${unfinished.size} unfinished queries")
                val second = forkChild(batch.copy(names = unfinished, runs = 1), slice())
                if (second.end == Finished) second.outcomes
                else {
                  if (second.end == TimedOut) timedOutChildren += 1
                  val still = unfinishedOf(first.outcomes ++ second.outcomes)
                  // in-process only after a CRASH (its cost is
                  // bounded by the queries themselves); after two
                  // timeouts the box is contended — spending the
                  // remaining budget un-killable helps nothing
                  val rest =
                    if (second.end == Crashed && still.nonEmpty &&
                        budgetMin - elapsedMin >= 2) {
                      System.err.println(s"[bench] batch ${i + 1}/${plan.size}: " +
                        s"in-process fallback for ${still.size} queries")
                      fellBack += 1
                      inProcess(batch.copy(names = still, runs = 1))
                    } else Seq.empty
                  second.outcomes ++ rest
                }
              }
            first.outcomes ++ more
          }
        if (batch.sf1 && res.isEmpty && sf1Error.isEmpty)
          sf1Error = Some("sf1 child JVM failed (see stderr)")
        recordChildRatio(res)
        mergeRows(res)
        emit(i + 1)
      }
    }

    // ---- coverage catch-up (round 14): every missing row re-queued at
    // runs=1 against whatever budget remains. A batch skipped on budget
    // (or a twice-killed child's residue) loses its second run, never
    // its rows; a failed query is done, not missing. Bounded at 3
    // rounds so a query that reliably kills its JVM cannot loop forever.
    def missingBatches: Seq[Batch] =
      Batch(sf1 = false, allNames, runs = 1).unfinished(isDone).grouped(100).toSeq
        .map(Batch(sf1 = false, _, runs = 1)) ++
        (if (sf1Enabled)
          Batch(sf1 = true, Sf1Queries, runs = 1).unfinished(isDone).grouped(24).toSeq
            .map(Batch(sf1 = true, _, runs = 1))
        else Seq.empty)
    var catchupRound = 0
    while (catchupRound < 3 && budgetHardMin - elapsedMin >= 1 && missingBatches.nonEmpty) {
      catchupRound += 1
      val chunks = missingBatches
      val (n1, n0) = chunks.partition(_.sf1)
      System.err.println(s"[bench] catch-up round $catchupRound: " +
        s"${n0.map(_.names.size).sum} sf0.1 + ${n1.map(_.names.size).sum} sf1 rows missing, ${chunks.size} children")
      chunks.zipWithIndex.foreach { case (batch, j) =>
        if (budgetHardMin - elapsedMin >= 1) {
          val sliceMin = math.max(childFloorMin,
            ((budgetHardMin - elapsedMin) / (chunks.size - j)).toLong)
          val out = forkChild(batch, sliceMin)
          if (out.end == TimedOut) timedOutChildren += 1
          recordChildRatio(out.outcomes)
          mergeRows(out.outcomes)
          if (batch.sf1) sf1Prepared = true
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
      val (f1, f0) = toRetime.partition(_.startsWith("sf1:"))
      val jobs =
        Seq(Batch(sf1 = false, f0, runs = 1),
          Batch(sf1 = true, f1.map(_.stripPrefix("sf1:")), runs = 1))
          .filter(_.names.nonEmpty)
      System.err.println(s"[bench] re-time child(ren) for ${toRetime.size} flagged rows")
      jobs.foreach { batch =>
        if (budgetHardMin - elapsedMin >= 1) {
          val out = forkChild(batch, math.max(childFloorMin,
            (budgetHardMin - elapsedMin).toLong))
          if (out.end == TimedOut) timedOutChildren += 1
          retimedKeys ++= out.outcomes.collect { case t: Timed => t.key }
          mergeRows(out.outcomes)
          emit(plan.size - skipped)
        }
      }
    }

    emit(plan.size - skipped, full = true)
    fallback.foreach(_.stop())
  }
}
