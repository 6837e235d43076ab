package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.llm.Dedup
import graft.ops.HeavyHitters

/** Streaming-shaped operators over the `events` table, verified in their
  * deterministic batch form (the streaming executions of the same logic
  * live in `graft.streaming` with ScalaTest coverage — a micro-batch over
  * a bounded source computes exactly these results):
  *
  *  - S4 upsert sink ≙ last-write-wins by key;
  *  - S5 TTL'd dedup queue ≙ first-event-per-(key, time-bucket);
  *  - event-time windowed aggregation ≙ tumbling-window groupBy;
  *  - sessionization ≙ gap-based session ids (the
  *    `flatMapGroupsWithState` shape);
  *  - A9 micro-batch counters; O4 drain cap ≙ bounded ordered take.
  */
object EventsQueries {

  /** Live-stream trigger size. Verify keeps the default small trigger (a
    * genuine multi-batch execution, the semantics the live queries exist to
    * cover); Bench raises it via this property so the benchmark's budget
    * goes to dataflow rather than per-trigger checkpoint overhead.
    * Multi-batch/recovery semantics stay covered by StreamingSpec.
    */
  private[graft] def filesPerTrigger: String =
    sys.props.getOrElse("graft.stream.filesPerTrigger", "2")

  /** Stateful streaming executions size their shuffle — which is also the
    * state-store instance count per trigger — to the key cardinality
    * instead of the batch default: a few hundred users/windows doesn't
    * need 32 state stores' worth of per-trigger file overhead. The conf is
    * restored after the stream fully drains (AvailableNow +
    * awaitTermination happen inside `body`).
    */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Finished-stream lifecycle for the live memory-sink queries: eagerly
    * materialize `result`, then drop the UUID-named sink view and delete
    * the per-invocation checkpoint dir. Verify and Bench invoke these
    * queries repeatedly in one JVM — without this, sink tables and
    * on-disk checkpoints accumulate unboundedly over a session.
    *
    * Materialization is collect-and-recreate, NOT localCheckpoint: a
    * checkpointed RDD pins its result blocks in the block manager until
    * the DataFrame is GC'd and the ContextCleaner runs, so 200+
    * invocations per JVM would trade on-disk checkpoint accumulation for
    * block-manager accumulation. A memory sink already holds the full
    * result on the driver, so collecting it is strictly no more memory —
    * and the recreated local DataFrame is plain GC-able heap.
    */
  private def drainStream(s: SparkSession, name: String, tmp: String)(
      result: DataFrame): DataFrame = {
    val rows = java.util.Arrays.asList(result.collect(): _*)
    val schema = result.schema
    s.catalog.dropTempView(name)
    try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    catch { case _: Throwable => () }
    s.createDataFrame(rows, schema)
  }

  /** Materialize a columns-projection of events as a streaming file source,
    * once per (sfDir, name) — repeated invocations (bench runs each query
    * twice) reuse the files; checkpoints stay per-invocation so every run
    * replays the whole stream.
    */
  private def streamSource(s: SparkSession, d: String, name: String,
      cols: Seq[String]): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$d:$name".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val dir = s"${sys.props("java.io.tmpdir")}/graft_stream_${name}_$key"
    FixtureLock.withLock(dir) {
      if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
        Tables.events(s, d).select(cols.map(col): _*)
          .coalesce(4).write.mode("overwrite").parquet(dir)
      }
    }
    dir
  }

  /** [[streamSource]] with a fully DETERMINISTIC arrival order, so a live
    * stateful execution over the replay is oracle-pinnable: events split
    * into `nFiles` contiguous time slabs (ntile over (ts, event_id) — the
    * same assignment DuckDB's ntile computes), each slab one time-sorted
    * parquet file, written sequentially with strictly increasing mtimes so
    * FileStreamSource's (mtime, path) ordering replays slab 1..n in time
    * order. Replayed with maxFilesPerTrigger=1 this makes micro-batch
    * boundaries, per-batch watermarks, AND within-key processing order
    * (single mapper per trigger — no cross-mapper shuffle-fetch
    * interleaving) all reproducible functions of the data, which is what
    * lets q_stream_dedup_ttl's admission sequence be stated as SQL.
    */
  private[graft] val orderedSlabs = 4
  private def orderedStreamSource(s: SparkSession, d: String, name: String,
      cols: Seq[String]): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$d:$name:ordered".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val dir = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_stream_${name}_$key")
    FixtureLock.withLock(dir.toString) {
    if (!new java.io.File(dir, "_SUCCESS").exists()) {
      // fixture-sized global window: slab assignment must be a pure
      // function of (ts, event_id), not of partitioning — ntile matches
      // DuckDB's ntile (leading tiles take the remainder rows)
      val slabbed = Tables.events(s, d).select(cols.map(col): _*)
        .withColumn("__slab", ntile(orderedSlabs).over(
          Window.orderBy(col("ts").asc, col("event_id").asc)))
        .localCheckpoint(true)
      dir.mkdirs()
      for (i <- 1 to orderedSlabs) {
        val stage = new java.io.File(dir, s"_stage$i")
        slabbed.filter(col("__slab") === i).drop("__slab")
          .coalesce(1).sortWithinPartitions("ts", "event_id")
          .write.mode("overwrite").parquet(stage.toString)
        val part = stage.listFiles().find(_.getName.startsWith("part-")).get
        val dst = new java.io.File(dir, f"slab$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // strictly increasing mtimes pin the replay order regardless of
        // task completion jitter
        dst.setLastModified(1000000000000L + i * 60000L)
        org.apache.commons.io.FileUtils.deleteDirectory(stage)
      }
      slabbed.unpersist()
      new java.io.File(dir, "_SUCCESS").createNewFile()
    }
    }
    dir.toString
  }

  /** JSON-lines fixture for q_jsonl_ingest: the events table serialized
    * one object per line, with every 50th event's line truncated to half
    * length (always malformed — the closing brace only exists at line
    * end). Built once per sfDir under java.io.tmpdir, _SUCCESS-guarded
    * (the orderedStreamSource discipline); corruption is a pure function
    * of event_id, which is what lets the DuckDB oracle state the same
    * exclusion off the original parquet.
    */
  private def jsonlFixture(s: SparkSession, d: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$d:jsonl".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val dir = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_jsonl_$key")
    FixtureLock.withLock(dir.toString) {
    if (!new java.io.File(dir, "_SUCCESS").exists()) {
      val stage = new java.io.File(dir.getParentFile, dir.getName + "_stage")
      val line = to_json(struct(col("event_id"), col("user_id"),
        col("event_type"), col("value")))
      Tables.events(s, d)
        .select(when(col("event_id") % 50 === 0,
            // half the line always loses the closing brace → malformed
            line.substr(lit(1), (length(line) / 2).cast("int")))
          .otherwise(line).as("value"))
        .write.mode("overwrite").text(stage.toString)
      if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
      java.nio.file.Files.move(stage.toPath, dir.toPath)
    }
    }
    dir.toString
  }

  /** The live TTL-dedup run ([[graft.streaming.DedupQueue.dedupWithTtl]]
    * over the ordered replay) as SQL: with one time-slab file per trigger,
    * the micro-batch structure is a pure function of the data, so the
    * admission process unrolls into one CTE stage per batch (the
    * [[graft.queries.TextQueries]] BPE-oracle trick applied to streaming
    * state). Per batch b: the watermark in effect is
    * `floor_ms(max event time of slabs < b) - ttl` (Spark tracks event
    * time in milliseconds; initial watermark 0); a user's first event in
    * the slab is admitted iff the user has no state or the stored entry
    * expired (`admit_ms + ttl < watermark`); duplicates never extend
    * state (dropDuplicatesWithinWatermark keeps the FIRST event's expiry,
    * asserted by StreamingSpec's re-admission fixture).
    *
    * The one-batch LAG is the subtle part, verified against the live run:
    * expired state is removed at each batch's COMMIT using the watermark
    * in effect during that batch, and AvailableNow does NOT run no-data
    * batches between file batches — so the state batch b actually sees
    * survived eviction with the watermark of batch b-1, which derives
    * from slabs <= b-2. (The StreamingSpec fixture sees prompt eviction
    * only because processAllAvailable interleaves a no-data batch after
    * every data batch.)
    */
  private def streamDedupOracle(nSlabs: Int, ttlMs: Long): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH ranked AS (
      |  SELECT user_id, epoch_us(ts) AS t,
      |    ntile($nSlabs) OVER (ORDER BY ts ASC, event_id ASC) AS slab
      |  FROM events),
      |cand AS (SELECT user_id, slab, min(t) AS c FROM ranked GROUP BY 1, 2),
      |slabmax AS (SELECT slab, max(t) AS m FROM ranked GROUP BY 1),
      |u AS (SELECT DISTINCT user_id FROM ranked),
      |st1 AS (
      |  SELECT u.user_id, c1.c AS t_admit,
      |    CASE WHEN c1.c IS NULL THEN 0 ELSE 1 END AS n
      |  FROM u LEFT JOIN (SELECT user_id, c FROM cand WHERE slab = 1) c1 USING (user_id))""".stripMargin
    for (b <- 2 to nSlabs) {
      val admit = s"c.c IS NOT NULL AND (s.t_admit IS NULL OR (s.t_admit // 1000) + $ttlMs < w.w)"
      sb ++= s""",
        |wm$b AS (SELECT (max(m) // 1000) - $ttlMs AS w FROM slabmax WHERE slab <= ${b - 2}),
        |st$b AS (
        |  SELECT s.user_id,
        |    CASE WHEN $admit THEN c.c ELSE s.t_admit END AS t_admit,
        |    s.n + (CASE WHEN $admit THEN 1 ELSE 0 END) AS n
        |  FROM st${b - 1} s
        |  LEFT JOIN (SELECT user_id, c FROM cand WHERE slab = $b) c USING (user_id)
        |  CROSS JOIN wm$b w)""".stripMargin
    }
    sb ++= s"\nSELECT user_id, CAST(n AS BIGINT) AS n_emitted FROM st$nSlabs WHERE n > 0"
    sb.toString
  }

  /** Shared by q_sprt and its live twin q_stream_sprt — streaming cell
    * build ≡ batch cell build is the twin's assertion, so the oracle is
    * literally the same SQL.
    */
  private val sprtOracleSql: String =
    // lp/ln/boundaries: ln of DOUBLE-cast ratios only — DuckDB decimal
    // literal division would round differently from the IEEE division
    // the Scala side performs
    """WITH e AS (SELECT event_type AS g,
      |    CAST(date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS BIGINT) AS t,
      |    CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) >= 3000 AS INT) AS y
      |  FROM events
      |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
      |cells AS (SELECT g, t, SUM(y) AS sk, count(*) AS sn FROM e GROUP BY 1, 2),
      |c2 AS (SELECT g, t,
      |    SUM(sk) OVER (PARTITION BY g ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k,
      |    SUM(sn) OVER (PARTITION BY g ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
      |  FROM cells),
      |l AS (SELECT g, t, n, k,
      |    k * ln(CAST(0.55 AS DOUBLE) / CAST(0.45 AS DOUBLE)) +
      |    (n - k) * ln((1.0 - CAST(0.55 AS DOUBLE)) / (1.0 - CAST(0.45 AS DOUBLE))) AS llr
      |  FROM c2)
      |SELECT g AS event_type, t, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
      |  floor(llr * 1000000.0 + 0.5) / 1000000.0 AS llr,
      |  CASE WHEN llr >= ln((1.0 - CAST(0.2 AS DOUBLE)) / CAST(0.05 AS DOUBLE)) THEN 'accept_h1'
      |       WHEN llr <= ln(CAST(0.2 AS DOUBLE) / (1.0 - CAST(0.05 AS DOUBLE))) THEN 'accept_h0'
      |       ELSE 'continue' END AS decision
      |FROM l""".stripMargin

  /** Shared by q_covariate_balance (batch) and q_stream_balance (live
    * twin): one listwise-filtered moment row, unrolled per covariate;
    * smd = (mā−m̄b)/√((va+vb)/2); balanced thresholds the ROUNDED |smd|.
    */
  private val covBalanceSql: String =
    """WITH b AS (SELECT user_id % 2 = 0 AS a,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c1,
      |    CAST(hour(ts) AS BIGINT) AS c2, CAST(day(ts) AS BIGINT) AS c3
      |  FROM events),
      |f AS (SELECT * FROM b WHERE a IS NOT NULL AND c1 IS NOT NULL
      |  AND c2 IS NOT NULL AND c3 IS NOT NULL),
      |s AS (SELECT count(*) FILTER (a) AS na, count(*) FILTER (NOT a) AS nb,
      |    SUM(CASE WHEN a THEN c1 ELSE 0 END) AS sa1,
      |    SUM(CASE WHEN a THEN CAST(c1 AS HUGEINT) * c1 ELSE 0 END) AS qa1,
      |    SUM(CASE WHEN NOT a THEN c1 ELSE 0 END) AS sb1,
      |    SUM(CASE WHEN NOT a THEN CAST(c1 AS HUGEINT) * c1 ELSE 0 END) AS qb1,
      |    SUM(CASE WHEN a THEN c2 ELSE 0 END) AS sa2,
      |    SUM(CASE WHEN a THEN CAST(c2 AS HUGEINT) * c2 ELSE 0 END) AS qa2,
      |    SUM(CASE WHEN NOT a THEN c2 ELSE 0 END) AS sb2,
      |    SUM(CASE WHEN NOT a THEN CAST(c2 AS HUGEINT) * c2 ELSE 0 END) AS qb2,
      |    SUM(CASE WHEN a THEN c3 ELSE 0 END) AS sa3,
      |    SUM(CASE WHEN a THEN CAST(c3 AS HUGEINT) * c3 ELSE 0 END) AS qa3,
      |    SUM(CASE WHEN NOT a THEN c3 ELSE 0 END) AS sb3,
      |    SUM(CASE WHEN NOT a THEN CAST(c3 AS HUGEINT) * c3 ELSE 0 END) AS qb3
      |  FROM f),
      |u AS (
      |  SELECT 'cents' AS covariate, na, nb, sa1 AS sa, qa1 AS qa,
      |    sb1 AS sb, qb1 AS qb FROM s
      |  UNION ALL SELECT 'hour', na, nb, sa2, qa2, sb2, qb2 FROM s
      |  UNION ALL SELECT 'dom', na, nb, sa3, qa3, sb3, qb3 FROM s),
      |m AS (SELECT covariate, na, nb,
      |    CAST(sa AS DOUBLE) / na AS ma, CAST(sb AS DOUBLE) / nb AS mb,
      |    CAST(qa AS DOUBLE) / na - (CAST(sa AS DOUBLE) / na) * (CAST(sa AS DOUBLE) / na) AS va,
      |    CAST(qb AS DOUBLE) / nb - (CAST(sb AS DOUBLE) / nb) * (CAST(sb AS DOUBLE) / nb) AS vb
      |  FROM u),
      |t AS (SELECT *, CASE WHEN na > 0 AND nb > 0 AND (va + vb) / 2.0 > 0
      |    THEN (ma - mb) / sqrt((va + vb) / 2.0) END AS smd FROM m)
      |SELECT covariate, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  floor(ma * 1000000.0 + 0.5) / 1000000.0 AS mean_a,
      |  floor(mb * 1000000.0 + 0.5) / 1000000.0 AS mean_b,
      |  floor(va * 1000000.0 + 0.5) / 1000000.0 AS var_a,
      |  floor(vb * 1000000.0 + 0.5) / 1000000.0 AS var_b,
      |  floor(smd * 1000000.0 + 0.5) / 1000000.0 AS smd,
      |  CASE WHEN smd IS NOT NULL
      |    THEN abs(floor(smd * 1000000.0 + 0.5) / 1000000.0) <= 0.1 END AS balanced
      |FROM t""".stripMargin

  /** q_bootstrap_median_ci oracle: the meanCI ladder machinery (identical
    * Poisson(1) CDF literals via [[graft.ops.Bootstrap.cdfThresholds]])
    * with the statistic swapped to the weighted LOWER median per replica
    * — all-integer output, matching Bootstrap.medianCI cell-for-cell.
    */
  private lazy val bootstrapMedianOracleSql: String = {
    val ladder = graft.ops.Bootstrap.cdfThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN uu < $t THEN $k" }.mkString(" ")
    s"""WITH ev AS (SELECT event_id, event_type,
       |    CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4
       |  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
       |u AS (SELECT event_type, v4, r.rep,
       |    ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#' || CAST(r.rep AS VARCHAR)), 1, 15))::BIGINT
       |      / 1152921504606846976.0 AS uu
       |  FROM ev CROSS JOIN range(0, 20) AS r(rep)),
       |w AS (SELECT event_type, rep, v4, CASE $ladder ELSE 8 END AS w FROM u),
       |cells AS (SELECT event_type, rep, v4, CAST(sum(w) AS BIGINT) AS c
       |  FROM w WHERE w > 0 GROUP BY 1, 2, 3),
       |cw AS (SELECT *, sum(c) OVER (PARTITION BY event_type, rep ORDER BY v4) AS cc,
       |    sum(c) OVER (PARTITION BY event_type, rep) AS nn FROM cells),
       |rm AS (SELECT event_type, rep,
       |    min(CASE WHEN cc >= (nn + 1) // 2 THEN v4 END) AS med
       |  FROM cw GROUP BY 1, 2),
       |rk AS (SELECT event_type, med,
       |    row_number() OVER (PARTITION BY event_type ORDER BY med) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS nb FROM rm),
       |ci AS (SELECT event_type,
       |    min(CASE WHEN rn = CAST(ceil(nb * 0.025) AS BIGINT) THEN med END) AS ci_lo,
       |    min(CASE WHEN rn = CAST(ceil(nb * 0.975) AS BIGINT) THEN med END) AS ci_hi
       |  FROM rk GROUP BY 1),
       |ec AS (SELECT event_type, v4, count(*) AS c FROM ev GROUP BY 1, 2),
       |ew AS (SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY v4) AS cc,
       |    sum(c) OVER (PARTITION BY event_type) AS nn FROM ec),
       |est AS (SELECT event_type, CAST(max(nn) AS BIGINT) AS n,
       |    min(CASE WHEN cc >= (nn + 1) // 2 THEN v4 END) AS est
       |  FROM ew GROUP BY 1)
       |SELECT est.event_type, n, est, ci_lo, ci_hi
       |FROM est JOIN ci USING (event_type)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // Mann–Whitney U per event type: is the value distribution of even
    // user_ids (arm A) stochastically larger than odd's? Doubled midranks
    // keep every rank sum exact-integer; cles ∈ [0,1] is the effect size,
    // z the tie-corrected normal approximation. One distinct-cents
    // collapse + one cumulative window — the robust A/B monitor whales
    // can't bend.
    QuerySpec("q_mann_whitney", (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.RankTests.mannWhitney(ev, "event_type",
          col("user_id") % 2 === 0, "cents")
        .select(col("event_type"), col("n1"), col("n2"),
          qround(col("cles"), 6).as("cles"), qround(col("z"), 6).as("z"))
    },
    // doubled midrank of value v = 2c − t + 1 (c = inclusive cumulative,
    // t = pooled multiplicity); HUGEINT products mirror decimal(38,0)
    oracle = Some(
      """WITH b AS (SELECT event_type AS g, (user_id % 2 = 0) AS a,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |    AND user_id IS NOT NULL),
        |cells AS (SELECT g, v,
        |    sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN a THEN 0 ELSE 1 END) AS cb
        |  FROM b GROUP BY 1, 2),
        |w AS (SELECT *, ca + cb AS t,
        |    sum(ca + cb) OVER (PARTITION BY g ORDER BY v) AS c FROM cells),
        |agg AS (SELECT g,
        |    CAST(sum(ca) AS BIGINT) AS n1, CAST(sum(cb) AS BIGINT) AS n2,
        |    sum(CAST(ca AS HUGEINT) * (2 * c - t + 1)) AS r2a,
        |    sum(CAST(t AS HUGEINT) * t * t - t) AS tt
        |  FROM w GROUP BY 1),
        |f AS (SELECT g, n1, n2,
        |    CAST(r2a - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) AS u2,
        |    CAST(n1 AS DOUBLE) * n2 / 12.0 *
        |      ((n1 + n2 + 1.0) - CAST(tt AS DOUBLE) /
        |        ((CAST(n1 AS DOUBLE) + n2) * (n1 + n2 - 1.0))) AS var_u
        |  FROM agg)
        |SELECT g AS event_type, n1, n2,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    floor((u2 / (2.0 * CAST(n1 AS DOUBLE) * n2)) * 1000000.0 + 0.5) / 1000000.0
        |  END AS cles,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND var_u > 0 THEN
        |    floor(((u2 - CAST(n1 AS DOUBLE) * n2) / (2.0 * sqrt(var_u))) * 1000000.0 + 0.5) / 1000000.0
        |  END AS z
        |FROM f""".stripMargin)),

    // Brown–Forsythe: did value-cents SPREAD move across event types?
    // ANOVA F on |x − lower-median| deviations — the mixing-bug signal a
    // mean test misses; medians and moments all from ONE (group, value)
    // collapse.
    QuerySpec("q_brown_forsythe", (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.RankTests.brownForsythe(ev, "event_type", "cents")
        .select(col("k"), col("n"), qround(col("f_bf"), 6).as("f_bf"))
    },
    // lower median = order statistic at (n+1) div 2 over the same
    // (group, value) collapse the deviation moments reuse
    oracle = Some(
      """WITH e AS (SELECT event_type AS g, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |cells AS MATERIALIZED (SELECT g, v, count(*) AS c FROM e GROUP BY 1, 2),
        |w AS (SELECT *, sum(c) OVER (PARTITION BY g ORDER BY v) AS cc,
        |    sum(c) OVER (PARTITION BY g) AS n FROM cells),
        |med AS (SELECT g, min(CASE WHEN cc >= (n + 1) // 2 THEN v END) AS med
        |  FROM w GROUP BY 1),
        |z AS (SELECT cells.g AS g, abs(v - med) AS z, c
        |  FROM cells JOIN med ON cells.g = med.g),
        |grp AS (SELECT g, sum(c) AS nj, sum(CAST(z AS HUGEINT) * c) AS sj,
        |    sum(CAST(z AS HUGEINT) * z * c) AS qj FROM z GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(nj) AS BIGINT) AS n,
        |    sum(sj) AS s, sum(qj) AS q,
        |    sum(CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE) / nj) AS ratio FROM grp),
        |b AS (SELECT k, n,
        |    ratio - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssb,
        |    CAST(q AS DOUBLE) - ratio AS ssw FROM a)
        |SELECT k, n, CASE WHEN k > 1 AND n > k AND ssw > 0 THEN
        |    floor(((ssb / (k - 1)) / (ssw / (n - k))) * 1000000.0 + 0.5) / 1000000.0
        |  END AS f_bf
        |FROM b""".stripMargin)),

    // Best Gini threshold per numeric feature for the is-purchase label —
    // the tree-fitter inner loop as one stacked cumulative window over
    // distinct feature values; winner pinned on the 1e-12 grid with
    // smallest-threshold tie-break.
    QuerySpec("q_gini_stump", (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Stump.giniStump(ev,
          Seq("hour" -> hour(col("ts")), "dow" -> dayofweek(col("ts")),
            "cents" -> col("cents")),
          col("event_type") === "purchase")
        .select(col("feature"), col("n"), col("n_pos"), col("threshold"),
          qround(col("gain"), 6).as("gain"),
          qround(col("gini_parent"), 6).as("gini_parent"))
    },
    // per-feature best split: cumulative left counts over distinct values,
    // gain graded on the 1e-12 grid, smallest-threshold tie-break;
    // DuckDB dayofweek is 0-based Sunday, Spark's 1-based — hence the +1
    oracle = Some(
      """WITH e AS (SELECT CAST(hour(ts) AS BIGINT) AS f_hour,
        |    CAST(dayofweek(ts) + 1 AS BIGINT) AS f_dow,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS f_cents,
        |    (event_type = 'purchase') AS y
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |st AS (SELECT 'hour' AS f, f_hour AS v, y FROM e
        |  UNION ALL SELECT 'dow', f_dow, y FROM e
        |  UNION ALL SELECT 'cents', f_cents, y FROM e),
        |cells AS (SELECT f, v, count(*) AS c,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS p FROM st GROUP BY 1, 2),
        |w AS (SELECT *, sum(c) OVER (PARTITION BY f ORDER BY v) AS nl,
        |    sum(p) OVER (PARTITION BY f ORDER BY v) AS pl,
        |    sum(c) OVER (PARTITION BY f) AS n,
        |    sum(p) OVER (PARTITION BY f) AS np FROM cells),
        |g AS (SELECT f, v, n, np,
        |    (1.0 - (CAST(np AS DOUBLE) / n) * (CAST(np AS DOUBLE) / n)
        |         - (1.0 - CAST(np AS DOUBLE) / n) * (1.0 - CAST(np AS DOUBLE) / n))
        |    - (CAST(nl AS DOUBLE) / n) *
        |      (1.0 - (CAST(pl AS DOUBLE) / nl) * (CAST(pl AS DOUBLE) / nl)
        |           - (1.0 - CAST(pl AS DOUBLE) / nl) * (1.0 - CAST(pl AS DOUBLE) / nl))
        |    - (CAST(n - nl AS DOUBLE) / n) *
        |      (1.0 - (CAST(np - pl AS DOUBLE) / (n - nl)) * (CAST(np - pl AS DOUBLE) / (n - nl))
        |           - (1.0 - CAST(np - pl AS DOUBLE) / (n - nl)) * (1.0 - CAST(np - pl AS DOUBLE) / (n - nl)))
        |    AS gain
        |  FROM w WHERE nl < n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY f
        |    ORDER BY CAST(floor(gain * 1e12 + 0.5) AS BIGINT) DESC, v ASC) AS rn
        |  FROM g)
        |SELECT f AS feature, CAST(n AS BIGINT) AS n, CAST(np AS BIGINT) AS n_pos,
        |  v AS threshold,
        |  floor(gain * 1000000.0 + 0.5) / 1000000.0 AS gain,
        |  floor((1.0 - (CAST(np AS DOUBLE) / n) * (CAST(np AS DOUBLE) / n)
        |       - (1.0 - CAST(np AS DOUBLE) / n) * (1.0 - CAST(np AS DOUBLE) / n))
        |    * 1000000.0 + 0.5) / 1000000.0 AS gini_parent
        |FROM r WHERE rn = 1""".stripMargin)),

    // Standardized effect sizes (Cohen's d / Hedges' g / Glass Δ) for the
    // even-vs-odd-user value split per event type — the "is it big enough
    // to matter" companion to q_mann_whitney's "did it move"; one
    // decimal-widened moment aggregate, closed-form IEEE readout.
    QuerySpec("q_effect_sizes", (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Regression.effectSizes(ev, "event_type",
          col("user_id") % 2 === 0, "cents")
        .select(col("event_type"), col("n_a"), col("n_b"),
          qround(col("diff"), 6).as("diff"),
          qround(col("cohen_d"), 6).as("cohen_d"),
          qround(col("hedges_g"), 6).as("hedges_g"),
          qround(col("glass_delta"), 6).as("glass_delta"))
    },
    // arm moments widened to HUGEINT (mirrors decimal(38,0)); every
    // readout a fixed IEEE expression written operand-for-operand as in
    // Regression.effectSizes
    oracle = Some(
      """WITH e AS (SELECT event_type AS g, (user_id % 2 = 0) AS a,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |    AND user_id IS NOT NULL),
        |m AS (SELECT g,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
        |    sum(CASE WHEN a THEN CAST(v AS HUGEINT) ELSE 0 END) AS s_a,
        |    sum(CASE WHEN a THEN 0 ELSE CAST(v AS HUGEINT) END) AS s_b,
        |    sum(CASE WHEN a THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS q_a,
        |    sum(CASE WHEN a THEN 0 ELSE CAST(v AS HUGEINT) * v END) AS q_b
        |  FROM e GROUP BY 1),
        |f AS (SELECT g, n_a, n_b,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ssda,
        |    CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS ssdb,
        |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS diff
        |  FROM m)
        |SELECT g AS event_type, n_a, n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    floor(diff * 1000000.0 + 0.5) / 1000000.0 END AS diff,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND ssda + ssdb > 0 THEN
        |    floor((diff / sqrt((ssda + ssdb) / (na + nb - 2.0))) * 1000000.0 + 0.5) / 1000000.0
        |  END AS cohen_d,
        |  CASE WHEN n_a > 1 AND n_b > 1 AND ssda + ssdb > 0 THEN
        |    floor(((1.0 - 3.0 / (4.0 * (na + nb) - 9.0)) *
        |      (diff / sqrt((ssda + ssdb) / (na + nb - 2.0)))) * 1000000.0 + 0.5) / 1000000.0
        |  END AS hedges_g,
        |  CASE WHEN n_a > 0 AND n_b > 1 AND ssdb > 0 THEN
        |    floor((diff / sqrt(ssdb / (nb - 1.0))) * 1000000.0 + 0.5) / 1000000.0
        |  END AS glass_delta
        |FROM f""".stripMargin)),

    // Cochran–Armitage trend: does the high-ticket rate (value ≥ $20)
    // trend with hour of day, per event type? One (type, hour) collapse,
    // decimal-widened score moments, 1-dof ordered alternative.
    QuerySpec("q_trend_test", (s, d) => {
      graft.ops.Distribution.cochranArmitage(Tables.events(s, d),
          "event_type", hour(col("ts")),
          floor(col("value") * 100 + 0.5).cast("long") >= 2000L)
        .select(col("event_type"), col("n"), col("n_pos"),
          qround(col("z"), 6).as("z"))
    },
    // score moments widened to HUGEINT; T, Var(T), z written
    // operand-for-operand as in Distribution.cochranArmitage
    oracle = Some(
      """WITH e AS (SELECT event_type AS g, CAST(hour(ts) AS BIGINT) AS s,
        |    (CAST(floor(value * 100 + 0.5) AS BIGINT) >= 2000) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |cells AS (SELECT g, s, count(*) AS ni,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS ri FROM e GROUP BY 1, 2),
        |agg AS (SELECT g, CAST(sum(ni) AS BIGINT) AS n, CAST(sum(ri) AS BIGINT) AS r,
        |    sum(CAST(s AS HUGEINT) * ri) AS ssr,
        |    sum(CAST(s AS HUGEINT) * ni) AS ssn,
        |    sum(CAST(s AS HUGEINT) * s * ni) AS ss2n
        |  FROM cells GROUP BY 1),
        |f AS (SELECT g, n, r,
        |    CAST(ssr AS DOUBLE) - (CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(ssn AS DOUBLE) AS t,
        |    (CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(ss2n AS DOUBLE) - CAST(ssn AS DOUBLE) * CAST(ssn AS DOUBLE) / CAST(n AS DOUBLE)) AS var_t
        |  FROM agg)
        |SELECT g AS event_type, n, r AS n_pos,
        |  CASE WHEN var_t > 0 THEN
        |    floor((t / sqrt(var_t)) * 1000000.0 + 0.5) / 1000000.0 END AS z
        |FROM f""".stripMargin)),

    // Chapman capture–recapture: clickers and purchasers as two
    // independent sightings of the active-user population — the estimate
    // of users NEITHER list saw, vs the directly observed union.
    QuerySpec("q_capture_recapture", (s, d) => {
      graft.ops.Sketches.chapmanEstimate(
          Tables.events(s, d).filter(col("user_id").isNotNull), "user_id",
          col("event_type") === "click", col("event_type") === "purchase")
        .select(col("n_a"), col("n_b"), col("n_both"), col("n_either"),
          qround(col("chapman_est"), 4).as("chapman_est"),
          qround(col("chapman_se"), 4).as("chapman_se"))
    },
    // Chapman estimator on exact membership counts; IEEE algebra mirrors
    // Sketches.chapmanEstimate operand-for-operand
    oracle = Some(
      """WITH k AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) = 1 AS a,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1 AS b
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1),
        |f AS (SELECT * FROM k WHERE a OR b),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |    CAST(count(*) AS BIGINT) AS n_either
        |  FROM f)
        |SELECT n_a, n_b, n_both, n_either,
        |  CASE WHEN n_both > 0 THEN
        |    floor(((CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0) /
        |      (CAST(n_both AS DOUBLE) + 1.0) - 1.0) * 10000.0 + 0.5) / 10000.0
        |  END AS chapman_est,
        |  CASE WHEN n_both > 0 THEN
        |    floor(sqrt((CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0) *
        |        (CAST(n_a AS DOUBLE) - CAST(n_both AS DOUBLE)) *
        |        (CAST(n_b AS DOUBLE) - CAST(n_both AS DOUBLE)) /
        |        ((CAST(n_both AS DOUBLE) + 1.0) * (CAST(n_both AS DOUBLE) + 1.0) *
        |         (CAST(n_both AS DOUBLE) + 2.0))) * 10000.0 + 0.5) / 10000.0
        |  END AS chapman_se
        |FROM m""".stripMargin)),

    // Poisson-bootstrap CI on the per-type MEDIAN (20 replicas): the
    // error bar the mean CI can't give a heavy tail. Weighted lower
    // medians over (type, replica, value) collapses — every output an
    // exact integer, no float surface at all.
    QuerySpec("q_bootstrap_median_ci", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_id").isNotNull && col("value").isNotNull)
        .withColumn("v4", floor(col("value") * 10000 + 0.5).cast("long"))
      graft.ops.Bootstrap.medianCI(ev, "event_type", "v4", "event_id", b = 20)
        .select(col("event_type"), col("n"), col("est"),
          col("ci_lo"), col("ci_hi"))
    },
    oracle = Some(bootstrapMedianOracleSql),
    // sf1: the ×B explode + per-replica distinct-value windows must
    // track rows linearly
    sf1 = true),

    // MASE forecast-skill audit: does weekly seasonality actually predict
    // each type's daily revenue (seasonal-naive vs persistence)? Day-keyed
    // RANGE lags — gap-correct where row lags silently misalign.
    QuerySpec("q_mase", (s, d) => {
      val daily = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), to_date(lit("2020-01-01")))
            .cast("long").as("t"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("x"))
      graft.ops.Seasonal.mase(daily, "event_type", "t", "x", season = 7)
        .select(col("event_type"), col("n"), col("n_seasonal"),
          qround(col("mae_naive"), 6).as("mae_naive"),
          qround(col("mae_seasonal"), 6).as("mae_seasonal"),
          qround(col("mase"), 6).as("mase"))
    },
    // day-keyed RANGE lags mirror Seasonal.mase; exact long SAE sums
    oracle = Some(
      """WITH s0 AS (SELECT event_type AS g,
        |    CAST(date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS BIGINT) AS t,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT *,
        |    max(x) OVER (PARTITION BY g ORDER BY t
        |      RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS p1,
        |    max(x) OVER (PARTITION BY g ORDER BY t
        |      RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS ps
        |  FROM s0),
        |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(p1) AS BIGINT) AS n1, CAST(count(ps) AS BIGINT) AS ns,
        |    sum(abs(x - p1)) AS sae1, sum(abs(x - ps)) AS saes
        |  FROM w GROUP BY 1)
        |SELECT g AS event_type, n, ns AS n_seasonal,
        |  CASE WHEN n1 > 0 THEN
        |    floor((CAST(sae1 AS DOUBLE) / n1) * 1000000.0 + 0.5) / 1000000.0 END AS mae_naive,
        |  CASE WHEN ns > 0 THEN
        |    floor((CAST(saes AS DOUBLE) / ns) * 1000000.0 + 0.5) / 1000000.0 END AS mae_seasonal,
        |  CASE WHEN n1 > 0 AND ns > 0 AND sae1 > 0 THEN
        |    floor(((CAST(saes AS DOUBLE) / ns) / (CAST(sae1 AS DOUBLE) / n1)) * 1000000.0 + 0.5) / 1000000.0
        |  END AS mase
        |FROM a""".stripMargin)),

    // Partial correlation: clicks vs purchases per day AFTER removing
    // total daily volume — the confound-removal screen; a marginal r
    // that collapses here was riding the volume.
    QuerySpec("q_partial_corr", (s, d) => {
      val daily = Tables.events(s, d)
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .groupBy(datediff(to_date(col("ts")), to_date(lit("2020-01-01")))
          .cast("long").as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"),
          count(lit(1)).as("z"))
      graft.ops.Correlation.partialCorr(daily, "x", "y", "z")
        .select(col("n"), qround(col("r_xy"), 6).as("r_xy"),
          qround(col("r_xz"), 6).as("r_xz"),
          qround(col("r_yz"), 6).as("r_yz"),
          qround(col("r_xy_z"), 6).as("r_xy_z"))
    },
    // the pearsonMatrix closed form per pair, then the first-order
    // partial readout — all from ONE HUGEINT-widened moment row
    oracle = Some(
      """WITH daily AS (SELECT
        |    CAST(date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y,
        |    count(*) AS z
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS s_x, sum(y) AS s_y, sum(z) AS s_z,
        |    sum(CAST(x AS HUGEINT) * y) AS p_xy, sum(CAST(x AS HUGEINT) * z) AS p_xz,
        |    sum(CAST(y AS HUGEINT) * z) AS p_yz, sum(CAST(x AS HUGEINT) * x) AS p_xx,
        |    sum(CAST(y AS HUGEINT) * y) AS p_yy, sum(CAST(z AS HUGEINT) * z) AS p_zz
        |  FROM daily),
        |r AS (SELECT n,
        |    CASE WHEN CAST(n AS DOUBLE) * CAST(p_xx AS DOUBLE) - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE) > 0
        |      AND CAST(n AS DOUBLE) * CAST(p_yy AS DOUBLE) - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE) > 0 THEN
        |      (CAST(n AS DOUBLE) * CAST(p_xy AS DOUBLE) - CAST(s_x AS DOUBLE) * CAST(s_y AS DOUBLE)) /
        |      sqrt((CAST(n AS DOUBLE) * CAST(p_xx AS DOUBLE) - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE)) *
        |           (CAST(n AS DOUBLE) * CAST(p_yy AS DOUBLE) - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE))) END AS r_xy,
        |    CASE WHEN CAST(n AS DOUBLE) * CAST(p_xx AS DOUBLE) - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE) > 0
        |      AND CAST(n AS DOUBLE) * CAST(p_zz AS DOUBLE) - CAST(s_z AS DOUBLE) * CAST(s_z AS DOUBLE) > 0 THEN
        |      (CAST(n AS DOUBLE) * CAST(p_xz AS DOUBLE) - CAST(s_x AS DOUBLE) * CAST(s_z AS DOUBLE)) /
        |      sqrt((CAST(n AS DOUBLE) * CAST(p_xx AS DOUBLE) - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE)) *
        |           (CAST(n AS DOUBLE) * CAST(p_zz AS DOUBLE) - CAST(s_z AS DOUBLE) * CAST(s_z AS DOUBLE))) END AS r_xz,
        |    CASE WHEN CAST(n AS DOUBLE) * CAST(p_yy AS DOUBLE) - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE) > 0
        |      AND CAST(n AS DOUBLE) * CAST(p_zz AS DOUBLE) - CAST(s_z AS DOUBLE) * CAST(s_z AS DOUBLE) > 0 THEN
        |      (CAST(n AS DOUBLE) * CAST(p_yz AS DOUBLE) - CAST(s_y AS DOUBLE) * CAST(s_z AS DOUBLE)) /
        |      sqrt((CAST(n AS DOUBLE) * CAST(p_yy AS DOUBLE) - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE)) *
        |           (CAST(n AS DOUBLE) * CAST(p_zz AS DOUBLE) - CAST(s_z AS DOUBLE) * CAST(s_z AS DOUBLE))) END AS r_yz
        |  FROM m)
        |SELECT n,
        |  floor(r_xy * 1000000.0 + 0.5) / 1000000.0 AS r_xy,
        |  floor(r_xz * 1000000.0 + 0.5) / 1000000.0 AS r_xz,
        |  floor(r_yz * 1000000.0 + 0.5) / 1000000.0 AS r_yz,
        |  CASE WHEN r_xy IS NOT NULL AND r_xz IS NOT NULL AND r_yz IS NOT NULL
        |    AND (1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz) > 0 THEN
        |    floor(((r_xy - r_xz * r_yz) / sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)))
        |      * 1000000.0 + 0.5) / 1000000.0
        |  END AS r_xy_z
        |FROM r""".stripMargin)),

    // Journey surprise: label-free sequence anomaly score — mean −ln P
    // of each user's transitions under the corpus Markov model; the 20
    // most off-pattern journeys, grid-exact totals, rounded-rank cut.
    QuerySpec("q_journey_surprise", (s, d) => {
      graft.ops.Attribution.transitionSurprise(
          Tables.events(s, d), "user_id", "ts", "event_id", "event_type")
        .select(col("user_id"), col("n_trans"),
          qround(col("surprise"), 6).as("surprise"))
        .orderBy(col("surprise").desc, col("user_id").asc)
        .limit(20)
    },
    // add-one Markov model, −ln on the 1e-12 grid before the per-user
    // integer sum (mirrors Attribution.transitionSurprise); rounded-rank
    // top-20 cut with user tie-break
    oracle = Some(
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL),
        |tr AS (SELECT user_id, event_type AS a,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
        |  FROM e),
        |t2 AS (SELECT user_id, a, b FROM tr WHERE b IS NOT NULL),
        |model AS MATERIALIZED (SELECT a, b, count(*) AS c FROM t2 GROUP BY 1, 2),
        |ft AS (SELECT a, sum(c) AS ca FROM model GROUP BY 1),
        |v AS (SELECT count(DISTINCT b) AS v FROM model),
        |lp AS (SELECT model.a AS a, model.b AS b,
        |    CAST(floor(-ln(CAST(c + 1 AS DOUBLE) / (ca + v)) * 1e12 + 0.5) AS BIGINT) AS lp
        |  FROM model JOIN ft ON model.a = ft.a, v),
        |sc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_trans, sum(lp) AS s
        |  FROM t2 JOIN lp USING (a, b) GROUP BY 1)
        |SELECT user_id, n_trans,
        |  floor((CAST(s AS DOUBLE) / n_trans / 1e12) * 1000000.0 + 0.5) / 1000000.0 AS surprise
        |FROM sc ORDER BY 3 DESC, user_id ASC LIMIT 20""".stripMargin),
    // sf1: per-user lead window + the |types|²-broadcast score join —
    // superlinearity means the model join shuffled
    sf1 = true),

    // Weibull fit on the q_survival_km curve: shape k (churn front-loaded
    // vs wear-out) + scale λ from the OLS line through (ln t, ln(−ln S))
    // — regression points are KM's distinct event times, grid-exact sums.
    QuerySpec("q_weibull_fit", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val subj = ev.groupBy(col("user_id"))
        .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
          .cast("long").as("dur"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("ev"))
        .withColumn("seg", concat(lit("seg"), pmod(col("user_id"), lit(3)).cast("string")))
      graft.ops.Survival.weibullFit(
          graft.ops.Survival.kaplanMeier(subj, "seg", "dur", "ev"), "seg")
        .select(col("seg"), col("n_points"),
          qround(col("shape"), 6).as("shape"),
          qround(col("scale"), 4).as("scale"),
          qround(col("r"), 6).as("r"))
    },
    // the q_survival_km CTE chain (unrounded S), then grid-exact OLS on
    // (ln t, ln(−ln S)) mirroring Survival.weibullFit
    oracle = Some(
      """WITH subj AS (SELECT user_id,
        |    date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS dur,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ev
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |s2 AS (SELECT 'seg' || CAST(user_id % 3 AS VARCHAR) AS seg, dur, ev FROM subj),
        |cells AS (SELECT seg, dur AS t, SUM(ev) AS d, SUM(1 - ev) AS c
        |  FROM s2 GROUP BY 1, 2),
        |w AS (SELECT seg, t, d, c,
        |    SUM(d + c) OVER (PARTITION BY seg) -
        |      coalesce(SUM(d + c) OVER (PARTITION BY seg ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM cells),
        |w2 AS (SELECT seg, t, d, n_risk,
        |    CASE WHEN d > 0 AND d < n_risk
        |      THEN ln(CAST(n_risk - d AS DOUBLE) / n_risk) ELSE 0.0 END AS term,
        |    CASE WHEN d >= n_risk AND d > 0 THEN 1 ELSE 0 END AS deadf
        |  FROM w),
        |w3 AS (SELECT seg, t, d,
        |    MAX(deadf) OVER (PARTITION BY seg ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
        |    SUM(term) OVER (PARTITION BY seg ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lsum
        |  FROM w2),
        |km AS (SELECT seg, t,
        |    CASE WHEN dead = 1 THEN 0.0 ELSE exp(lsum) END AS s
        |  FROM w3 WHERE d > 0),
        |pts AS (SELECT seg,
        |    CAST(floor(ln(CAST(t AS DOUBLE)) * 1e12 + 0.5) AS BIGINT) AS xg,
        |    CAST(floor(ln(-ln(s)) * 1e12 + 0.5) AS BIGINT) AS yg
        |  FROM km WHERE t > 0 AND s > 0 AND s < 1),
        |m AS (SELECT seg, CAST(count(*) AS BIGINT) AS np,
        |    sum(xg) AS sx, sum(yg) AS sy,
        |    sum(CAST(xg AS HUGEINT) * yg) AS sxy,
        |    sum(CAST(xg AS HUGEINT) * xg) AS sxx,
        |    sum(CAST(yg AS HUGEINT) * yg) AS syy
        |  FROM pts GROUP BY 1),
        |f AS (SELECT seg, np,
        |    CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |    CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
        |    CAST(np AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS den_y,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        |  FROM m)
        |SELECT seg, np AS n_points,
        |  CASE WHEN np > 1 AND den > 0 AND num <> 0.0 THEN
        |    floor((num / den) * 1000000.0 + 0.5) / 1000000.0 END AS shape,
        |  CASE WHEN np > 1 AND den > 0 AND num <> 0.0 THEN
        |    floor(exp(-(((syd - (num / den) * sxd) / CAST(np AS DOUBLE)) / 1e12) / (num / den))
        |      * 10000.0 + 0.5) / 10000.0 END AS scale,
        |  CASE WHEN np > 1 AND den > 0 AND num <> 0.0 AND den_y > 0 THEN
        |    floor((num / sqrt(den * den_y)) * 1000000.0 + 0.5) / 1000000.0 END AS r
        |FROM f""".stripMargin)),

    // k-sample Anderson–Darling over the value-cents distributions of
    // ALL event types at once — the tail-weighted drift statistic (KS is
    // center-dominated); doubled midrank cumulatives on the ksDrift
    // grid, per-cell terms on the 1e-12 grid.
    QuerySpec("q_anderson_darling", (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.RankTests.andersonDarlingK(ev, "event_type", "cents")
        .select(col("k"), col("n"), qround(col("a2"), 6).as("a2"),
          qround(col("a2_norm"), 6).as("a2_norm"))
    },
    // the ksDrift grid + doubled cumulatives; per-cell AD terms mirror
    // RankTests.andersonDarlingK operand-for-operand on the 1e-12 grid
    oracle = Some(
      """WITH b AS (SELECT event_type AS s, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |cells AS MATERIALIZED (SELECT s, v, count(*) AS c FROM b GROUP BY 1, 2),
        |blocks AS (SELECT v, sum(c) AS l FROM cells GROUP BY 1),
        |samples AS (SELECT s, CAST(sum(c) AS BIGINT) AS ni FROM cells GROUP BY 1),
        |grand AS (SELECT CAST(sum(l) AS BIGINT) AS nn,
        |    CAST(count(*) AS BIGINT) AS nblocks FROM blocks),
        |grid AS (SELECT samples.s, samples.ni, blocks.v,
        |    CAST(blocks.l AS BIGINT) AS l, coalesce(cells.c, 0) AS c
        |  FROM blocks CROSS JOIN samples
        |  LEFT JOIN cells ON cells.s = samples.s AND cells.v = blocks.v),
        |cum AS (SELECT s, ni, v, l,
        |    2 * sum(c) OVER (PARTITION BY s ORDER BY v) - c AS m2,
        |    2 * sum(l) OVER (PARTITION BY s ORDER BY v) - l AS b2
        |  FROM grid),
        |terms AS (SELECT ni, l, nn, nblocks,
        |    CAST(CAST(nn AS HUGEINT) * m2 - CAST(ni AS HUGEINT) * b2 AS DOUBLE) AS num,
        |    CAST(CAST(b2 AS HUGEINT) * (2 * nn - b2) - CAST(nn AS HUGEINT) * l AS DOUBLE) AS den
        |  FROM cum, grand),
        |tg AS (SELECT nn, nblocks, CASE WHEN den > 0 THEN
        |    CAST(floor((CAST(l AS DOUBLE) / nn) * (num * num) / (den * ni) * 1e12 + 0.5) AS BIGINT)
        |  END AS tg FROM terms),
        |agg AS (SELECT nn, nblocks, sum(tg) AS tsum FROM tg GROUP BY 1, 2),
        |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM samples)
        |SELECT k, nn AS n,
        |  CASE WHEN nblocks > 1 THEN
        |    floor(((CAST(nn - 1 AS DOUBLE) / nn) * (CAST(tsum AS DOUBLE) / 1e12))
        |      * 1000000.0 + 0.5) / 1000000.0 END AS a2,
        |  CASE WHEN nblocks > 1 AND k > 1 THEN
        |    floor(((CAST(nn - 1 AS DOUBLE) / nn) * (CAST(tsum AS DOUBLE) / 1e12) / (k - 1))
        |      * 1000000.0 + 0.5) / 1000000.0 END AS a2_norm
        |FROM agg, kk""".stripMargin),
    // sf1: the k×distinct-values grid + per-sample windows must track
    // distinct cents, not rows
    sf1 = true),

    // Minimum-detectable-effect audit per event type: what lift could
    // the even-vs-odd-user test even SEE at α=.05 / 80% power — the
    // underpowered-test tripwire for the experimentation suite.
    QuerySpec("q_mde_audit", (s, d) =>
      graft.ops.Distribution.mdeAudit(Tables.events(s, d), "event_type",
          col("user_id") % 2 === 0,
          floor(col("value") * 100 + 0.5).cast("long") >= 2000L)
        .select(col("event_type"), col("n_a"), col("n_b"),
          qround(col("base_rate"), 6).as("base_rate"),
          qround(col("mde_abs"), 6).as("mde_abs"),
          qround(col("mde_rel"), 6).as("mde_rel")),
    // shared z-constant literals; one exact-count aggregate per test
    oracle = Some(
      """WITH e AS (SELECT event_type AS g, (user_id % 2 = 0) AS a,
        |    (CAST(floor(value * 100 + 0.5) AS BIGINT) >= 2000) AS y
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |    AND value IS NOT NULL),
        |m AS (SELECT g,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM e GROUP BY 1),
        |f AS (SELECT g, n_a, n_b,
        |    CAST(pos AS DOUBLE) / (n_a + n_b) AS p FROM m)
        |SELECT g AS event_type, n_a, n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    floor(p * 1000000.0 + 0.5) / 1000000.0 END AS base_rate,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND p > 0 AND p < 1 THEN
        |    floor(((1.959963984540054 + 0.8416212335729143) *
        |      sqrt(p * (1.0 - p) * (1.0 / n_a + 1.0 / n_b))) * 1000000.0 + 0.5) / 1000000.0
        |  END AS mde_abs,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND p > 0 AND p < 1 THEN
        |    floor(((1.959963984540054 + 0.8416212335729143) *
        |      sqrt(p * (1.0 - p) * (1.0 / n_a + 1.0 / n_b)) / p) * 1000000.0 + 0.5) / 1000000.0
        |  END AS mde_rel
        |FROM f""".stripMargin)),

    // Entropy rate of the event stream: how predictable is next-given-
    // current (nats), vs the ignore-the-past baseline — the corpus-level
    // summary q_journey_surprise scores entities against.
    QuerySpec("q_transition_entropy", (s, d) =>
      graft.ops.Attribution.transitionEntropy(Tables.events(s, d),
          "user_id", "ts", "event_id", "event_type")
        .select(col("n_trans"), col("n_states"),
          qround(col("h_rate"), 6).as("h_rate"),
          qround(col("h_marginal"), 6).as("h_marginal"),
          qround(col("predictability"), 6).as("predictability")),
    // p·ln terms on the 1e-12 grid before the |types|²-bounded sums
    // (mirrors Attribution.transitionEntropy)
    oracle = Some(
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL),
        |tr AS (SELECT event_type AS a,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
        |  FROM e),
        |cells AS MATERIALIZED (SELECT a, b, count(*) AS c FROM tr
        |  WHERE b IS NOT NULL GROUP BY 1, 2),
        |ft AS (SELECT a, sum(c) AS ca FROM cells GROUP BY 1),
        |grand AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cells),
        |hr AS (SELECT sum(CAST(floor(-(CAST(c AS DOUBLE) / t) *
        |      ln(CAST(c AS DOUBLE) / ca) * 1e12 + 0.5) AS BIGINT)) AS hr
        |  FROM cells JOIN ft ON cells.a = ft.a, grand),
        |hm AS (SELECT sum(CAST(floor(-(CAST(cb AS DOUBLE) / t) *
        |      ln(CAST(cb AS DOUBLE) / t) * 1e12 + 0.5) AS BIGINT)) AS hm
        |  FROM (SELECT b, sum(c) AS cb FROM cells GROUP BY 1), grand),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_states FROM
        |  (SELECT a FROM cells UNION SELECT b FROM cells))
        |SELECT t AS n_trans, n_states,
        |  floor((CAST(hr AS DOUBLE) / 1e12) * 1000000.0 + 0.5) / 1000000.0 AS h_rate,
        |  floor((CAST(hm AS DOUBLE) / 1e12) * 1000000.0 + 0.5) / 1000000.0 AS h_marginal,
        |  CASE WHEN CAST(hm AS DOUBLE) / 1e12 > 0 THEN
        |    floor((1.0 - (CAST(hr AS DOUBLE) / 1e12) / (CAST(hm AS DOUBLE) / 1e12))
        |      * 1000000.0 + 0.5) / 1000000.0 END AS predictability
        |FROM grand, hr, hm, st""".stripMargin)),

    // Benjamini–Yekutieli FDR over the same sweep as q_bh_fdr — the
    // arbitrary-dependence guarantee, paying the harmonic c(m) factor
    // (1/rank terms grid-summed exactly).
    QuerySpec("q_by_fdr", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
          col("value").isNotNull && col("ts").isNotNull)
        .withColumn("test", concat(col("event_type"), lit(":"),
          dayofmonth(col("ts")).cast("string")))
      val z = graft.ops.Distribution.proportionZByGroup(ev, "test",
        col("user_id") % 2 === 0,
        floor(col("value") * 100 + lit(0.5)).cast("long") >= 2000L)
      graft.ops.Distribution.byAdjust(z, "test", "p", alpha = 0.1)
        .select(col("test"), col("p"), col("rank"), col("m"),
          qround(col("cm"), 6).as("cm"),
          qround(col("p_adj"), 9).as("p_adj"), col("rejected"))
    },
    // the q_bh_fdr sweep with the BY harmonic factor: 1/rank gridded to
    // 1e-12 longs before the window sum (mirrors Distribution.byAdjust)
    oracle = Some(
      """WITH e AS (SELECT event_type || ':' || CAST(day(ts) AS VARCHAR) AS test,
        |    user_id % 2 = 0 AS arm,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) >= 2000 AS y
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |    AND value IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT test, count(*) FILTER (arm) AS n_a,
        |    count(*) FILTER (NOT arm) AS n_b,
        |    count(*) FILTER (arm AND y) AS pos_a,
        |    count(*) FILTER (NOT arm AND y) AS pos_b
        |  FROM e GROUP BY 1),
        |z AS (SELECT *,
        |    CASE WHEN n_a > 0 AND n_b > 0
        |        AND pos_a + pos_b > 0 AND pos_a + pos_b < n_a + n_b THEN
        |      (CAST(pos_a AS DOUBLE) / n_a - CAST(pos_b AS DOUBLE) / n_b) /
        |        sqrt((CAST(pos_a + pos_b AS DOUBLE) / (n_a + n_b)) *
        |          (1.0 - CAST(pos_a + pos_b AS DOUBLE) / (n_a + n_b)) *
        |          (1.0 / n_a + 1.0 / n_b))
        |    END AS z FROM c),
        |p AS (SELECT *, floor(2.0 / (1.0 + exp(1.702 * abs(z)))
        |    * 1000000000.0 + 0.5) / 1000000000.0 AS p
        |  FROM z WHERE z IS NOT NULL),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY p, test) AS BIGINT) AS rank,
        |    count(*) OVER () AS m FROM p),
        |h AS (SELECT *, CAST(sum(CAST(floor(1e12 / rank + 0.5) AS BIGINT))
        |      OVER () AS DOUBLE) / 1e12 AS cm FROM r),
        |ks AS (SELECT *, MAX(CASE WHEN p <= CAST(rank AS DOUBLE) * 0.1 / (m * cm)
        |      THEN rank END) OVER () AS kstar,
        |    MIN(p * (m * cm) / rank) OVER (ORDER BY rank DESC
        |      ROWS UNBOUNDED PRECEDING) AS tailmin
        |  FROM h)
        |SELECT test, p, rank, CAST(m AS BIGINT) AS m,
        |  floor(cm * 1000000.0 + 0.5) / 1000000.0 AS cm,
        |  floor(least(1.0, tailmin) * 1000000000.0 + 0.5) / 1000000000.0 AS p_adj,
        |  kstar IS NOT NULL AND rank <= kstar AS rejected
        |FROM ks""".stripMargin)),

    // Empirical-Bayes smoothed purchase-rate leaderboard: shrinkage
    // toward the global rate (strength 20) ranks by evidence where the
    // raw rate crowns every 1-for-1 user.
    QuerySpec("q_smoothed_rates", (s, d) =>
      graft.ops.Aggregates.smoothedRates(
          Tables.events(s, d), "user_id",
          col("event_type") === "purchase", strength = 20.0)
        .select(col("user_id"), col("n"), col("pos"),
          qround(col("raw_rate"), 6).as("raw_rate"),
          qround(col("smoothed_rate"), 6).as("smoothed_rate"))
        .orderBy(col("smoothed_rate").desc, col("user_id").asc)
        .limit(20),
    // shrinkage toward the global rate (mirrors Aggregates.smoothedRates);
    // top-20 on the ROUNDED smoothed rate, user tie-break
    oracle = Some(
      """WITH e AS (SELECT user_id, (event_type = 'purchase') AS y FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM e GROUP BY 1),
        |t AS (SELECT sum(n) AS tn, sum(pos) AS tp FROM g)
        |SELECT user_id, n, pos,
        |  floor((CAST(pos AS DOUBLE) / n) * 1000000.0 + 0.5) / 1000000.0 AS raw_rate,
        |  floor(((pos + (CAST(tp AS DOUBLE) / tn) * 20.0) / (n + 20.0))
        |    * 1000000.0 + 0.5) / 1000000.0 AS smoothed_rate
        |FROM g, t ORDER BY 5 DESC, user_id ASC LIMIT 20""".stripMargin)),

    // SAX symbolization of each type's daily-revenue series: z-normalize,
    // 7-day PAA means, 4-letter Gaussian-breakpoint alphabet — the
    // symbol string motif mining greps at scale.
    QuerySpec("q_sax_symbols", (s, d) => {
      val daily = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), to_date(lit("2020-01-01")))
            .cast("long").as("t"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("x"))
      graft.ops.Seasonal.saxSymbols(daily, "event_type", "t", "x",
          segLen = 7,
          breakpoints = Seq(-0.6744897501960817, 0.0, 0.6744897501960817))
        .select(col("event_type"), col("seg"), col("n_pts"),
          qround(col("paa"), 6).as("paa"), col("sym"))
    },
    // z-normalized 7-day PAA means onto the 4-letter Gaussian alphabet
    // (mirrors Seasonal.saxSymbols breakpoint-for-breakpoint)
    oracle = Some(
      """WITH s0 AS (SELECT event_type AS g,
        |    CAST(date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS BIGINT) AS t,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT g, CAST(count(*) AS BIGINT) AS mn, sum(x) AS ms,
        |    sum(CAST(x AS HUGEINT) * x) AS mq FROM s0 GROUP BY 1),
        |sg AS (SELECT g, CAST(floor(CAST(t AS DOUBLE) / 7) AS BIGINT) AS seg,
        |    CAST(count(*) AS BIGINT) AS n_pts, sum(x) AS sx
        |  FROM s0 GROUP BY 1, 2),
        |f AS (SELECT sg.g AS g, seg, n_pts,
        |    CAST(ms AS DOUBLE) / mn AS mu,
        |    sqrt(CAST(mq AS DOUBLE) / mn -
        |      (CAST(ms AS DOUBLE) / mn) * (CAST(ms AS DOUBLE) / mn)) AS sigma,
        |    CAST(sx AS DOUBLE) / n_pts AS segmean
        |  FROM sg JOIN m ON sg.g = m.g)
        |SELECT g AS event_type, seg, n_pts,
        |  CASE WHEN sigma > 0 THEN
        |    floor(((segmean - mu) / sigma) * 1000000.0 + 0.5) / 1000000.0 END AS paa,
        |  CASE WHEN sigma > 0 THEN substr('abcd',
        |    1 + (CASE WHEN (segmean - mu) / sigma > -0.6744897501960817 THEN 1 ELSE 0 END)
        |      + (CASE WHEN (segmean - mu) / sigma > 0.0 THEN 1 ELSE 0 END)
        |      + (CASE WHEN (segmean - mu) / sigma > 0.6744897501960817 THEN 1 ELSE 0 END), 1)
        |  END AS sym
        |FROM f""".stripMargin)),

    // S4 — idempotent upsert: keep the newest version per key.
    QuerySpec("q_s4_upsert_lastwrite", (s, d) => {
      Dedup.lastWriteWins(Tables.events(s, d), Seq("user_id"),
          Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("event_id"), col("event_type"))
    },
    oracle = Some(
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin)),

    // S5 — TTL'd dedup: first event per (user, 6h bucket).
    QuerySpec("q_s5_dedup_time_bucket", (s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"),
          floor(hour(col("ts")) / 6.0).cast("long").as("bucket6h"))
        .agg(min(col("event_id")).as("first_event"), count(lit(1)).as("n"))
    },
    oracle = Some(
      """SELECT user_id, CAST(ts AS DATE) AS day, CAST(floor(hour(ts) / 6.0) AS BIGINT) AS bucket6h,
        |  min(event_id) AS first_event, CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2, 3""".stripMargin)),

    // Event-time tumbling window aggregation (1 h).
    QuerySpec("q_event_window_agg", (s, d) => {
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), qround(sum(col("value")), 4).as("sum_value"))
    },
    oracle = Some(
      """SELECT date_trunc('hour', ts) AS window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  floor((SUM(value)) * 10000.0 + 0.5) / 10000.0 AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // Sliding event-time windows (6 h window / 2 h slide): every event
    // lands in exactly window/slide = 3 overlapping windows — the
    // grid-aligned expansion the oracle states explicitly. Same scale
    // shape as tumbling: a 3× narrow row expansion, then one hash
    // aggregate; never a self-join.
    QuerySpec("q_sliding_window", (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "6 hours", "2 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"), qround(sum(col("value")), 4).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value")),
    oracle = Some(
      """WITH e AS (
        |  SELECT event_type, value, epoch_us(ts) AS t FROM events),
        |x AS (
        |  SELECT event_type, value, unnest(range(0, 3)) AS k,
        |    (t // 7200000000) * 7200000000 AS base
        |  FROM e)
        |SELECT make_timestamp(base - k * 7200000000) AS window_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  floor((SUM(value)) * 10000.0 + 0.5) / 10000.0 AS sum_value
        |FROM x GROUP BY 1, 2""".stripMargin)),

    // Sessionization: 30-min-gap sessions per user (stateful-processing shape).
    QuerySpec("q_sessionize", (s, d) => {
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val gap = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(wOrd)
      Tables.events(s, d)
        .withColumn("brk", when(gap > 1800000000L, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("brk")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
        .select(col("user_id"), col("event_id"), col("session_id"))
    },
    oracle = Some(
      """WITH g AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 1800000000 THEN 1 ELSE 0 END AS brk,
        |    ts
        |  FROM events)
        |SELECT user_id, event_id,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM g""".stripMargin)),

    // A9 — per-batch counters: volume, distinct users, value sum per type.
    QuerySpec("q_a9_batch_counters", (s, d) => {
      Tables.events(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          qround(sum(col("value")), 4).as("sum_value"))
    },
    oracle = Some(
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  floor((SUM(value)) * 10000.0 + 0.5) / 10000.0 AS sum_value
        |FROM events GROUP BY 1""".stripMargin)),

    // As-of join: each purchase matched to the user's most recent prior
    // view (backward, inclusive) — composed operator vs DuckDB native ASOF.
    QuerySpec("q_asof_join", (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id", "value")
      graft.ops.AsOfJoin.backward(purchases, views, Seq("user_id"), "ts")
        .filter(col("r_ts").isNotNull)
        .select(col("event_id").as("purchase_id"), col("r_event_id").as("view_id"),
          col("r_value").as("view_value"))
    },
    oracle = Some(
      """SELECT l.event_id AS purchase_id, r.event_id AS view_id, r.value AS view_value
        |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') l
        |ASOF JOIN (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),

    // The same as-of alignment through the WHOLE-OPERATOR plan node
    // (plans.AsOfJoinPlan → AsOfJoinExec via planner strategy): two
    // key-clustered exchanges + per-partition forward merge — no union,
    // no window carry column. Same oracle as the compositional form.
    QuerySpec("q_asof_join_native", (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id", "value")
      graft.plans.AsOfJoinNative.backward(purchases, views, Seq("user_id"), "ts")
        .filter(col("r_ts").isNotNull)
        .select(col("event_id").as("purchase_id"), col("r_event_id").as("view_id"),
          col("r_value").as("view_value"))
    },
    // identical alignment through the native exec — same ASOF oracle
    oracle = Some(
      """SELECT l.event_id AS purchase_id, r.event_id AS view_id, r.value AS view_value
        |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') l
        |ASOF JOIN (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin),
    // sf1: two key-clustered exchanges + a per-partition forward merge
    sf1 = true),

    // Forward as-of (next-touch): each view matched to the user's NEXT
    // purchase (smallest ts ≥, inclusive) — the mirror composition:
    // time-descending carry, right-before-left at equal timestamps.
    QuerySpec("q_asof_forward", (s, d) => {
      val ev = Tables.events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      graft.ops.AsOfJoin.forward(views, purchases, Seq("user_id"), "ts")
        .filter(col("r_ts").isNotNull)
        .select(col("event_id").as("view_id"), col("r_event_id").as("purchase_id"),
          col("r_value").as("purchase_value"))
    },
    // DuckDB infers the forward direction from the <= inequality
    oracle = Some(
      """SELECT l.event_id AS view_id, r.event_id AS purchase_id, r.value AS purchase_value
        |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view') l
        |ASOF JOIN (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin)),

    // As-of with a freshness bound (merge_asof tolerance): a prior view
    // older than 24h reverts to unmatched — left-outer rows kept, so the
    // report distinguishes "no view ever" from "view too stale" only by
    // the tolerance gate, exactly as the oracle's CASE states it.
    QuerySpec("q_asof_tolerance", (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id", "value")
      val joined = graft.ops.AsOfJoin.backward(purchases, views, Seq("user_id"), "ts")
      graft.ops.AsOfJoin.withTolerance(joined, "ts", 86400000000L)
        .select(col("event_id").as("purchase_id"), col("r_event_id").as("view_id"),
          col("r_value").as("view_value"))
    },
    oracle = Some(
      """SELECT l.event_id AS purchase_id,
        |  CASE WHEN r.event_id IS NOT NULL
        |    AND epoch_us(l.ts) - epoch_us(r.ts) <= 86400000000 THEN r.event_id END AS view_id,
        |  CASE WHEN r.event_id IS NOT NULL
        |    AND epoch_us(l.ts) - epoch_us(r.ts) <= 86400000000 THEN r.value END AS view_value
        |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),

    // Trailing 7-DAY window per event type (RANGE frame on the integer
    // day index, not ROWS): missing days shrink the window — a rows-frame
    // would silently reach further back across gaps. Exact long sums.
    QuerySpec("q_trailing_window", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
        .filter(col("event_type").isNotNull && col("day").isNotNull &&
          col("cents").isNotNull)
      val w = Window.partitionBy(col("event_type"))
        .orderBy(datediff(col("day"), lit("2020-01-01").cast("date")))
        .rangeBetween(-6, 0)
      daily.select(col("event_type"), col("day"), col("cents"),
        sum(col("cents")).over(w).as("trail7_cents"),
        count(lit(1)).over(w).cast("long").as("trail7_days"))
    },
    oracle = Some(
      """WITH s0 AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents FROM events GROUP BY 1, 2),
        |s AS (SELECT *, date_diff('day', DATE '2020-01-01', day) AS di FROM s0
        |  WHERE event_type IS NOT NULL AND day IS NOT NULL AND cents IS NOT NULL)
        |SELECT event_type, day, CAST(cents AS BIGINT) AS cents,
        |  CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY di
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail7_cents,
        |  CAST(count(*) OVER (PARTITION BY event_type ORDER BY di
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail7_days
        |FROM s""".stripMargin)),

    // Multi-touch attribution, position-based (U-shape): every view/click
    // in the 3 days before a purchase gets a defined credit fraction —
    // first/last 0.4, middles split 0.2. Credits are single divisions of
    // window integers, so per-touch rows hash bit-for-bit.
    QuerySpec("q_attribution_ushape", (s, d) => {
      val ev = Tables.events(s, d)
      val conv = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      val touch = ev.filter(col("event_type").isin("view", "click"))
        .select("user_id", "ts", "event_id", "event_type")
      graft.ops.Attribution.multiTouch(conv, touch, "user_id", "ts", "event_id",
          "ts", "event_id", "event_type", lookbackDays = 3, model = "ushape")
        .select(col("conv_id"), col("touch_id"), col("channel"), col("pos"),
          col("n_touches"), qround(col("credit"), 6).as("credit"))
    },
    oracle = Some(
      """WITH c AS (SELECT user_id, ts AS cts, event_id AS conv_id FROM events
        |  WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, ts AS tts, event_id AS touch_id, event_type AS channel
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (SELECT c.conv_id, t.touch_id, t.channel, t.tts
        |  FROM c JOIN t ON c.user_id = t.user_id
        |    AND epoch_us(c.cts) - epoch_us(t.tts) BETWEEN 0 AND 259200000000),
        |w AS (SELECT *,
        |    CAST(row_number() OVER (PARTITION BY conv_id ORDER BY tts ASC, touch_id ASC) AS BIGINT) AS pos,
        |    count(*) OVER (PARTITION BY conv_id) AS n FROM j)
        |SELECT conv_id, touch_id, channel, pos, CAST(n AS BIGINT) AS n_touches,
        |  floor((CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE) WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
        |    WHEN pos = 1 OR pos = n THEN CAST(0.4 AS DOUBLE)
        |    ELSE CAST(0.2 AS DOUBLE) / (n - 2) END) * 1000000.0 + 0.5) / 1000000.0 AS credit
        |FROM w""".stripMargin)),

    // Linear-model channel rollup: which channel earns the conversion
    // credit once every qualifying touch shares 1/n.
    QuerySpec("q_attribution_channels", (s, d) => {
      val ev = Tables.events(s, d)
      val conv = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      val touch = ev.filter(col("event_type").isin("view", "click"))
        .select("user_id", "ts", "event_id", "event_type")
      val credits = graft.ops.Attribution.multiTouch(conv, touch, "user_id",
        "ts", "event_id", "ts", "event_id", "event_type",
        lookbackDays = 3, model = "linear")
      graft.ops.Attribution.channelCredit(credits)
        .select(col("channel"), col("n_touches_total"),
          col("n_conversions_touched"),
          qround(col("total_credit"), 4).as("total_credit"))
    },
    oracle = Some(
      """WITH c AS (SELECT user_id, ts AS cts, event_id AS conv_id FROM events
        |  WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, ts AS tts, event_id AS touch_id, event_type AS channel
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (SELECT c.conv_id, t.touch_id, t.channel, t.tts
        |  FROM c JOIN t ON c.user_id = t.user_id
        |    AND epoch_us(c.cts) - epoch_us(t.tts) BETWEEN 0 AND 259200000000),
        |w AS (SELECT *, count(*) OVER (PARTITION BY conv_id) AS n FROM j)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches_total,
        |  CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions_touched,
        |  floor((sum(CAST(1.0 AS DOUBLE) / n)) * 10000.0 + 0.5) / 10000.0 AS total_credit
        |FROM w GROUP BY 1""".stripMargin),
    sf1 = true),

    // W4 — lag/lead navigation: per-user inter-event gap and next event
    // type. High-cardinality partition key (user_id), so the window sort
    // parallelizes across users — no global ordering anywhere.
    QuerySpec("q_w4_lag_lead", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("prev_gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .select(col("user_id"), col("event_id"), col("prev_gap_us"), col("next_type"))
    },
    oracle = Some(
      """SELECT user_id, event_id,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS prev_gap_us,
        |  lead(event_type) OVER w AS next_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""".stripMargin)),

    // W5 — distribution ranks per user: ntile quartiles, percent_rank,
    // cume_dist over the value ordering (unique event_id tie-break makes
    // every rank deterministic). Same scale shape as W4: per-user
    // partitions, never a single global sort. For GLOBAL deciles at scale
    // use the percentile-cut-points path (A4), not a one-partition window.
    QuerySpec("q_w5_rank_suite", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("value").asc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pr", qround(percent_rank().over(w), 6))
        .withColumn("cd", qround(cume_dist().over(w), 6))
        .select(col("user_id"), col("event_id"), col("quartile"), col("pr"), col("cd"))
    },
    oracle = Some(
      """SELECT user_id, event_id,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  floor((percent_rank() OVER w) * 1000000.0 + 0.5) / 1000000.0 AS pr,
        |  floor((cume_dist() OVER w) * 1000000.0 + 0.5) / 1000000.0 AS cd
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY value ASC, event_id ASC)""".stripMargin)),

    // Keyless point-in-interval join: purchases counted into 6-hour
    // campaign windows (one campaign per hash-sampled signup event).
    // Bucketized equi-join — never a BroadcastNestedLoopJoin (asserted in
    // PlanAssertionsSpec); the DuckDB oracle states the same join as a
    // plain inequality theta-join.
    QuerySpec("q_range_join", (s, d) => {
      val ev = Tables.events(s, d)
      val sixHoursUs = 21600000000L
      val campaigns = ev.filter(col("event_type") === "signup")
        .filter(graft.functions.Md5Hash60.hash60(col("event_id").cast("string"))
          % 16 === 0)
        .select(col("event_id").as("campaign_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) + sixHoursUs).as("end_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          unix_micros(col("ts")).as("p_us"))
      graft.ops.RangeJoin.pointInInterval(purchases, "p_us",
          campaigns, "start_us", "end_us", bucketWidth = sixHoursUs)
        .groupBy("campaign_id")
        .agg(count(lit(1)).as("n_purchases"), countDistinct(col("user_id")).as("n_buyers"))
    },
    oracle = Some(
      """WITH campaigns AS (
        |  SELECT event_id AS campaign_id, epoch_us(ts) AS start_us,
        |    epoch_us(ts) + 21600000000 AS end_us
        |  FROM events WHERE event_type = 'signup'
        |    AND ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 16 = 0),
        |purchases AS (
        |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT campaign_id, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers
        |FROM campaigns c JOIN purchases p
        |  ON p.p_us >= c.start_us AND p.p_us < c.end_us
        |GROUP BY 1""".stripMargin)),

    // Keyed interval join — the stream-stream-join shape in batch form:
    // each click attributed to every view by the SAME user within the
    // preceding hour (the live watermarked execution of exactly this
    // dataflow is q_stream_join; StreamingSpec proves they agree).
    QuerySpec("q_interval_join", (s, d) => {
      val ev = Tables.events(s, d)
      val hourUs = 3600000000L
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) + hourUs).as("end_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("c_us"))
      graft.ops.RangeJoin.pointInInterval(clicks, "c_us",
          views, "start_us", "end_us", bucketWidth = hourUs, keys = Seq("user_id"))
        .select(col("user_id"), col("view_id"), col("click_id"))
    },
    oracle = Some(
      """WITH views AS (
        |  SELECT user_id, event_id AS view_id, epoch_us(ts) AS start_us,
        |    epoch_us(ts) + 3600000000 AS end_us
        |  FROM events WHERE event_type = 'view'),
        |clicks AS (
        |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click')
        |SELECT v.user_id, v.view_id, c.click_id
        |FROM views v JOIN clicks c
        |  ON c.user_id = v.user_id AND c.c_us >= v.start_us AND c.c_us < v.end_us""".stripMargin)),

    // W6 — window FRAMES: per-user running total (unbounded preceding) and
    // 7-row moving average (6 preceding .. current). Sums run over derived
    // integer cents so frame-fold order cannot diverge between engines; the
    // moving average divides two exact integers only at the end. Same scale
    // shape as W4/W5: per-user partitions, no global sort.
    QuerySpec("q_w6_running_agg", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mov = w.rowsBetween(-6, Window.currentRow)
      Tables.events(s, d)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
        .withColumn("run_cents", sum(col("cents")).over(run))
        .withColumn("mov7_avg",
          qround(sum(col("cents")).over(mov) / (lit(100.0) * count(lit(1)).over(mov)), 6))
        .select(col("user_id"), col("event_id"), col("run_cents"), col("mov7_avg"))
    },
    oracle = Some(
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events)
        |SELECT user_id, event_id,
        |  CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents,
        |  floor((CAST(SUM(cents) OVER w7 AS DOUBLE) / (100.0 * COUNT(*) OVER w7)) * 1000000.0 + 0.5) / 1000000.0 AS mov7_avg
        |FROM e
        |WINDOW w7 AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // O5 — top-k per group. A rank filter over a window lowers to
    // WindowGroupLimitExec (asserted in PlanAssertionsSpec): each map task
    // keeps only k rows per group BEFORE the shuffle, so the exchange
    // carries ≤ k·|groups| rows instead of the full table — the per-group
    // analogue of O3's TakeOrderedAndProject.
    QuerySpec("q_o5_topk_per_group", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("event_id"), col("value"), col("rn").cast("long").as("rn"))
    },
    oracle = Some(
      """SELECT user_id, event_id, value, rn FROM (
        |  SELECT user_id, event_id, value,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS BIGINT) AS rn
        |  FROM events) WHERE rn <= 3""".stripMargin)),

    // Native session windows: Spark's session_window merges per-user event
    // windows closer than the gap — the builtin form of q_sessionize's
    // hand-rolled islands (and the watermarked-streaming form is state
    // with timeout, tested in StreamingSpec). Oracle = gap-islands CTE:
    // a new session starts when the gap is >= 30 min (session ends are
    // exclusive, so a gap of exactly the window does NOT merge).
    QuerySpec("q_session_window", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"), qround(sum(col("value")), 4).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n"), col("sum_value")),
    oracle = Some(
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |        OVER (PARTITION BY user_id ORDER BY ts ASC) >= 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  CAST(count(*) AS BIGINT) AS n,
        |  floor((SUM(value)) * 10000.0 + 0.5) / 10000.0 AS sum_value
        |FROM s GROUP BY user_id, sid""".stripMargin)),

    // Cohort retention: users bucketed by first-activity day, distinct
    // active users per (cohort, day offset). One user-keyed shuffle (the
    // cohort day is a window min, not a join) + the final aggregate.
    QuerySpec("q_event_retention", (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), to_date(col("ts")).as("day"))
      val w = Window.partitionBy("user_id")
      ev.withColumn("cohort_day", min(col("day")).over(w))
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },
    oracle = Some(
      """WITH a AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_day
        |  FROM events)
        |SELECT cohort_day, CAST(datediff('day', cohort_day, day) AS BIGINT) AS day_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM a GROUP BY 1, 2""".stripMargin)),

    // Ordered funnel (view → click → purchase): stage timestamps via
    // chained conditional window-mins over ONE user-keyed exchange —
    // strictly-after ordering, no self-joins.
    QuerySpec("q_event_funnel", (s, d) => {
      val w = Window.partitionBy("user_id")
      Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("t_view",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t_click",
          min(when(col("event_type") === "click" && col("ts") > col("t_view"), col("ts"))).over(w))
        .withColumn("t_purchase",
          min(when(col("event_type") === "purchase" && col("ts") > col("t_click"), col("ts"))).over(w))
        .agg(
          countDistinct(when(col("t_view").isNotNull, col("user_id"))).as("n_view"),
          countDistinct(when(col("t_click").isNotNull, col("user_id"))).as("n_click_after_view"),
          countDistinct(when(col("t_purchase").isNotNull, col("user_id"))).as("n_purchase_after_click"))
    },
    oracle = Some(
      """WITH w1 AS (
        |  SELECT user_id, event_type, ts,
        |    min(CASE WHEN event_type = 'view' THEN ts END) OVER (PARTITION BY user_id) AS t_view
        |  FROM events),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
        |         OVER (PARTITION BY user_id) AS t_click FROM w1),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
        |         OVER (PARTITION BY user_id) AS t_purchase FROM w2)
        |SELECT CAST(count(DISTINCT CASE WHEN t_view IS NOT NULL THEN user_id END) AS BIGINT) AS n_view,
        |  CAST(count(DISTINCT CASE WHEN t_click IS NOT NULL THEN user_id END) AS BIGINT) AS n_click_after_view,
        |  CAST(count(DISTINCT CASE WHEN t_purchase IS NOT NULL THEN user_id END) AS BIGINT) AS n_purchase_after_click
        |FROM w3""".stripMargin)),

    // Snapshot diff / CDC changelog: per-user state (distinct event types
    // used, whether they ever purchased) at mid-month vs now, full-outer
    // diffed into insert/delete/update/unchanged rows. The %-filters
    // manufacture keys missing from one side so all four op classes occur.
    QuerySpec("q_snapshot_diff", (s, d) => {
      val ev = Tables.events(s, d)
      def snap(df: DataFrame) = df.groupBy("user_id").agg(
        countDistinct(col("event_type")).as("n_types"),
        (sum(when(col("event_type") === "purchase", 1).otherwise(0)) > 0).as("has_purchase"))
      val old = snap(ev.filter(col("ts") < lit("2024-01-15").cast("timestamp")
        && col("user_id") % 10 =!= 3))
      val nw = snap(ev.filter(col("user_id") % 7 =!= 2))
      graft.ops.SnapshotDiff.changelog(old, nw, Seq("user_id"),
        Seq("n_types", "has_purchase"))
    },
    oracle = Some(
      """WITH o AS (
        |  SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |    (count(*) FILTER (event_type = 'purchase') > 0) AS has_purchase
        |  FROM events WHERE ts < TIMESTAMP '2024-01-15' AND user_id % 10 != 3 GROUP BY 1),
        |n AS (
        |  SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |    (count(*) FILTER (event_type = 'purchase') > 0) AS has_purchase
        |  FROM events WHERE user_id % 7 != 2 GROUP BY 1)
        |SELECT coalesce(o.user_id, n.user_id) AS user_id,
        |  o.n_types AS old_n_types, o.has_purchase AS old_has_purchase,
        |  n.n_types AS new_n_types, n.has_purchase AS new_has_purchase,
        |  CASE WHEN o.user_id IS NULL THEN 'insert'
        |       WHEN n.user_id IS NULL THEN 'delete'
        |       WHEN o.n_types IS DISTINCT FROM n.n_types
        |         OR o.has_purchase IS DISTINCT FROM n.has_purchase THEN 'update'
        |       ELSE 'unchanged' END AS op
        |FROM o FULL OUTER JOIN n ON o.user_id = n.user_id""".stripMargin)),

    // Grouped median imputation (fit/apply): every 9th event's value is
    // deterministically nulled, then filled with its event type's exact
    // median (fit = the distinct-value-collapse quantile machinery,
    // apply = broadcast join + coalesce). The report pins the fitted
    // medians AND the filled distribution, so both halves are under
    // oracle verification.
    QuerySpec("q_impute_median", (s, d) => {
      val base = Tables.events(s, d)
        .filter(col("event_type").isNotNull)
        .select(col("event_type"), col("event_id"),
          when(col("event_id") % 9 === 0, lit(null))
            .otherwise(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      val med = graft.ops.Impute.fitGroupMedian(base, "event_type", "cents")
      graft.ops.Impute.applyGroupMedian(base, med, "event_type", "cents", "filled")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("cents").isNull, 1L).otherwise(0L)).as("n_filled"),
          // filled values are half-integers (cents or a .5-interpolated
          // median), so their sum — hence avg — is order-free in doubles
          qround(avg(col("filled")), 6).as("avg_filled"))
        .join(med.select(col("event_type"), qround(col("median"), 6).as("med_cents")),
          Seq("event_type"))
        .select(col("event_type"), col("n"), col("n_filled"), col("med_cents"),
          col("avg_filled"))
    },
    oracle = Some(
      """WITH b AS (SELECT event_type, event_id,
        |    CASE WHEN event_id % 9 = 0 THEN NULL
        |         ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS cents
        |  FROM events WHERE event_type IS NOT NULL),
        |m AS (SELECT event_type, quantile_cont(cents, 0.5) AS med FROM b GROUP BY 1),
        |f AS (SELECT b.event_type, b.cents,
        |    coalesce(CAST(b.cents AS DOUBLE), m.med) AS filled
        |  FROM b JOIN m USING (event_type))
        |SELECT f.event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN f.cents IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
        |  floor(max(m.med) * 1000000.0 + 0.5) / 1000000.0 AS med_cents,
        |  floor(avg(f.filled) * 1000000.0 + 0.5) / 1000000.0 AS avg_filled
        |FROM f JOIN m USING (event_type) GROUP BY 1""".stripMargin)),

    // CDC round-trip identity: applying the changelog back onto the old
    // snapshot reproduces the new one — the oracle states the new
    // snapshot DIRECTLY, so the whole diff→apply pair is under oracle
    // verification. Apply cost is O(|delta|): one anti join against the
    // touched keys plus a delta-sized upsert union.
    QuerySpec("q_cdc_apply", (s, d) => {
      val ev = Tables.events(s, d)
      def snap(df: DataFrame) = df.groupBy("user_id").agg(
        countDistinct(col("event_type")).as("n_types"),
        (sum(when(col("event_type") === "purchase", 1).otherwise(0)) > 0).as("has_purchase"))
      val old = snap(ev.filter(col("ts") < lit("2024-01-15").cast("timestamp")
        && col("user_id") % 10 =!= 3))
      val nw = snap(ev.filter(col("user_id") % 7 =!= 2))
      val log = graft.ops.SnapshotDiff.changelog(old, nw, Seq("user_id"),
        Seq("n_types", "has_purchase"))
      graft.ops.SnapshotDiff.applyChangelog(old, log, Seq("user_id"),
        Seq("n_types", "has_purchase"))
    },
    // the round-trip target: the NEW snapshot, stated directly
    oracle = Some(
      """SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  (count(*) FILTER (event_type = 'purchase') > 0) AS has_purchase
        |FROM events WHERE user_id % 7 != 2 GROUP BY 1""".stripMargin)),

    // Time-grid resample + forward fill: per-user daily last purchase
    // price, gaps carried forward (days before the first purchase stay
    // null). Grid expansion is per-key sequence+explode (narrow), the fill
    // a per-key ordered window — nothing global.
    QuerySpec("q_resample_ffill", (s, d) => {
      val wDay = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val daily = Tables.events(s, d).filter(col("event_type") === "purchase")
        .withColumn("day", to_date(col("ts")))
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
        .withColumn("rn", row_number().over(wDay)).filter(col("rn") === 1)
        .select(col("user_id"), col("day"), col("cents"))
      graft.ops.Resample.dailyGridFfill(daily, Seq("user_id"), "day", Seq("cents"))
    },
    oracle = Some(
      """WITH daily AS (
        |  SELECT user_id, day, cents FROM (
        |    SELECT user_id, CAST(ts AS DATE) AS day,
        |      CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |      row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM span)
        |SELECT g.user_id, g.day, v.cents
        |FROM grid g ASOF LEFT JOIN daily v
        |  ON g.user_id = v.user_id AND g.day >= v.day""".stripMargin)),

    // Linear-interpolation resample over the same daily purchase grid —
    // the level-series complement of q_resample_ffill's step fill: gap
    // days take the straight line between surrounding observations (no
    // extrapolation past the ends). One backward + one forward frame on
    // a single per-user sort; the all-double interpolation expression is
    // mirrored operand-for-operand by the oracle.
    QuerySpec("q_resample_interp", (s, d) => {
      val wDay = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val daily = Tables.events(s, d).filter(col("event_type") === "purchase")
        .withColumn("day", to_date(col("ts")))
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
        .withColumn("rn", row_number().over(wDay)).filter(col("rn") === 1)
        .select(col("user_id"), col("day"), col("cents"))
      graft.ops.Resample.dailyGridInterp(daily, Seq("user_id"), "day", "cents")
        .select(col("user_id"), col("day"), col("cents"),
          qround(col("cents_interp"), 6).as("cents_interp"))
    },
    oracle = Some(
      """WITH daily AS (
        |  SELECT user_id, day, cents FROM (
        |    SELECT user_id, CAST(ts AS DATE) AS day,
        |      CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |      row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM span),
        |j AS (SELECT g.user_id, g.day, v.cents
        |  FROM grid g LEFT JOIN daily v ON g.user_id = v.user_id AND g.day = v.day),
        |f AS (SELECT user_id, day, cents,
        |    last_value(cents IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS pd,
        |    first_value(cents IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER wn AS nd
        |  FROM j
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY user_id ORDER BY day ASC
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day, cents,
        |  CASE WHEN cents IS NOT NULL
        |      THEN floor(CAST(cents AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |    WHEN pv IS NULL OR nv IS NULL THEN NULL
        |    ELSE floor((CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE) *
        |      (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0
        |  END AS cents_interp
        |FROM f""".stripMargin)),

    // Skew-safe salted aggregation, oracle-proven: the two-phase
    // (key, salt) → key aggregate must equal a plain GROUP BY. Sums run
    // over derived integer cents so partial-aggregation fold order cannot
    // diverge between engines.
    QuerySpec("q_salted_agg", (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Partitioning.saltedAgg(ev, Seq("user_id"), salt = 8,
        partials = Seq(count(lit(1)).as("pn"), sum(col("cents")).as("ps")),
        finals = Seq(sum(col("pn")).as("n"), sum(col("ps")).as("sum_cents")))
    },
    oracle = Some(
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1""".stripMargin)),

    // Incremental aggregate maintenance: the per-user stats table refreshed
    // by folding three chronological batches through partial-merge algebra
    // (count/sum/min/max merge; avg derived at read) — no history rescan.
    // The oracle states the equivalent one-shot GROUP BY: associativity of
    // the merge is exactly what the hash-compare proves.
    QuerySpec("q_incremental_agg", (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      def upTo(t: String) = lit(t).cast("timestamp")
      val batches = Seq(
        ev.filter(col("ts") < upTo("2024-01-10")),
        ev.filter(col("ts") >= upTo("2024-01-10") && col("ts") < upTo("2024-01-20")),
        ev.filter(col("ts") >= upTo("2024-01-20")))
      val partials = Seq(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      val merges = Seq(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"),
        min(col("min_cents")).as("min_cents"), max(col("max_cents")).as("max_cents"))
      graft.ops.IncrementalAgg.replay(batches, Seq("user_id"), partials, merges)
        .withColumn("avg_val", qround(col("sum_cents") / (lit(100.0) * col("n")), 6))
    },
    oracle = Some(
      """WITH e AS (
        |  SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(cents) AS min_cents, max(cents) AS max_cents,
        |  floor((CAST(sum(cents) AS DOUBLE) / (100.0 * count(*))) * 1000000.0 + 0.5) / 1000000.0 AS avg_val
        |FROM e GROUP BY 1""".stripMargin)),

    // Pivot: day × event-type count matrix with pinned pivot values (no
    // discovery pass — the column set is deterministic and scale-free).
    QuerySpec("q_event_pivot", (s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("event_type"))
        .groupBy("day").pivot("event_type", types).agg(count(lit(1)))
      wide.select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    },
    oracle = Some(
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY 1""".stripMargin)),

    // Rollup: (event_type, day) counts with subtotal and grand-total rows,
    // disambiguated by grouping_id.
    QuerySpec("q_event_rollup", (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("day"))
        .rollup("event_type", "day")
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
        .select(col("event_type"), col("day"), col("n"), col("gid")),
    oracle = Some(
      """SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
        |  CAST(grouping(event_type, day) AS BIGINT) AS gid
        |FROM (SELECT event_type, CAST(ts AS DATE) AS day FROM events)
        |GROUP BY ROLLUP (event_type, day)""".stripMargin)),

    // Cube: all four grouping combinations of (event_type, day) — the
    // full grouping-sets lattice, vs rollup's prefix hierarchy.
    QuerySpec("q_event_cube", (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("day"))
        .cube("event_type", "day")
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
        .select(col("event_type"), col("day"), col("n"), col("gid")),
    oracle = Some(
      """SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
        |  CAST(grouping(event_type, day) AS BIGINT) AS gid
        |FROM (SELECT event_type, CAST(ts AS DATE) AS day FROM events)
        |GROUP BY CUBE (event_type, day)""".stripMargin)),

    // Scalar datetime surface battery — the date/timestamp functions a
    // feature pipeline leans on, each a codegen'd builtin with exact
    // DuckDB parity (week/dow variants with divergent cross-engine
    // conventions are deliberately excluded).
    QuerySpec("q_datetime_fns", (s, d) => {
      Tables.events(s, d).select(
        col("event_id"),
        year(col("ts")).cast("long").as("y"),
        month(col("ts")).cast("long").as("mo"),
        dayofmonth(col("ts")).cast("long").as("dom"),
        hour(col("ts")).cast("long").as("h"),
        minute(col("ts")).cast("long").as("mi"),
        date_trunc("day", col("ts")).as("day_start"),
        last_day(to_date(col("ts"))).as("month_end"),
        date_add(to_date(col("ts")), 30).as("plus30"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).cast("long").as("days_since"))
    },
    oracle = Some(
      """SELECT event_id,
        |  CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS mo,
        |  CAST(day(ts) AS BIGINT) AS dom, CAST(hour(ts) AS BIGINT) AS h,
        |  CAST(minute(ts) AS BIGINT) AS mi,
        |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
        |  last_day(CAST(ts AS DATE)) AS month_end,
        |  CAST(ts AS DATE) + 30 AS plus30,
        |  CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS days_since
        |FROM events""".stripMargin)),

    // JSON payload extraction: typed values out of the props document.
    QuerySpec("q_p11_json_extract", (s, d) => {
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(qround(avg(col("k")), 4).as("avg_k"), max(col("k")).as("max_k"))
    },
    oracle = Some(
      """SELECT event_type,
        |  floor((AVG(CAST(json_extract_string(props, '$.k') AS BIGINT))) * 10000.0 + 0.5) / 10000.0 AS avg_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1""".stripMargin)),

    // A3-at-scale — HLL sketch cardinality. Estimates are engine-specific
    // (not bit-reproducible cross-engine), so the oracle-checkable output
    // is (group, exact, within_rsd): the flag asserts Spark's OWN sketch
    // lands within 3× its configured rsd of Spark's own exact count, and
    // the oracle emits literal `true` — the hash matches iff the sketch
    // honors its error bound on every group.
    QuerySpec("q_a3_approx_hll", (s, d) => {
      Tables.events(s, d).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.02).as("approx_raw"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_raw") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.06).as("within_rsd"))
    },
    // the sketch side is self-checked Spark-side (within_rsd flag); the
    // oracle pins the exact counts and expects the flag to hold everywhere
    oracle = Some("SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users, true AS within_rsd FROM events GROUP BY 1")),

    // S5 as a REAL streaming execution, oracle-pinned: the events table
    // replayed through the deterministic time-ordered file source (one
    // slab per trigger — with a single mapper per batch the per-key
    // processing order is exact), TTL dedup gate, memory sink. The oracle
    // SQL states the admission process batch-by-batch (see
    // streamDedupOracle); the bucketed batch analog is
    // q_s5_dedup_time_bucket.
    QuerySpec("q_stream_dedup_ttl", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("stream_q").toString
      val src = orderedStreamSource(s, d, "dedup", Seq("event_id", "ts", "user_id"))
      val schema = s.read.parquet(src).schema
      val name = "stream_dedup_ttl_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        // maxFilesPerTrigger is pinned to 1 (NOT the filesPerTrigger
        // prop): >1 file per trigger means >1 mapper, and shuffle-fetch
        // interleaving across mappers would make which duplicate gets
        // admitted — and hence its TTL expiry — nondeterministic.
        val stream = s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        val q = graft.streaming.DedupQueue
          .dedupWithTtl(stream, Seq("user_id"), "ts", "6 hours")
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drainStream(s, name, tmp)(
        s.table(name).groupBy("user_id").agg(count(lit(1)).as("n_emitted")))
    },
    // live streaming rows, oracle-pinned (ordered deterministic replay):
    oracle = Some(streamDedupOracle(orderedSlabs, ttlMs = 21600000L))),

    // Event-time windowed aggregation as a REAL streaming execution,
    // oracle-pinned: watermarked tumbling windows over the time-ordered
    // replay (ordered slabs guarantee no row ever arrives behind the
    // watermark, so nothing is late-dropped and the emitted set is exactly
    // "windows closed by the FINAL watermark" — a pure function of the
    // data the oracle SQL states). Hourly batch twin: q_event_window_agg.
    QuerySpec("q_stream_window_agg", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("stream_w").toString
      val src = orderedStreamSource(s, d, "winagg", Seq("event_id", "ts", "event_type", "value"))
      val schema = s.read.parquet(src).schema
      val name = "stream_window_agg_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        val stream = s.readStream.schema(schema).option("maxFilesPerTrigger", filesPerTrigger).parquet(src)
        val q = stream
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n"), qround(sum(col("value")), 4).as("sum_value"))
          .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("append")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      // append mode emits only watermark-closed windows; the tail stays open
      drainStream(s, name, tmp)(s.table(name))
    },
    // append mode emits exactly the 6h windows whose end has been passed
    // by the FINAL watermark (floor-to-ms max event time minus the 1h
    // delay); the time-ordered replay guarantees no late-dropped rows
    oracle = Some(
      """WITH wm AS (SELECT (epoch_us(max(ts)) // 1000) - 3600000 AS w FROM events)
        |SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS window_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  floor((SUM(value)) * 10000.0 + 0.5) / 10000.0 AS sum_value
        |FROM events, wm
        |WHERE ((epoch_us(ts) // 21600000000) * 21600000000) // 1000 + 21600000 <= wm.w
        |GROUP BY 1, 2""".stripMargin)),

    // Live SPRT monitor: the per-(type, day) success/trial cells build as
    // a complete-mode streaming aggregation (state = the calendar-bounded
    // types×days cell table); the cumulative LLR trajectory and the
    // boundary decisions attach in batch over the drained cells — the
    // q_stream_benford discipline. Oracle = q_sprt's SQL verbatim:
    // streaming cell build ≡ batch cell build is the assertion.
    QuerySpec("q_stream_sprt", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("stream_sprt").toString
      val src = streamSource(s, d, "sprt", Seq("event_id", "ts", "event_type", "value"))
      val schema = s.read.parquet(src).schema
      val name = "stream_sprt_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", filesPerTrigger).parquet(src)
        val q = stream
          .filter(col("event_type").isNotNull && col("ts").isNotNull &&
            col("value").isNotNull)
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), to_date(lit("2020-01-01")))
              .cast("long").as("t"))
          .agg(sum((floor(col("value") * 100 + 0.5).cast("long") >= 3000L)
            .cast("long")).as("sp_k"), count(lit(1)).as("sp_n"))
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("complete")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val cells = drainStream(s, name, tmp)(s.table(name))
      val lp = math.log(0.55 / 0.45)
      val lnm = math.log((1.0 - 0.55) / (1.0 - 0.45))
      val upper = math.log((1.0 - 0.2) / 0.05)
      val lower = math.log(0.2 / (1.0 - 0.05))
      val wCum = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("t").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      cells
        .withColumn("k", sum(col("sp_k")).over(wCum))
        .withColumn("n", sum(col("sp_n")).over(wCum))
        .withColumn("llr", col("k") * lit(lp) + (col("n") - col("k")) * lit(lnm))
        .select(col("event_type"), col("t"), col("n"), col("k"),
          qround(col("llr"), 6).as("llr"),
          when(col("llr") >= lit(upper), lit("accept_h1"))
            .when(col("llr") <= lit(lower), lit("accept_h0"))
            .otherwise(lit("continue")).as("decision"))
    },
    oracle = Some(sprtOracleSql)),

    // LIVE Page–Hinkley monitor: the per-(type, day) revenue cells build
    // as a complete-mode streaming aggregation (state = the calendar-
    // bounded type×day table); the running-mean deviation chain attaches
    // in batch over the drained cells — the q_stream_sprt discipline.
    // Oracle = q_page_hinkley's SQL verbatim: streaming cell build ≡
    // batch cell build is the assertion.
    QuerySpec("q_stream_page_hinkley", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("stream_ph").toString
      val src = streamSource(s, d, "ph", Seq("event_id", "ts", "event_type", "value"))
      val schema = s.read.parquet(src).schema
      val name = "stream_ph_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", filesPerTrigger).parquet(src)
        val q = stream
          .filter(col("event_type").isNotNull && col("ts").isNotNull &&
            col("value").isNotNull)
          .groupBy(col("event_type"),
            (datediff(to_date(col("ts")), to_date(lit("2024-01-01")))
              .cast("long") + 1).as("t"))
          .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("rev"))
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("complete")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val cells = drainStream(s, name, tmp)(s.table(name))
      graft.ops.Changepoint.pageHinkley(cells, "event_type", "t", "rev",
          slack = 1000.0, threshold = 50000.0)
        .select(col("event_type"), col("t"), col("rev"),
          qround(col("ph"), 6).as("ph"), col("alarm"))
    },
    oracle = Some(// running-mean deviations on the 1e-9 grid, cumulative m and its
      // running min in one window chain (mirrors Changepoint.pageHinkley)
      """WITH e AS (SELECT event_type AS g,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1 AS t,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |ser AS (SELECT g, t, SUM(cents) AS rev FROM e GROUP BY 1, 2),
        |w AS (SELECT g, t, rev,
        |    SUM(rev) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
        |    CAST(count(*) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS i
        |  FROM ser),
        |m AS (SELECT g, t, rev,
        |    CAST(floor((CAST(rev AS DOUBLE) - CAST(s AS DOUBLE) / i - 1000.0)
        |      * 1e9 + 0.5) AS BIGINT) AS tq
        |  FROM w),
        |mm AS (SELECT g, t, rev,
        |    SUM(tq) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
        |  FROM m),
        |f AS (SELECT g, t, rev, m,
        |    MIN(m) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
        |  FROM mm)
        |SELECT g AS event_type, t, CAST(rev AS BIGINT) AS rev,
        |  floor((CAST(m - mn AS DOUBLE) / 1e9) * 1000000.0 + 0.5)
        |    / 1000000.0 AS ph,
        |  (m - mn) > CAST(floor(50000.0 * 1e9) AS BIGINT) AS alarm
        |FROM f""".stripMargin)),

    // Stream-STATIC broadcast enrich: the canonical dimension-lookup
    // topology (a live stream joined to a batch profile table inside the
    // streaming plan) — each event compares against its type's corpus
    // mean via the exact cross-multiplied form cents·c > s, then a
    // complete-mode |types|-row aggregate (bounded state). Oracle = the
    // identical batch join+aggregate.
    QuerySpec("q_stream_enrich", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("stream_enrich").toString
      val src = streamSource(s, d, "enrich", Seq("event_id", "ts", "event_type", "value"))
      val schema = s.read.parquet(src).schema
      val name = "stream_enrich_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val dim = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("ty_s"),
          count(lit(1)).as("ty_c"))
      withShufflePartitions(s, 8) {
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", filesPerTrigger).parquet(src)
        val q = stream
          .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
          .join(broadcast(dim), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_obs"),
            sum(when(col("cents") * col("ty_c") > col("ty_s"), 1L)
              .otherwise(0L)).as("n_above"))
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("complete")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drainStream(s, name, tmp)(s.table(name))
    },
    oracle = Some(
      """WITH dim AS (SELECT event_type,
        |    SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s, count(*) AS c
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_obs,
        |  CAST(SUM(CASE WHEN CAST(floor(e.value * 100 + 0.5) AS BIGINT) * d.c > d.s
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY 1""".stripMargin)),

    // Stream-stream interval join as a REAL streaming execution
    // (rows-only): watermarked view⋈click attribution over two replayed
    // event streams. Batch twin with oracle: q_interval_join; StreamingSpec
    // proves live ≡ batch on controlled input. The watermark delay spans
    // the whole replayed history because a file REPLAY arrives in file
    // order, not time order — a production deployment sets it to the real
    // lateness bound instead.
    QuerySpec("q_stream_join", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("stream_j").toString
      val src = orderedStreamSource(s, d, "ssjoin", Seq("event_id", "ts", "user_id", "event_type"))
      val schema = s.read.parquet(src).schema
      val name = "stream_join_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        def rs = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", filesPerTrigger).parquet(src)
        val views = rs.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
        val clicks = rs.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
        val q = graft.streaming.StreamJoin
          .intervalJoin(views, "view_ts", clicks, "click_ts",
            keys = Seq("user_id"), window = "1 HOUR", delay = "720 hours")
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("append")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drainStream(s, name, tmp)(
        s.table(name).select("user_id", "view_id", "click_id"))
    },
    oracle = Some(
      """WITH views AS (
        |  SELECT user_id, event_id AS view_id, epoch_us(ts) AS start_us,
        |    epoch_us(ts) + 3600000000 AS end_us
        |  FROM events WHERE event_type = 'view'),
        |clicks AS (
        |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click')
        |SELECT v.user_id, v.view_id, c.click_id
        |FROM views v JOIN clicks c
        |  ON c.user_id = v.user_id AND c.c_us >= v.start_us AND c.c_us < v.end_us""".stripMargin)),

    // O4 — drain cap: bounded ordered take per trigger, then batch stats.
    QuerySpec("q_o4_queue_drain", (s, d) => {
      Tables.events(s, d)
        .orderBy(col("ts").asc, col("event_id").asc).limit(2000)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
    },
    oracle = Some(
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT event_type FROM events ORDER BY ts ASC, event_id ASC LIMIT 2000)
        |GROUP BY 1""".stripMargin)),

    // Exact heavy hitters without a full-cardinality shuffle: Misra-Gries
    // candidates (bounded typed-Aggregator state, capacity 125 < the 150
    // distinct users — the sketch genuinely prunes) + an exact second pass
    // over candidates only. Equivalent to GROUP BY ... HAVING cnt/N > 8/1000
    // by the N/k undercount bound; threshold test is pure integer math.
    QuerySpec("q_heavy_hitters", (s, d) =>
      HeavyHitters.exactOverThreshold(Tables.events(s, d), "user_id",
        numer = 8, denom = 1000),
    oracle = Some(
      """SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        |FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |HAVING count(*) * 1000 > 8 * (SELECT count(*) FROM events WHERE user_id IS NOT NULL)""".stripMargin)),

    // Type-2 SCD build over the event log: per-user event_type history as
    // half-open validity intervals, consecutive unchanged observations
    // collapsed. One hash exchange; the lag-filter-lead/row_number chain
    // reuses the same partitioning and sort (no second exchange).
    QuerySpec("q_scd2_versions", (s, d) =>
      graft.ops.Scd2.build(
        Tables.events(s, d).filter(col("user_id").isNotNull),
        keyCols = Seq("user_id"), tsCol = "ts",
        tieCols = Seq("event_id"), attrCols = Seq("event_type"))
        .select("user_id", "event_type", "valid_from", "valid_to", "version"),
    oracle = Some(
      """WITH o AS (SELECT user_id, ts, event_id, event_type FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM o),
        |v AS (SELECT * FROM c WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version
        |FROM v""".stripMargin)),

    // Temporal dimension lookup: each purchase joined to the SCD2 state
    // version (built from the user's NON-purchase history) valid at the
    // purchase instant — "what state was the user in when they bought",
    // the event-time dimension join every star schema with slowly
    // changing dimensions needs. Composition: Scd2.build → open end
    // sentinel-closed → RangeJoin.pointInInterval (bucketized, keyed by
    // user — never a nested-loop theta join).
    QuerySpec("q_scd2_lookup", (s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("pts"))
      // Open-end sentinel derived from the fact horizon (max fact ts + 1),
      // NOT a fixed 2100-01-01: the bucketizer explodes one row per day
      // bucket an interval spans, so a far-future constant costs ~27,700
      // bucket rows PER open dimension version, all dead weight past the
      // last fact. max(pts)+1 keeps the join result identical (every fact
      // satisfies pts < max+1, intervals are half-open) while open
      // intervals explode only to the observed horizon. One-row aggregate
      // broadcast into the dim build — no driver round-trip.
      val horizon = facts.agg((max(col("pts")) + lit(1L)).as("__horizon"))
      val dim = graft.ops.Scd2.build(
          ev.filter(col("event_type") =!= "purchase"),
          keyCols = Seq("user_id"), tsCol = "ts",
          tieCols = Seq("event_id"), attrCols = Seq("event_type"))
        .crossJoin(broadcast(horizon))
        .select(col("user_id"), col("event_type").as("state"),
          unix_micros(col("valid_from")).as("vf"),
          coalesce(unix_micros(col("valid_to")), col("__horizon")).as("vt"))
      graft.ops.RangeJoin.pointInInterval(facts, "pts", dim, "vf", "vt",
          bucketWidth = 86400000000L, keys = Seq("user_id"))
        .groupBy(col("state"))
        .agg(count(lit(1)).as("n_purchases"),
          count_distinct(col("user_id")).as("n_users"))
    },
    oracle = Some(
      """WITH o AS (SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND event_type <> 'purchase'),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM o),
        |v AS (SELECT * FROM c WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |scd AS (SELECT user_id, event_type AS state, epoch_us(ts) AS vf,
        |    COALESCE(epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)),
        |      4102444800000000) AS vt
        |  FROM v),
        |p AS (SELECT user_id, epoch_us(ts) AS pts FROM events
        |  WHERE user_id IS NOT NULL AND event_type = 'purchase')
        |SELECT state, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users
        |FROM p JOIN scd ON p.user_id = scd.user_id
        |WHERE pts >= vf AND pts < vt GROUP BY 1""".stripMargin)),

    // First-order Markov transition matrix over per-user event sequences:
    // one user-keyed window for the lead, then a map-side-combined pair
    // count; the row-probability is a single division of exact integers.
    QuerySpec("q_event_transitions", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d).filter(col("user_id").isNotNull)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("prob", qround(col("n") /
          sum(col("n")).over(Window.partitionBy("from_type")), 6))
    },
    oracle = Some(
      """WITH o AS (SELECT event_type, lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
        |  FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        |  floor((n / sum(n) OVER (PARTITION BY from_type)) * 1000000.0 + 0.5) / 1000000.0 AS prob
        |FROM c""".stripMargin)),

    // Per-segment OLS trend (y = a + b·x): day index vs value cents —
    // integer moments make the five sums order-free and exact, so the
    // closed forms consume identical operands on both engines.
    QuerySpec("q_group_regression", (s, d) => {
      val e = Tables.events(s, d).select(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2020-01-01"))).cast("long").as("x"),
        floor(col("value") * 100 + 0.5).cast("long").as("y"))
      graft.ops.Regression.groupOls(e, "event_type", "x", "y")
        .select(col("event_type"), col("n"), qround(col("slope"), 6).as("slope"),
          qround(col("intercept"), 6).as("intercept"), qround(col("r2"), 6).as("r2"))
    },
    oracle = Some(
      """WITH e AS (SELECT event_type,
        |    CAST(date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS y FROM events),
        |m AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM e WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0 THEN
        |    floor(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |           (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) * 1000000.0 + 0.5) / 1000000.0
        |  END AS slope,
        |  CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0 THEN
        |    floor(((sy - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |                 (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx) / n) * 1000000.0 + 0.5) / 1000000.0
        |  END AS intercept,
        |  CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
        |        AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0 THEN
        |    floor((((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) *
        |            (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)) /
        |           ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
        |            (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))) * 1000000.0 + 0.5) / 1000000.0
        |  END AS r2
        |FROM m""".stripMargin)),

    // Theil–Sen robust daily-volume trend per event type: median of all
    // pairwise slopes over the (day, count) series — the outlier-immune
    // complement of q_group_regression's OLS. Bounded-group contract:
    // pairs are C(days, 2) per type, a per-entity short series.
    QuerySpec("q_theil_sen", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), to_date(lit("2020-01-01")))
            .cast("long").as("x"))
        .agg(count(lit(1)).as("y"))
      graft.ops.Regression.theilSenSlope(daily, "event_type", "x", "y")
        .select(col("g").as("event_type"), col("n_pairs"),
          qround(col("slope"), 6).as("slope"))
    },
    oracle = Some(
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |pts AS (SELECT event_type AS g, CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y
        |  FROM daily WHERE x IS NOT NULL AND y IS NOT NULL),
        |pr AS (SELECT a.g AS g, (b.y - a.y) / (b.x - a.x) AS slope, a.x AS x1, b.x AS x2
        |  FROM pts a JOIN pts b ON a.g = b.g AND a.x < b.x),
        |r AS (SELECT g, slope,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY slope ASC, x1 ASC, x2 ASC) AS BIGINT) AS rnk,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS np
        |  FROM pr)
        |SELECT g AS event_type, np AS n_pairs,
        |  floor(slope * 1000000.0 + 0.5) / 1000000.0 AS slope
        |FROM r WHERE rnk = CAST(floor((np + 1) / 2.0) AS BIGINT)""".stripMargin)),

    // Kendall τ-b over the same daily-volume series: the pair-ordering
    // trend audit (Mann-Kendall's core statistic) — concordant/discordant
    // counts are exact longs, one √-division readout. Bounded-group
    // contract: C(days, 2) pairs per type, inside the group's partition.
    QuerySpec("q_kendall_tau", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), to_date(lit("2020-01-01")))
            .cast("long").as("x"))
        .agg(count(lit(1)).as("y"))
      graft.ops.Correlation.kendallTau(daily, "event_type", "x", "y")
        .select(col("g").as("event_type"), col("n_pairs"), col("nc"),
          col("nd"), col("nty"), qround(col("tau"), 6).as("tau"))
    },
    oracle = Some(
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |pts AS (SELECT event_type AS g, x, y FROM daily
        |  WHERE x IS NOT NULL AND y IS NOT NULL),
        |agg AS (SELECT a.g AS g, count(*) AS n_pairs,
        |    sum(CASE WHEN b.y > a.y THEN 1 ELSE 0 END) AS nc,
        |    sum(CASE WHEN b.y < a.y THEN 1 ELSE 0 END) AS nd,
        |    sum(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) AS nty
        |  FROM pts a JOIN pts b ON a.g = b.g AND a.x < b.x GROUP BY 1)
        |SELECT g AS event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(nc AS BIGINT) AS nc, CAST(nd AS BIGINT) AS nd,
        |  CAST(nty AS BIGINT) AS nty,
        |  CASE WHEN n_pairs > nty THEN
        |    floor((CAST(nc - nd AS DOUBLE) /
        |           sqrt(CAST(n_pairs AS DOUBLE) * (n_pairs - nty))) * 1000000.0 + 0.5) / 1000000.0
        |  END AS tau
        |FROM agg""".stripMargin)),

    // Sample ACF at lags 1..7 of each event type's daily-volume series —
    // the weekly-periodicity audit upstream of q_seasonal_decompose. Time-
    // indexed pairs from a banded self-join (gaps drop pairs, never
    // misalign); all moments exact integers, one division per lag.
    QuerySpec("q_acf", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), to_date(lit("2020-01-01")))
            .cast("long").as("t"))
        .agg(count(lit(1)).as("x"))
      graft.ops.Seasonal.acf(daily, "event_type", "t", "x", maxLag = 7)
        .select(col("g").as("event_type"), col("k"), col("n_pairs"),
          qround(col("acf"), 6).as("acf"))
    },
    oracle = Some(
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |pts AS (SELECT event_type AS g, t, x FROM daily
        |  WHERE event_type IS NOT NULL AND t IS NOT NULL),
        |mo AS (SELECT g, count(*) AS n, sum(x) AS s, sum(x * x) AS sxx
        |  FROM pts GROUP BY 1),
        |pr AS (SELECT a.g AS g, b.t - a.t AS k, count(*) AS m,
        |    sum(a.x * b.x) AS sab, sum(a.x) AS sa, sum(b.x) AS sb
        |  FROM pts a JOIN pts b ON a.g = b.g AND b.t - a.t BETWEEN 1 AND 7
        |  GROUP BY 1, 2)
        |SELECT g AS event_type, CAST(k AS BIGINT) AS k, CAST(m AS BIGINT) AS n_pairs,
        |  CASE WHEN CAST(n * (n * sxx - s * s) AS DOUBLE) > 0 THEN
        |    floor((CAST(n * n * sab - n * s * (sa + sb) + m * s * s AS DOUBLE) /
        |           CAST(n * (n * sxx - s * s) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
        |  END AS acf
        |FROM pr JOIN mo USING (g)""".stripMargin),
    // sf1: the Θ(n·maxLag) banded self-join must not go n²
    sf1 = true),

    // One-way ANOVA: does mean value-cents differ across event types? One
    // map-side-combined moment aggregate to |groups| rows, then closed
    // forms — the categorical-feature-vs-numeric-target signal screen.
    QuerySpec("q_anova_f", (s, d) => {
      val e = Tables.events(s, d).select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      graft.ops.Distribution.anovaF(e, "event_type", "cents")
        .select(col("k"), col("n"), qround(col("f_stat"), 6).as("f_stat"),
          qround(col("eta2"), 6).as("eta2"))
    },
    oracle = Some(
      """WITH e AS (SELECT event_type AS g, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |m AS (SELECT g, count(*) AS nj, sum(v) AS sj, sum(v * v) AS qj FROM e GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(nj) AS BIGINT) AS n,
        |    sum(sj) AS s, sum(qj) AS q, sum(CAST(sj AS DOUBLE) * sj / nj) AS ratio FROM m),
        |b AS (SELECT k, n, ratio - CAST(s AS DOUBLE) * s / n AS ssb, q - ratio AS ssw FROM a)
        |SELECT k, n,
        |  CASE WHEN k > 1 AND n > k AND ssw > 0 THEN
        |    floor(((ssb / (k - 1)) / (ssw / (n - k))) * 1000000.0 + 0.5) / 1000000.0 END AS f_stat,
        |  CASE WHEN ssb + ssw > 0 THEN
        |    floor((ssb / (ssb + ssw)) * 1000000.0 + 0.5) / 1000000.0 END AS eta2
        |FROM b""".stripMargin)),

    // CUSUM change-point alarm over each event type's daily revenue
    // series (κ = 0.5σ ≈ $300, h = 2σ ≈ $1200 on this data's scale). The
    // max(0, ·) recursion lowers to ONE ordered window per group via the
    // running-sum/running-min identity — no loop; all state is exact
    // longs scaled by the group's n.
    QuerySpec("q_cusum_changepoint", (s, d) => {
      val ev = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      graft.ops.Changepoint.cusum(ev, "event_type", "day", "cents",
          slack = 30000.0, threshold = 120000.0)
        .select(col("event_type"), col("day"), col("cents"),
          qround(col("stat"), 6).as("stat"), col("alarm"))
    },
    oracle = Some(
      """WITH s0 AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x FROM events GROUP BY 1, 2),
        |s AS (SELECT * FROM s0 WHERE g IS NOT NULL AND day IS NOT NULL AND x IS NOT NULL),
        |st AS (SELECT g, count(*) AS n, sum(x) AS sx FROM s GROUP BY 1),
        |j AS (SELECT s.g, day, x, n, sx,
        |    x * n - sx - CAST(floor(n * 30000.0) AS BIGINT) AS dd FROM s JOIN st USING (g)),
        |p AS (SELECT *, sum(dd) OVER (PARTITION BY g ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp FROM j),
        |m AS (SELECT *, least(0, min(pp) OVER (PARTITION BY g ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS mm FROM p)
        |SELECT g AS event_type, day, CAST(x AS BIGINT) AS cents,
        |  floor((CAST(pp - mm AS DOUBLE) / n) * 1000000.0 + 0.5) / 1000000.0 AS stat,
        |  (pp - mm) > CAST(floor(n * 120000.0) AS BIGINT) AS alarm
        |FROM m""".stripMargin),
    sf1 = true),

    // Wald SPRT: per event type, is the ≥$30 rate the baseline 45% or
    // the elevated 55%? The always-valid sequential monitor — cumulative
    // exact counts per day, two LITERAL ln terms, so the whole LLR
    // trajectory is one fixed IEEE expression of integers per row.
    QuerySpec("q_sprt", (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2020-01-01")))
          .cast("long").as("t"),
        (floor(col("value") * 100 + 0.5).cast("long") >= 3000L).as("y"))
      graft.ops.Changepoint.sprtBernoulli(ev, "event_type", "t", col("y"),
          p0 = 0.45, p1 = 0.55)
        .select(col("event_type"), col("t"), col("n"), col("k"),
          qround(col("llr"), 6).as("llr"), col("decision"))
    },
    oracle = Some(sprtOracleSql)),

    // Classical additive decomposition of each event type's daily revenue
    // into 7-day trend + day-of-week seasonal + residual — the
    // pre-whitening pass upstream of the CUSUM monitor (a Monday dip is
    // seasonality, not an incident). All moments integral (det7 = 7x − Σ₇x
    // stays a long), three single-division readouts.
    QuerySpec("q_seasonal_decompose", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      graft.ops.Seasonal.weekdayDecompose(daily, "event_type", "day", "cents")
        .select(col("event_type"), col("day"), col("cents"),
          qround(col("trend"), 6).as("trend"),
          qround(col("seasonal"), 6).as("seasonal"),
          qround(col("residual"), 6).as("residual"))
    },
    oracle = Some(
      """WITH s0 AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x FROM events GROUP BY 1, 2),
        |s AS (SELECT * FROM s0 WHERE g IS NOT NULL AND day IS NOT NULL AND x IS NOT NULL),
        |w AS (SELECT g, day, x, isodow(day) AS dow,
        |    sum(x) OVER (PARTITION BY g ORDER BY date_diff('day', DATE '1970-01-01', day)
        |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w7,
        |    count(x) OVER (PARTITION BY g ORDER BY date_diff('day', DATE '1970-01-01', day)
        |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7
        |  FROM s),
        |dt AS (SELECT *, CASE WHEN n7 = 7 THEN x * 7 - w7 END AS det7 FROM w),
        |se AS (SELECT g, dow, sum(det7) AS sd, count(*) AS nd FROM dt
        |  WHERE det7 IS NOT NULL GROUP BY 1, 2)
        |SELECT dt.g AS event_type, dt.day, CAST(dt.x AS BIGINT) AS cents,
        |  floor((CASE WHEN n7 = 7 THEN CAST(w7 AS DOUBLE) / 7 END) * 1000000.0 + 0.5) / 1000000.0 AS trend,
        |  floor((CAST(sd AS DOUBLE) / (nd * 7)) * 1000000.0 + 0.5) / 1000000.0 AS seasonal,
        |  floor((CAST(det7 AS DOUBLE) / 7 - CAST(sd AS DOUBLE) / (nd * 7)) * 1000000.0 + 0.5) / 1000000.0 AS residual
        |FROM dt LEFT JOIN se ON dt.g = se.g AND dt.dow = se.dow""".stripMargin)),

    // Per-segment Spearman rank correlation (day index vs value cents):
    // the monotone-dependence audit. Tie blocks get exact average ranks
    // via the distinct-value collapse + distributed prefix scan — no
    // per-group window sort — and DOUBLED ranks keep every moment sum
    // integral, so both engines feed identical operands to the one
    // closed-form division.
    QuerySpec("q_group_spearman", (s, d) => {
      val e = Tables.events(s, d).select(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2020-01-01"))).cast("long").as("x"),
        floor(col("value") * 100 + 0.5).cast("long").as("y"))
      graft.ops.Correlation.groupSpearman(e, "event_type", "x", "y")
        .select(col("event_type"), col("n"), qround(col("rho"), 6).as("rho"))
    },
    oracle = Some(
      """WITH e AS (SELECT event_type,
        |    CAST(date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS y FROM events),
        |r AS (SELECT event_type,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY x)
        |      + count(*) OVER (PARTITION BY event_type, x) - 1 AS rx2,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY y)
        |      + count(*) OVER (PARTITION BY event_type, y) - 1 AS ry2
        |  FROM e WHERE x IS NOT NULL AND y IS NOT NULL),
        |m AS (SELECT event_type, count(*) AS n, sum(rx2) AS sx, sum(ry2) AS sy,
        |    sum(rx2 * ry2) AS sxy, sum(rx2 * rx2) AS sxx, sum(ry2 * ry2) AS syy
        |  FROM r GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
        |        AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0 THEN
        |    floor(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |           sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
        |                (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))) * 1000000.0 + 0.5) / 1000000.0
        |  END AS rho
        |FROM m""".stripMargin),
    sf1 = true),

    // Day-grain cohort retention: users bucketed by first-seen day,
    // activity per (cohort, offset) cell. Counts are exact longs off the
    // distinct-first collapse; retention is the one float division.
    QuerySpec("q_cohort_retention", (s, d) =>
      graft.ops.Cohort.retention(Tables.events(s, d), "user_id", "ts")
        .select(col("cohort_day"), col("day_offset"), col("active_users"),
          col("cohort_size"), qround(col("retention"), 6).as("retention")),
    oracle = Some(
      """WITH b AS (SELECT user_id AS u, CAST(ts AS DATE) AS d FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT u, min(d) AS cohort_day FROM b GROUP BY 1),
        |cs AS (SELECT cohort_day, count(*) AS cohort_size FROM f GROUP BY 1),
        |a AS (SELECT DISTINCT f.cohort_day,
        |    CAST(date_diff('day', f.cohort_day, b.d) AS BIGINT) AS day_offset, b.u
        |  FROM b JOIN f USING (u)),
        |c AS (SELECT cohort_day, day_offset, count(*) AS active_users
        |  FROM a GROUP BY 1, 2)
        |SELECT c.cohort_day, c.day_offset, CAST(c.active_users AS BIGINT) AS active_users,
        |  CAST(cs.cohort_size AS BIGINT) AS cohort_size,
        |  floor((CAST(c.active_users AS DOUBLE) / cs.cohort_size) * 1000000.0 + 0.5) / 1000000.0 AS retention
        |FROM c JOIN cs USING (cohort_day)""".stripMargin),
    sf1 = true),

    // Ordered funnel signup→view→click→purchase: stage k counts only
    // users whose earliest qualifying event is STRICTLY after their
    // stage-(k-1) completion. Counts exact; the two conversion ratios
    // are single divisions over the |stages|-row readout.
    QuerySpec("q_funnel_conversion", (s, d) =>
      graft.ops.Funnel.conversion(Tables.events(s, d), "user_id", "ts",
          "event_type", Seq("signup", "view", "click", "purchase"))
        .select(col("stage_idx"), col("stage"), col("users"),
          qround(col("conv_from_start"), 6).as("conv_from_start"),
          qround(col("conv_from_prev"), 6).as("conv_from_prev")),
    oracle = Some(
      """WITH s1 AS (SELECT user_id AS u, min(ts) AS t FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.u
        |  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.u
        |  WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1),
        |s4 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e JOIN s3 ON e.user_id = s3.u
        |  WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1),
        |c AS (SELECT CAST(1 AS BIGINT) AS stage_idx, 'signup' AS stage, count(*) AS users FROM s1
        |  UNION ALL SELECT 2, 'view', count(*) FROM s2
        |  UNION ALL SELECT 3, 'click', count(*) FROM s3
        |  UNION ALL SELECT 4, 'purchase', count(*) FROM s4)
        |SELECT stage_idx, stage, CAST(users AS BIGINT) AS users,
        |  floor((CAST(users AS DOUBLE) / first_value(users) OVER (ORDER BY stage_idx)) * 1000000.0 + 0.5) / 1000000.0 AS conv_from_start,
        |  floor((CAST(users AS DOUBLE) / coalesce(lag(users, 1) OVER (ORDER BY stage_idx), users)) * 1000000.0 + 0.5) / 1000000.0 AS conv_from_prev
        |FROM c""".stripMargin),
    sf1 = true),

    // Robust (median/MAD) outlier detection per event_type. Exactness
    // across engines: cents are integers, interpolated medians land on
    // .5 steps and MADs on .25 steps — all exact binary fractions, so the
    // strict 3·MAD cut agrees bit-for-bit with the oracle. Scale shape:
    // NO per-group percentile window (that buffers a whole event_type in
    // one buffer) — the corpus collapses once to distinct (group, cents)
    // counts; the median AND the deviation median both run over that
    // |distinct|-row table (deviations re-keyed as exact 2·|cents−med|
    // longs, weights carried); the |groups|-row med/mad stats join back
    // onto the fact scan via AQE broadcast.
    QuerySpec("q_mad_outliers", (s, d) => {
      val c = Tables.events(s, d)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
        .select(col("event_id"), col("event_type"), col("cents"))
      val dv = c.groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint(false) // consumed by the median pass and the deviation re-key
      val med = graft.ops.Aggregates
        .groupedQuantilesContWeighted(dv, "event_type", "cents", "cnt",
          Seq(0.5 -> "med"))
        .select(col("event_type"), col("med"))
      // 2·|cents − med| is integral (med is a .5 step); collapse again on
      // the doubled deviation so the second median rides the same machinery
      val dev = dv.join(med, "event_type")
        .groupBy(col("event_type"),
          abs(col("cents") * 2 - col("med") * 2).cast("long").as("dev2"))
        .agg(sum(col("cnt")).as("cnt"))
      val stats = graft.ops.Aggregates
        .groupedQuantilesContWeighted(dev, "event_type", "dev2", "cnt",
          Seq(0.5 -> "mad2"))
        .join(med, "event_type")
        .select(col("event_type"), col("med"), (col("mad2") / 2).as("mad"))
      c.join(stats, "event_type")
        .filter(abs(col("cents") - col("med")) > lit(3.0) * col("mad"))
        .select(col("event_id"), col("event_type"), col("cents"),
          col("med"), col("mad"))
    },
    oracle = Some(
      """WITH c AS (SELECT event_id, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |m AS (SELECT *, median(cents) OVER (PARTITION BY event_type) AS med FROM c),
        |d AS (SELECT *, median(abs(cents - med)) OVER (PARTITION BY event_type) AS mad FROM m)
        |SELECT event_id, event_type, cents, med, mad
        |FROM d WHERE abs(cents - med) > 3.0 * mad""".stripMargin)),

    // Training-mix drift monitor: each week's event-type mix vs the
    // corpus-wide mix — entropy, KL(week‖global), total variation. Counts
    // are exact longs, shares single IEEE divisions; ln passes through
    // qround (category cardinality is tiny, re-association noise ≪ 1e-6).
    QuerySpec("q_mix_drift", (s, d) => {
      val ev = Tables.events(s, d)
        // cast to date: DuckDB's date_trunc('week') yields DATE, Spark's a timestamp
        .select(date_trunc("week", col("ts")).cast("date").as("week"), col("event_type"))
      graft.ops.Distribution.categoricalDrift(ev, "week", "event_type")
        .select(col("week"), col("n_rows"), col("n_cats"),
          qround(col("entropy"), 6).as("entropy"),
          qround(col("kl"), 6).as("kl"),
          qround(col("tvd"), 6).as("tvd"))
    },
    oracle = Some(
      """WITH sc AS (SELECT date_trunc('week', ts) AS week, event_type, count(*) AS sc_n
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT event_type, SUM(sc_n) AS c_n FROM sc GROUP BY 1),
        |t AS (SELECT week, SUM(sc_n) AS s_n FROM sc GROUP BY 1),
        |gr AS (SELECT SUM(c_n) AS g_n FROM g),
        |j AS (SELECT sc.week, t.s_n,
        |        CAST(sc.sc_n AS DOUBLE) / t.s_n AS p,
        |        CAST(g.c_n AS DOUBLE) / gr.g_n AS q
        |      FROM sc JOIN g USING (event_type) JOIN t USING (week), gr)
        |SELECT week, CAST(MAX(s_n) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_cats,
        |  floor((-SUM(p * ln(p))) * 1000000.0 + 0.5) / 1000000.0 AS entropy,
        |  floor((SUM(p * ln(p / q))) * 1000000.0 + 0.5) / 1000000.0 AS kl,
        |  floor(((SUM(abs(p - q)) + 1 - SUM(q)) / 2) * 1000000.0 + 0.5) / 1000000.0 AS tvd
        |FROM j GROUP BY 1""".stripMargin)),

    // Weighted LOWER median per event type (weights = deterministic
    // per-user importance): tied cents collapse to (group, value, Σw)
    // BEFORE the cumulative window, so the crossing point is pure integer
    // comparison — bit-stable on any engine and partitioning.
    QuerySpec("q_weighted_median", (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
        .withColumn("w", (col("user_id") % 5 + 1).cast("long"))
      graft.ops.Aggregates.weightedMedian(ev, "event_type", "cents", "w")
    },
    oracle = Some(
      """WITH b AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
        |    user_id % 5 + 1 AS w FROM events WHERE value IS NOT NULL),
        |g AS (SELECT event_type, v, SUM(w) AS w FROM b GROUP BY 1, 2),
        |c AS (SELECT event_type, v, w,
        |    SUM(w) OVER (PARTITION BY event_type ORDER BY v) AS cw,
        |    SUM(w) OVER (PARTITION BY event_type) AS tw FROM g)
        |SELECT event_type, MIN(v) AS wmedian, CAST(MIN(tw) AS BIGINT) AS total_w
        |FROM c WHERE cw * 2 >= tw GROUP BY 1""".stripMargin)),

    // Numeric-drift monitor — q_mix_drift's twin for a quantized numeric
    // column: per-event-type two-sample KS statistic of the value-cents
    // distribution vs the corpus-wide one. ECDF values are single IEEE
    // divisions of exact cumulative longs on the distinct-cents grid; the
    // max is order-free, so D is bit-identical cross-engine before qround.
    QuerySpec("q_ks_drift", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Distribution.ksDrift(ev, "event_type", "cents")
        .select(col("event_type"), col("n_seg"), qround(col("ks"), 6).as("ks"))
    },
    oracle = Some(
      """WITH b AS (SELECT event_type AS seg, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |sc AS (SELECT seg, v, count(*) AS sn FROM b GROUP BY 1, 2),
        |gv AS (SELECT v, SUM(sn) AS gn FROM sc GROUP BY 1),
        |segs AS (SELECT seg, SUM(sn) AS stot FROM sc GROUP BY 1),
        |gr AS (SELECT SUM(gn) AS gtot FROM gv),
        |grid AS (SELECT segs.seg, segs.stot, gv.v, gv.gn, COALESCE(sc.sn, 0) AS sn
        |  FROM gv CROSS JOIN segs LEFT JOIN sc ON sc.seg = segs.seg AND sc.v = gv.v),
        |c AS (SELECT seg, stot,
        |    SUM(sn) OVER (PARTITION BY seg ORDER BY v) AS cs,
        |    SUM(gn) OVER (PARTITION BY seg ORDER BY v) AS cg
        |  FROM grid)
        |SELECT seg AS event_type, CAST(MAX(stot) AS BIGINT) AS n_seg,
        |  floor(MAX(abs(CAST(cs AS DOUBLE) / stot - CAST(cg AS DOUBLE) / gtot)) * 1000000.0 + 0.5) / 1000000.0 AS ks
        |FROM c, gr GROUP BY 1""".stripMargin)),

    // Cramér–von Mises drift — q_ks_drift's whole-curve companion on the
    // same distinct-cents grid: the mean-SQUARE ECDF gap under the corpus
    // measure, sensitive to broad low-amplitude drift KS under-weights.
    QuerySpec("q_cvm_drift", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Distribution.cvmDrift(ev, "event_type", "cents")
        .select(col("event_type"), col("n_seg"),
          qround(col("cvm"), 9).as("cvm"))
    },
    oracle = Some(// ksDrift grid; per-value term on the 1e-12 grid BEFORE the sum
      // (mirrors Distribution.cvmDrift)
      """WITH b AS (SELECT event_type AS seg, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |sc AS (SELECT seg, v, count(*) AS sn FROM b GROUP BY 1, 2),
        |gv AS (SELECT v, SUM(sn) AS gn FROM sc GROUP BY 1),
        |segs AS (SELECT seg, SUM(sn) AS stot FROM sc GROUP BY 1),
        |gr AS (SELECT SUM(gn) AS gtot FROM gv),
        |grid AS (SELECT segs.seg, segs.stot, gv.v, gv.gn, COALESCE(sc.sn, 0) AS sn
        |  FROM gv CROSS JOIN segs LEFT JOIN sc ON sc.seg = segs.seg AND sc.v = gv.v),
        |c AS (SELECT seg, stot, gn,
        |    SUM(sn) OVER (PARTITION BY seg ORDER BY v) AS cs,
        |    SUM(gn) OVER (PARTITION BY seg ORDER BY v) AS cg
        |  FROM grid),
        |t AS (SELECT seg, stot,
        |    CAST(floor(CAST(gn AS DOUBLE) *
        |      (CAST(cs AS DOUBLE) / stot - CAST(cg AS DOUBLE) / gtot) *
        |      (CAST(cs AS DOUBLE) / stot - CAST(cg AS DOUBLE) / gtot)
        |      * 1000000000000.0 + 0.5) AS HUGEINT) AS t12, gtot
        |  FROM c, gr)
        |SELECT seg AS event_type, CAST(MAX(stot) AS BIGINT) AS n_seg,
        |  floor((CAST(SUM(t12) AS DOUBLE) /
        |    (CAST(MAX(gtot) AS DOUBLE) * 1000000000000.0))
        |    * 1000000000.0 + 0.5) / 1000000000.0 AS cvm
        |FROM t GROUP BY 1""".stripMargin)),

    // 1-Wasserstein drift — the third lens on the grid: the AREA between
    // the ECDFs in cents (how far mass actually moves), pricing shift
    // magnitude where KS/CvM only price probability.
    QuerySpec("q_wasserstein_drift", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Distribution.wassersteinDrift(ev, "event_type", "cents")
        .select(col("event_type"), col("n_seg"),
          qround(col("w1"), 6).as("w1"))
    },
    oracle = Some(// ksDrift grid + lead(v); |gap|·Δv on the 1e-9 grid before the sum
      // (mirrors Distribution.wassersteinDrift)
      """WITH b AS (SELECT event_type AS seg, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |sc AS (SELECT seg, v, count(*) AS sn FROM b GROUP BY 1, 2),
        |gv AS (SELECT v, SUM(sn) AS gn FROM sc GROUP BY 1),
        |segs AS (SELECT seg, SUM(sn) AS stot FROM sc GROUP BY 1),
        |gr AS (SELECT SUM(gn) AS gtot FROM gv),
        |grid AS (SELECT segs.seg, segs.stot, gv.v, gv.gn, COALESCE(sc.sn, 0) AS sn
        |  FROM gv CROSS JOIN segs LEFT JOIN sc ON sc.seg = segs.seg AND sc.v = gv.v),
        |c AS (SELECT seg, stot, v,
        |    SUM(sn) OVER (PARTITION BY seg ORDER BY v) AS cs,
        |    SUM(gn) OVER (PARTITION BY seg ORDER BY v) AS cg,
        |    CAST(COALESCE(lead(v) OVER (PARTITION BY seg ORDER BY v), v) - v
        |      AS DOUBLE) AS dv
        |  FROM grid),
        |t AS (SELECT seg, stot,
        |    CAST(floor(abs(CAST(cs AS DOUBLE) / stot - CAST(cg AS DOUBLE) / gtot)
        |      * dv * 1000000000.0 + 0.5) AS HUGEINT) AS t9
        |  FROM c, gr)
        |SELECT seg AS event_type, CAST(MAX(stot) AS BIGINT) AS n_seg,
        |  floor((CAST(SUM(t9) AS DOUBLE) / 1000000000.0) * 1000000.0 + 0.5)
        |    / 1000000.0 AS w1
        |FROM t GROUP BY 1""".stripMargin),
    // sf1: the ksDrift grid + lead
    sf1 = true),

    // PSI drift against global-decile bins: boundaries come from the
    // range-partitioned sort (never the Percentile aggregate) and bind as
    // literals, so the binning pass is a pure per-row expression; ½-count
    // smoothing keeps empty segment bins finite and deterministic.
    QuerySpec("q_psi_drift", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      val bounds = graft.ops.Aggregates
        .sortedPercentilesMulti(ev, Seq("cents"), (1 to 9).map(_ / 10.0))("cents")
      graft.ops.Distribution.psiDrift(ev, "event_type", "cents", bounds)
        .select(col("event_type"), col("n_seg"), qround(col("psi"), 6).as("psi"))
    },
    oracle = Some(
      """WITH b AS (SELECT event_type AS seg, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |q AS (SELECT quantile_cont(v, 0.1) AS b1, quantile_cont(v, 0.2) AS b2,
        |    quantile_cont(v, 0.3) AS b3, quantile_cont(v, 0.4) AS b4,
        |    quantile_cont(v, 0.5) AS b5, quantile_cont(v, 0.6) AS b6,
        |    quantile_cont(v, 0.7) AS b7, quantile_cont(v, 0.8) AS b8,
        |    quantile_cont(v, 0.9) AS b9 FROM b),
        |x AS (SELECT seg,
        |    (CASE WHEN v >= b1 THEN 1 ELSE 0 END) + (CASE WHEN v >= b2 THEN 1 ELSE 0 END)
        |  + (CASE WHEN v >= b3 THEN 1 ELSE 0 END) + (CASE WHEN v >= b4 THEN 1 ELSE 0 END)
        |  + (CASE WHEN v >= b5 THEN 1 ELSE 0 END) + (CASE WHEN v >= b6 THEN 1 ELSE 0 END)
        |  + (CASE WHEN v >= b7 THEN 1 ELSE 0 END) + (CASE WHEN v >= b8 THEN 1 ELSE 0 END)
        |  + (CASE WHEN v >= b9 THEN 1 ELSE 0 END) AS bin FROM b, q),
        |sb AS (SELECT seg, bin, count(*) AS c FROM x GROUP BY 1, 2),
        |segs AS (SELECT seg, SUM(c) AS stot FROM sb GROUP BY 1),
        |gb AS (SELECT bin, SUM(c) AS g FROM sb GROUP BY 1),
        |gr AS (SELECT SUM(c) AS gtot FROM sb),
        |grid AS (SELECT segs.seg, segs.stot, bins.bin,
        |    COALESCE(sb.c, 0) AS c, COALESCE(gb.g, 0) AS g
        |  FROM segs CROSS JOIN (SELECT unnest(range(10)) AS bin) bins
        |  LEFT JOIN sb ON sb.seg = segs.seg AND sb.bin = bins.bin
        |  LEFT JOIN gb ON gb.bin = bins.bin),
        |t AS (SELECT seg, stot, (c + 0.5) / (stot + 5.0) AS p,
        |    (g + 0.5) / (gtot + 5.0) AS q FROM grid, gr)
        |SELECT seg AS event_type, CAST(MAX(stot) AS BIGINT) AS n_seg,
        |  floor(SUM((p - q) * ln(p / q)) * 1000000.0 + 0.5) / 1000000.0 AS psi
        |FROM t GROUP BY 1""".stripMargin)),

    // Recency-weighted user value (half-life = one event, depth 8): with
    // 2^-k weights on integer cents, numerator and denominator sums are
    // exact multiples of 2^-7 regardless of association order — the single
    // division is the only rounding site. One window, 8 lags, one sort.
    QuerySpec("q_ewma_decay", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull && col("user_id").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Windows.recencyWeightedAvg(ev, Seq("user_id"),
          Seq(col("ts").asc, col("event_id").asc), "cents", 8, "ewma_cents")
        .select(col("event_id"), col("user_id"),
          qround(col("ewma_cents"), 6).as("ewma_cents"))
    },
    oracle = Some(
      """WITH b AS (SELECT event_id, user_id, ts,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |l AS (SELECT event_id, user_id,
        |    cents AS t0, lag(cents, 1) OVER w AS t1,
        |    lag(cents, 2) OVER w AS t2, lag(cents, 3) OVER w AS t3,
        |    lag(cents, 4) OVER w AS t4, lag(cents, 5) OVER w AS t5,
        |    lag(cents, 6) OVER w AS t6, lag(cents, 7) OVER w AS t7
        |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
        |SELECT event_id, user_id,
        |  floor(((COALESCE(t0, 0) * 1.0 + COALESCE(t1, 0) * 0.5 + COALESCE(t2, 0) * 0.25
        |        + COALESCE(t3, 0) * 0.125 + COALESCE(t4, 0) * 0.0625
        |        + COALESCE(t5, 0) * 0.03125 + COALESCE(t6, 0) * 0.015625
        |        + COALESCE(t7, 0) * 0.0078125)
        |    / ((CASE WHEN t0 IS NULL THEN 0 ELSE 1.0 END) + (CASE WHEN t1 IS NULL THEN 0 ELSE 0.5 END)
        |     + (CASE WHEN t2 IS NULL THEN 0 ELSE 0.25 END) + (CASE WHEN t3 IS NULL THEN 0 ELSE 0.125 END)
        |     + (CASE WHEN t4 IS NULL THEN 0 ELSE 0.0625 END) + (CASE WHEN t5 IS NULL THEN 0 ELSE 0.03125 END)
        |     + (CASE WHEN t6 IS NULL THEN 0 ELSE 0.015625 END) + (CASE WHEN t7 IS NULL THEN 0 ELSE 0.0078125 END)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS ewma_cents
        |FROM l""".stripMargin)),

    // Mergeable-sketch rollup cube: one HLL sketch per (week, day) cell,
    // weekly distinct users answered by sketch UNION — raw rows are never
    // rescanned at the coarse grain (the 100 TB pre-aggregation pattern).
    // Oracle surface is the HLL self-check idiom: exact counts pinned, the
    // within-bound flag computed Spark-side (estimates are not
    // bit-reproducible cross-engine).
    QuerySpec("q_sketch_cube", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(date_trunc("week", col("ts")).cast("date").as("week"),
          to_date(col("ts")).as("day"), col("user_id"))
      val approx = graft.ops.Sketches.hllRollup(ev, Seq("day"), Seq("week"), "user_id")
      val exact = ev.groupBy("week").agg(countDistinct(col("user_id")).as("exact_users"))
      exact.join(approx, Seq("week"))
        .select(col("week"), col("exact_users"),
          (abs(col("approx_distinct") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05).as("within_rsd"))
    },
    oracle = Some(
      """SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users, true AS within_rsd
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1""".stripMargin)),

    // Chi-square independence test: event_type vs user cohort (hash
    // bucket). Observed counts and marginals are exact longs; expected
    // values keep the marginal product in doubles (overflow-safe at any
    // n); absent cells fold in closed-form (Σe = n), so no |x|×|y| grid.
    QuerySpec("q_chisq_independence", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("user_id").isNotNull)
        .withColumn("cohort", col("user_id") % 7)
      graft.ops.Distribution.chiSquare(ev, "event_type", "cohort")
        .select(col("n"), col("dof"), qround(col("chi2"), 6).as("chi2"),
          qround(col("cramers_v"), 6).as("cramers_v"))
    },
    oracle = Some(
      """WITH b AS (SELECT event_type AS x, user_id % 7 AS y FROM events
        |    WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |j AS (SELECT x, y, count(*) AS o FROM b GROUP BY 1, 2),
        |rx AS (SELECT x, SUM(o) AS rt FROM j GROUP BY 1),
        |cy AS (SELECT y, SUM(o) AS ct FROM j GROUP BY 1),
        |gr AS (SELECT SUM(o) AS tot FROM j),
        |k AS (SELECT (SELECT count(*) FROM rx) AS kx, (SELECT count(*) FROM cy) AS ky),
        |cells AS (SELECT j.o, CAST(rx.rt AS DOUBLE) * cy.ct / gr.tot AS e
        |  FROM j JOIN rx USING (x) JOIN cy USING (y), gr),
        |s AS (SELECT SUM((o - e) * (o - e) / e - e) AS s FROM cells)
        |SELECT CAST(gr.tot AS BIGINT) AS n,
        |  CAST((k.kx - 1) * (k.ky - 1) AS BIGINT) AS dof,
        |  floor((s.s + gr.tot) * 1000000.0 + 0.5) / 1000000.0 AS chi2,
        |  CASE WHEN k.kx > 1 AND k.ky > 1 THEN
        |    floor(sqrt((s.s + gr.tot) / (gr.tot * least(k.kx - 1, k.ky - 1))) * 1000000.0 + 0.5) / 1000000.0
        |  END AS cramers_v
        |FROM s, gr, k""".stripMargin)),

    // Approximate per-group median at scale, oracle-pinned by the sketch
    // self-check idiom (the quantile sibling of q_a3_approx_hll /
    // q_sketch_cube): percentile_approx's returned value must occupy a
    // rank within the documented n/accuracy band of the true median rank
    // — the flag is computed Spark-side by ranking the returned value
    // against the group, the oracle pins exact counts + literal true.
    QuerySpec("q_approx_quantiles", (s, d) => {
      val acc = 1000
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      val ap = ev.groupBy("event_type")
        .agg(percentile_approx(col("cents"), lit(0.5), lit(acc)).as("ap50"))
      ev.join(broadcast(ap), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("cents") <= col("ap50"), 1L).otherwise(0L)).as("r_hi"),
          sum(when(col("cents") < col("ap50"), 1L).otherwise(0L)).as("r_lo"))
        .select(col("event_type"), col("n"),
          // the value's occupied rank interval [r_lo+1, r_hi] must meet
          // the band 0.5·n ± (2n/acc + 1)
          (col("r_lo") + 1 <= col("n") * 0.5 + (col("n") * 2.0 / acc + 1) &&
            col("r_hi") >= col("n") * 0.5 - (col("n") * 2.0 / acc + 1))
            .as("within_bound"))
    },
    // the sketch side is self-checked Spark-side (rank-band flag); the
    // oracle pins group sizes and expects the flag to hold everywhere
    oracle = Some(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n, true AS within_bound
        |FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1""".stripMargin)),

    // Incremental sketch-store maintenance: the fine (week, day) sketch
    // layer splits into a persisted "store" (even days) and a nightly
    // "delta" (odd days); pairwise sketch union must reproduce the full
    // rollup's weekly estimates — history is merged as sketches, its raw
    // rows never rescanned. Same oracle surface as q_sketch_cube.
    QuerySpec("q_sketch_increment", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(date_trunc("week", col("ts")).cast("date").as("week"),
          to_date(col("ts")).as("day"), col("user_id"))
      val fine = graft.ops.Sketches.fineSketches(ev, Seq("week", "day"), "user_id")
        .localCheckpoint(false) // consumed by both halves of the split
      val store = graft.ops.Sketches.rollup(
        fine.filter(dayofmonth(col("day")) % 2 === 0), Seq("week"))
      val delta = graft.ops.Sketches.rollup(
        fine.filter(dayofmonth(col("day")) % 2 === 1), Seq("week"))
      val merged = graft.ops.Sketches.estimate(
        graft.ops.Sketches.mergeSketchStores(store, delta, Seq("week")))
      val exact = ev.groupBy("week").agg(countDistinct(col("user_id")).as("exact_users"))
      exact.join(merged, Seq("week"))
        .select(col("week"), col("exact_users"),
          (abs(col("estimate") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05).as("within_rsd"))
    },
    oracle = Some(
      """SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users, true AS within_rsd
        |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1""".stripMargin)),

    // Mergeable QUANTILE sketches (DataSketches KLL) — the quantile
    // sibling of q_sketch_cube: one KLL sketch per (event_type, day)
    // fine cell, union-merged to per-type, p50/p90/p99 read from the
    // MERGED sketches (raw rows never rescanned). Oracle surface = the
    // sketch self-check idiom: exact lower quantiles + the sketch's own
    // n are pinned, and the flag asserts the estimate's occupied rank
    // meets 2x the published KLL normalized-rank-error band (the 99%-
    // confidence bound doubled — compaction is randomized, bit-exact
    // estimates are not cross-engine-replayable). Rank checks run on the
    // distinct-value collapse, never the raw rows.
    QuerySpec("q_sketch_quantiles", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val probs = Seq(0.5, 0.9, 0.99)
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val fine = graft.ops.QuantileSketch.fineSketches(
        ev, Seq("event_type", "day"), "cents")
      val est = graft.ops.QuantileSketch.quantiles(
        graft.ops.QuantileSketch.rollup(fine, Seq("event_type")), probs)
      val dv = ev.groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy(col("event_type")).orderBy(col("cents").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = dv
        .withColumn("cw", sum(col("c")).over(wc))
        .withColumn("nn", sum(col("c")).over(Window.partitionBy(col("event_type"))))
        .localCheckpoint(false) // exact quantiles + rank flags read it
      val exq = cum
        .withColumn("prob", explode(array(probs.map(lit(_)): _*)))
        .groupBy(col("event_type"), col("prob"))
        .agg(min(when(col("cw") >= ceil(col("nn") * col("prob")),
          col("cents"))).as("exact_q"))
      val eps = graft.ops.QuantileSketch.normalizedRankError(200)
      val slack = lit(2.0 * eps) * col("n") + lit(1.0)
      est.join(cum, Seq("event_type"))
        .groupBy(col("event_type"), col("prob"), col("n"), col("approx_q"))
        .agg(sum(when(col("cents") < col("approx_q"), col("c"))
            .otherwise(0L)).as("r_lo"),
          sum(when(col("cents") <= col("approx_q"), col("c"))
            .otherwise(0L)).as("r_hi"))
        .join(exq, Seq("event_type", "prob"))
        .select(col("event_type"), col("prob"), col("n"), col("exact_q"),
          (col("r_lo") + 1 <= col("prob") * col("n") + slack &&
            col("r_hi") >= col("prob") * col("n") - slack).as("within_bound"))
    },
    oracle = Some(
      """WITH e AS (SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |dv AS (SELECT event_type, cents, count(*) AS c FROM e GROUP BY 1, 2),
        |cum AS (SELECT event_type, cents, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    sum(c) OVER (PARTITION BY event_type) AS nn FROM dv),
        |p AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS prob)
        |SELECT event_type, prob, CAST(max(nn) AS BIGINT) AS n,
        |  min(CASE WHEN cw >= ceil(nn * prob) THEN cents END) AS exact_q,
        |  true AS within_bound
        |FROM cum, p GROUP BY 1, 2""".stripMargin)),

    // Incremental quantile-store maintenance: the fine (event_type, day)
    // KLL layer splits into a persisted store (even days) and a nightly
    // delta (odd days), each rolled to per-type; pairwise sketch union
    // must reproduce the full corpus's quantiles within the same 2x
    // rank-error band — history merged as sketches, raw rows never
    // rescanned (the q_sketch_increment discipline for quantiles).
    QuerySpec("q_sketch_quantiles_increment", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val probs = Seq(0.5, 0.9, 0.99)
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val fine = graft.ops.QuantileSketch.fineSketches(
          ev, Seq("event_type", "day"), "cents")
        .localCheckpoint(false) // consumed by both halves of the split
      val store = graft.ops.QuantileSketch.rollup(
        fine.filter(dayofmonth(col("day")) % 2 === 0), Seq("event_type"))
      val delta = graft.ops.QuantileSketch.rollup(
        fine.filter(dayofmonth(col("day")) % 2 === 1), Seq("event_type"))
      val est = graft.ops.QuantileSketch.quantiles(
        graft.ops.QuantileSketch.mergeStores(store, delta, Seq("event_type")),
        probs)
      val dv = ev.groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy(col("event_type")).orderBy(col("cents").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = dv
        .withColumn("cw", sum(col("c")).over(wc))
        .withColumn("nn", sum(col("c")).over(Window.partitionBy(col("event_type"))))
        .localCheckpoint(false)
      val exq = cum
        .withColumn("prob", explode(array(probs.map(lit(_)): _*)))
        .groupBy(col("event_type"), col("prob"))
        .agg(min(when(col("cw") >= ceil(col("nn") * col("prob")),
          col("cents"))).as("exact_q"))
      val eps = graft.ops.QuantileSketch.normalizedRankError(200)
      val slack = lit(2.0 * eps) * col("n") + lit(1.0)
      est.join(cum, Seq("event_type"))
        .groupBy(col("event_type"), col("prob"), col("n"), col("approx_q"))
        .agg(sum(when(col("cents") < col("approx_q"), col("c"))
            .otherwise(0L)).as("r_lo"),
          sum(when(col("cents") <= col("approx_q"), col("c"))
            .otherwise(0L)).as("r_hi"))
        .join(exq, Seq("event_type", "prob"))
        .select(col("event_type"), col("prob"), col("n"), col("exact_q"),
          (col("r_lo") + 1 <= col("prob") * col("n") + slack &&
            col("r_hi") >= col("prob") * col("n") - slack).as("within_bound"))
    },
    oracle = Some(
      """WITH e AS (SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |dv AS (SELECT event_type, cents, count(*) AS c FROM e GROUP BY 1, 2),
        |cum AS (SELECT event_type, cents, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    sum(c) OVER (PARTITION BY event_type) AS nn FROM dv),
        |p AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS prob)
        |SELECT event_type, prob, CAST(max(nn) AS BIGINT) AS n,
        |  min(CASE WHEN cw >= ceil(nn * prob) THEN cents END) AS exact_q,
        |  true AS within_bound
        |FROM cum, p GROUP BY 1, 2""".stripMargin)),

    // Experiment readout: purchase-rate difference between the even and
    // odd user cohorts with the pooled two-proportion z statistic. Four
    // exact counts from ONE aggregate; every output a fixed IEEE
    // expression of them.
    QuerySpec("q_ab_test", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      graft.ops.Distribution.abTest(ev,
          col("user_id") % 2 === 0, col("event_type") === "purchase")
        .select(col("n_a"), col("n_b"), col("pos_a"), col("pos_b"),
          qround(col("rate_a"), 6).as("rate_a"),
          qround(col("rate_b"), 6).as("rate_b"),
          qround(col("diff"), 6).as("diff"), qround(col("z"), 6).as("z"))
    },
    oracle = Some(
      """WITH b AS (SELECT user_id % 2 = 0 AS a, event_type = 'purchase' AS y
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |c AS (SELECT count(*) FILTER (a) AS n_a, count(*) FILTER (NOT a) AS n_b,
        |    count(*) FILTER (a AND y) AS pos_a, count(*) FILTER (NOT a AND y) AS pos_b
        |  FROM b),
        |r AS (SELECT *, CAST(pos_a AS DOUBLE) / n_a AS rate_a,
        |    CAST(pos_b AS DOUBLE) / n_b AS rate_b,
        |    CAST(pos_a + pos_b AS DOUBLE) / (n_a + n_b) AS pooled FROM c)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(pos_a AS BIGINT) AS pos_a, CAST(pos_b AS BIGINT) AS pos_b,
        |  floor(rate_a * 1000000.0 + 0.5) / 1000000.0 AS rate_a,
        |  floor(rate_b * 1000000.0 + 0.5) / 1000000.0 AS rate_b,
        |  floor((rate_a - rate_b) * 1000000.0 + 0.5) / 1000000.0 AS diff,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND pooled > 0 AND pooled < 1 THEN
        |    floor(((rate_a - rate_b) / sqrt(pooled * (1.0 - pooled) * (1.0 / n_a + 1.0 / n_b))) * 1000000.0 + 0.5) / 1000000.0
        |  END AS z
        |FROM r""".stripMargin)),

    // Leak-safe high-cardinality categorical feature: leave-one-out
    // target encoding of user_id against the purchase label, shrunk by a
    // pseudo-count prior. Exact long sums; the global mean is the one
    // shared division — deterministic cross-engine.
    QuerySpec("q_target_encode", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      graft.ops.Encoding.looTargetEncode(ev, "user_id",
          (col("event_type") === "purchase").cast("int"), m = 10.0)
        .select(col("event_id"), col("user_id"), qround(col("te"), 6).as("te"))
    },
    oracle = Some(
      """WITH b AS (SELECT event_id, user_id,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |s AS (SELECT user_id, SUM(y) AS sy, count(*) AS cnt FROM b GROUP BY 1),
        |g AS (SELECT CAST(SUM(sy) AS DOUBLE) / SUM(cnt) AS gm FROM s)
        |SELECT event_id, user_id,
        |  floor(((sy - y + 10.0 * gm) / (cnt - 1 + 10.0)) * 1000000.0 + 0.5) / 1000000.0 AS te
        |FROM b JOIN s USING (user_id), g""".stripMargin)),

    // Grouped winsorization: clip cents into each event type's exact
    // [p05, p95] band (groupedQuantiles boundaries joined back) and
    // report clip counts + clipped mean — the per-group robust-clip
    // sibling of the global P7 fit.
    QuerySpec("q_group_winsorize", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Encoding.groupWinsorize(ev, "event_type", "cents", 0.05, 0.95)
        .select(col("event_type"), col("n"), col("n_clipped_lo"),
          col("n_clipped_hi"), col("lo"), col("hi"),
          qround(col("mean_clipped"), 6).as("mean_clipped"))
    },
    oracle = Some(
      """WITH b AS (SELECT event_type AS g, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |d2 AS (SELECT g, v, count(*) AS c FROM b GROUP BY 1, 2),
        |w AS (SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v) AS cw,
        |    SUM(c) OVER (PARTITION BY g) AS n FROM d2),
        |q AS (SELECT g, MIN(CASE WHEN cw >= ceil(n * 0.05) THEN v END) AS lo,
        |    MIN(CASE WHEN cw >= ceil(n * 0.95) THEN v END) AS hi FROM w GROUP BY 1)
        |SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
        |  CAST(SUM(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
        |  MAX(lo) AS lo, MAX(hi) AS hi,
        |  floor((CAST(SUM(greatest(lo, least(hi, v))) AS DOUBLE) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS mean_clipped
        |FROM b JOIN q USING (g) GROUP BY 1""".stripMargin)),

    // Join-key skew report on user_id: max/p99/p50 key frequencies, the
    // max/mean skew ratio and the salt factor that would level it — the
    // pre-flight diagnosis feeding Partitioning.saltedAgg/saltedJoin.
    QuerySpec("q_skew_report", (s, d) =>
      graft.ops.Profiler.keySkew(
          Tables.events(s, d).filter(col("user_id").isNotNull), "user_id")
        .select(col("n"), col("n_keys"), col("max_c"), col("p50"), col("p99"),
          qround(col("skew_ratio"), 6).as("skew_ratio"), col("suggested_salt")),
    oracle = Some(
      """WITH kc AS (SELECT user_id, count(*) AS c FROM events
        |    WHERE user_id IS NOT NULL GROUP BY 1),
        |d AS (SELECT c AS v, count(*) AS cc FROM kc GROUP BY 1),
        |w AS (SELECT v, SUM(cc) OVER (ORDER BY v) AS cw, SUM(cc) OVER () AS nk FROM d),
        |q AS (SELECT MIN(CASE WHEN cw >= ceil(nk * 0.5) THEN v END) AS p50,
        |    MIN(CASE WHEN cw >= ceil(nk * 0.99) THEN v END) AS p99,
        |    MAX(nk) AS n_keys FROM w),
        |t AS (SELECT SUM(c) AS n, MAX(c) AS max_c FROM kc)
        |SELECT CAST(t.n AS BIGINT) AS n, CAST(q.n_keys AS BIGINT) AS n_keys,
        |  t.max_c, q.p50, q.p99,
        |  floor((CAST(t.max_c AS DOUBLE) * q.n_keys / t.n) * 1000000.0 + 0.5) / 1000000.0 AS skew_ratio,
        |  CAST(ceil(CAST(t.max_c AS DOUBLE) * q.n_keys / t.n) AS BIGINT) AS suggested_salt
        |FROM t, q""".stripMargin)),

    // Trailing 7-day distinct actives per event type — exact rolling
    // reach via bounded ×7 forward replication of the distinct
    // (type, day, user) triples (ops.RollingDistinct): COUNT(DISTINCT)
    // isn't a window function, and both naive rewrites (day-range
    // self-join, collect_set over a RANGE frame) are 100 TB traps.
    QuerySpec("q_rolling_distinct", (s, d) =>
      graft.ops.RollingDistinct.trailingDistinct(
        Tables.events(s, d)
          .filter(col("event_type").isNotNull && col("user_id").isNotNull)
          .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id")),
        Seq("event_type"), "day", "user_id", windowDays = 7),
    oracle = Some(
      """WITH dd AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id FROM events
        |    WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |days AS (SELECT DISTINCT event_type, day FROM dd)
        |SELECT d.event_type, d.day,
        |  CAST(count(DISTINCT CASE WHEN dd.day = d.day THEN dd.user_id END) AS BIGINT) AS u_day,
        |  CAST(count(DISTINCT dd.user_id) AS BIGINT) AS u_trail
        |FROM days d JOIN dd ON dd.event_type = d.event_type
        |  AND dd.day BETWEEN d.day - 6 AND d.day
        |GROUP BY 1, 2""".stripMargin),
    // sf1: the ×w explode must stay linear
    sf1 = true),

    // The sketch-merge rolling reach — the 100 TB form: ONE corpus pass
    // to per-(type, day) HLL sketches, then the trailing union merges 7
    // KB-sized sketches per output day (sketch-table-sized work; the
    // daily table serves any window length / incremental refresh).
    // Sketches aren't bit-reproducible cross-engine, so the oracle row
    // is (exact, within_rsd): Spark self-checks its estimate against
    // its own exact rolling count, the oracle pins the exact counts and
    // a literal true (the q_a3_approx_hll flag scheme).
    QuerySpec("q_rolling_distinct_hll", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("user_id").isNotNull)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      val exact = graft.ops.RollingDistinct.trailingDistinct(
        ev, Seq("event_type"), "day", "user_id", windowDays = 7)
      val approx = graft.ops.RollingDistinct.trailingDistinctApprox(
        ev, Seq("event_type"), "day", "user_id", windowDays = 7)
      exact.join(approx, Seq("event_type", "day"))
        .select(col("event_type"), col("day"),
          col("u_trail").as("u_trail_exact"),
          (abs(col("u_trail_approx") - col("u_trail")).cast("double") /
            col("u_trail") <= 0.06).as("within_rsd"))
    },
    // sketch side self-checked Spark-side (within_rsd flag); the oracle
    // pins the exact rolling counts and expects the flag everywhere
    oracle = Some(
      """WITH dd AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id FROM events
        |    WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |days AS (SELECT DISTINCT event_type, day FROM dd)
        |SELECT d.event_type, d.day,
        |  CAST(count(DISTINCT dd.user_id) AS BIGINT) AS u_trail_exact,
        |  true AS within_rsd
        |FROM days d JOIN dd ON dd.event_type = d.event_type
        |  AND dd.day BETWEEN d.day - 6 AND d.day
        |GROUP BY 1, 2""".stripMargin)),

    // JSONL ingest with corrupt-record quarantine: the events table
    // round-trips through a JSON-lines fixture in which every 50th
    // event's line is deterministically truncated (guaranteed malformed —
    // the object brace only closes at end-of-line). The PERMISSIVE read
    // (sources.TextIngest) parses per line — narrow map, no inference
    // pass — captures bad lines in the corrupt column, and the report
    // aggregates the clean view per type plus a '__corrupt__' quarantine
    // row. The oracle states the same report off the original parquet
    // with the same every-50th exclusion rule.
    QuerySpec("q_jsonl_ingest", (s, d) => {
      import org.apache.spark.sql.types._
      val path = jsonlFixture(s, d)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType)))
      val raw = graft.sources.TextIngest.readJsonl(s, path, schema)
      val valid = raw.filter(col("_corrupt_record").isNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      val corrupt = raw.filter(col("_corrupt_record").isNotNull)
        .agg(count(lit(1)).as("n"))
        .select(lit("__corrupt__").as("event_type"), col("n"),
          lit(null).cast("long").as("cents"))
      valid.unionByName(corrupt)
    },
    // the ingest report restated off the original parquet: the fixture's
    // corruption rule (every 50th event_id) is a pure data function
    oracle = Some(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_id % 50 <> 0 GROUP BY 1
        |UNION ALL
        |SELECT '__corrupt__', CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT)
        |FROM events WHERE event_id % 50 = 0""".stripMargin),
    // sf1: per-line parse throughput; its 10× fixture builds once on first run
    sf1 = true),

    // Leakage-safe train/val/test split: assignment hashes the USER, so
    // every event of a user lands in one split (hashing rows instead
    // leaks user-level signal across train/eval). The report carries its
    // own audit: the '__leaked__' row counts users seen in >1 split —
    // structurally zero here, but computed from the assigned data, which
    // is what makes it an audit rather than an assumption.
    QuerySpec("q_group_split", (s, d) => {
      val assigned = graft.llm.Sampling.groupSplit(
        Tables.events(s, d).filter(col("user_id").isNotNull), "user_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val per = assigned.groupBy(col("split"))
        .agg(count_distinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"))
      val leaked = assigned.groupBy(col("user_id"))
        .agg(count_distinct(col("split")).as("ns")).filter(col("ns") > 1)
        .agg(count(lit(1)).as("n_users"))
        .select(lit("__leaked__").as("split"), col("n_users"),
          lit(null).cast("long").as("n_events"),
          lit(null).cast("long").as("n_purchases"))
      per.unionByName(leaked)
    },
    // the split boundary 0.9 is written as (0.8 + 0.1) so DuckDB computes
    // the same double the Scala scanLeft does — the boundary is exact
    oracle = Some(
      """WITH a AS (SELECT user_id, event_type,
        |    CASE WHEN u < 0.8 THEN 'train' WHEN u < (0.8 + 0.1) THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT user_id, event_type,
        |      ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
        |        / 1152921504606846976.0 AS u
        |    FROM events WHERE user_id IS NOT NULL)),
        |per AS (SELECT split, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
        |  FROM a GROUP BY 1),
        |lk AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM
        |  (SELECT user_id FROM a GROUP BY 1 HAVING count(DISTINCT split) > 1))
        |SELECT split, n_users, n_events, n_purchases FROM per
        |UNION ALL
        |SELECT '__leaked__', n_users, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM lk""".stripMargin)),

    // The ingest gate as a LIVE streaming execution: the same JSONL
    // fixture replayed file-by-file through readStream.text + the
    // identical parseJsonl projection; quarantine accounting is ONE
    // streaming aggregation (complete mode) keyed on a derived label
    // (corrupt rows → '__corrupt__'), because a union of two separate
    // streaming aggregates is not a supported shape. Same oracle as the
    // batch q_jsonl_ingest — live ≡ batch is the assertion.
    QuerySpec("q_stream_jsonl_ingest", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types._
      val path = jsonlFixture(s, d)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType)))
      val tmp = java.nio.file.Files.createTempDirectory("stream_ingest").toString
      val name = "stream_jsonl_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        val parsed = graft.sources.TextIngest.readJsonlStream(s, path, schema)
        val valid = col("_corrupt_record").isNull
        val q = parsed
          .groupBy(when(valid, col("event_type")).otherwise(lit("__corrupt__"))
            .as("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(when(valid, floor(col("value") * 100 + 0.5).cast("long")))
              .as("cents"))
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("complete")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drainStream(s, name, tmp)(s.table(name))
    },
    // the live ingest stream converges to the batch report exactly —
    // same oracle as q_jsonl_ingest
    oracle = Some(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_id % 50 <> 0 GROUP BY 1
        |UNION ALL
        |SELECT '__corrupt__', CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT)
        |FROM events WHERE event_id % 50 = 0""".stripMargin),
    // sf1: per-line parse throughput; its 10× fixture builds once on first run
    sf1 = true),

    // Recursive hierarchy resolution (the WITH RECURSIVE surface Spark
    // lacks): every node of a parent-child forest → (root, depth) via
    // ops.Hierarchy's pointer jumping — O(log depth) self-joins, not
    // O(depth). The fixture forest is heap-shaped over the distinct
    // user ids (parent = node at half the rank; ranks 1–3 are roots) —
    // the global row_number is one-time fixture prep on the bounded
    // distinct-user table, not the operator's scale path. The oracle
    // replays the recursion with a real recursive CTE.
    QuerySpec("q_hierarchy_resolve", (s, d) => {
      val w = Window.orderBy(col("node"))
      val rk = Tables.events(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id").as("node")).distinct()
        .withColumn("r", row_number().over(w).cast("long"))
      val pr = rk.select(col("r").as("pr"), col("node").as("parent"))
      val edges = rk
        .withColumn("pr", when(col("r") > 3, floor(col("r") / 2)).otherwise(lit(null)))
        .join(pr, Seq("pr"), "left_outer")
        .select(col("node"), col("parent"))
      graft.ops.Hierarchy.resolveRoots(edges, "node", "parent")
    },
    oracle = Some(
      """WITH RECURSIVE nodes AS (SELECT DISTINCT user_id AS node FROM events
        |    WHERE user_id IS NOT NULL),
        |rk AS (SELECT node, row_number() OVER (ORDER BY node) AS r FROM nodes),
        |e AS (SELECT c.node, p.node AS parent FROM rk c
        |  LEFT JOIN rk p ON p.r = c.r // 2 AND c.r > 3),
        |r AS (SELECT node, node AS root, 0 AS depth FROM e WHERE parent IS NULL
        |  UNION ALL
        |  SELECT e.node, r.root, r.depth + 1 FROM e JOIN r ON e.parent = r.node)
        |SELECT node, root, CAST(depth AS BIGINT) AS depth FROM r""".stripMargin),
    // sf1: pointer jumping must stay at log-depth rounds
    sf1 = true),

    // Subtree rollup over the same forest: per node, descendant-or-self
    // counts and total events — the "org-unit cost incl. children"
    // report. The ancestor closure builds by path DOUBLING (a→b ∘ b→c),
    // O(log depth) self-joins to the fixpoint; the oracle walks the
    // recursion with a real recursive CTE.
    QuerySpec("q_hierarchy_rollup", (s, d) => {
      val w = Window.orderBy(col("node"))
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      val rk = ev.select(col("user_id").as("node")).distinct()
        .withColumn("r", row_number().over(w).cast("long"))
      val pr = rk.select(col("r").as("pr"), col("node").as("parent"))
      val edges = rk
        .withColumn("pr", when(col("r") > 3, floor(col("r") / 2)).otherwise(lit(null)))
        .join(pr, Seq("pr"), "left_outer")
        .select(col("node"), col("parent"))
      val metrics = ev.groupBy(col("user_id").as("node"))
        .agg(count(lit(1)).as("n_events"))
      graft.ops.Hierarchy.subtreeRollup(edges, metrics, "node", "parent", "n_events")
        .select(col("node"), col("subtree_nodes"),
          col("subtree_total").as("subtree_events"))
    },
    oracle = Some(
      """WITH RECURSIVE nodes AS (SELECT DISTINCT user_id AS node FROM events
        |    WHERE user_id IS NOT NULL),
        |rk AS (SELECT node, row_number() OVER (ORDER BY node) AS r FROM nodes),
        |e AS (SELECT c.node, p.node AS parent FROM rk c
        |  LEFT JOIN rk p ON p.r = c.r // 2 AND c.r > 3),
        |c AS (SELECT node, node AS anc FROM e
        |  UNION ALL
        |  SELECT c.node, e2.parent FROM c JOIN e e2 ON c.anc = e2.node
        |  WHERE e2.parent IS NOT NULL),
        |m AS (SELECT user_id AS node, count(*) AS cnt FROM events
        |  WHERE user_id IS NOT NULL GROUP BY 1)
        |SELECT c.anc AS node, CAST(count(*) AS BIGINT) AS subtree_nodes,
        |  CAST(sum(m.cnt) AS BIGINT) AS subtree_events
        |FROM c JOIN m ON m.node = c.node GROUP BY 1""".stripMargin),
    // sf1: pointer jumping must stay at log-depth rounds
    sf1 = true),

    // Purged temporal split (llm.Sampling.purgedTimeSplit): boundary
    // Jan 20, 1-day embargo — train / embargo / test band accounting per
    // event type. The embargo row staying countable (not dropped) is the
    // contract under verification.
    QuerySpec("q_time_split", (s, d) =>
      graft.llm.Sampling.purgedTimeSplit(
          Tables.events(s, d).filter(col("ts").isNotNull), "ts",
          java.sql.Timestamp.valueOf("2024-01-20 00:00:00"),
          86400000000L)
        .groupBy(col("split"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("user_id")).as("n_users")),
    oracle = Some(
      """WITH s AS (SELECT event_type, user_id,
        |    CASE
        |      WHEN epoch_us(ts) < epoch_us(TIMESTAMP '2024-01-20 00:00:00') - 86400000000 THEN 'train'
        |      WHEN epoch_us(ts) >= epoch_us(TIMESTAMP '2024-01-20 00:00:00') THEN 'test'
        |      ELSE 'embargo' END AS split
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT split, event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM s GROUP BY 1, 2""".stripMargin)),

    // Count-min sketch built by a LIVE streaming query: the same
    // CountMin.build aggregation over a file-replayed stream in complete
    // mode (legal because the state is the d×w cell table, CONSTANT-sized
    // by construction — the whole point of sketching a stream). Oracle =
    // the batch cell table: streaming build ≡ batch build is the
    // assertion.
    QuerySpec("q_stream_countmin", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("stream_cm").toString
      val src = orderedStreamSource(s, d, "cmsketch", Seq("event_id", "ts", "user_id"))
      val schema = s.read.parquet(src).schema
      val name = "stream_countmin_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", filesPerTrigger).parquet(src)
        val q = graft.ops.CountMin.build(stream, "user_id", depth = 4, width = 256)
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("complete")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drainStream(s, name, tmp)(s.table(name))
    },
    oracle = Some(
      """WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL)
        |SELECT j AS "row",
        |  ('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 256 AS bucket,
        |  CAST(count(*) AS BIGINT) AS c
        |FROM ev CROSS JOIN (VALUES (0), (1), (2), (3)) AS r(j)
        |GROUP BY 1, 2""".stripMargin)),

    // Streaming Benford monitor: the first-digit audit as a live
    // complete-mode aggregation — legal because the state is the
    // CONSTANT 9-row digit table (the q_stream_countmin discipline);
    // fractions and the log10(1+1/d) expectation attach in batch over
    // the drained table. Oracle = the batch audit on the same events,
    // so streaming build ≡ batch build is the assertion.
    QuerySpec("q_stream_benford", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("stream_benford").toString
      val src = orderedStreamSource(s, d, "benford", Seq("event_id", "ts", "value"))
      val schema = s.read.parquet(src).schema
      val name = "stream_benford_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", filesPerTrigger).parquet(src)
        val digits = stream
          .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
          .filter(col("cents") > 0)
          .withColumn("digit", substring(col("cents").cast("string"), 1, 1).cast("long"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
        val q = digits.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("complete")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val t = drainStream(s, name, tmp)(s.table(name))
      val total = t.agg(sum(col("n_obs")).as("__t"))
      t.crossJoin(broadcast(total))
        .withColumn("obs_frac",
          qround(col("n_obs").cast("double") / col("__t").cast("double"), 6))
        .withColumn("exp_frac", qround(
          log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0)), 6))
        .drop("__t")
    },
    oracle = Some(
      """WITH c AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |dg AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n_obs
        |  FROM c WHERE cents > 0 GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_obs) AS BIGINT) AS t FROM dg)
        |SELECT digit, n_obs,
        |  floor((CAST(n_obs AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS obs_frac,
        |  floor((ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)) * 1000000.0 + 0.5) / 1000000.0 AS exp_frac
        |FROM dg, tt""".stripMargin)),

    // Split-conformal calibration (ops.MlEval.conformalReport): a
    // per-type mean model fit on fold 0, residuals (1e-4-grid quantized)
    // calibrated on fold 1, coverage checked on fold 2 at α=0.1 — honest
    // distribution-free error bars, with the guarantee itself under test.
    QuerySpec("q_conformal", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .withColumn("fold", pmod(col("event_id"), lit(3)))
      val model = ev.filter(col("fold") === 0)
        .groupBy(col("event_type"))
        .agg((sum(col("value")) / count(lit(1))).as("pred"))
      val scored = ev.filter(col("fold") =!= 0)
        .join(model, Seq("event_type"))
        .withColumn("resid",
          floor(abs(col("value") - col("pred")) * 10000 + 0.5).cast("long"))
      graft.ops.MlEval.conformalReport(
          scored.filter(col("fold") === 1), scored.filter(col("fold") === 2),
          "resid", alpha = 0.1)
        .select(col("n_cal"), col("qhat"), col("n_test"), col("n_covered"),
          qround(col("coverage"), 6).as("coverage"))
    },
    oracle = Some(
      """WITH ev AS (SELECT event_id, event_type, value, event_id % 3 AS fold
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |model AS (SELECT event_type, SUM(value) / count(*) AS pred
        |  FROM ev WHERE fold = 0 GROUP BY 1),
        |scored AS (SELECT fold,
        |    CAST(floor(abs(value - pred) * 10000 + 0.5) AS BIGINT) AS resid
        |  FROM ev JOIN model USING (event_type) WHERE fold <> 0),
        |d AS (SELECT resid AS v, count(*) AS c FROM scored WHERE fold = 1 GROUP BY 1),
        |w AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cw, SUM(c) OVER () AS n FROM d),
        |q AS (SELECT max(n) AS n_cal,
        |    min(CASE WHEN cw >= ceil((n + 1) * 0.9) THEN v END) AS qhat FROM w)
        |SELECT CAST(n_cal AS BIGINT) AS n_cal, CAST(qhat AS BIGINT) AS qhat,
        |  CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(sum(CASE WHEN qhat IS NULL OR resid <= qhat THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
        |  floor((CAST(sum(CASE WHEN qhat IS NULL OR resid <= qhat THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS coverage
        |FROM scored, q WHERE fold = 2 GROUP BY n_cal, qhat""".stripMargin)),

    // Audience-overlap estimate from sketches (Sketches.intersectEstimate):
    // purchasers ∩ clickers by inclusion-exclusion over three HLLs —
    // exact counts pinned by the oracle, the approx self-checked within
    // a union-scaled bound (the q_sketch_cube scheme).
    QuerySpec("q_sketch_intersect", (s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      val approx = graft.ops.Sketches.intersectEstimate(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"), "user_id")
      val exact = ev.agg(
        count_distinct(when(col("event_type") === "purchase", col("user_id"))).as("exact_a"),
        count_distinct(when(col("event_type") === "click", col("user_id"))).as("exact_b"),
        count_distinct(when(col("event_type").isin("purchase", "click"),
          col("user_id"))).as("exact_union"))
        .withColumn("exact_intersect",
          col("exact_a") + col("exact_b") - col("exact_union"))
      exact.crossJoin(broadcast(approx))
        .select(col("exact_a"), col("exact_b"), col("exact_union"),
          col("exact_intersect"),
          (abs(col("approx_intersect") - col("exact_intersect")).cast("double")
            <= lit(8.0) + col("exact_union") * 0.05).as("within_bound"))
    },
    oracle = Some(
      """WITH u AS (SELECT user_id, event_type FROM events WHERE user_id IS NOT NULL)
        |SELECT
        |  CAST(count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT) AS exact_a,
        |  CAST(count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS BIGINT) AS exact_b,
        |  CAST(count(DISTINCT CASE WHEN event_type IN ('purchase', 'click') THEN user_id END) AS BIGINT) AS exact_union,
        |  CAST(count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
        |    + count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
        |    - count(DISTINCT CASE WHEN event_type IN ('purchase', 'click') THEN user_id END) AS BIGINT) AS exact_intersect,
        |  TRUE AS within_bound
        |FROM u""".stripMargin)),

    // Order-free content manifest (Profiler.contentManifest): 16-shard
    // (count, xor, sum mod 2^61-1) fingerprint certificate over the
    // event log — the oracle computes the SAME manifest from its copy of
    // the table, so a hash match IS the cross-engine integrity check the
    // operator exists for. Round 12: the value columns are BIGINT/
    // VARCHAR only (sum_mod + xor_hex) — the r11 driver env diverged on
    // the old DECIMAL(38,0) sum's rendering, not on the data.
    QuerySpec("q_integrity_manifest", (s, d) =>
      graft.ops.Profiler.contentManifest(Tables.events(s, d),
        Seq("event_id", "user_id", "event_type"), nShards = 16),
    oracle = Some(
      """WITH f AS (SELECT ('0x' || substr(md5(
        |    coalesce(CAST(event_id AS VARCHAR), chr(2)) || chr(1) ||
        |    coalesce(CAST(user_id AS VARCHAR), chr(2)) || chr(1) ||
        |    coalesce(event_type, chr(2))), 1, 15))::BIGINT AS fp
        |  FROM events)
        |SELECT fp % 16 AS shard, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
        |  printf('%015x', bit_xor(fp)) AS xor_hex,
        |  CAST(SUM(fp) % 2305843009213693951 AS BIGINT) AS sum_mod
        |FROM f GROUP BY 1""".stripMargin)),

    // Deterministic Poisson bootstrap (ops.Bootstrap.meanCI): 40-replica
    // percentile CI on the per-type mean. Values quantized to a 1e-4
    // integer grid FIRST, so every replica mean is a ratio of exact
    // integer sums — order-free, bit-identical cross-engine.
    QuerySpec("q_bootstrap_ci", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_id").isNotNull && col("value").isNotNull)
        .withColumn("v4", floor(col("value") * 10000 + 0.5).cast("long"))
      graft.ops.Bootstrap.meanCI(ev, "event_type", "v4", "event_id", b = 40)
        .select(col("event_type"), col("n"), qround(col("est"), 6).as("est"),
          qround(col("ci_lo"), 6).as("ci_lo"), qround(col("ci_hi"), 6).as("ci_hi"))
    },
    oracle = Some {
      val ts = graft.ops.Bootstrap.cdfThresholds
      val ladder = ts.zipWithIndex
        .map { case (t, k) => s"WHEN uu < $t THEN $k" }.mkString(" ")
      s"""WITH ev AS (SELECT event_id, event_type,
         |    CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4
         |  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
         |reps AS (SELECT event_type, v4, event_id, r.rep
         |  FROM ev CROSS JOIN range(0, 40) AS r(rep)),
         |u AS (SELECT event_type, v4, rep,
         |    ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#' || CAST(rep AS VARCHAR)), 1, 15))::BIGINT
         |      / 1152921504606846976.0 AS uu
         |  FROM reps),
         |w AS (SELECT event_type, rep, v4,
         |    CASE $ladder ELSE 8 END AS w FROM u),
         |rm AS (SELECT event_type, rep, SUM(w * v4) AS wx, SUM(w) AS wn
         |  FROM w GROUP BY 1, 2),
         |m AS (SELECT event_type, CAST(wx AS DOUBLE) / wn AS m FROM rm WHERE wn > 0),
         |rk AS (SELECT event_type, m,
         |    row_number() OVER (PARTITION BY event_type ORDER BY m) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS nb FROM m),
         |ci AS (SELECT event_type,
         |    min(CASE WHEN rn = CAST(ceil(nb * 0.025) AS BIGINT) THEN m END) AS ci_lo,
         |    min(CASE WHEN rn = CAST(ceil(nb * 0.975) AS BIGINT) THEN m END) AS ci_hi
         |  FROM rk GROUP BY 1),
         |est AS (SELECT event_type, count(*) AS n,
         |    SUM(CAST(v4 AS DOUBLE)) / count(*) AS est FROM ev GROUP BY 1)
         |SELECT est.event_type, CAST(n AS BIGINT) AS n,
         |  floor(est * 1000000.0 + 0.5) / 1000000.0 AS est,
         |  floor(ci_lo * 1000000.0 + 0.5) / 1000000.0 AS ci_lo,
         |  floor(ci_hi * 1000000.0 + 0.5) / 1000000.0 AS ci_hi
         |FROM est JOIN ci USING (event_type)""".stripMargin
    }),

    // Count-min sketch (ops.CountMin): 4×256 sketch over user event
    // frequencies, probed for the top-20 true heavy users — est ≥ true
    // always (the one-sided CM guarantee), and every cell/probe hash is
    // the shared md5-60-bit derivation so the oracle rebuilds the sketch
    // bit-for-bit.
    QuerySpec("q_countmin_freq", (s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      val sketch = graft.ops.CountMin.build(ev, "user_id", depth = 4, width = 256)
      val top = ev.groupBy(col("user_id")).agg(count(lit(1)).as("true_n"))
        .orderBy(col("true_n").desc, col("user_id").asc).limit(20)
      graft.ops.CountMin.estimate(sketch, top.select("user_id"), depth = 4, width = 256)
        .join(top.withColumnRenamed("user_id", "key"), Seq("key"))
        .select(col("key"), col("true_n"), col("est"))
    },
    oracle = Some(
      """WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
        |cells AS (SELECT j,
        |    ('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 256 AS bucket,
        |    count(*) AS c
        |  FROM ev CROSS JOIN (VALUES (0), (1), (2), (3)) AS r(j) GROUP BY 1, 2),
        |top AS (SELECT user_id, count(*) AS true_n FROM ev GROUP BY 1
        |  ORDER BY true_n DESC, user_id ASC LIMIT 20),
        |probes AS (SELECT user_id, true_n, j,
        |    ('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 256 AS bucket
        |  FROM top CROSS JOIN (VALUES (0), (1), (2), (3)) AS r(j))
        |SELECT p.user_id AS key, CAST(max(p.true_n) AS BIGINT) AS true_n,
        |  CAST(min(coalesce(c.c, 0)) AS BIGINT) AS est
        |FROM probes p LEFT JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
        |GROUP BY 1""".stripMargin)),

    // Kaplan-Meier survival (ops.Survival): per-user observation span as
    // duration, "ever purchased" as the event, censored otherwise;
    // user_id%3 segments. The censoring-correct retention curve.
    QuerySpec("q_survival_km", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val subj = ev.groupBy(col("user_id"))
        .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
          .cast("long").as("dur"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("ev"))
        .withColumn("seg", concat(lit("seg"), pmod(col("user_id"), lit(3)).cast("string")))
      graft.ops.Survival.kaplanMeier(subj, "seg", "dur", "ev")
        .select(col("seg"), col("t"), col("n_risk"), col("d"), col("c"),
          qround(col("survival"), 6).as("survival"))
    },
    oracle = Some(
      """WITH subj AS (SELECT user_id,
        |    date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS dur,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ev
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |s2 AS (SELECT 'seg' || CAST(user_id % 3 AS VARCHAR) AS seg, dur, ev FROM subj),
        |cells AS (SELECT seg, dur AS t, SUM(ev) AS d, SUM(1 - ev) AS c
        |  FROM s2 GROUP BY 1, 2),
        |w AS (SELECT seg, t, d, c,
        |    SUM(d + c) OVER (PARTITION BY seg) -
        |      coalesce(SUM(d + c) OVER (PARTITION BY seg ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM cells),
        |w2 AS (SELECT seg, t, d, c, n_risk,
        |    CASE WHEN d > 0 AND d < n_risk
        |      THEN ln(CAST(n_risk - d AS DOUBLE) / n_risk) ELSE 0.0 END AS term,
        |    CASE WHEN d >= n_risk AND d > 0 THEN 1 ELSE 0 END AS deadf
        |  FROM w),
        |w3 AS (SELECT seg, t, d, c, n_risk,
        |    MAX(deadf) OVER (PARTITION BY seg ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
        |    SUM(term) OVER (PARTITION BY seg ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lsum
        |  FROM w2)
        |SELECT seg, CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c,
        |  floor((CASE WHEN dead = 1 THEN 0.0 ELSE exp(lsum) END) * 1000000.0 + 0.5) / 1000000.0 AS survival
        |FROM w3 WHERE d > 0""".stripMargin)),

    // Nelson–Aalen cumulative hazard over the SAME subjects as
    // q_survival_km — the additive hazard readout plus the
    // Fleming–Harrington survival exp(−H), which stays finite where KM
    // pins 0. Same one-window-per-group scale shape.
    QuerySpec("q_nelson_aalen", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val subj = ev.groupBy(col("user_id"))
        .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
          .cast("long").as("dur"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("ev"))
        .withColumn("seg", concat(lit("seg"), pmod(col("user_id"), lit(3)).cast("string")))
      graft.ops.Survival.nelsonAalen(subj, "seg", "dur", "ev")
        .select(col("seg"), col("t"), col("n_risk"), col("d"), col("c"),
          qround(col("hazard"), 6).as("hazard"),
          qround(col("cum_hazard"), 6).as("cum_hazard"),
          qround(col("s_fh"), 6).as("s_fh"))
    },
    oracle = Some(
      """WITH subj AS (SELECT user_id,
        |    date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS dur,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ev
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |s2 AS (SELECT 'seg' || CAST(user_id % 3 AS VARCHAR) AS seg, dur, ev FROM subj),
        |cells AS (SELECT seg, dur AS t, SUM(ev) AS d, SUM(1 - ev) AS c
        |  FROM s2 GROUP BY 1, 2),
        |w AS (SELECT seg, t, d, c,
        |    SUM(d + c) OVER (PARTITION BY seg) -
        |      coalesce(SUM(d + c) OVER (PARTITION BY seg ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM cells),
        |w2 AS (SELECT seg, t, d, c, n_risk,
        |    CASE WHEN d > 0 THEN CAST(d AS DOUBLE) / n_risk ELSE 0.0 END AS hazard
        |  FROM w),
        |w3 AS (SELECT seg, t, d, c, n_risk, hazard,
        |    SUM(hazard) OVER (PARTITION BY seg ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch
        |  FROM w2)
        |SELECT seg, CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c,
        |  floor(hazard * 1000000.0 + 0.5) / 1000000.0 AS hazard,
        |  floor(ch * 1000000.0 + 0.5) / 1000000.0 AS cum_hazard,
        |  floor(exp(-ch) * 1000000.0 + 0.5) / 1000000.0 AS s_fh
        |FROM w3 WHERE d > 0""".stripMargin)),

    // Rolling-origin (walk-forward) folds: cuts Jan 10/17/24, 5-day test
    // horizon, 1-day embargo — the time-series CV protocol; per
    // (fold, role) row and user counts pin every membership decision.
    QuerySpec("q_rolling_folds", (s, d) =>
      graft.llm.Sampling.rollingOriginFolds(
          Tables.events(s, d), "ts",
          Seq("2024-01-10", "2024-01-17", "2024-01-24")
            .map(c => java.sql.Timestamp.valueOf(s"$c 00:00:00")),
          horizonMicros = 5L * 86400000000L,
          embargoMicros = 86400000000L)
        .groupBy(col("fold"), col("role"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("user_id")).as("n_users"),
          min(to_date(col("ts"))).as("first_day"),
          max(to_date(col("ts"))).as("last_day")),
    oracle = Some(
      """WITH cuts AS (
        |  SELECT * FROM (VALUES
        |    (CAST(0 AS BIGINT), TIMESTAMP '2024-01-10 00:00:00'),
        |    (CAST(1 AS BIGINT), TIMESTAMP '2024-01-17 00:00:00'),
        |    (CAST(2 AS BIGINT), TIMESTAMP '2024-01-24 00:00:00')) AS t(fold, cut)),
        |m AS (SELECT c.fold,
        |    CASE
        |      WHEN epoch_us(e.ts) < epoch_us(c.cut) - 86400000000 THEN 'train'
        |      WHEN epoch_us(e.ts) >= epoch_us(c.cut)
        |        AND epoch_us(e.ts) < epoch_us(c.cut) + 432000000000 THEN 'test'
        |    END AS role,
        |    e.user_id, e.ts
        |  FROM events e CROSS JOIN cuts c WHERE e.ts IS NOT NULL)
        |SELECT fold, role, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(min(ts) AS DATE) AS first_day, CAST(max(ts) AS DATE) AS last_day
        |FROM m WHERE role IS NOT NULL GROUP BY 1, 2""".stripMargin)),

    // CUPED variance reduction: per-user pre-period spend (Jan 1-15) as
    // the covariate for post-period spend (Jan 16+), arms split on the
    // deterministic user parity q_ab_test uses. One per-user collapse,
    // one 6-moment per-arm aggregate, pooled θ via a window over the
    // 2-row arm table — the A/B readout whose CI shrinks by
    // var_reduction without touching the effect estimate.
    QuerySpec("q_cuped", (s, d) => {
      val cents = floor(col("value") * 100 + lit(0.5)).cast("long")
      val perUser = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("ts") < lit("2024-01-16").cast("timestamp"), cents)
            .otherwise(0L)).as("x"),
          sum(when(col("ts") >= lit("2024-01-16").cast("timestamp"), cents)
            .otherwise(0L)).as("y"))
        .withColumn("arm", when(col("user_id") % 2 === 0, "A").otherwise("B"))
      graft.ops.Regression.cuped(perUser, "arm", "y", "x")
        .select(col("arm"), col("n"),
          qround(col("mean_y"), 6).as("mean_y"),
          qround(col("mean_x"), 6).as("mean_x"),
          qround(col("mean_y_adj"), 6).as("mean_y_adj"),
          qround(col("theta"), 6).as("theta"),
          qround(col("var_y"), 6).as("var_y"),
          qround(col("var_y_adj"), 6).as("var_y_adj"),
          qround(col("var_reduction"), 6).as("var_reduction"))
    },
    oracle = Some(// pooled θ = cov/var from exact per-arm integer moments summed via
      // a window; fixed operand order mirrors Regression.cuped
      """WITH pu AS (SELECT user_id,
        |    SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS x,
        |    SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS y
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1),
        |a AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        |    CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y FROM pu),
        |m AS (SELECT arm, count(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM a WHERE arm IS NOT NULL GROUP BY 1),
        |g AS (SELECT *, SUM(n) OVER () AS gn, SUM(sx) OVER () AS gsx,
        |    SUM(sy) OVER () AS gsy, SUM(sxy) OVER () AS gsxy,
        |    SUM(sxx) OVER () AS gsxx FROM m),
        |f AS (SELECT arm, n,
        |    CAST(sy AS DOUBLE) / n AS mean_y, CAST(sx AS DOUBLE) / n AS mean_x,
        |    CAST(gn AS DOUBLE) * gsxy - CAST(gsx AS DOUBLE) * gsy AS covn,
        |    CAST(gn AS DOUBLE) * gsxx - CAST(gsx AS DOUBLE) * gsx AS varxn,
        |    CAST(gsx AS DOUBLE) / gn AS xbarg,
        |    CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS var_y,
        |    CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS var_x,
        |    CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS cov_a
        |  FROM g),
        |t AS (SELECT *, CASE WHEN varxn > 0 THEN covn / varxn END AS theta FROM f),
        |v AS (SELECT *,
        |    var_y - 2.0 * theta * cov_a + theta * theta * var_x AS var_adj FROM t)
        |SELECT arm, CAST(n AS BIGINT) AS n,
        |  floor(mean_y * 1000000.0 + 0.5) / 1000000.0 AS mean_y,
        |  floor(mean_x * 1000000.0 + 0.5) / 1000000.0 AS mean_x,
        |  floor((mean_y - theta * (mean_x - xbarg)) * 1000000.0 + 0.5) / 1000000.0 AS mean_y_adj,
        |  floor(theta * 1000000.0 + 0.5) / 1000000.0 AS theta,
        |  floor(var_y * 1000000.0 + 0.5) / 1000000.0 AS var_y,
        |  floor(var_adj * 1000000.0 + 0.5) / 1000000.0 AS var_y_adj,
        |  floor((CASE WHEN var_y > 0 THEN 1.0 - var_adj / var_y END)
        |    * 1000000.0 + 0.5) / 1000000.0 AS var_reduction
        |FROM v""".stripMargin)),

    // Trimmed & winsorized means per event type at α=0.1 — the robust
    // location estimates a whale-heavy spend metric needs. One distinct-
    // value collapse; ONE cumulative window over distinct cents per type
    // (never a per-row rank); decimal-widened integer sums.
    QuerySpec("q_robust_mean", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + lit(0.5)).cast("long"))
      graft.ops.Aggregates.robustMeans(ev, "event_type", "cents", alpha = 0.1)
        .select(col("event_type"), col("n"), col("k"),
          qround(col("mean"), 6).as("mean"),
          qround(col("trimmed_mean"), 6).as("trimmed_mean"),
          col("v_lo"), col("v_hi"),
          qround(col("winsor_mean"), 6).as("winsor_mean"))
    },
    oracle = Some(// identical distinct-value collapse + cumulative window; trimmed
      // multiplicity m = max(0, min(cc, n−k) − max(c0, k))
      """WITH b AS (SELECT event_type AS g,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |d AS (SELECT g, v, count(*) AS c FROM b GROUP BY 1, 2),
        |w AS (SELECT g, v, c,
        |    SUM(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cc,
        |    SUM(c) OVER (PARTITION BY g) AS n
        |  FROM d),
        |w2 AS (SELECT *, CAST(floor(CAST(n AS DOUBLE) * 0.1) AS BIGINT) AS k,
        |    cc - c AS c0 FROM w),
        |w3 AS (SELECT *, greatest(0, least(cc, n - k) - greatest(c0, k)) AS m
        |  FROM w2),
        |agg AS (SELECT g, MAX(n) AS n, MAX(k) AS k,
        |    SUM(v * c) AS s_all, SUM(v * m) AS s_trim,
        |    MIN(CASE WHEN cc > k THEN v END) AS v_lo,
        |    MIN(CASE WHEN cc >= n - k THEN v END) AS v_hi
        |  FROM w3 GROUP BY 1)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        |  floor((CAST(s_all AS DOUBLE) / n) * 1000000.0 + 0.5) / 1000000.0 AS mean,
        |  floor((CASE WHEN n > k * 2
        |      THEN CAST(s_trim AS DOUBLE) / (n - k * 2) END)
        |    * 1000000.0 + 0.5) / 1000000.0 AS trimmed_mean,
        |  CAST(v_lo AS BIGINT) AS v_lo, CAST(v_hi AS BIGINT) AS v_hi,
        |  floor((CASE WHEN n > k * 2
        |      THEN CAST(s_trim + k * v_lo + k * v_hi AS DOUBLE) / n END)
        |    * 1000000.0 + 0.5) / 1000000.0 AS winsor_mean
        |FROM agg""".stripMargin),
    // sf1: distinct-value collapse — the window partition is distinct cents,
    // not rows
    sf1 = true),

    // Covariate balance between the q_ab_test arms: standardized mean
    // difference of spend / hour-of-day / day-of-month — the pre-flight
    // every experiment readout (and q_cuped) assumes. ONE 1-row
    // aggregate over the scan; |SMD| thresholds the ROUNDED value.
    QuerySpec("q_covariate_balance", (s, d) =>
      graft.ops.Regression.covariateBalance(Tables.events(s, d),
          col("user_id") % 2 === 0, Seq(
            "cents" -> floor(col("value") * 100 + lit(0.5)).cast("long"),
            "hour" -> hour(col("ts")),
            "dom" -> dayofmonth(col("ts"))))
        .select(col("covariate"), col("n_a"), col("n_b"),
          qround(col("mean_a"), 6).as("mean_a"),
          qround(col("mean_b"), 6).as("mean_b"),
          qround(col("var_a"), 6).as("var_a"),
          qround(col("var_b"), 6).as("var_b"),
          qround(col("smd"), 6).as("smd"), col("balanced")),
    oracle = Some(covBalanceSql)),

    // LIVE covariate-balance monitor: the 14 exact moments accumulate as
    // a complete-mode GLOBAL streaming aggregation (state = ONE row — the
    // q_stream_benford constant-state discipline), SMD algebra attaches
    // in batch over the drained row. Oracle = the batch q_covariate_
    // balance SQL verbatim: streaming moment build ≡ batch is the
    // assertion.
    QuerySpec("q_stream_balance", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("stream_balance").toString
      val src = orderedStreamSource(s, d, "balance", Seq("event_id", "ts", "user_id", "value"))
      val schema = s.read.parquet(src).schema
      val name = "stream_balance_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", filesPerTrigger).parquet(src)
        val base = stream
          .withColumn("a", col("user_id") % 2 === 0)
          .withColumn("c1", floor(col("value") * 100 + lit(0.5)).cast("long"))
          .withColumn("c2", hour(col("ts")).cast("long"))
          .withColumn("c3", dayofmonth(col("ts")).cast("long"))
          .filter(col("a").isNotNull && col("c1").isNotNull &&
            col("c2").isNotNull && col("c3").isNotNull)
        // decimal-widened moments (the Regression.covariateBalance
        // discipline): LongType sums of squares wrap past 2^63 at scale
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        def d(c: org.apache.spark.sql.Column) = c.cast(dec)
        val z = lit(0L).cast(dec)
        val moments = base.groupBy().agg(
          count_if(col("a")).as("na"), count_if(!col("a")).as("nb"),
          sum(when(col("a"), d(col("c1"))).otherwise(z)).as("sa1"),
          sum(when(col("a"), d(col("c1")) * col("c1")).otherwise(z)).as("qa1"),
          sum(when(!col("a"), d(col("c1"))).otherwise(z)).as("sb1"),
          sum(when(!col("a"), d(col("c1")) * col("c1")).otherwise(z)).as("qb1"),
          sum(when(col("a"), d(col("c2"))).otherwise(z)).as("sa2"),
          sum(when(col("a"), d(col("c2")) * col("c2")).otherwise(z)).as("qa2"),
          sum(when(!col("a"), d(col("c2"))).otherwise(z)).as("sb2"),
          sum(when(!col("a"), d(col("c2")) * col("c2")).otherwise(z)).as("qb2"),
          sum(when(col("a"), d(col("c3"))).otherwise(z)).as("sa3"),
          sum(when(col("a"), d(col("c3")) * col("c3")).otherwise(z)).as("qa3"),
          sum(when(!col("a"), d(col("c3"))).otherwise(z)).as("sb3"),
          sum(when(!col("a"), d(col("c3")) * col("c3")).otherwise(z)).as("qb3"))
        val q = moments.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("complete")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val m = drainStream(s, name, tmp)(s.table(name))
      // identical SMD algebra / operand order as Regression.covariateBalance
      val rows = Seq(("cents", "1"), ("hour", "2"), ("dom", "3")).map {
        case (nm, i) =>
          val ma = col(s"sa$i").cast("double") / col("na")
          val mb = col(s"sb$i").cast("double") / col("nb")
          val va = col(s"qa$i").cast("double") / col("na") - ma * ma
          val vb = col(s"qb$i").cast("double") / col("nb") - mb * mb
          val pooled = (va + vb) / lit(2.0)
          val smd = when(col("na") > 0 && col("nb") > 0 && pooled > 0,
            (ma - mb) / sqrt(pooled))
          struct(lit(nm).as("covariate"), ma.as("mean_a"), mb.as("mean_b"),
            va.as("var_a"), vb.as("var_b"), smd.as("smd"))
      }
      m.select(col("na").as("n_a"), col("nb").as("n_b"),
          explode(array(rows: _*)).as("f"))
        .select(col("f.covariate").as("covariate"), col("n_a"), col("n_b"),
          qround(col("f.mean_a"), 6).as("mean_a"),
          qround(col("f.mean_b"), 6).as("mean_b"),
          qround(col("f.var_a"), 6).as("var_a"),
          qround(col("f.var_b"), 6).as("var_b"),
          qround(col("f.smd"), 6).as("smd"),
          when(col("f.smd").isNotNull,
            abs(floor(col("f.smd") * 1e6 + lit(0.5)) / 1e6) <= 0.1)
            .as("balanced"))
    },
    // LIVE twin: the oracle is the BATCH SQL verbatim — the streaming
    // complete-mode moment build must land on the identical table
    oracle = Some(covBalanceSql)),

    // Benjamini-Hochberg FDR over a 150-test drift sweep: one
    // two-proportion z per (event_type, day) cell (arm = user parity,
    // outcome = ≥$20 ticket), p via the engine-portable logistic normal
    // tail, then the step-up procedure at α=0.1. The multiple-testing
    // gate a 1000-feature drift sweep needs — without it a thousand
    // nulls hand you ~50 phantom drifts per run.
    QuerySpec("q_bh_fdr", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
          col("value").isNotNull && col("ts").isNotNull)
        .withColumn("test", concat(col("event_type"), lit(":"),
          dayofmonth(col("ts")).cast("string")))
      val z = graft.ops.Distribution.proportionZByGroup(ev, "test",
        col("user_id") % 2 === 0,
        floor(col("value") * 100 + lit(0.5)).cast("long") >= 2000L)
      graft.ops.Distribution.bhAdjust(z, "test", "p", alpha = 0.1)
        .select(col("test"), col("n_a"), col("n_b"), col("pos_a"),
          col("pos_b"), qround(col("z"), 6).as("z"), col("p"),
          col("rank"), col("m"), qround(col("p_adj"), 9).as("p_adj"),
          col("rejected"))
    },
    oracle = Some(// per-(type, day) two-proportion z; p via the shared logistic
      // normal-tail stand-in quantized 1e-9; then the BH step-up: rank,
      // largest passing rank via a global max, tail running-min adjusted p
      """WITH e AS (SELECT event_type || ':' || CAST(day(ts) AS VARCHAR) AS test,
        |    user_id % 2 = 0 AS arm,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) >= 2000 AS y
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |    AND value IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT test, count(*) FILTER (arm) AS n_a,
        |    count(*) FILTER (NOT arm) AS n_b,
        |    count(*) FILTER (arm AND y) AS pos_a,
        |    count(*) FILTER (NOT arm AND y) AS pos_b
        |  FROM e GROUP BY 1),
        |z AS (SELECT *,
        |    CASE WHEN n_a > 0 AND n_b > 0
        |        AND pos_a + pos_b > 0 AND pos_a + pos_b < n_a + n_b THEN
        |      (CAST(pos_a AS DOUBLE) / n_a - CAST(pos_b AS DOUBLE) / n_b) /
        |        sqrt((CAST(pos_a + pos_b AS DOUBLE) / (n_a + n_b)) *
        |          (1.0 - CAST(pos_a + pos_b AS DOUBLE) / (n_a + n_b)) *
        |          (1.0 / n_a + 1.0 / n_b))
        |    END AS z FROM c),
        |p AS (SELECT *, floor(2.0 / (1.0 + exp(1.702 * abs(z)))
        |    * 1000000000.0 + 0.5) / 1000000000.0 AS p
        |  FROM z WHERE z IS NOT NULL),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY p, test) AS BIGINT) AS rank,
        |    count(*) OVER () AS m FROM p),
        |ks AS (SELECT *, MAX(CASE WHEN p <= CAST(rank AS DOUBLE) * 0.1 / m
        |      THEN rank END) OVER () AS kstar,
        |    MIN(p * CAST(m AS DOUBLE) / rank) OVER (ORDER BY rank DESC
        |      ROWS UNBOUNDED PRECEDING) AS tailmin
        |  FROM r)
        |SELECT test, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(pos_a AS BIGINT) AS pos_a, CAST(pos_b AS BIGINT) AS pos_b,
        |  floor(z * 1000000.0 + 0.5) / 1000000.0 AS z, p, rank,
        |  CAST(m AS BIGINT) AS m,
        |  floor(least(1.0, tailmin) * 1000000000.0 + 0.5) / 1000000000.0 AS p_adj,
        |  kstar IS NOT NULL AND rank <= kstar AS rejected
        |FROM ks""".stripMargin)),

    // The COMPOSED experimentation suite, end-to-end in one oracled
    // ledger — the q_corpus_pipeline treatment applied to the
    // experimental-rigor family: assign (user-parity arms) → covariate
    // balance audit (pre-period spend + activity) → CUPED adjustment
    // (pooled θ, adjusted effect, per-arm variance reduction) → SPRT
    // sequential monitor (post-period conversion, one trial per user,
    // day-ordered) → BH-FDR drift sweep (per type:day cells at α=0.1).
    // Every unit stage is green on its own (q_covariate_balance,
    // q_cuped, q_sprt, q_bh_fdr); this row pins the COMPOSITION — the
    // shared per-user collapse feeding three consumers, the arm
    // definition agreeing across stages, the pre/post cut applied the
    // same way everywhere. Scale shape: ONE per-user fact collapse
    // (checkpointed, three consumers), one |tests|-cell sweep aggregate;
    // everything downstream is arm- or test-cardinality metadata.
    QuerySpec("q_experiment_pipeline", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cents = floor(col("value") * 100 + lit(0.5)).cast("long")
      val cut = lit("2024-01-16").cast("timestamp")
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("value").isNotNull &&
          col("ts").isNotNull)
      val perUser = ev.groupBy(col("user_id"))
        .agg(
          sum(when(col("ts") < cut, cents).otherwise(0L)).as("x"),
          sum(when(col("ts") >= cut, cents).otherwise(0L)).as("y"),
          count_if(col("ts") < cut).as("n_pre"),
          min(when(col("ts") >= cut, dayofmonth(col("ts")))).as("d1"))
        .withColumn("arm", when(col("user_id") % 2 === 0, "A").otherwise("B"))
        .localCheckpoint(false) // fans out: counts, balance, cuped, sprt
      val counts = perUser.agg(
        count_if(col("arm") === "A").cast("double").as("n_users_a"),
        count_if(col("arm") === "B").cast("double").as("n_users_b"))
      val balLedger = graft.ops.Regression.covariateBalance(perUser,
          col("arm") === "A",
          Seq("x" -> col("x"), "n_pre" -> col("n_pre")))
        .agg(
          max(abs(floor(col("smd") * 1e6 + lit(0.5)) / 1e6)).as("max_abs_smd"),
          count_if(col("balanced")).cast("double").as("n_balanced"))
      val cuLedger = graft.ops.Regression.cuped(perUser, "arm", "y", "x")
        .agg(
          max(col("theta")).as("theta"), // pooled: identical on both rows
          (max(when(col("arm") === "A", col("mean_y_adj"))) -
            max(when(col("arm") === "B", col("mean_y_adj")))).as("adj_effect"),
          max(when(col("arm") === "A", col("var_reduction"))).as("vr_a"),
          max(when(col("arm") === "B", col("var_reduction"))).as("vr_b"))
      val sprt = graft.ops.Changepoint.sprtBernoulli(
        perUser.filter(col("d1").isNotNull), "arm", "d1",
        (col("y") >= 2000L).cast("long"), p0 = 0.45, p1 = 0.55)
      val decCode = when(col("decision") === "accept_h1", 1.0)
        .when(col("decision") === "accept_h0", -1.0).otherwise(0.0)
      val sprtLedger = sprt
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("arm")).orderBy(col("d1").desc)))
        .filter(col("rn") === 1) // the monitor's final state per arm
        .agg(
          max(when(col("arm") === "A", col("llr"))).as("llr_a"),
          max(when(col("arm") === "B", col("llr"))).as("llr_b"),
          max(when(col("arm") === "A", decCode)).as("dec_a"),
          max(when(col("arm") === "B", decCode)).as("dec_b"))
      val sweep = ev.filter(col("event_type").isNotNull)
        .withColumn("test", concat(col("event_type"), lit(":"),
          dayofmonth(col("ts")).cast("string")))
      val bhLedger = graft.ops.Distribution.bhAdjust(
          graft.ops.Distribution.proportionZByGroup(sweep, "test",
            col("user_id") % 2 === 0, cents >= 2000L),
          "test", "p", alpha = 0.1)
        .agg(
          max(col("m")).cast("double").as("m_tests"),
          count_if(col("rejected")).cast("double").as("n_rejected"),
          min(qround(col("p_adj"), 9)).as("min_p_adj"))
      counts.crossJoin(balLedger).crossJoin(cuLedger)
        .crossJoin(sprtLedger).crossJoin(bhLedger)
        .select(col("n_users_a"), col("n_users_b"),
          col("max_abs_smd"), col("n_balanced"),
          qround(col("theta"), 6).as("theta"),
          qround(col("adj_effect"), 6).as("adj_effect"),
          qround(col("vr_a"), 6).as("vr_a"), qround(col("vr_b"), 6).as("vr_b"),
          qround(col("llr_a"), 6).as("llr_a"), qround(col("llr_b"), 6).as("llr_b"),
          col("dec_a"), col("dec_b"),
          col("m_tests"), col("n_rejected"), col("min_p_adj"))
        .selectExpr("""stack(15,
          '00_assign_users_a', n_users_a, '00_assign_users_b', n_users_b,
          '01_balance_max_abs_smd', max_abs_smd,
          '01_balance_n_balanced', n_balanced,
          '02_cuped_theta', theta, '02_cuped_adj_effect', adj_effect,
          '02_cuped_vr_a', vr_a, '02_cuped_vr_b', vr_b,
          '03_sprt_llr_a', llr_a, '03_sprt_llr_b', llr_b,
          '03_sprt_decision_a', dec_a, '03_sprt_decision_b', dec_b,
          '04_fdr_m', m_tests, '04_fdr_rejected', n_rejected,
          '04_fdr_min_p_adj', min_p_adj) AS (metric, value)""")
    },
    oracle = Some(// the composed suite: one per-user collapse feeds balance, CUPED
      // and SPRT; the sweep re-scans for the per-(type, day) cells; every
      // stage's CTE is the unit oracle's, verbatim
      """WITH ev AS (SELECT user_id, event_type, ts,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
        |pu AS (SELECT user_id,
        |    SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN cents ELSE 0 END) AS x,
        |    SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN cents ELSE 0 END) AS y,
        |    count(*) FILTER (ts < TIMESTAMP '2024-01-16 00:00:00') AS n_pre,
        |    MIN(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN day(ts) END) AS d1
        |  FROM ev GROUP BY 1),
        |a AS (SELECT *, CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm FROM pu),
        |cnt AS (SELECT CAST(count(*) FILTER (arm = 'A') AS DOUBLE) AS n_users_a,
        |    CAST(count(*) FILTER (arm = 'B') AS DOUBLE) AS n_users_b FROM a),
        |bs AS (SELECT count(*) FILTER (arm = 'A') AS na, count(*) FILTER (arm = 'B') AS nb,
        |    SUM(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS sa1,
        |    SUM(CASE WHEN arm = 'A' THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS qa1,
        |    SUM(CASE WHEN arm = 'B' THEN x ELSE 0 END) AS sb1,
        |    SUM(CASE WHEN arm = 'B' THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS qb1,
        |    SUM(CASE WHEN arm = 'A' THEN n_pre ELSE 0 END) AS sa2,
        |    SUM(CASE WHEN arm = 'A' THEN CAST(n_pre AS HUGEINT) * n_pre ELSE 0 END) AS qa2,
        |    SUM(CASE WHEN arm = 'B' THEN n_pre ELSE 0 END) AS sb2,
        |    SUM(CASE WHEN arm = 'B' THEN CAST(n_pre AS HUGEINT) * n_pre ELSE 0 END) AS qb2
        |  FROM a),
        |bu AS (SELECT na, nb, sa1 AS sa, qa1 AS qa, sb1 AS sb, qb1 AS qb FROM bs
        |  UNION ALL SELECT na, nb, sa2, qa2, sb2, qb2 FROM bs),
        |bm AS (SELECT na, nb,
        |    CAST(sa AS DOUBLE) / na AS ma, CAST(sb AS DOUBLE) / nb AS mb,
        |    CAST(qa AS DOUBLE) / na - (CAST(sa AS DOUBLE) / na) * (CAST(sa AS DOUBLE) / na) AS va,
        |    CAST(qb AS DOUBLE) / nb - (CAST(sb AS DOUBLE) / nb) * (CAST(sb AS DOUBLE) / nb) AS vb
        |  FROM bu),
        |bt AS (SELECT CASE WHEN na > 0 AND nb > 0 AND (va + vb) / 2.0 > 0
        |    THEN (ma - mb) / sqrt((va + vb) / 2.0) END AS smd FROM bm),
        |bl AS (SELECT MAX(abs(floor(smd * 1000000.0 + 0.5) / 1000000.0)) AS max_abs_smd,
        |    CAST(count(*) FILTER (abs(floor(smd * 1000000.0 + 0.5) / 1000000.0) <= 0.1) AS DOUBLE) AS n_balanced
        |  FROM bt),
        |cm AS (SELECT arm, count(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM a GROUP BY 1),
        |cg AS (SELECT *, SUM(n) OVER () AS gn, SUM(sx) OVER () AS gsx,
        |    SUM(sy) OVER () AS gsy, SUM(sxy) OVER () AS gsxy,
        |    SUM(sxx) OVER () AS gsxx FROM cm),
        |cf AS (SELECT arm, n,
        |    CAST(sy AS DOUBLE) / n AS mean_y, CAST(sx AS DOUBLE) / n AS mean_x,
        |    CAST(gn AS DOUBLE) * gsxy - CAST(gsx AS DOUBLE) * gsy AS covn,
        |    CAST(gn AS DOUBLE) * gsxx - CAST(gsx AS DOUBLE) * gsx AS varxn,
        |    CAST(gsx AS DOUBLE) / gn AS xbarg,
        |    CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS var_y,
        |    CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS var_x,
        |    CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS cov_a
        |  FROM cg),
        |ct AS (SELECT *, CASE WHEN varxn > 0 THEN covn / varxn END AS theta FROM cf),
        |cvv AS (SELECT *, mean_y - theta * (mean_x - xbarg) AS adj,
        |    var_y - 2.0 * theta * cov_a + theta * theta * var_x AS var_adj FROM ct),
        |cl AS (SELECT MAX(theta) AS theta,
        |    MAX(CASE WHEN arm = 'A' THEN adj END) -
        |      MAX(CASE WHEN arm = 'B' THEN adj END) AS adj_effect,
        |    MAX(CASE WHEN arm = 'A' THEN
        |      CASE WHEN var_y > 0 THEN 1.0 - var_adj / var_y END END) AS vr_a,
        |    MAX(CASE WHEN arm = 'B' THEN
        |      CASE WHEN var_y > 0 THEN 1.0 - var_adj / var_y END END) AS vr_b
        |  FROM cvv),
        |st AS (SELECT arm, d1, CAST(y >= 2000 AS INT) AS sy FROM a WHERE d1 IS NOT NULL),
        |sc AS (SELECT arm, d1, SUM(sy) AS sk, count(*) AS sn FROM st GROUP BY 1, 2),
        |s2 AS (SELECT arm, d1,
        |    SUM(sk) OVER (PARTITION BY arm ORDER BY d1
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k,
        |    SUM(sn) OVER (PARTITION BY arm ORDER BY d1
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
        |  FROM sc),
        |sl0 AS (SELECT arm,
        |    k * ln(CAST(0.55 AS DOUBLE) / CAST(0.45 AS DOUBLE)) +
        |    (n - k) * ln((1.0 - CAST(0.55 AS DOUBLE)) / (1.0 - CAST(0.45 AS DOUBLE))) AS llr,
        |    row_number() OVER (PARTITION BY arm ORDER BY d1 DESC) AS rn
        |  FROM s2),
        |sfin AS (SELECT arm, llr,
        |    CASE WHEN llr >= ln((1.0 - CAST(0.2 AS DOUBLE)) / CAST(0.05 AS DOUBLE)) THEN 1.0
        |         WHEN llr <= ln(CAST(0.2 AS DOUBLE) / (1.0 - CAST(0.05 AS DOUBLE))) THEN -1.0
        |         ELSE 0.0 END AS dec
        |  FROM sl0 WHERE rn = 1),
        |sl AS (SELECT MAX(CASE WHEN arm = 'A' THEN llr END) AS llr_a,
        |    MAX(CASE WHEN arm = 'B' THEN llr END) AS llr_b,
        |    MAX(CASE WHEN arm = 'A' THEN dec END) AS dec_a,
        |    MAX(CASE WHEN arm = 'B' THEN dec END) AS dec_b FROM sfin),
        |fe AS (SELECT event_type || ':' || CAST(day(ts) AS VARCHAR) AS test,
        |    user_id % 2 = 0 AS farm, cents >= 2000 AS fy
        |  FROM ev WHERE event_type IS NOT NULL),
        |fc AS (SELECT test, count(*) FILTER (farm) AS n_a,
        |    count(*) FILTER (NOT farm) AS n_b,
        |    count(*) FILTER (farm AND fy) AS pos_a,
        |    count(*) FILTER (NOT farm AND fy) AS pos_b
        |  FROM fe GROUP BY 1),
        |fz AS (SELECT *,
        |    CASE WHEN n_a > 0 AND n_b > 0
        |        AND pos_a + pos_b > 0 AND pos_a + pos_b < n_a + n_b THEN
        |      (CAST(pos_a AS DOUBLE) / n_a - CAST(pos_b AS DOUBLE) / n_b) /
        |        sqrt((CAST(pos_a + pos_b AS DOUBLE) / (n_a + n_b)) *
        |          (1.0 - CAST(pos_a + pos_b AS DOUBLE) / (n_a + n_b)) *
        |          (1.0 / n_a + 1.0 / n_b))
        |    END AS z FROM fc),
        |fp AS (SELECT *, floor(2.0 / (1.0 + exp(1.702 * abs(z)))
        |    * 1000000000.0 + 0.5) / 1000000000.0 AS p
        |  FROM fz WHERE z IS NOT NULL),
        |fr AS (SELECT *, CAST(row_number() OVER (ORDER BY p, test) AS BIGINT) AS rank,
        |    count(*) OVER () AS m FROM fp),
        |fk AS (SELECT *, MAX(CASE WHEN p <= CAST(rank AS DOUBLE) * 0.1 / m
        |      THEN rank END) OVER () AS kstar,
        |    MIN(p * CAST(m AS DOUBLE) / rank) OVER (ORDER BY rank DESC
        |      ROWS UNBOUNDED PRECEDING) AS tailmin
        |  FROM fr),
        |fl AS (SELECT CAST(MAX(m) AS DOUBLE) AS m_tests,
        |    CAST(count(*) FILTER (kstar IS NOT NULL AND rank <= kstar) AS DOUBLE) AS n_rejected,
        |    MIN(floor(least(1.0, tailmin) * 1000000000.0 + 0.5) / 1000000000.0) AS min_p_adj
        |  FROM fk)
        |SELECT metric, value FROM (
        |  SELECT '00_assign_users_a' AS metric, n_users_a AS value FROM cnt
        |  UNION ALL SELECT '00_assign_users_b', n_users_b FROM cnt
        |  UNION ALL SELECT '01_balance_max_abs_smd', max_abs_smd FROM bl
        |  UNION ALL SELECT '01_balance_n_balanced', n_balanced FROM bl
        |  UNION ALL SELECT '02_cuped_theta', floor(theta * 1000000.0 + 0.5) / 1000000.0 FROM cl
        |  UNION ALL SELECT '02_cuped_adj_effect', floor(adj_effect * 1000000.0 + 0.5) / 1000000.0 FROM cl
        |  UNION ALL SELECT '02_cuped_vr_a', floor(vr_a * 1000000.0 + 0.5) / 1000000.0 FROM cl
        |  UNION ALL SELECT '02_cuped_vr_b', floor(vr_b * 1000000.0 + 0.5) / 1000000.0 FROM cl
        |  UNION ALL SELECT '03_sprt_llr_a', floor(llr_a * 1000000.0 + 0.5) / 1000000.0 FROM sl
        |  UNION ALL SELECT '03_sprt_llr_b', floor(llr_b * 1000000.0 + 0.5) / 1000000.0 FROM sl
        |  UNION ALL SELECT '03_sprt_decision_a', dec_a FROM sl
        |  UNION ALL SELECT '03_sprt_decision_b', dec_b FROM sl
        |  UNION ALL SELECT '04_fdr_m', m_tests FROM fl
        |  UNION ALL SELECT '04_fdr_rejected', n_rejected FROM fl
        |  UNION ALL SELECT '04_fdr_min_p_adj', min_p_adj FROM fl
        |)""".stripMargin),
    // sf1: one per-user collapse + the |tests|-cell sweep must stay the
    // only data-sized stages
    sf1 = true),

    // The COMPOSED drift-monitoring suite, end-to-end in one oracled
    // ledger — the remaining pillar without a composition pin (corpus,
    // experimentation and classifier each have theirs): profile gate
    // (row/null/cardinality facts the monitor trusts before any
    // statistics) → KS + PSI drift sweeps per event type over the same
    // checkpointed cents collapse → BY-FDR gate over the (type, day)
    // proportion-z sweep (arbitrary-dependence correction — drift cells
    // over one corpus are anything but independent) → EB smoothed-rate
    // leaderboard of high-ticket share per type (the ranked readout a
    // human gets paged with). Every unit stage is green on its own
    // (q_ks_drift, q_psi_drift, q_by_fdr, q_smoothed_rates); this row
    // pins the COMPOSITION: one shared filtered-cents base feeding KS,
    // PSI and the rate stage, the decile boundaries fit on exactly that
    // base, thresholds applied to the same rounded values in both
    // engines. Scale shape: ONE filtered collapse (checkpointed, three
    // consumers) + the sweep's (test, arm) aggregate; everything
    // downstream is segment- or test-cardinality metadata.
    QuerySpec("q_drift_pipeline", (s, d) => {
      val evRaw = Tables.events(s, d)
      val profLedger = graft.ops.Profiler.profile(evRaw,
          Seq("value", "event_type"))
        .agg(
          max(when(col("col_name") === "value" &&
            col("metric") === "n_rows", col("value_num"))).as("p_rows"),
          max(when(col("col_name") === "value" &&
            col("metric") === "n_nulls", col("value_num"))).as("p_nulls"),
          max(when(col("col_name") === "event_type" &&
            col("metric") === "n_distinct", col("value_num"))).as("p_types"))
      val ev = evRaw
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
        .localCheckpoint(false) // fans out: KS, PSI (fit + sweep), rates
      val ksLedger = graft.ops.Distribution.ksDrift(ev, "event_type", "cents")
        .agg(max(qround(col("ks"), 6)).as("ks_max"),
          count(lit(1)).cast("double").as("ks_n_segs"))
      val bounds = graft.ops.Aggregates.sortedPercentilesMulti(
        ev, Seq("cents"), (1 to 9).map(_ / 10.0))("cents")
      val psiLedger = graft.ops.Distribution
        .psiDrift(ev, "event_type", "cents", bounds)
        .withColumn("psi_r", qround(col("psi"), 6))
        .agg(max(col("psi_r")).as("psi_max"),
          count_if(col("psi_r") > 0.2).cast("double").as("psi_over"))
      val sweep = evRaw
        .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
          col("value").isNotNull && col("ts").isNotNull)
        .withColumn("test", concat(col("event_type"), lit(":"),
          dayofmonth(col("ts")).cast("string")))
      val fdrLedger = graft.ops.Distribution.byAdjust(
          graft.ops.Distribution.proportionZByGroup(sweep, "test",
            col("user_id") % 2 === 0,
            floor(col("value") * 100 + lit(0.5)).cast("long") >= 2000L),
          "test", "p", alpha = 0.1)
        .agg(max(col("m")).cast("double").as("fdr_m"),
          count_if(col("rejected")).cast("double").as("fdr_rejected"),
          min(qround(col("p_adj"), 9)).as("fdr_min_p_adj"))
      val rateLedger = graft.ops.Aggregates.smoothedRates(
          ev, "event_type", col("cents") >= 2000L, strength = 50.0)
        .agg(count(lit(1)).cast("double").as("rate_n_groups"),
          max(qround(col("smoothed_rate"), 6)).as("rate_top_smoothed"),
          max(qround(col("raw_rate"), 6)).as("rate_top_raw"))
      profLedger.crossJoin(ksLedger).crossJoin(psiLedger)
        .crossJoin(fdrLedger).crossJoin(rateLedger)
        .selectExpr("""stack(13,
          '00_profile_n_rows', p_rows,
          '00_profile_nulls_value', p_nulls,
          '00_profile_distinct_types', p_types,
          '01_ks_max', ks_max, '01_ks_n_segs', ks_n_segs,
          '01_psi_max', psi_max, '01_psi_over_02', psi_over,
          '02_fdr_m', fdr_m, '02_fdr_rejected', fdr_rejected,
          '02_fdr_min_p_adj', fdr_min_p_adj,
          '03_rate_n_groups', rate_n_groups,
          '03_rate_top_smoothed', rate_top_smoothed,
          '03_rate_top_raw', rate_top_raw) AS (metric, value)""")
    },
    oracle = Some(// the composed monitoring suite: profile gate, then KS + PSI
      // sweeps and the EB rate stage over ONE shared cents base, the
      // BY-FDR gate over the (type, day) sweep; each stage's CTE is the
      // unit oracle's (q_ks_drift / q_psi_drift / q_by_fdr /
      // q_smoothed_rates), summarized into the ledger
      """WITH prof AS (SELECT CAST(count(*) AS DOUBLE) AS p_rows,
        |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS p_nulls,
        |    CAST(count(DISTINCT event_type) AS DOUBLE) AS p_types FROM events),
        |b AS MATERIALIZED (SELECT event_type AS seg,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |sc AS (SELECT seg, v, count(*) AS sn FROM b GROUP BY 1, 2),
        |gv AS (SELECT v, SUM(sn) AS gn FROM sc GROUP BY 1),
        |segs AS (SELECT seg, SUM(sn) AS stot FROM sc GROUP BY 1),
        |gr AS (SELECT SUM(gn) AS gtot FROM gv),
        |grid AS (SELECT segs.seg, segs.stot, gv.v, gv.gn, COALESCE(sc.sn, 0) AS sn
        |  FROM gv CROSS JOIN segs LEFT JOIN sc ON sc.seg = segs.seg AND sc.v = gv.v),
        |kc AS (SELECT seg, stot,
        |    SUM(sn) OVER (PARTITION BY seg ORDER BY v) AS cs,
        |    SUM(gn) OVER (PARTITION BY seg ORDER BY v) AS cg
        |  FROM grid),
        |ksg AS (SELECT seg,
        |    floor(MAX(abs(CAST(cs AS DOUBLE) / stot - CAST(cg AS DOUBLE) / gtot))
        |      * 1000000.0 + 0.5) / 1000000.0 AS ksv
        |  FROM kc, gr GROUP BY 1),
        |ksl AS (SELECT MAX(ksv) AS ks_max, CAST(count(*) AS DOUBLE) AS ks_n_segs FROM ksg),
        |q AS (SELECT quantile_cont(v, 0.1) AS b1, quantile_cont(v, 0.2) AS b2,
        |    quantile_cont(v, 0.3) AS b3, quantile_cont(v, 0.4) AS b4,
        |    quantile_cont(v, 0.5) AS b5, quantile_cont(v, 0.6) AS b6,
        |    quantile_cont(v, 0.7) AS b7, quantile_cont(v, 0.8) AS b8,
        |    quantile_cont(v, 0.9) AS b9 FROM b),
        |x AS (SELECT seg,
        |    (CASE WHEN v >= b1 THEN 1 ELSE 0 END) + (CASE WHEN v >= b2 THEN 1 ELSE 0 END)
        |  + (CASE WHEN v >= b3 THEN 1 ELSE 0 END) + (CASE WHEN v >= b4 THEN 1 ELSE 0 END)
        |  + (CASE WHEN v >= b5 THEN 1 ELSE 0 END) + (CASE WHEN v >= b6 THEN 1 ELSE 0 END)
        |  + (CASE WHEN v >= b7 THEN 1 ELSE 0 END) + (CASE WHEN v >= b8 THEN 1 ELSE 0 END)
        |  + (CASE WHEN v >= b9 THEN 1 ELSE 0 END) AS bin FROM b, q),
        |sb AS (SELECT seg, bin, count(*) AS c FROM x GROUP BY 1, 2),
        |psegs AS (SELECT seg, SUM(c) AS stot FROM sb GROUP BY 1),
        |gb AS (SELECT bin, SUM(c) AS g FROM sb GROUP BY 1),
        |pgr AS (SELECT SUM(c) AS gtot FROM sb),
        |pgrid AS (SELECT psegs.seg, psegs.stot, bins.bin,
        |    COALESCE(sb.c, 0) AS c, COALESCE(gb.g, 0) AS g
        |  FROM psegs CROSS JOIN (SELECT unnest(range(10)) AS bin) bins
        |  LEFT JOIN sb ON sb.seg = psegs.seg AND sb.bin = bins.bin
        |  LEFT JOIN gb ON gb.bin = bins.bin),
        |pt AS (SELECT seg, stot, (c + 0.5) / (stot + 5.0) AS p,
        |    (g + 0.5) / (gtot + 5.0) AS q FROM pgrid, pgr),
        |psig AS (SELECT seg,
        |    floor(SUM((p - q) * ln(p / q)) * 1000000.0 + 0.5) / 1000000.0 AS psiv
        |  FROM pt GROUP BY 1),
        |psil AS (SELECT MAX(psiv) AS psi_max,
        |    CAST(count(*) FILTER (psiv > 0.2) AS DOUBLE) AS psi_over FROM psig),
        |fe AS (SELECT event_type || ':' || CAST(day(ts) AS VARCHAR) AS test,
        |    user_id % 2 = 0 AS arm,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) >= 2000 AS y
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |    AND value IS NOT NULL AND ts IS NOT NULL),
        |fc AS (SELECT test, count(*) FILTER (arm) AS n_a,
        |    count(*) FILTER (NOT arm) AS n_b,
        |    count(*) FILTER (arm AND y) AS pos_a,
        |    count(*) FILTER (NOT arm AND y) AS pos_b
        |  FROM fe GROUP BY 1),
        |fz AS (SELECT *,
        |    CASE WHEN n_a > 0 AND n_b > 0
        |        AND pos_a + pos_b > 0 AND pos_a + pos_b < n_a + n_b THEN
        |      (CAST(pos_a AS DOUBLE) / n_a - CAST(pos_b AS DOUBLE) / n_b) /
        |        sqrt((CAST(pos_a + pos_b AS DOUBLE) / (n_a + n_b)) *
        |          (1.0 - CAST(pos_a + pos_b AS DOUBLE) / (n_a + n_b)) *
        |          (1.0 / n_a + 1.0 / n_b))
        |    END AS z FROM fc),
        |fp AS (SELECT *, floor(2.0 / (1.0 + exp(1.702 * abs(z)))
        |    * 1000000000.0 + 0.5) / 1000000000.0 AS p
        |  FROM fz WHERE z IS NOT NULL),
        |fr AS (SELECT *, CAST(row_number() OVER (ORDER BY p, test) AS BIGINT) AS rank,
        |    count(*) OVER () AS m FROM fp),
        |fh AS (SELECT *, CAST(sum(CAST(floor(1e12 / rank + 0.5) AS BIGINT))
        |      OVER () AS DOUBLE) / 1e12 AS cm FROM fr),
        |fk AS (SELECT *, MAX(CASE WHEN p <= CAST(rank AS DOUBLE) * 0.1 / (m * cm)
        |      THEN rank END) OVER () AS kstar,
        |    MIN(p * (m * cm) / rank) OVER (ORDER BY rank DESC
        |      ROWS UNBOUNDED PRECEDING) AS tailmin
        |  FROM fh),
        |fl AS (SELECT CAST(MAX(m) AS DOUBLE) AS fdr_m,
        |    CAST(count(*) FILTER (kstar IS NOT NULL AND rank <= kstar) AS DOUBLE) AS fdr_rejected,
        |    MIN(floor(least(1.0, tailmin) * 1000000000.0 + 0.5) / 1000000000.0) AS fdr_min_p_adj
        |  FROM fk),
        |rg AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN v >= 2000 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM b GROUP BY 1),
        |rt AS (SELECT sum(n) AS tn, sum(pos) AS tp FROM rg),
        |rl AS (SELECT CAST(count(*) AS DOUBLE) AS rate_n_groups,
        |    MAX(floor(((pos + (CAST(tp AS DOUBLE) / tn) * 50.0) / (n + 50.0))
        |      * 1000000.0 + 0.5) / 1000000.0) AS rate_top_smoothed,
        |    MAX(floor((CAST(pos AS DOUBLE) / n) * 1000000.0 + 0.5) / 1000000.0) AS rate_top_raw
        |  FROM rg, rt)
        |SELECT metric, value FROM (
        |  SELECT '00_profile_n_rows' AS metric, p_rows AS value FROM prof
        |  UNION ALL SELECT '00_profile_nulls_value', p_nulls FROM prof
        |  UNION ALL SELECT '00_profile_distinct_types', p_types FROM prof
        |  UNION ALL SELECT '01_ks_max', ks_max FROM ksl
        |  UNION ALL SELECT '01_ks_n_segs', ks_n_segs FROM ksl
        |  UNION ALL SELECT '01_psi_max', psi_max FROM psil
        |  UNION ALL SELECT '01_psi_over_02', psi_over FROM psil
        |  UNION ALL SELECT '02_fdr_m', fdr_m FROM fl
        |  UNION ALL SELECT '02_fdr_rejected', fdr_rejected FROM fl
        |  UNION ALL SELECT '02_fdr_min_p_adj', fdr_min_p_adj FROM fl
        |  UNION ALL SELECT '03_rate_n_groups', rate_n_groups FROM rl
        |  UNION ALL SELECT '03_rate_top_smoothed', rate_top_smoothed FROM rl
        |  UNION ALL SELECT '03_rate_top_raw', rate_top_raw FROM rl
        |)""".stripMargin),
    // sf1: profile gate + KS/PSI sweeps + BY-FDR gate + EB rates over ONE
    // shared collapse — superlinearity means a sweep stage started
    // shuffling corpus mass
    sf1 = true),

    // Two-sample log-rank test (Survival.logRank): do even- and odd-id
    // users share a time-to-first-big-ticket curve? Duration = days to
    // the first ≥$50 event, censored at the user's last observed day —
    // the censoring-correct arm comparison plain retention can't make.
    QuerySpec("q_logrank", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("day", datediff(to_date(col("ts")),
          to_date(lit("2024-01-01"))).cast("long") + 1)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(when(col("cents") >= 5000L, col("day"))).as("conv_day"),
          max(col("day")).as("last_day"))
        .select(col("user_id"),
          coalesce(col("conv_day"), col("last_day")).as("dur"),
          when(col("conv_day").isNotNull, 1L).otherwise(0L).as("evt"),
          (col("user_id") % 2 === 0).as("arm"))
      graft.ops.Survival.logRank(perUser, col("arm"), "dur", "evt")
        .select(col("o_a"), qround(col("e_a"), 6).as("e_a"),
          qround(col("v"), 6).as("v"), qround(col("z"), 6).as("z"),
          qround(col("p"), 9).as("p"))
    },
    oracle = Some(// per-user duration collapse, pooled event-time grid with both
      // arms, per-arm risk-set windows, 1e-12-grid E/V terms — mirrors
      // Survival.logRank stage-for-stage
      """WITH e AS (SELECT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1 AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |pu AS (SELECT user_id,
        |    COALESCE(MIN(CASE WHEN cents >= 5000 THEN day END), MAX(day)) AS dur,
        |    CASE WHEN MIN(CASE WHEN cents >= 5000 THEN day END) IS NOT NULL
        |      THEN 1 ELSE 0 END AS evt,
        |    user_id % 2 = 0 AS arm
        |  FROM e GROUP BY 1),
        |cells AS (SELECT arm, dur AS t, SUM(evt) AS d, SUM(1 - evt) AS c
        |  FROM pu GROUP BY 1, 2),
        |times AS (SELECT t FROM cells GROUP BY 1 HAVING SUM(d) > 0),
        |arms AS (SELECT true AS arm UNION ALL SELECT false),
        |fullg AS (SELECT a.arm, tm.t, COALESCE(cl.d, 0) AS d, COALESCE(cl.c, 0) AS c
        |  FROM times tm CROSS JOIN arms a
        |  LEFT JOIN cells cl ON cl.arm = a.arm AND cl.t = tm.t
        |  UNION ALL
        |  SELECT arm, t, d, c FROM cells WHERE t NOT IN (SELECT t FROM times)),
        |risk AS (SELECT arm, t, d,
        |    SUM(d + c) OVER (PARTITION BY arm) -
        |      COALESCE(SUM(d + c) OVER (PARTITION BY arm ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM fullg),
        |byt AS (SELECT r.t, SUM(d) AS dt, SUM(n_risk) AS nt,
        |    SUM(CASE WHEN arm THEN d ELSE 0 END) AS da,
        |    SUM(CASE WHEN arm THEN n_risk ELSE 0 END) AS na
        |  FROM risk r JOIN times USING (t) GROUP BY 1),
        |terms AS (SELECT da,
        |    CAST(floor(dt * (CAST(na AS DOUBLE) / nt) * 1e12 + 0.5) AS BIGINT) AS eg,
        |    CASE WHEN nt > 1 THEN CAST(floor(dt * (CAST(na AS DOUBLE) / nt) *
        |        (1.0 - CAST(na AS DOUBLE) / nt) *
        |        CAST(nt - dt AS DOUBLE) / (nt - 1) * 1e12 + 0.5) AS BIGINT)
        |      ELSE 0 END AS vg
        |  FROM byt),
        |o AS (SELECT SUM(da) AS o_a, SUM(eg) AS eg, SUM(vg) AS vg FROM terms)
        |SELECT CAST(o_a AS BIGINT) AS o_a,
        |  floor((CAST(eg AS DOUBLE) / 1e12) * 1000000.0 + 0.5) / 1000000.0 AS e_a,
        |  floor((CAST(vg AS DOUBLE) / 1e12) * 1000000.0 + 0.5) / 1000000.0 AS v,
        |  CASE WHEN CAST(vg AS DOUBLE) / 1e12 > 0 THEN
        |    floor(((CAST(o_a AS DOUBLE) - CAST(eg AS DOUBLE) / 1e12) /
        |      sqrt(CAST(vg AS DOUBLE) / 1e12)) * 1000000.0 + 0.5) / 1000000.0
        |    END AS z,
        |  CASE WHEN CAST(vg AS DOUBLE) / 1e12 > 0 THEN
        |    floor((2.0 / (1.0 + exp(1.702 * abs((CAST(o_a AS DOUBLE) -
        |      CAST(eg AS DOUBLE) / 1e12) / sqrt(CAST(vg AS DOUBLE) / 1e12)))))
        |      * 1000000000.0 + 0.5) / 1000000000.0
        |    END AS p
        |FROM o""".stripMargin)),

    // Kruskal–Wallis H across event types on value cents — the k-sample
    // rank test (whale-proof ANOVA) with exact doubled-midrank algebra
    // and the tie-corrected h_adj.
    QuerySpec("q_kruskal_wallis", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.RankTests.kruskalWallis(ev, "event_type", "cents")
        .select(col("k"), col("n"), qround(col("h"), 6).as("h"),
          qround(col("h_adj"), 6).as("h_adj"))
    },
    oracle = Some(// doubled-midrank identity over the pooled distinct-value grid;
      // per-group H terms on the 1e-9 grid, tie correction from exact
      // HUGEINT t³−t sums — mirrors RankTests.kruskalWallis
      """WITH b AS (SELECT event_type AS g,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |cells AS (SELECT g, v, count(*) AS c FROM b GROUP BY 1, 2),
        |pooled AS (SELECT v, SUM(c) AS t FROM cells GROUP BY 1),
        |pc AS (SELECT v, t, SUM(t) OVER (ORDER BY v) AS cc FROM pooled),
        |r AS (SELECT cells.g, cells.c, pc.t, pc.cc FROM cells JOIN pc USING (v)),
        |byg AS (SELECT g, SUM(c) AS ng,
        |    SUM(CAST(c AS HUGEINT) * (2 * cc - t + 1)) AS r2g
        |  FROM r GROUP BY 1),
        |ties AS (SELECT SUM(t) AS n,
        |    SUM(CAST(t AS HUGEINT) * t * t - t) AS tt FROM pooled),
        |terms AS (SELECT CAST(floor(3.0 * CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE) /
        |      (CAST(ng AS DOUBLE) * n * (n + 1.0)) * 1e9 + 0.5) AS BIGINT) AS tg
        |  FROM byg, ties),
        |agg AS (SELECT count(*) AS k, SUM(tg) AS hg FROM terms)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  floor((CAST(hg AS DOUBLE) / 1e9 - 3.0 * (n + 1.0)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS h,
        |  CASE WHEN k > 1 AND n > k AND
        |      (1.0 - CAST(tt AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n)) > 0
        |    THEN floor(((CAST(hg AS DOUBLE) / 1e9 - 3.0 * (n + 1.0)) /
        |      (1.0 - CAST(tt AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n)))
        |      * 1000000.0 + 0.5) / 1000000.0 END AS h_adj
        |FROM agg, ties""".stripMargin)),

    // Pettitt change-point test per type over the daily-revenue series:
    // rank-based single-shift locator (K, t*, p) — the assumption-free
    // companion to q_cusum_changepoint.
    QuerySpec("q_pettitt", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("t", datediff(to_date(col("ts")),
          to_date(lit("2024-01-01"))).cast("long") + 1)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      val daily = ev.groupBy(col("event_type"), col("t"))
        .agg(sum(col("cents")).as("rev"))
      graft.ops.Changepoint.pettitt(daily, "event_type", "t", "rev")
        .select(col("event_type"), col("n"), col("k_stat"), col("t_star"),
          qround(col("p"), 9).as("p"))
    },
    oracle = Some(// midrank via the distinct-value cumulative, U as the exact
      // time-ordered integer scan, earliest argmax — mirrors
      // Changepoint.pettitt
      """WITH e AS (SELECT event_type AS g,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1 AS t,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |ser AS (SELECT g, t, SUM(cents) AS v FROM e GROUP BY 1, 2),
        |vc AS (SELECT g, v, count(*) AS tv FROM ser GROUP BY 1, 2),
        |cum AS (SELECT g, v, tv, SUM(tv) OVER (PARTITION BY g ORDER BY v) AS cc
        |  FROM vc),
        |j AS (SELECT ser.g, ser.t, cum.tv, cum.cc,
        |    count(*) OVER (PARTITION BY ser.g) AS n
        |  FROM ser JOIN cum ON cum.g = ser.g AND cum.v = ser.v),
        |u AS (SELECT g, t, n,
        |    SUM(2 * cc - tv + 1 - n - 1) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS uu
        |  FROM j),
        |k AS (SELECT g, t, n, uu, MAX(ABS(uu)) OVER (PARTITION BY g) AS kk FROM u)
        |SELECT g AS event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MAX(kk) AS BIGINT) AS k_stat,
        |  CAST(MIN(CASE WHEN ABS(uu) = kk THEN t END) AS BIGINT) AS t_star,
        |  floor(LEAST(1.0, 2.0 * exp(-6.0 * CAST(MAX(kk) AS DOUBLE) * MAX(kk) /
        |    (CAST(MAX(n) AS DOUBLE) * MAX(n) * MAX(n) +
        |     CAST(MAX(n) AS DOUBLE) * MAX(n)))) * 1000000000.0 + 0.5)
        |    / 1000000000.0 AS p
        |FROM k GROUP BY 1""".stripMargin)),

    // Mann–Kendall monotone-trend test + Sen's slope on the per-type
    // daily revenue series — the "is this drifting at all, and how
    // fast?" companion to q_pettitt's single-shift locator. Series
    // grain: pairs are Θ(days²), constant in corpus mass.
    QuerySpec("q_mann_kendall", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("t", datediff(to_date(col("ts")),
          to_date(lit("2024-01-01"))).cast("long") + 1)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      val daily = ev.groupBy(col("event_type"), col("t"))
        .agg(sum(col("cents")).as("rev"))
      graft.ops.Changepoint.mannKendall(daily, "event_type", "t", "rev")
        .select(col("event_type"), col("n"), col("s_stat"),
          qround(col("z"), 6).as("z"),
          qround(col("sen_slope"), 6).as("sen_slope"))
    },
    oracle = Some(
      """WITH e AS (SELECT event_type AS g,
        |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) + 1 AS t,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |daily AS (SELECT g, t, SUM(cents) AS v FROM e GROUP BY 1, 2),
        |p AS (SELECT a.g,
        |    CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn,
        |    CAST(floor(CAST(b.v - a.v AS DOUBLE) / CAST(b.t - a.t AS DOUBLE)
        |      * 1000000000.0 + 0.5) AS BIGINT) AS slope9
        |  FROM daily a JOIN daily b ON a.g = b.g AND a.t < b.t),
        |sagg AS (SELECT g, SUM(sgn) AS s, count(*) AS m FROM p GROUP BY 1),
        |senp AS (SELECT g, slope9,
        |    row_number() OVER (PARTITION BY g ORDER BY slope9 ASC) AS rn FROM p),
        |sen AS (SELECT senp.g, slope9 FROM senp JOIN sagg USING (g)
        |  WHERE rn = (m + 1) // 2),
        |tv AS (SELECT g, v, count(*) AS t FROM daily GROUP BY 1, 2),
        |tagg AS (SELECT g, SUM(t) AS n,
        |    SUM(t * (t - 1) * (2 * t + 5)) AS tsum FROM tv GROUP BY 1),
        |f AS (SELECT sagg.g, tagg.n, sagg.s, sen.slope9,
        |    (CAST(tagg.n AS DOUBLE) * (tagg.n - 1.0) * (2.0 * tagg.n + 5.0)
        |      - CAST(tsum AS DOUBLE)) / 18.0 AS vars
        |  FROM sagg JOIN tagg USING (g) JOIN sen ON sen.g = sagg.g)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
        |  CAST(s AS BIGINT) AS s_stat,
        |  CASE WHEN vars > 0 THEN floor((CASE WHEN s > 0 THEN (s - 1.0) / sqrt(vars)
        |    WHEN s < 0 THEN (s + 1.0) / sqrt(vars) ELSE 0.0 END)
        |    * 1000000.0 + 0.5) / 1000000.0 END AS z,
        |  floor((CAST(slope9 AS DOUBLE) / 1000000000.0) * 1000000.0 + 0.5)
        |    / 1000000.0 AS sen_slope
        |FROM f""".stripMargin)),

    // Friedman test: do the event types rank consistently by daily
    // revenue across days (blocks)? The repeated-measures question
    // Kruskal–Wallis can't ask — day-level volume shifts cancel inside
    // each block.
    QuerySpec("q_friedman", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("day", datediff(to_date(col("ts")),
          to_date(lit("2024-01-01"))).cast("long") + 1)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.RankTests.friedman(ev, "day", "event_type", "cents")
        .select(col("k"), col("b"), col("b_dropped"),
          qround(col("q"), 6).as("q"), qround(col("q_adj"), 6).as("q_adj"))
    },
    oracle = Some(
      """WITH e AS (SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) + 1 AS b,
        |    event_type AS j,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |cells AS (SELECT b, j, SUM(cents) AS v FROM e GROUP BY 1, 2),
        |kk AS (SELECT count(DISTINCT j) AS k FROM cells),
        |nb AS (SELECT b, count(*) AS nb FROM cells GROUP BY 1),
        |comp AS (SELECT c.* FROM cells c JOIN nb ON nb.b = c.b, kk
        |  WHERE nb.nb = kk.k),
        |r AS (SELECT b, j,
        |    2 * (count(*) OVER (PARTITION BY b ORDER BY v
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) -
        |    (count(*) OVER (PARTITION BY b, v)) + 1 AS r2
        |  FROM comp),
        |byj AS (SELECT j, SUM(r2) AS r2j, count(*) AS bj FROM r GROUP BY 1),
        |ssq AS (SELECT MAX(bj) AS b,
        |    SUM(CAST(r2j - bj * (kk.k + 1) AS HUGEINT) *
        |        (r2j - bj * (kk.k + 1))) AS ss
        |  FROM byj, kk),
        |tie AS (SELECT COALESCE(SUM(CAST(t AS HUGEINT) * t * t - t), 0) AS tt
        |  FROM (SELECT b, v, count(*) AS t FROM comp GROUP BY 1, 2)),
        |drp AS (SELECT count(*) FILTER (nb.nb <> kk.k) AS b_dropped
        |  FROM nb, kk),
        |f AS (SELECT kk.k, ssq.b, drp.b_dropped,
        |    3.0 * CAST(ss AS DOUBLE) /
        |      (CAST(ssq.b AS DOUBLE) * kk.k * (kk.k + 1.0)) AS q,
        |    1.0 - CAST(tt AS DOUBLE) /
        |      (CAST(ssq.b AS DOUBLE) * kk.k *
        |        (CAST(kk.k AS DOUBLE) * kk.k - 1.0)) AS corr
        |  FROM kk, ssq, tie, drp)
        |SELECT CAST(k AS BIGINT) AS k, CAST(b AS BIGINT) AS b,
        |  CAST(b_dropped AS BIGINT) AS b_dropped,
        |  floor(q * 1000000.0 + 0.5) / 1000000.0 AS q,
        |  CASE WHEN k > 1 AND b > 0 AND corr > 0 THEN
        |    floor((q / corr) * 1000000.0 + 0.5) / 1000000.0 END AS q_adj
        |FROM f""".stripMargin)),

    // Page's L trend test: does revenue rank INCREASE across the four
    // six-hour slots within each day-block? Friedman's ordered
    // alternative — the declared slot order buys the power an
    // any-difference test wastes.
    QuerySpec("q_page_trend", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("day", datediff(to_date(col("ts")),
          to_date(lit("2024-01-01"))).cast("long") + 1)
        .withColumn("slot", (floor(hour(col("ts")) / 6) + 1).cast("long"))
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.RankTests.pageTrend(ev, "day", "slot", "cents")
        .select(col("k"), col("b"), col("b_dropped"),
          qround(col("l_stat"), 6).as("l_stat"), qround(col("z"), 6).as("z"))
    },
    oracle = Some(
      """WITH e AS (SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) + 1 AS b,
        |    CAST(hour(ts) // 6 + 1 AS BIGINT) AS j,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |cells AS (SELECT b, j, SUM(cents) AS v FROM e GROUP BY 1, 2),
        |kk AS (SELECT count(DISTINCT j) AS k FROM cells),
        |nb AS (SELECT b, count(*) AS nb FROM cells GROUP BY 1),
        |comp AS (SELECT c.* FROM cells c JOIN nb ON nb.b = c.b, kk
        |  WHERE nb.nb = kk.k),
        |r AS (SELECT b, j,
        |    2 * (count(*) OVER (PARTITION BY b ORDER BY v
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) -
        |    (count(*) OVER (PARTITION BY b, v)) + 1 AS r2
        |  FROM comp),
        |byj AS (SELECT j, SUM(r2) AS r2j, count(*) AS bj FROM r GROUP BY 1),
        |ag AS (SELECT MAX(bj) AS b,
        |    SUM(CAST(j AS HUGEINT) * r2j) AS l2 FROM byj),
        |drp AS (SELECT count(*) FILTER (nb.nb <> kk.k) AS b_dropped
        |  FROM nb, kk),
        |f AS (SELECT kk.k, ag.b, drp.b_dropped,
        |    CAST(l2 AS DOUBLE) / 2.0 AS l,
        |    CAST(ag.b AS DOUBLE) * kk.k * (kk.k + 1.0) * (kk.k + 1.0) / 4.0 AS mu,
        |    sqrt(CAST(ag.b AS DOUBLE) * kk.k * kk.k * (kk.k + 1.0) *
        |      (CAST(kk.k AS DOUBLE) * kk.k - 1.0) / 144.0) AS sigma
        |  FROM kk, ag, drp)
        |SELECT CAST(k AS BIGINT) AS k, CAST(b AS BIGINT) AS b,
        |  CAST(b_dropped AS BIGINT) AS b_dropped,
        |  floor(l * 1000000.0 + 0.5) / 1000000.0 AS l_stat,
        |  CASE WHEN k > 1 AND b > 0 AND sigma > 0 THEN
        |    floor(((l - mu) / sigma) * 1000000.0 + 0.5) / 1000000.0 END AS z
        |FROM f""".stripMargin)),

    // ROLLUP grouping sets: the (type, day) revenue cube's prefix
    // hierarchy — detail, per-type subtotal, grand total in ONE pass
    // (Spark lowers rollup to a single Expand + aggregate, not three
    // scans); grouping_id disambiguates NULL-as-rolled-up from
    // NULL-as-data.
    QuerySpec("q_rollup_revenue", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("day", dayofmonth(col("ts")).cast("long"))
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      ev.rollup(col("event_type"), col("day"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum(col("cents")).as("rev"))
        .select(col("event_type"), col("day"), col("gid"), col("n"),
          col("rev"))
    },
    oracle = Some(// GROUPING bits ordered leftmost-most-significant, matching
      // Spark's grouping_id()
      """WITH e AS (SELECT event_type, CAST(day(ts) AS BIGINT) AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL)
        |SELECT event_type, day,
        |  CAST(GROUPING(event_type) * 2 + GROUPING(day) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS rev
        |FROM e GROUP BY ROLLUP(event_type, day)""".stripMargin)),

    // One-sweep Tukey median polish of the (type, day) revenue table —
    // the ROBUST two-way decomposition: overall + row + col effects by
    // lower medians (whale-proof where mean ANOVA smears), and the
    // worst residual cell = the (segment, period) interaction left
    // after both margins are explained. Zero float surface.
    QuerySpec("q_median_polish", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("day", datediff(to_date(col("ts")),
          to_date(lit("2024-01-01"))).cast("long") + 1)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Seasonal.medianPolish(ev, "event_type", "day", "cents")
        .select(col("component"), col("key"), col("effect"))
    },
    oracle = Some(// lower medians via the cumulative window per margin; integer
      // subtraction end to end (mirrors Seasonal.medianPolish)
      """WITH e AS (SELECT event_type AS r,
        |    CAST(CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) + 1 AS VARCHAR) AS c,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |cells AS (SELECT r, c, SUM(cents) AS v FROM e GROUP BY 1, 2),
        |rmed AS (SELECT r, MIN(CASE WHEN cc >= (n + 1) // 2 THEN v END) AS re
        |  FROM (SELECT r, v,
        |      SUM(cnt) OVER (PARTITION BY r ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
        |      SUM(cnt) OVER (PARTITION BY r) AS n
        |    FROM (SELECT r, v, count(*) AS cnt FROM cells GROUP BY 1, 2))
        |  GROUP BY 1),
        |r1 AS (SELECT cells.r, cells.c, v - re AS v1
        |  FROM cells JOIN rmed USING (r)),
        |cmed AS (SELECT c, MIN(CASE WHEN cc >= (n + 1) // 2 THEN v1 END) AS ce
        |  FROM (SELECT c, v1,
        |      SUM(cnt) OVER (PARTITION BY c ORDER BY v1
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
        |      SUM(cnt) OVER (PARTITION BY c) AS n
        |    FROM (SELECT c, v1, count(*) AS cnt FROM r1 GROUP BY 1, 2))
        |  GROUP BY 1),
        |r2 AS (SELECT r1.r, r1.c, v1 - ce AS v2 FROM r1 JOIN cmed USING (c)),
        |om AS (SELECT MIN(CASE WHEN cc >= (n + 1) // 2 THEN v END) AS m
        |  FROM (SELECT re AS v,
        |      SUM(cnt) OVER (ORDER BY re
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
        |      SUM(cnt) OVER () AS n
        |    FROM (SELECT re, count(*) AS cnt FROM rmed GROUP BY 1))),
        |mx AS (SELECT MAX(abs(v2)) AS mx FROM r2),
        |worst AS (SELECT MIN(r || ':' || c) AS cell FROM r2, mx
        |  WHERE abs(v2) = mx),
        |wv AS (SELECT cell, v2 FROM r2, worst WHERE r || ':' || c = cell)
        |SELECT 'overall' AS component, CAST(NULL AS VARCHAR) AS key,
        |  CAST(m AS BIGINT) AS effect FROM om
        |UNION ALL SELECT 'row', r, CAST(re - m AS BIGINT) FROM rmed, om
        |UNION ALL SELECT 'col', c, CAST(ce AS BIGINT) FROM cmed
        |UNION ALL SELECT 'resid', cell, CAST(v2 AS BIGINT) FROM wv""".stripMargin)),

    // CUBE grouping sets: all four (type, day) aggregation levels in one
    // Expand pass — adds the per-day margin ROLLUP's prefix hierarchy
    // cannot express.
    QuerySpec("q_cube_revenue", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("day", dayofmonth(col("ts")).cast("long"))
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      ev.cube(col("event_type"), col("day"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum(col("cents")).as("rev"))
        .select(col("event_type"), col("day"), col("gid"), col("n"),
          col("rev"))
    },
    oracle = Some(
      """WITH e AS (SELECT event_type, CAST(day(ts) AS BIGINT) AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL)
        |SELECT event_type, day,
        |  CAST(GROUPING(event_type) * 2 + GROUPING(day) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS rev
        |FROM e GROUP BY CUBE(event_type, day)""".stripMargin)),

    // Interval union (gaps-and-islands): each event opens a
    // value-minutes activity window; per user, the EXACT covered
    // seconds with overlap double-counting removed — what a plain
    // SUM(duration) gets wrong the moment two windows overlap.
    QuerySpec("q_interval_union", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("s0", col("ts").cast("long"))
        .withColumn("e0", col("s0") +
          greatest(floor(col("value")).cast("long"), lit(1L)) * 60L)
      graft.ops.Intervals.unionStats(ev, "user_id", "s0", "e0")
        .select(col("user_id"), col("n_intervals"), col("n_islands"),
          col("covered"), col("span"), col("gap_total"))
    },
    oracle = Some(// the same sweep: running max end over earlier intervals, new-island
      // flags, island extents (mirrors Intervals.unionStats); floor-exact
      // epoch seconds via epoch_ms // 1000
      """WITH e AS (SELECT user_id AS k, epoch_ms(ts) // 1000 AS s,
        |    epoch_ms(ts) // 1000 +
        |      GREATEST(CAST(floor(value) AS BIGINT), 1) * 60 AS e
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |f AS (SELECT k, s, e,
        |    MAX(e) OVER (PARTITION BY k ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
        |  FROM e WHERE e >= s),
        |g AS (SELECT k, s, e,
        |    CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END AS ni
        |  FROM f),
        |h AS (SELECT k, s, e,
        |    SUM(ni) OVER (PARTITION BY k ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM g),
        |isl AS (SELECT k, island, MIN(s) AS is_start, MAX(e) AS is_end,
        |    count(*) AS n_in FROM h GROUP BY 1, 2)
        |SELECT k AS user_id, CAST(SUM(n_in) AS BIGINT) AS n_intervals,
        |  CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(is_end - is_start) AS BIGINT) AS covered,
        |  CAST(MAX(is_end) - MIN(is_start) AS BIGINT) AS span,
        |  CAST(MAX(is_end) - MIN(is_start) - SUM(is_end - is_start) AS BIGINT) AS gap_total
        |FROM isl GROUP BY 1""".stripMargin)),

    // Interval union as a REAL streaming execution, oracle-pinned — the
    // live twin of q_interval_union and the batch↔stream twin discipline
    // for the newest relational primitive: the same value-minutes
    // activity windows replayed through the time-ordered file source
    // into flatMapGroupsWithState (per-key open-island state; watermark-
    // passed islands fold into scalars, so state is O(open islands)).
    // The emitted running rows' final-per-key slice (max n_intervals —
    // strictly increasing per emission) is a pure function of the data,
    // so the oracle is the SAME SQL as the batch twin.
    QuerySpec("q_stream_interval_union", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files.createTempDirectory("stream_iu").toString
      val src = orderedStreamSource(s, d, "intunion",
        Seq("event_id", "ts", "user_id", "value"))
      val schema = s.read.parquet(src).schema
      val name = "stream_interval_union_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        import s.implicits._
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
        val typed = stream
          .filter(col("user_id").isNotNull && col("ts").isNotNull &&
            col("value").isNotNull)
          .select(col("user_id").cast("long").as("user_id"), col("ts"),
            col("ts").cast("long").as("s"),
            (col("ts").cast("long") +
              greatest(floor(col("value")).cast("long"), lit(1L)) * 60L).as("e"))
          .as[graft.streaming.IntervalUnion.Interval]
        val q = graft.streaming.IntervalUnion.unionStats(typed)
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_intervals").desc)
      drainStream(s, name, tmp)(
        s.table(name).withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn"))
    },
    oracle = Some(// the live execution's final-per-key slice equals the batch sweep —
      // literally the q_interval_union oracle
      """WITH e AS (SELECT user_id AS k, epoch_ms(ts) // 1000 AS s,
        |    epoch_ms(ts) // 1000 +
        |      GREATEST(CAST(floor(value) AS BIGINT), 1) * 60 AS e
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |f AS (SELECT k, s, e,
        |    MAX(e) OVER (PARTITION BY k ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
        |  FROM e WHERE e >= s),
        |g AS (SELECT k, s, e,
        |    CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END AS ni
        |  FROM f),
        |h AS (SELECT k, s, e,
        |    SUM(ni) OVER (PARTITION BY k ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM g),
        |isl AS (SELECT k, island, MIN(s) AS is_start, MAX(e) AS is_end,
        |    count(*) AS n_in FROM h GROUP BY 1, 2)
        |SELECT k AS user_id, CAST(SUM(n_in) AS BIGINT) AS n_intervals,
        |  CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(is_end - is_start) AS BIGINT) AS covered,
        |  CAST(MAX(is_end) - MIN(is_start) AS BIGINT) AS span,
        |  CAST(MAX(is_end) - MIN(is_start) - SUM(is_end - is_start) AS BIGINT) AS gap_total
        |FROM isl GROUP BY 1""".stripMargin)),

    // Jonckheere–Terpstra ordered-alternative test: do ticket sizes
    // trend UP across the four six-hour slots (independent samples)?
    // Page's test asks it block-matched; JT asks it pooled, with the
    // full tie-corrected variance.
    QuerySpec("q_jonckheere", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("slot", (floor(hour(col("ts")) / 6) + 1).cast("long"))
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.RankTests.jonckheereTerpstra(ev, "slot", "cents")
        .select(col("k"), col("n"), qround(col("j_stat"), 6).as("j_stat"),
          qround(col("z"), 6).as("z"))
    },
    oracle = Some(// donor/target value grid; 2J* exact; Hollander-Wolfe tie-corrected
      // variance from exact sums (mirrors RankTests.jonckheereTerpstra)
      """WITH e AS (SELECT CAST(hour(ts) // 6 + 1 AS BIGINT) AS g,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |cells AS (SELECT g, v, count(*) AS c FROM e GROUP BY 1, 2),
        |km AS (SELECT MAX(g) AS kmax FROM cells),
        |donors AS (SELECT h, v, SUM(c) AS d FROM (
        |    SELECT unnest(generate_series(g + 1, kmax)) AS h, v, c
        |    FROM cells, km WHERE g < kmax)
        |  GROUP BY 1, 2),
        |targets AS (SELECT g AS h, v, c FROM cells),
        |grid AS (SELECT gg.h, gg.v, COALESCE(d.d, 0) AS d FROM
        |    (SELECT h, v FROM targets UNION SELECT h, v FROM donors) gg
        |  LEFT JOIN donors d ON d.h = gg.h AND d.v = gg.v),
        |wc AS (SELECT h, v, d, COALESCE(SUM(d) OVER (PARTITION BY h ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS dlt
        |  FROM grid),
        |j AS (SELECT COALESCE(SUM(CAST(t.c AS HUGEINT) * (2 * wc.dlt + wc.d)), 0) AS j2
        |  FROM targets t JOIN wc ON wc.h = t.h AND wc.v = t.v),
        |gsz AS (SELECT g, SUM(c) AS ng FROM cells GROUP BY 1),
        |ga AS (SELECT count(*) AS k, SUM(ng) AS n,
        |    SUM(CAST(ng AS HUGEINT) * ng) AS sn2,
        |    SUM(CAST(ng AS HUGEINT) * (ng - 1) * (2 * ng + 5)) AS g25,
        |    SUM(CAST(ng AS HUGEINT) * (ng - 1) * (ng - 2)) AS g3,
        |    SUM(CAST(ng AS HUGEINT) * (ng - 1)) AS g2 FROM gsz),
        |tsz AS (SELECT v, SUM(c) AS tv FROM cells GROUP BY 1),
        |ta AS (SELECT SUM(CAST(tv AS HUGEINT) * (tv - 1) * (2 * tv + 5)) AS t25,
        |    SUM(CAST(tv AS HUGEINT) * (tv - 1) * (tv - 2)) AS t3,
        |    SUM(CAST(tv AS HUGEINT) * (tv - 1)) AS t2 FROM tsz),
        |f AS (SELECT k, n, j2,
        |    (CAST(n AS DOUBLE) * n - CAST(sn2 AS DOUBLE)) / 2.0 AS e2,
        |    (CAST(n AS DOUBLE) * (n - 1.0) * (2.0 * n + 5.0) -
        |      CAST(g25 AS DOUBLE) - CAST(t25 AS DOUBLE)) / 72.0
        |    + CAST(g3 AS DOUBLE) * CAST(t3 AS DOUBLE) /
        |      (36.0 * CAST(n AS DOUBLE) * (n - 1.0) * (n - 2.0))
        |    + CAST(g2 AS DOUBLE) * CAST(t2 AS DOUBLE) /
        |      (8.0 * CAST(n AS DOUBLE) * (n - 1.0)) AS varj
        |  FROM ga, ta, j)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  floor((CAST(j2 AS DOUBLE) / 2.0) * 1000000.0 + 0.5) / 1000000.0 AS j_stat,
        |  CASE WHEN k > 1 AND n > 2 AND varj > 0 THEN
        |    floor(((CAST(j2 AS DOUBLE) - e2) / (2.0 * sqrt(varj)))
        |      * 1000000.0 + 0.5) / 1000000.0 END AS z
        |FROM f""".stripMargin),
    // sf1: donor/target value-grid windows — the ksDrift scale class ×k
    sf1 = true),

    // Gumbel block-maxima fit on per-type daily-max ticket size — the
    // tail-risk pricing a mean/quantile can't give: the 10-day return
    // level is the capacity number an SLA decision reads.
    QuerySpec("q_gumbel_maxima", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("day", datediff(to_date(col("ts")),
          to_date(lit("2024-01-01"))).cast("long") + 1)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Extremes.gumbelFit(ev, "event_type", "day", "cents",
          returnPeriod = 10)
        .select(col("event_type"), col("n_blocks"),
          qround(col("block_max_mean"), 6).as("block_max_mean"),
          qround(col("mu"), 6).as("mu"), qround(col("beta"), 6).as("beta"),
          qround(col("x_t"), 6).as("x_t"))
    },
    oracle = Some(// shared literal constants: sqrt(6)/pi and Euler gamma
      // (mirrors Extremes.gumbelFit, returnPeriod = 10)
      """WITH e AS (SELECT event_type AS g,
        |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) + 1 AS b,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |mx AS (SELECT g, b, MAX(cents) AS m FROM e GROUP BY 1, 2),
        |a AS (SELECT g, count(*) AS n, SUM(CAST(m AS HUGEINT)) AS sm,
        |    SUM(CAST(m AS HUGEINT) * m) AS sm2 FROM mx GROUP BY 1),
        |f AS (SELECT g, n, CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    sqrt((CAST(n AS DOUBLE) * CAST(sm2 AS DOUBLE) -
        |      CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)) /
        |      (CAST(n AS DOUBLE) * (n - 1.0))) AS s
        |  FROM a),
        |g2 AS (SELECT g, n, mean, s, s * 0.779696801233676 AS beta FROM f),
        |g3 AS (SELECT g, n, mean, s, beta,
        |    mean - 0.5772156649015329 * beta AS mu FROM g2)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n_blocks,
        |  floor(mean * 1000000.0 + 0.5) / 1000000.0 AS block_max_mean,
        |  CASE WHEN n > 1 AND s > 0 THEN
        |    floor(mu * 1000000.0 + 0.5) / 1000000.0 END AS mu,
        |  CASE WHEN n > 1 AND s > 0 THEN
        |    floor(beta * 1000000.0 + 0.5) / 1000000.0 END AS beta,
        |  CASE WHEN n > 1 AND s > 0 THEN
        |    floor((mu - beta * ln(-ln(1.0 - 1.0 / 10))) * 1000000.0 + 0.5)
        |      / 1000000.0 END AS x_t
        |FROM g3""".stripMargin)),

    // Mean-excess table over a cents threshold grid — the POT diagnostic
    // that picks the tail threshold before any GPD-style fit is trusted
    // (rising-linear = heavy tail, flat = exponential).
    QuerySpec("q_mean_excess", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Extremes.meanExcess(ev, "event_type", "cents",
          thresholds = Seq(1000L, 2500L, 5000L, 7500L, 9000L))
        .select(col("event_type"), col("u"), col("n_exceed"),
          qround(col("mean_excess"), 6).as("mean_excess"))
    },
    oracle = Some(
      """WITH e AS (SELECT event_type AS g,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |t AS (SELECT g, x, unnest([1000, 2500, 5000, 7500, 9000]) AS u FROM e),
        |f AS (SELECT g, u, count(*) AS n_exceed, SUM(x - u) AS se
        |  FROM t WHERE x > u GROUP BY 1, 2)
        |SELECT g AS event_type, CAST(u AS BIGINT) AS u,
        |  CAST(n_exceed AS BIGINT) AS n_exceed,
        |  floor((CAST(se AS DOUBLE) / n_exceed) * 1000000.0 + 0.5)
        |    / 1000000.0 AS mean_excess
        |FROM f""".stripMargin)),

    // HHI + Atkinson(ε=1) revenue concentration across users per type —
    // the one-number companions to q_gini_concentration: is the type's
    // revenue broad-based or whale-owned?
    QuerySpec("q_concentration", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("user_id").isNotNull &&
          col("value").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Aggregates.concentrationIndex(ev, "event_type", "user_id",
          "cents")
        .select(col("event_type"), col("n_units"), col("n_pos"),
          qround(col("hhi"), 9).as("hhi"),
          qround(col("atkinson"), 9).as("atkinson"))
    },
    oracle = Some(// per-unit ln on the 1e-9 grid before the cross-unit sum
      // (mirrors Aggregates.concentrationIndex)
      """WITH e AS (SELECT event_type AS g, user_id AS u,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |    AND value IS NOT NULL),
        |units AS (SELECT g, u, SUM(cents) AS v FROM e GROUP BY 1, 2),
        |a AS (SELECT g, count(*) AS n_units,
        |    count(*) FILTER (v > 0) AS n_pos,
        |    SUM(CAST(v AS HUGEINT)) AS sv, SUM(CAST(v AS HUGEINT) * v) AS sv2,
        |    SUM(CASE WHEN v > 0 THEN
        |      CAST(floor(ln(CAST(v AS DOUBLE)) * 1000000000.0 + 0.5) AS HUGEINT)
        |      ELSE 0 END) AS slng
        |  FROM units WHERE v >= 0 GROUP BY 1)
        |SELECT g AS event_type, CAST(n_units AS BIGINT) AS n_units,
        |  CAST(n_pos AS BIGINT) AS n_pos,
        |  CASE WHEN sv > 0 THEN floor((CAST(sv2 AS DOUBLE) /
        |    (CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)))
        |    * 1000000000.0 + 0.5) / 1000000000.0 END AS hhi,
        |  CASE WHEN n_pos > 0 AND sv > 0 AND
        |      CAST(sv AS DOUBLE) / CAST(n_pos AS DOUBLE) > 0 THEN
        |    floor((1.0 - exp(CAST(slng AS DOUBLE) /
        |      (CAST(n_pos AS DOUBLE) * 1000000000.0)) /
        |      (CAST(sv AS DOUBLE) / CAST(n_pos AS DOUBLE)))
        |      * 1000000000.0 + 0.5) / 1000000000.0 END AS atkinson
        |FROM a""".stripMargin)),

    // Goodman–Kruskal gamma between hour-of-day and hourly revenue —
    // the tie-discarding ordinal association Kendall's τ-b dilutes when
    // ties are heavy (γ reads only the concordant/discordant signal).
    QuerySpec("q_gk_gamma", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      val hourly = ev.groupBy(col("event_type"),
          hour(col("ts")).cast("long").as("x"))
        .agg(sum(col("cents")).as("y"))
      graft.ops.Correlation.kendallTau(hourly, "event_type", "x", "y")
        .select(col("g").as("event_type"), col("n_pairs"), col("nc"),
          col("nd"),
          qround(when(col("nc") + col("nd") > 0,
            (col("nc") - col("nd")).cast("double") /
              (col("nc") + col("nd"))), 6).as("gamma"))
    },
    oracle = Some(
      """WITH e AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |hourly AS (SELECT event_type AS g, x, SUM(cents) AS y
        |  FROM e GROUP BY 1, 2),
        |agg AS (SELECT a.g AS g, count(*) AS n_pairs,
        |    sum(CASE WHEN b.y > a.y THEN 1 ELSE 0 END) AS nc,
        |    sum(CASE WHEN b.y < a.y THEN 1 ELSE 0 END) AS nd
        |  FROM hourly a JOIN hourly b ON a.g = b.g AND a.x < b.x GROUP BY 1)
        |SELECT g AS event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(nc AS BIGINT) AS nc, CAST(nd AS BIGINT) AS nd,
        |  CASE WHEN nc + nd > 0 THEN
        |    floor((CAST(nc - nd AS DOUBLE) / (nc + nd)) * 1000000.0 + 0.5)
        |      / 1000000.0 END AS gamma
        |FROM agg""".stripMargin)),

    // Cochran's Q: subject-matched comparison of three binary "ever
    // spent ≥$10 on X" indicators per user — McNemar's k-way form; the
    // within-user pairing removes the heavy-user confounder a pooled
    // proportion test would absorb.
    QuerySpec("q_cochran_q", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("value").isNotNull &&
          col("event_type").isin("purchase", "click", "view"))
      graft.ops.RankTests.cochranQ(ev, "user_id", "event_type",
          floor(col("value") * 100 + 0.5).cast("long") >= 1000L)
        .select(col("k"), col("n_subjects"), col("n_success"),
          qround(col("q"), 6).as("q"))
    },
    oracle = Some(
      """WITH e AS (SELECT user_id AS i, event_type AS j,
        |    (CAST(floor(value * 100 + 0.5) AS BIGINT) >= 1000) AS y
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IN ('purchase', 'click', 'view')),
        |cells AS (SELECT i, j, MAX(CASE WHEN y THEN 1 ELSE 0 END) AS y
        |  FROM e GROUP BY 1, 2),
        |byj AS (SELECT j, SUM(y) AS cj FROM cells GROUP BY 1),
        |ca AS (SELECT count(*) AS k, SUM(cj) AS n,
        |    SUM(CAST(cj AS HUGEINT) * cj) AS sc2 FROM byj),
        |ra AS (SELECT count(*) AS n_subjects,
        |    SUM(CAST(ri AS HUGEINT) * ri) AS sr2
        |  FROM (SELECT i, SUM(y) AS ri FROM cells GROUP BY 1)),
        |f AS (SELECT ca.k, ra.n_subjects, ca.n,
        |    (ca.k - 1.0) * (ca.k * CAST(sc2 AS DOUBLE) -
        |      CAST(ca.n AS DOUBLE) * ca.n) AS num,
        |    ca.k * CAST(ca.n AS DOUBLE) - CAST(sr2 AS DOUBLE) AS den
        |  FROM ca, ra)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n_subjects AS BIGINT) AS n_subjects,
        |  CAST(n AS BIGINT) AS n_success,
        |  CASE WHEN den > 0 THEN floor((num / den) * 1000000.0 + 0.5)
        |    / 1000000.0 END AS q
        |FROM f""".stripMargin)),

    // McNemar paired-classifier test: rule A (type = purchase) vs rule B
    // (first half of the month) predicting a ≥$20 ticket on the SAME
    // events — only the discordant cells carry the verdict.
    QuerySpec("q_mcnemar", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.MlEval.mcnemar(ev,
          col("event_type") === "purchase",
          dayofmonth(col("ts")) <= 15,
          col("cents") >= 2000L)
        .select(col("n"), col("both_right"), col("b"), col("c"),
          col("both_wrong"), qround(col("chi2_cc"), 6).as("chi2_cc"),
          qround(col("p"), 9).as("p"))
    },
    oracle = Some(
      """WITH e AS (SELECT (event_type = 'purchase') AS pa,
        |    (day(ts) <= 15) AS pb,
        |    (CAST(floor(value * 100 + 0.5) AS BIGINT) >= 2000) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |c AS (SELECT count(*) AS n,
        |    count(*) FILTER ((pa = y) AND (pb = y)) AS both_right,
        |    count(*) FILTER ((pa = y) AND (pb <> y)) AS b,
        |    count(*) FILTER ((pa <> y) AND (pb = y)) AS c,
        |    count(*) FILTER ((pa <> y) AND (pb <> y)) AS both_wrong
        |  FROM e)
        |SELECT n, both_right, b, c, both_wrong,
        |  CASE WHEN b + c > 0 THEN floor((GREATEST(ABS(b - c) - 1.0, 0.0)
        |    * GREATEST(ABS(b - c) - 1.0, 0.0)
        |    / (b + c)) * 1000000.0 + 0.5) / 1000000.0 END AS chi2_cc,
        |  CASE WHEN b + c > 0 THEN floor((2.0 / (1.0 + exp(1.702 *
        |    sqrt(GREATEST(ABS(b - c) - 1.0, 0.0) * GREATEST(ABS(b - c) - 1.0, 0.0)
        |      / (b + c)))))
        |    * 1000000000.0 + 0.5) / 1000000000.0 END AS p
        |FROM c""".stripMargin)),

    // Matthews correlation per event type for the first-half-of-month
    // rule against the ≥$20 label — the imbalance-honest confusion
    // summary F1 isn't.
    QuerySpec("q_mcc", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.MlEval.matthewsCorr(ev, "event_type",
          dayofmonth(col("ts")) <= 15, col("cents") >= 2000L)
        .select(col("event_type"), col("tp"), col("fp"), col("tn"),
          col("fn"), qround(col("mcc"), 6).as("mcc"))
    },
    oracle = Some(
      """WITH e AS (SELECT event_type, (day(ts) <= 15) AS pred,
        |    (CAST(floor(value * 100 + 0.5) AS BIGINT) >= 2000) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |g AS (SELECT event_type,
        |    count(*) FILTER (pred AND y) AS tp,
        |    count(*) FILTER (pred AND NOT y) AS fp,
        |    count(*) FILTER (NOT pred AND NOT y) AS tn,
        |    count(*) FILTER (NOT pred AND y) AS fn
        |  FROM e GROUP BY 1)
        |SELECT event_type, tp, fp, tn, fn,
        |  CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0 AND tn + fn > 0
        |    THEN floor((CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn
        |      AS DOUBLE) / (sqrt(CAST(tp + fp AS DOUBLE)) *
        |      sqrt(CAST(tp + fn AS DOUBLE)) * sqrt(CAST(tn + fp AS DOUBLE)) *
        |      sqrt(CAST(tn + fn AS DOUBLE)))) * 1000000.0 + 0.5) / 1000000.0
        |    END AS mcc
        |FROM g""".stripMargin)),

    // Wilson score intervals (z = 1.96) on each type's ≥$20 share — the
    // [0,1]-respecting error bar the smoothed-rate leaderboard draws.
    QuerySpec("q_wilson_ci", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Distribution.wilsonCI(ev, "event_type",
          col("cents") >= 2000L, z = 1.96)
        .select(col("event_type"), col("n"), col("pos"),
          qround(col("rate"), 6).as("rate"), qround(col("ci_lo"), 6).as("ci_lo"),
          qround(col("ci_hi"), 6).as("ci_hi"))
    },
    oracle = Some(// z² written as (1.96*1.96) so both engines square the SAME double
      // instead of parsing a 3.8416 literal one ulp away
      """WITH e AS (SELECT event_type,
        |    (CAST(floor(value * 100 + 0.5) AS BIGINT) >= 2000) AS y
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |g AS (SELECT event_type, count(*) AS n, count(*) FILTER (y) AS pos
        |  FROM e GROUP BY 1),
        |f AS (SELECT event_type, n, pos,
        |    CAST(pos AS DOUBLE) / n AS p,
        |    1.0 + (1.96 * 1.96) / n AS denom
        |  FROM g),
        |w AS (SELECT event_type, n, pos, p,
        |    (p + (1.96 * 1.96) / (2.0 * n)) / denom AS center,
        |    (1.96 * sqrt(p * (1.0 - p) / n +
        |      (1.96 * 1.96) / (4.0 * n * n))) / denom AS half
        |  FROM f)
        |SELECT event_type, n, pos,
        |  floor(p * 1000000.0 + 0.5) / 1000000.0 AS rate,
        |  floor((center - half) * 1000000.0 + 0.5) / 1000000.0 AS ci_lo,
        |  floor((center + half) * 1000000.0 + 0.5) / 1000000.0 AS ci_hi
        |FROM w""".stripMargin)),

    // Stratified-association audit: per-type 2×2 tables of (even user,
    // ≥$20 ticket) with Simpson-reversal flags against the pooled risk
    // difference and the Mantel–Haenszel pooled odds ratio.
    QuerySpec("q_simpsons_audit", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("user_id").isNotNull &&
          col("value").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Distribution.stratifiedAssociation(ev, "event_type",
          col("user_id") % 2 === 0, col("cents") >= 2000L)
        .select(col("event_type"), col("n"), col("a"), col("b"), col("c"),
          col("d"), qround(col("rd"), 6).as("rd"),
          qround(col("or_s"), 6).as("or_s"), col("reversed"),
          qround(col("rd_pooled"), 6).as("rd_pooled"),
          qround(col("or_mh"), 6).as("or_mh"))
    },
    oracle = Some(
      """WITH e AS (SELECT event_type AS s, (user_id % 2 = 0) AS ex,
        |    (CAST(floor(value * 100 + 0.5) AS BIGINT) >= 2000) AS y
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |    AND value IS NOT NULL),
        |cells AS (SELECT s,
        |    count(*) FILTER (ex AND y) AS a, count(*) FILTER (ex AND NOT y) AS b,
        |    count(*) FILTER (NOT ex AND y) AS c,
        |    count(*) FILTER (NOT ex AND NOT y) AS d
        |  FROM e GROUP BY 1),
        |pool AS (SELECT SUM(a) AS pa, SUM(b) AS pb, SUM(c) AS pc, SUM(d) AS pd,
        |    SUM(CAST(floor(CAST(a AS DOUBLE) * d / (a + b + c + d) * 1e9 + 0.5)
        |      AS BIGINT)) AS mh_num,
        |    SUM(CAST(floor(CAST(b AS DOUBLE) * c / (a + b + c + d) * 1e9 + 0.5)
        |      AS BIGINT)) AS mh_den
        |  FROM cells),
        |x AS (SELECT s, a, b, c, d,
        |    CASE WHEN a + b > 0 AND c + d > 0 THEN
        |      CAST(a AS DOUBLE) / (a + b) - CAST(c AS DOUBLE) / (c + d) END AS rd,
        |    CASE WHEN pa + pb > 0 AND pc + pd > 0 THEN
        |      CAST(pa AS DOUBLE) / (pa + pb) - CAST(pc AS DOUBLE) / (pc + pd)
        |      END AS rdp,
        |    mh_num, mh_den
        |  FROM cells, pool)
        |SELECT s AS event_type, (a + b + c + d) AS n, a, b, c, d,
        |  floor(rd * 1000000.0 + 0.5) / 1000000.0 AS rd,
        |  CASE WHEN b > 0 AND c > 0 THEN floor((CAST(a AS DOUBLE) * d /
        |    (CAST(b AS DOUBLE) * c)) * 1000000.0 + 0.5) / 1000000.0 END AS or_s,
        |  (rd <> 0 AND rdp <> 0 AND SIGN(rd) = -SIGN(rdp)) AS reversed,
        |  floor(rdp * 1000000.0 + 0.5) / 1000000.0 AS rd_pooled,
        |  CASE WHEN mh_den > 0 THEN floor((CAST(mh_num AS DOUBLE) / mh_den)
        |    * 1000000.0 + 0.5) / 1000000.0 END AS or_mh
        |FROM x""".stripMargin)),

    // Difference-in-differences: the quasi-experimental effect readout
    // (arm = user parity, post = Jan 16 cut) with Welch-style SE from
    // the four cell variances — what an observational rollout reads
    // where q_cuped needs randomization.
    QuerySpec("q_diff_in_diff", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Regression.diffInDiff(ev,
          col("user_id") % 2 === 0,
          col("ts") >= lit("2024-01-16").cast("timestamp"), "cents")
        .select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"),
          col("n_c_post"),
          qround(col("m_t_pre"), 6).as("m_t_pre"),
          qround(col("m_t_post"), 6).as("m_t_post"),
          qround(col("m_c_pre"), 6).as("m_c_pre"),
          qround(col("m_c_post"), 6).as("m_c_post"),
          qround(col("did"), 6).as("did"), qround(col("se"), 6).as("se"),
          qround(col("t_stat"), 6).as("t_stat"))
    },
    oracle = Some(// twelve exact cell moments in one aggregate; means/DiD/SE/t as
      // fixed IEEE expressions in the operator's exact order
      """WITH e AS (SELECT (user_id % 2 = 0) AS t,
        |    (ts >= TIMESTAMP '2024-01-16 00:00:00') AS p,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |g AS (SELECT
        |    count(*) FILTER (t AND NOT p) AS n_t_pre,
        |    SUM(CASE WHEN t AND NOT p THEN v ELSE 0 END) AS s_t_pre,
        |    SUM(CASE WHEN t AND NOT p THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS q_t_pre,
        |    count(*) FILTER (t AND p) AS n_t_post,
        |    SUM(CASE WHEN t AND p THEN v ELSE 0 END) AS s_t_post,
        |    SUM(CASE WHEN t AND p THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS q_t_post,
        |    count(*) FILTER (NOT t AND NOT p) AS n_c_pre,
        |    SUM(CASE WHEN NOT t AND NOT p THEN v ELSE 0 END) AS s_c_pre,
        |    SUM(CASE WHEN NOT t AND NOT p THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS q_c_pre,
        |    count(*) FILTER (NOT t AND p) AS n_c_post,
        |    SUM(CASE WHEN NOT t AND p THEN v ELSE 0 END) AS s_c_post,
        |    SUM(CASE WHEN NOT t AND p THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS q_c_post
        |  FROM e),
        |f AS (SELECT *,
        |    CAST(s_t_pre AS DOUBLE) / n_t_pre AS m_t_pre,
        |    CAST(s_t_post AS DOUBLE) / n_t_post AS m_t_post,
        |    CAST(s_c_pre AS DOUBLE) / n_c_pre AS m_c_pre,
        |    CAST(s_c_post AS DOUBLE) / n_c_post AS m_c_post,
        |    ((((CAST(q_t_pre AS DOUBLE) - CAST(s_t_pre AS DOUBLE) * CAST(s_t_pre AS DOUBLE) / n_t_pre) / (n_t_pre - 1.0)) / n_t_pre
        |    + ((CAST(q_t_post AS DOUBLE) - CAST(s_t_post AS DOUBLE) * CAST(s_t_post AS DOUBLE) / n_t_post) / (n_t_post - 1.0)) / n_t_post)
        |    + ((CAST(q_c_pre AS DOUBLE) - CAST(s_c_pre AS DOUBLE) * CAST(s_c_pre AS DOUBLE) / n_c_pre) / (n_c_pre - 1.0)) / n_c_pre)
        |    + ((CAST(q_c_post AS DOUBLE) - CAST(s_c_post AS DOUBLE) * CAST(s_c_post AS DOUBLE) / n_c_post) / (n_c_post - 1.0)) / n_c_post AS se2
        |  FROM g),
        |x AS (SELECT *,
        |    (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did,
        |    n_t_pre > 1 AND n_t_post > 1 AND n_c_pre > 1 AND n_c_post > 1 AS ok
        |  FROM f)
        |SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
        |  floor(m_t_pre * 1000000.0 + 0.5) / 1000000.0 AS m_t_pre,
        |  floor(m_t_post * 1000000.0 + 0.5) / 1000000.0 AS m_t_post,
        |  floor(m_c_pre * 1000000.0 + 0.5) / 1000000.0 AS m_c_pre,
        |  floor(m_c_post * 1000000.0 + 0.5) / 1000000.0 AS m_c_post,
        |  CASE WHEN ok THEN floor(did * 1000000.0 + 0.5) / 1000000.0 END AS did,
        |  CASE WHEN ok AND se2 > 0 THEN
        |    floor(sqrt(se2) * 1000000.0 + 0.5) / 1000000.0 END AS se,
        |  CASE WHEN ok AND se2 > 0 THEN
        |    floor((did / sqrt(se2)) * 1000000.0 + 0.5) / 1000000.0 END AS t_stat
        |FROM x""".stripMargin)),

    // Tukey IQR fences per type: order-statistic quartiles (whale-proof
    // where z-scores are not), fences, and the tail masses outside them.
    QuerySpec("q_iqr_outliers", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Outliers.iqrFences(ev, "event_type", "cents")
        .select(col("event_type"), col("n"), col("q1"), col("q3"),
          col("iqr"), qround(col("lo_fence"), 6).as("lo_fence"),
          qround(col("hi_fence"), 6).as("hi_fence"), col("n_below"),
          col("n_above"))
    },
    oracle = Some(// lower order-statistic quartiles over the distinct-value
      // cumulative (the brownForsythe median discipline), fixed-IEEE
      // fences, tail masses from the same collapsed table
      """WITH b AS (SELECT event_type AS g,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |cells AS (SELECT g, v, count(*) AS c FROM b GROUP BY 1, 2),
        |cum AS (SELECT g, v, c, SUM(c) OVER (PARTITION BY g ORDER BY v) AS cc,
        |    SUM(c) OVER (PARTITION BY g) AS n FROM cells),
        |qs AS (SELECT g, MAX(n) AS n,
        |    MIN(CASE WHEN cc >= CAST(ceil(CAST(n AS DOUBLE) / 4) AS BIGINT)
        |      THEN v END) AS q1,
        |    MIN(CASE WHEN cc >= CAST(ceil(CAST(n AS DOUBLE) * 3 / 4) AS BIGINT)
        |      THEN v END) AS q3
        |  FROM cum GROUP BY 1),
        |f AS (SELECT g, n, q1, q3, q3 - q1 AS iqr,
        |    CAST(q1 AS DOUBLE) - 1.5 * (q3 - q1) AS lo_fence,
        |    CAST(q3 AS DOUBLE) + 1.5 * (q3 - q1) AS hi_fence
        |  FROM qs)
        |SELECT cells.g AS event_type, CAST(MAX(f.n) AS BIGINT) AS n,
        |  MAX(q1) AS q1, MAX(q3) AS q3, MAX(iqr) AS iqr,
        |  floor(MAX(lo_fence) * 1000000.0 + 0.5) / 1000000.0 AS lo_fence,
        |  floor(MAX(hi_fence) * 1000000.0 + 0.5) / 1000000.0 AS hi_fence,
        |  CAST(SUM(CASE WHEN CAST(v AS DOUBLE) < lo_fence THEN c ELSE 0 END) AS BIGINT) AS n_below,
        |  CAST(SUM(CASE WHEN CAST(v AS DOUBLE) > hi_fence THEN c ELSE 0 END) AS BIGINT) AS n_above
        |FROM cells JOIN f USING (g) GROUP BY 1""".stripMargin)),

    // Shannon diversity of each user's event-type mix + Pielou evenness
    // — the behavioral-variety segmentation readout.
    QuerySpec("q_user_diversity", (s, d) => {
      val ev = Tables.events(s, d)
      graft.ops.Distribution.groupEntropy(ev, "user_id", "event_type")
        .select(col("user_id"), col("n"), col("k_cats"),
          qround(col("h"), 6).as("h"),
          qround(col("evenness"), 6).as("evenness"))
    },
    oracle = Some(// per-user −p·ln p terms on the 1e-12 grid before the taxonomy-
      // bounded sum; Pielou J = H/ln k (mirrors Distribution.groupEntropy)
      """WITH e AS (SELECT user_id AS g, event_type AS cat FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |cells AS (SELECT g, cat, count(*) AS c FROM e GROUP BY 1, 2),
        |tots AS (SELECT g, SUM(c) AS n, count(*) AS k FROM cells GROUP BY 1),
        |t AS (SELECT cells.g, n, k,
        |    CAST(floor(-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)
        |      * 1e12 + 0.5) AS BIGINT) AS tg
        |  FROM cells JOIN tots USING (g))
        |SELECT g AS user_id, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MAX(k) AS BIGINT) AS k_cats,
        |  floor((CAST(SUM(tg) AS DOUBLE) / 1e12) * 1000000.0 + 0.5)
        |    / 1000000.0 AS h,
        |  CASE WHEN MAX(k) > 1 THEN
        |    floor(((CAST(SUM(tg) AS DOUBLE) / 1e12) / ln(CAST(MAX(k) AS DOUBLE)))
        |      * 1000000.0 + 0.5) / 1000000.0 END AS evenness
        |FROM t GROUP BY 1""".stripMargin)),

    // Page–Hinkley drift detector per type over the daily-revenue
    // series: deviations from the RUNNING mean (self-calibrating where
    // q_cusum_changepoint needs the pre-shift mean), slack 1000 cents,
    // alarm at λ = 50000.
    QuerySpec("q_page_hinkley", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("t", datediff(to_date(col("ts")),
          to_date(lit("2024-01-01"))).cast("long") + 1)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      val daily = ev.groupBy(col("event_type"), col("t"))
        .agg(sum(col("cents")).as("rev"))
      graft.ops.Changepoint.pageHinkley(daily, "event_type", "t", "rev",
          slack = 1000.0, threshold = 50000.0)
        .select(col("event_type"), col("t"), col("rev"),
          qround(col("ph"), 6).as("ph"), col("alarm"))
    },
    oracle = Some(// running-mean deviations on the 1e-9 grid, cumulative m and its
      // running min in one window chain (mirrors Changepoint.pageHinkley)
      """WITH e AS (SELECT event_type AS g,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1 AS t,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |ser AS (SELECT g, t, SUM(cents) AS rev FROM e GROUP BY 1, 2),
        |w AS (SELECT g, t, rev,
        |    SUM(rev) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
        |    CAST(count(*) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS i
        |  FROM ser),
        |m AS (SELECT g, t, rev,
        |    CAST(floor((CAST(rev AS DOUBLE) - CAST(s AS DOUBLE) / i - 1000.0)
        |      * 1e9 + 0.5) AS BIGINT) AS tq
        |  FROM w),
        |mm AS (SELECT g, t, rev,
        |    SUM(tq) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
        |  FROM m),
        |f AS (SELECT g, t, rev, m,
        |    MIN(m) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
        |  FROM mm)
        |SELECT g AS event_type, t, CAST(rev AS BIGINT) AS rev,
        |  floor((CAST(m - mn AS DOUBLE) / 1e9) * 1000000.0 + 0.5)
        |    / 1000000.0 AS ph,
        |  (m - mn) > CAST(floor(50000.0 * 1e9) AS BIGINT) AS alarm
        |FROM f""".stripMargin)),

    // Hellinger drift against the SAME global-decile bins as
    // q_psi_drift — the bounded [0,1] member of the binned family
    // (PSI for magnitude, H for cross-segment comparability).
    QuerySpec("q_hellinger_drift", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      val bounds = graft.ops.Aggregates
        .sortedPercentilesMulti(ev, Seq("cents"), (1 to 9).map(_ / 10.0))("cents")
      graft.ops.Distribution.hellingerDrift(ev, "event_type", "cents", bounds)
        .select(col("event_type"), col("n_seg"), qround(col("bc"), 6).as("bc"),
          qround(col("hellinger"), 6).as("hellinger"))
    },
    oracle = Some(// the q_psi_drift binning/smoothing chain; per-bin sqrt(p·q) on
      // the 1e-12 grid, H = sqrt(max(0, 1 − BC))
      """WITH b AS (SELECT event_type AS seg,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |q AS (SELECT quantile_cont(v, 0.1) AS b1, quantile_cont(v, 0.2) AS b2,
        |    quantile_cont(v, 0.3) AS b3, quantile_cont(v, 0.4) AS b4,
        |    quantile_cont(v, 0.5) AS b5, quantile_cont(v, 0.6) AS b6,
        |    quantile_cont(v, 0.7) AS b7, quantile_cont(v, 0.8) AS b8,
        |    quantile_cont(v, 0.9) AS b9 FROM b),
        |x AS (SELECT seg,
        |    (CASE WHEN v >= b1 THEN 1 ELSE 0 END) + (CASE WHEN v >= b2 THEN 1 ELSE 0 END)
        |  + (CASE WHEN v >= b3 THEN 1 ELSE 0 END) + (CASE WHEN v >= b4 THEN 1 ELSE 0 END)
        |  + (CASE WHEN v >= b5 THEN 1 ELSE 0 END) + (CASE WHEN v >= b6 THEN 1 ELSE 0 END)
        |  + (CASE WHEN v >= b7 THEN 1 ELSE 0 END) + (CASE WHEN v >= b8 THEN 1 ELSE 0 END)
        |  + (CASE WHEN v >= b9 THEN 1 ELSE 0 END) AS bin FROM b, q),
        |sb AS (SELECT seg, bin, count(*) AS c FROM x GROUP BY 1, 2),
        |segs AS (SELECT seg, SUM(c) AS stot FROM sb GROUP BY 1),
        |gb AS (SELECT bin, SUM(c) AS g FROM sb GROUP BY 1),
        |gr AS (SELECT SUM(c) AS gtot FROM sb),
        |grid AS (SELECT segs.seg, segs.stot, bins.bin,
        |    COALESCE(sb.c, 0) AS c, COALESCE(gb.g, 0) AS g
        |  FROM segs CROSS JOIN (SELECT unnest(range(10)) AS bin) bins
        |  LEFT JOIN sb ON sb.seg = segs.seg AND sb.bin = bins.bin
        |  LEFT JOIN gb ON gb.bin = bins.bin),
        |t AS (SELECT seg, stot, (c + 0.5) / (stot + 5.0) AS p,
        |    (g + 0.5) / (gtot + 5.0) AS q FROM grid, gr),
        |h AS (SELECT seg, MAX(stot) AS n_seg,
        |    CAST(SUM(CAST(floor(sqrt(p * q) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
        |      / 1e12 AS bc
        |  FROM t GROUP BY 1)
        |SELECT seg AS event_type, CAST(n_seg AS BIGINT) AS n_seg,
        |  floor(bc * 1000000.0 + 0.5) / 1000000.0 AS bc,
        |  floor(sqrt(GREATEST(0.0, 1.0 - bc)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS hellinger
        |FROM h""".stripMargin)),

    // Cohort LTV curve: cumulative revenue per user by cohort age — the
    // payback-period readout next to q_cohort_retention's activity curve.
    QuerySpec("q_cohort_ltv", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Cohort.ltvCurve(ev, "user_id", "ts", "cents")
        .select(col("cohort_day"), col("day_offset"), col("rev"),
          col("cum_rev"), col("cohort_size"), qround(col("ltv"), 6).as("ltv"))
    },
    oracle = Some(
      """WITH b AS (SELECT user_id AS u, CAST(ts AS DATE) AS d,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |fs AS (SELECT u, MIN(d) AS cohort_day FROM b GROUP BY 1),
        |sz AS (SELECT cohort_day, count(*) AS cohort_size FROM fs GROUP BY 1),
        |cells AS (SELECT fs.cohort_day,
        |    date_diff('day', fs.cohort_day, b.d) AS day_offset, SUM(x) AS rev
        |  FROM b JOIN fs USING (u) GROUP BY 1, 2),
        |c2 AS (SELECT cohort_day, day_offset, rev,
        |    SUM(rev) OVER (PARTITION BY cohort_day ORDER BY day_offset) AS cum_rev
        |  FROM cells)
        |SELECT c2.cohort_day, day_offset, CAST(rev AS BIGINT) AS rev,
        |  CAST(cum_rev AS BIGINT) AS cum_rev, cohort_size,
        |  floor((CAST(cum_rev AS DOUBLE) / cohort_size) * 1000000.0 + 0.5)
        |    / 1000000.0 AS ltv
        |FROM c2 JOIN sz USING (cohort_day)""".stripMargin)),

    // Frequent consecutive event-type sequences (2- and 3-grams over
    // each user's ordered stream): the funnel-DISCOVERY pass — which
    // paths occur, in how many journeys, how often.
    QuerySpec("q_event_ngrams", (s, d) => {
      val ev = Tables.events(s, d)
      graft.ops.Attribution.sequencePatterns(ev, "user_id", "ts",
          "event_id", "event_type", maxN = 3)
        .select(col("gram"), col("n"), col("n_entities"),
          col("n_occurrences"))
    },
    oracle = Some(
      """WITH e AS (SELECT user_id AS ee, event_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t1,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t2
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |g AS (SELECT ee, CAST(2 AS BIGINT) AS n,
        |    [event_type, t1] AS garr FROM e WHERE t1 IS NOT NULL
        |  UNION ALL SELECT ee, 3, [event_type, t1, t2]
        |  FROM e WHERE t1 IS NOT NULL AND t2 IS NOT NULL),
        |pe AS (SELECT garr, n, ee, count(*) AS c FROM g GROUP BY 1, 2, 3)
        |SELECT array_to_string(garr, '>') AS gram, n,
        |  CAST(count(*) AS BIGINT) AS n_entities,
        |  CAST(SUM(c) AS BIGINT) AS n_occurrences
        |FROM pe GROUP BY garr, n""".stripMargin)),

    // Woolf confidence intervals on each stratum's odds ratio — the
    // error bars q_simpsons_audit's point estimates need before anyone
    // acts on a reversal flag.
    QuerySpec("q_or_ci", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("user_id").isNotNull &&
          col("value").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      graft.ops.Distribution.orWoolfCI(ev, "event_type",
          col("user_id") % 2 === 0, col("cents") >= 2000L, z = 1.96)
        .select(col("event_type"), col("a"), col("b"), col("c"), col("d"),
          qround(col("or_s"), 6).as("or_s"),
          qround(col("or_lo"), 6).as("or_lo"),
          qround(col("or_hi"), 6).as("or_hi"))
    },
    oracle = Some(
      """WITH e AS (SELECT event_type AS s, (user_id % 2 = 0) AS ex,
        |    (CAST(floor(value * 100 + 0.5) AS BIGINT) >= 2000) AS y
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |    AND value IS NOT NULL),
        |cells AS (SELECT s,
        |    count(*) FILTER (ex AND y) AS a, count(*) FILTER (ex AND NOT y) AS b,
        |    count(*) FILTER (NOT ex AND y) AS c,
        |    count(*) FILTER (NOT ex AND NOT y) AS d
        |  FROM e GROUP BY 1),
        |f AS (SELECT s, a, b, c, d,
        |    CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        |      ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)) END AS lor,
        |    CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        |      1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d) END AS half
        |  FROM cells)
        |SELECT s AS event_type, a, b, c, d,
        |  floor(exp(lor) * 1000000.0 + 0.5) / 1000000.0 AS or_s,
        |  floor(exp(lor - half) * 1000000.0 + 0.5) / 1000000.0 AS or_lo,
        |  floor(exp(lor + half) * 1000000.0 + 0.5) / 1000000.0 AS or_hi
        |FROM f""".stripMargin)),

    // Markov removal-effect attribution over user journeys truncated at
    // the first purchase: per-channel "how much conversion mass dies if
    // this channel vanishes" from 24 value-iteration sweeps on the
    // |states|²-metadata chain — the data-driven credit model that
    // retires q_attribution_channels' positional heuristics.
    QuerySpec("q_markov_attribution", (s, d) => {
      val ev = Tables.events(s, d)
      graft.ops.Attribution.markovRemovalEffects(ev, "user_id", "ts",
          "event_id", "event_type", convType = "purchase", iters = 24)
        .select(col("channel"), qround(col("p_base"), 6).as("p_base"),
          qround(col("p_removed"), 6).as("p_removed"),
          qround(col("removal_effect"), 6).as("removal_effect"),
          qround(col("share"), 6).as("share"))
    },
    oracle = Some {
      // 24 unrolled value-iteration sweeps over the removal-variant
      // chain; v is held in 1e-12 grid longs so every sweep is an
      // integer sum (mirrors Attribution.markovRemovalEffects)
      val iters = 24
      val sweeps = (1 to iters).map { k =>
        s"""v$k AS MATERIALIZED (SELECT p.rm, p.src AS state,
           |    p.pcg + COALESCE(i.inflow, 0) AS vq
           |  FROM pcv p LEFT JOIN (
           |    SELECT t.rm, t.src,
           |      SUM(CAST(floor(t.p * COALESCE(v.vq, 0) + 0.5) AS BIGINT)) AS inflow
           |    FROM itr t LEFT JOIN v${k - 1} v
           |      ON v.rm = t.rm AND v.state = t.dst
           |    GROUP BY 1, 2) i ON i.rm = p.rm AND i.src = p.src)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |rk AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM e),
        |cr AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'purchase' THEN rn END) AS crn
        |  FROM rk GROUP BY 1),
        |kept AS (SELECT rk.user_id,
        |    CASE WHEN event_type = 'purchase' THEN '__CONV__'
        |      ELSE event_type END AS st, rn
        |  FROM rk JOIN cr USING (user_id)
        |  WHERE crn IS NULL OR rn <= crn),
        |stp AS (SELECT user_id, st AS src,
        |    lead(st) OVER (PARTITION BY user_id ORDER BY rn) AS nx
        |  FROM kept),
        |tr0 AS (SELECT src, COALESCE(nx, CASE WHEN src = '__CONV__'
        |      THEN NULL ELSE '__NULL__' END) AS dst FROM stp
        |  UNION ALL SELECT '__START__', st FROM kept WHERE rn = 1),
        |cnt AS (SELECT src, dst, count(*) AS c FROM tr0
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src, SUM(c) AS t FROM cnt GROUP BY 1),
        |bse AS MATERIALIZED (SELECT cnt.src, cnt.dst,
        |    CAST(c AS DOUBLE) / t AS p FROM cnt JOIN tot USING (src)),
        |ch AS (SELECT DISTINCT src AS rm FROM bse WHERE src <> '__START__'),
        |var AS MATERIALIZED (SELECT v.rm, b.src,
        |    CASE WHEN v.rm <> '' AND b.dst = v.rm THEN '__NULL__'
        |      ELSE b.dst END AS dst, b.p
        |  FROM bse b CROSS JOIN (SELECT rm FROM ch
        |    UNION ALL SELECT '' AS rm) v
        |  WHERE v.rm = '' OR b.src <> v.rm),
        |pcv AS MATERIALIZED (SELECT rm, src,
        |    SUM(CASE WHEN dst = '__CONV__'
        |      THEN CAST(floor(p * 1e12 + 0.5) AS BIGINT) ELSE 0 END) AS pcg
        |  FROM var GROUP BY 1, 2),
        |itr AS MATERIALIZED (SELECT rm, src, dst, p FROM var
        |  WHERE dst <> '__CONV__' AND dst <> '__NULL__'),
        |v0 AS (SELECT rm, src AS state, CAST(0 AS BIGINT) AS vq FROM pcv),
        |$sweeps,
        |pat AS (SELECT rm, CAST(vq AS DOUBLE) / 1e12 AS pv FROM v$iters
        |  WHERE state = '__START__'),
        |pb AS (SELECT pv AS p_base FROM pat WHERE rm = ''),
        |re AS (SELECT rm AS channel, p_base, pv AS p_removed,
        |    CASE WHEN p_base > 0 THEN 1.0 - pv / p_base END AS removal_effect
        |  FROM pat, pb WHERE rm <> ''),
        |rtot AS (SELECT SUM(CAST(floor(GREATEST(removal_effect, 0.0) * 1e12
        |    + 0.5) AS BIGINT)) AS reg FROM re)
        |SELECT channel,
        |  floor(p_base * 1000000.0 + 0.5) / 1000000.0 AS p_base,
        |  floor(p_removed * 1000000.0 + 0.5) / 1000000.0 AS p_removed,
        |  floor(removal_effect * 1000000.0 + 0.5) / 1000000.0 AS removal_effect,
        |  CASE WHEN reg > 0 THEN floor((CAST(CAST(floor(GREATEST(
        |    removal_effect, 0.0) * 1e12 + 0.5) AS BIGINT) AS DOUBLE) / reg)
        |    * 1000000.0 + 0.5) / 1000000.0 END AS share
        |FROM re, rtot""".stripMargin
    },
    // sf1: ONE per-user lead window + |states|² counts; the 24 sweeps are
    // metadata — superlinearity means the journey window or count stage
    // broke
    sf1 = true),

    // KMV bottom-64 distinct sketch per event type + the MERGED-sketch
    // union row (ops.Sketches.kmvEstimates) — the engine-replayable
    // sketch (bit-exact cross-engine, unlike HLL's self-check idiom):
    // estimate, kept size, and the exact audit column per group.
    QuerySpec("q_kmv_distinct", (s, d) =>
      graft.ops.Sketches.kmvEstimates(
          Tables.events(s, d), "event_type", "user_id", k = 64)
        .select(col("g"), col("n_exact"), col("n_kept"),
          qround(col("est"), 6).as("est")),
    oracle = Some(// identical md5-60bit derivation; union row = bottom-64 of the
      // MERGED per-group sketches (the mergeability pin), audited by the
      // global exact distinct
      """WITH d AS MATERIALIZED (SELECT DISTINCT event_type AS g,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM d),
        |kk AS MATERIALIZED (SELECT * FROM r WHERE rn <= 64),
        |st AS (SELECT g, count(*) AS n_exact FROM d GROUP BY 1),
        |pg AS (SELECT kk.g, st.n_exact, count(*) AS n_kept,
        |    MAX(CASE WHEN rn = 64 THEN h END) AS hk
        |  FROM kk JOIN st USING (g) GROUP BY 1, 2),
        |mh AS (SELECT DISTINCT h FROM kk),
        |mr AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM mh),
        |mk AS (SELECT * FROM mr WHERE rn <= 64),
        |un AS (SELECT '__union__' AS g,
        |    (SELECT count(DISTINCT h) FROM d) AS n_exact,
        |    count(*) AS n_kept, MAX(CASE WHEN rn = 64 THEN h END) AS hk FROM mk),
        |u AS (SELECT * FROM pg UNION ALL SELECT * FROM un)
        |SELECT g, CAST(n_exact AS BIGINT) AS n_exact,
        |  CAST(n_kept AS BIGINT) AS n_kept,
        |  floor((CASE WHEN n_kept < 64 THEN CAST(n_exact AS DOUBLE)
        |    ELSE 63.0 / (CAST(hk AS DOUBLE) / 1152921504606846976.0) END)
        |    * 1000000.0 + 0.5) / 1000000.0 AS est
        |FROM u""".stripMargin),
    // sf1: one distinct shuffle + WindowGroupLimit bottom-k
    sf1 = true),

    // Neyman optimal allocation of a 1000-row labeling budget across
    // event types (llm.Sampling.neymanAllocation): per-stratum exact
    // decimal moments -> S_h, weights N_h*S_h on a 1e-6 integer grid,
    // shares and rounded allocations as fixed expressions.
    QuerySpec("q_neyman_alloc", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + lit(0.5)).cast("long"))
      graft.llm.Sampling.neymanAllocation(ev, "event_type", "cents",
          budget = 1000L)
        .select(col("stratum"), col("n_pop"), qround(col("sd"), 6).as("sd"),
          qround(col("share"), 9).as("share"), col("n_alloc"))
    },
    oracle = Some(// exact HUGEINT moments -> sd; weights on the 1e-6 long grid so
      // the total is an exact integer sum; one rounded division per row
      """WITH b AS (SELECT event_type AS stratum,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |s AS (SELECT stratum, count(*) AS n_pop, SUM(v) AS sv,
        |    SUM(CAST(v AS HUGEINT) * v) AS qv
        |  FROM b GROUP BY 1),
        |sd AS (SELECT stratum, n_pop,
        |    sqrt(CAST(qv AS DOUBLE) / n_pop -
        |      (CAST(sv AS DOUBLE) / n_pop) * (CAST(sv AS DOUBLE) / n_pop)) AS sd
        |  FROM s),
        |w AS (SELECT *, CAST(floor(n_pop * sd * 1000000.0 + 0.5) AS BIGINT) AS wq
        |  FROM sd),
        |t AS (SELECT *, SUM(wq) OVER () AS wq_tot FROM w)
        |SELECT stratum, CAST(n_pop AS BIGINT) AS n_pop,
        |  floor(sd * 1000000.0 + 0.5) / 1000000.0 AS sd,
        |  floor((CAST(wq AS DOUBLE) / wq_tot) * 1000000000.0 + 0.5)
        |    / 1000000000.0 AS share,
        |  CASE WHEN wq_tot > 0 THEN
        |    CAST(floor(1000.0 * wq / wq_tot + 0.5) AS BIGINT) END AS n_alloc
        |FROM t""".stripMargin)),

    // Cross-correlation lead/lag (Seasonal.xcf): do daily clicks lead
    // daily purchases? Day-grain collapse first (the ACF contract), then
    // the banded ±7-lag join over the ~30-row series; pairwise-complete
    // Pearson per lag from exact decimal moments.
    QuerySpec("q_xcf", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .withColumn("t", datediff(to_date(col("ts")),
          to_date(lit("2020-01-01"))).cast("long"))
      val daily = ev.groupBy(col("t"))
        .agg(count_if(col("event_type") === "click").as("x"),
          count_if(col("event_type") === "purchase").as("y"))
        .withColumn("g", lit("all"))
      graft.ops.Seasonal.xcf(daily, "g", "t", "x", "y", maxLag = 7)
        .select(col("g"), col("k"), col("n_pairs"),
          qround(col("xcf"), 6).as("xcf"))
    },
    oracle = Some(// day-grain collapse, then the banded ±7 join; pairwise-complete
      // Pearson from exact HUGEINT moments, one fixed expression per lag
      """WITH e AS (SELECT date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS t,
        |    event_type
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |d AS (SELECT t, count(*) FILTER (event_type = 'click') AS x,
        |    count(*) FILTER (event_type = 'purchase') AS y FROM e GROUP BY 1),
        |p AS (SELECT b.t - a.t AS k, a.x AS x, b.y AS y
        |  FROM d a JOIN d b ON b.t - a.t BETWEEN -7 AND 7),
        |mm AS (SELECT k, count(*) AS m, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM p GROUP BY 1)
        |SELECT 'all' AS g, CAST(k AS BIGINT) AS k, CAST(m AS BIGINT) AS n_pairs,
        |  floor((CASE WHEN CAST(m * sxx - sx * sx AS DOUBLE) > 0
        |      AND CAST(m * syy - sy * sy AS DOUBLE) > 0 THEN
        |    CAST(m * sxy - sx * sy AS DOUBLE) /
        |      sqrt(CAST(m * sxx - sx * sx AS DOUBLE) *
        |        CAST(m * syy - sy * sy AS DOUBLE)) END)
        |    * 1000000.0 + 0.5) / 1000000.0 AS xcf
        |FROM mm""".stripMargin)),

    // Information-gain feature ranking (Distribution.infoGain): three
    // categorical features vs the high-ticket label through ONE stacked
    // (feature, x, y) count shuffle — IG and Quinlan gain ratio per
    // feature, shared listwise n and H(Y).
    QuerySpec("q_info_gain", (s, d) =>
      graft.ops.Distribution.infoGain(
          Tables.events(s, d).filter(col("value").isNotNull),
          Seq("event_type" -> col("event_type"),
            "hour" -> hour(col("ts")),
            "dow" -> dayofweek(col("ts"))),
          floor(col("value") * 100 + lit(0.5)).cast("long") >= 2000L)
        .select(col("feature"), col("n"), qround(col("h_y"), 6).as("h_y"),
          qround(col("h_x"), 6).as("h_x"),
          qround(col("h_y_given_x"), 6).as("h_y_given_x"),
          qround(col("info_gain"), 6).as("info_gain"),
          qround(col("gain_ratio"), 6).as("gain_ratio")),
    oracle = Some(// one stacked (feature, x, y) cell table; entropies keep the exact
      // multiplier and divide once (the q_mutual_info discipline)
      """WITH base AS (SELECT event_type,
        |    CAST(hour(ts) AS VARCHAR) AS h, CAST(dayofweek(ts) AS VARCHAR) AS w,
        |    CASE WHEN CAST(floor(value * 100 + 0.5) AS BIGINT) >= 2000
        |      THEN 'true' ELSE 'false' END AS y
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND ts IS NOT NULL),
        |st AS (SELECT 'event_type' AS f, event_type AS x, y FROM base
        |  UNION ALL SELECT 'hour', h, y FROM base
        |  UNION ALL SELECT 'dow', w, y FROM base),
        |cells AS MATERIALIZED (SELECT f, x, y, count(*) AS n FROM st GROUP BY 1, 2, 3),
        |nx AS (SELECT f, x, SUM(n) AS nx FROM cells GROUP BY 1, 2),
        |tot AS (SELECT f, SUM(n) AS tot FROM cells GROUP BY 1),
        |hy AS (SELECT f, -SUM(ny * ln(CAST(ny AS DOUBLE) / tot)) / MAX(tot) AS h_y
        |  FROM (SELECT f, y, SUM(n) AS ny FROM cells GROUP BY 1, 2)
        |  JOIN tot USING (f) GROUP BY f),
        |hyx AS (SELECT f, -SUM(n * ln(CAST(n AS DOUBLE) / nx)) / MAX(tot) AS h_y_given_x
        |  FROM cells JOIN nx USING (f, x) JOIN tot USING (f) GROUP BY f),
        |hx AS (SELECT f, -SUM(nx * ln(CAST(nx AS DOUBLE) / tot)) / MAX(tot) AS h_x
        |  FROM nx JOIN tot USING (f) GROUP BY f)
        |SELECT hy.f AS feature, CAST(tot.tot AS BIGINT) AS n,
        |  floor(h_y * 1000000.0 + 0.5) / 1000000.0 AS h_y,
        |  floor(h_x * 1000000.0 + 0.5) / 1000000.0 AS h_x,
        |  floor(h_y_given_x * 1000000.0 + 0.5) / 1000000.0 AS h_y_given_x,
        |  floor((h_y - h_y_given_x) * 1000000.0 + 0.5) / 1000000.0 AS info_gain,
        |  floor((CASE WHEN h_x > 0 THEN (h_y - h_y_given_x) / h_x END)
        |    * 1000000.0 + 0.5) / 1000000.0 AS gain_ratio
        |FROM hy JOIN hyx USING (f) JOIN hx USING (f) JOIN tot USING (f)""".stripMargin)),

    // RFM segmentation: per-user recency/frequency/monetary, scored 1-5
    // against in-sample quintile boundaries from the range-partitioned
    // sort (sortedPercentilesMulti ≡ quantile_cont — the q_psi_drift
    // literal-binding discipline; never the Percentile driver map). The
    // binning pass is pure codegen; output is ALL-INTEGER — exact
    // cross-engine by construction.
    QuerySpec("q_rfm_scores", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("user_id").isNotNull && col("value").isNotNull &&
          col("ts").isNotNull)
        .withColumn("cents", floor(col("value") * 100 + lit(0.5)).cast("long"))
        .withColumn("t", datediff(to_date(col("ts")),
          to_date(lit("2020-01-01"))).cast("long"))
      val anchor = ev.agg(max(col("t")).as("t_max"))
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(col("t")).as("t_last"), count(lit(1)).as("f"),
          sum(col("cents")).as("m"))
        .crossJoin(broadcast(anchor))
        .select(col("user_id"), (col("t_max") - col("t_last")).as("r"),
          col("f"), col("m"))
        .localCheckpoint(false) // feeds the quantile fit AND the scoring
      val bounds = graft.ops.Aggregates.sortedPercentilesMulti(
        perUser, Seq("r", "f", "m"), Seq(0.2, 0.4, 0.6, 0.8))
      def score(c: org.apache.spark.sql.Column, bs: Seq[Double]) =
        bs.map(b => when(c >= b, 1L).otherwise(0L)).reduce(_ + _) + lit(1L)
      perUser.select(col("user_id"), col("r"), col("f"), col("m"),
        score(col("r"), bounds("r")).as("r_q"),
        score(col("f"), bounds("f")).as("f_q"),
        score(col("m"), bounds("m")).as("m_q"))
        .withColumn("rfm_code",
          col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
    },
    oracle = Some(// per-user R/F/M, quintile boundaries via quantile_cont (the
      // sortedPercentilesMulti twin), all-integer output
      """WITH e AS (SELECT user_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |    date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS t
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND ts IS NOT NULL),
        |mx AS (SELECT MAX(t) AS t_max FROM e),
        |pu AS (SELECT user_id, mx.t_max - MAX(t) AS r, count(*) AS f,
        |    SUM(cents) AS m
        |  FROM e, mx GROUP BY user_id, mx.t_max),
        |q AS (SELECT
        |    quantile_cont(r, 0.2) AS r1, quantile_cont(r, 0.4) AS r2,
        |    quantile_cont(r, 0.6) AS r3, quantile_cont(r, 0.8) AS r4,
        |    quantile_cont(f, 0.2) AS f1, quantile_cont(f, 0.4) AS f2,
        |    quantile_cont(f, 0.6) AS f3, quantile_cont(f, 0.8) AS f4,
        |    quantile_cont(m, 0.2) AS m1, quantile_cont(m, 0.4) AS m2,
        |    quantile_cont(m, 0.6) AS m3, quantile_cont(m, 0.8) AS m4
        |  FROM pu),
        |sc AS (SELECT user_id, r, f, m,
        |    1 + (CASE WHEN r >= r1 THEN 1 ELSE 0 END) + (CASE WHEN r >= r2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN r >= r3 THEN 1 ELSE 0 END) + (CASE WHEN r >= r4 THEN 1 ELSE 0 END) AS r_q,
        |    1 + (CASE WHEN f >= f1 THEN 1 ELSE 0 END) + (CASE WHEN f >= f2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN f >= f3 THEN 1 ELSE 0 END) + (CASE WHEN f >= f4 THEN 1 ELSE 0 END) AS f_q,
        |    1 + (CASE WHEN m >= m1 THEN 1 ELSE 0 END) + (CASE WHEN m >= m2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN m >= m3 THEN 1 ELSE 0 END) + (CASE WHEN m >= m4 THEN 1 ELSE 0 END) AS m_q
        |  FROM pu, q)
        |SELECT user_id, CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
        |  CAST(m AS BIGINT) AS m, CAST(r_q AS BIGINT) AS r_q,
        |  CAST(f_q AS BIGINT) AS f_q, CAST(m_q AS BIGINT) AS m_q,
        |  CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS rfm_code
        |FROM sc""".stripMargin))
  )
}
