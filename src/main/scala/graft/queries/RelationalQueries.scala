package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops._

/** Relational operator inventory (SURVEY.md §2.1–§2.7) re-expressed over the
  * driver's TPC-H-ish testdata, each paired with a DuckDB oracle in
  * [[oracle]]. Naming: q_<survey-row>_<what>.
  *
  * Determinism rules (so the DuckDB hash-compare is stable):
  *  - every floating-point column that passes through a re-associable
  *    aggregate (sum/avg over many rows) is rounded in BOTH engines;
  *  - every limit is preceded by a total order with a unique tie-break;
  *  - ordinal ranks always carry an explicit tie-break column.
  */
object RelationalQueries {

  /** The PageRank recurrence unrolled as DuckDB CTEs — the literal same
    * integer arithmetic as [[graft.ops.GraphRank.pageRankFixedPoint]]
    * (`//` = `div`; DuckDB's HUGEINT sums are exact, cast at the end).
    */
  /** The trade-graph PageRank CTE chain (no WITH prefix) — shared by the
    * standalone oracle and the composed q_graph_pipeline ledger. */
  private val pageRankCtes: String = {
    val base =
      """e0 AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |eu AS (SELECT a AS src, b AS dst FROM e0 UNION SELECT b, a FROM e0),
        |nodes AS (SELECT DISTINCT src AS node FROM eu),
        |deg AS (SELECT src, count(*) AS outdeg FROM eu GROUP BY 1),
        |p AS (SELECT 1000000000000 // count(*) AS init FROM nodes),
        |r0 AS (SELECT node, (SELECT init FROM p) AS pr FROM nodes)""".stripMargin
    val iters = (1 to 5).map { i =>
      s""",
         |r$i AS (SELECT n.node,
         |  (SELECT (15*init)//100 FROM p) + (85 * COALESCE(s.inflow, 0)) // 100 AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT eu.dst AS node, SUM(r.pr // d.outdeg) AS inflow
         |    FROM eu JOIN r${i - 1} r ON eu.src = r.node JOIN deg d ON eu.src = d.src
         |    GROUP BY 1) s ON n.node = s.node)""".stripMargin
    }.mkString
    base + iters
  }

  private val pageRankOracle: String =
    "WITH " + pageRankCtes + "\nSELECT node, CAST(pr AS BIGINT) AS pr FROM r5"

  /** Weighted-PageRank oracle: the unrolled recurrence with
    * (pr·w) // Σw hops over the order-line-count weighted trade graph.
    */
  private val pageRankWeightedOracle: String = {
    val base =
      """WITH e0 AS (SELECT o_custkey*2 AS a, l_suppkey*2+1 AS b, count(*) AS w
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
        |eu AS (SELECT a AS src, b AS dst, w FROM e0 UNION ALL SELECT b, a, w FROM e0),
        |nodes AS (SELECT DISTINCT src AS node FROM eu),
        |ws AS (SELECT src, SUM(w) AS wsum FROM eu GROUP BY 1),
        |p AS (SELECT 1000000000000 // count(*) AS init FROM nodes),
        |r0 AS (SELECT node, (SELECT init FROM p) AS pr FROM nodes)""".stripMargin
    val iters = (1 to 5).map { i =>
      s""",
         |r$i AS (SELECT n.node,
         |  (SELECT (15*init)//100 FROM p) + (85 * COALESCE(s.inflow, 0)) // 100 AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT eu.dst AS node, SUM((r.pr * eu.w) // d.wsum) AS inflow
         |    FROM eu JOIN r${i - 1} r ON eu.src = r.node JOIN ws d ON eu.src = d.src
         |    GROUP BY 1) s ON n.node = s.node)""".stripMargin
    }.mkString
    base + iters + "\nSELECT node, CAST(pr AS BIGINT) AS pr FROM r5"
  }

  /** Personalized-PageRank oracle: the same unrolled recurrence with a
    * seed-conditional teleport (and seed-conditional init), mirroring
    * `GraphRank.personalizedPageRank` exactly — alien seeds drop out via
    * the nodes join on BOTH engines.
    */
  private val pprOracle: String = {
    val base =
      """WITH e0 AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |eu AS (SELECT a AS src, b AS dst FROM e0 UNION SELECT b, a FROM e0),
        |nodes AS (SELECT DISTINCT src AS node FROM eu),
        |deg AS (SELECT src, count(*) AS outdeg FROM eu GROUP BY 1),
        |seeds AS (SELECT DISTINCT o_custkey*2 AS node FROM orders WHERE o_custkey % 10 = 0),
        |sn AS (SELECT n.node, (s.node IS NOT NULL) AS is_seed
        |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
        |p AS (SELECT 1000000000000 // count(*) AS init FROM sn WHERE is_seed),
        |r0 AS (SELECT node,
        |  CASE WHEN is_seed THEN (SELECT init FROM p) ELSE 0 END AS pr FROM sn)""".stripMargin
    val iters = (1 to 5).map { i =>
      s""",
         |r$i AS (SELECT n.node,
         |  CASE WHEN n.is_seed THEN (SELECT (15*init)//100 FROM p) ELSE 0 END
         |    + (85 * COALESCE(s.inflow, 0)) // 100 AS pr
         |  FROM sn n LEFT JOIN (
         |    SELECT eu.dst AS node, SUM(r.pr // d.outdeg) AS inflow
         |    FROM eu JOIN r${i - 1} r ON eu.src = r.node JOIN deg d ON eu.src = d.src
         |    GROUP BY 1) s ON n.node = s.node)""".stripMargin
    }.mkString
    base + iters + "\nSELECT node, CAST(pr AS BIGINT) AS pr FROM r5"
  }

  /** The z-value bit-interleave as SQL — the literal same shift/and/or
    * algebra as [[graft.ops.Layout.zValue]] (column 0 takes the odd lanes).
    */
  private val zTerms: String = (0 until 8).flatMap(k => Seq(
    s"((((l_partkey % 256) >> $k) & 1) << ${2 * k + 1})",
    s"((((l_suppkey % 256) >> $k) & 1) << ${2 * k})")).mkString(" | ")

  /** q_hilbert_curve oracle: the 8 rotate-and-accumulate xy2d rounds
    * unrolled as chained CTEs (mirrors the xy2d loop of
    * [[graft.ops.Layout.hilbertLattice]] at bits = 8, n = 256) — each round
    * reads the PREVIOUS round's (x, y, d) columns.
    */
  private val hilbertSql: String = {
    val base = """WITH h0 AS (SELECT l_partkey % 256 AS x,
      |    l_suppkey % 256 AS y, 0 AS d, l_orderkey AS okey FROM lineitem)""".stripMargin
    val rounds = (1 to 8).map { k =>
      val s = 1L << (8 - k)
      s""",
         |h$k AS (SELECT
         |    CASE WHEN (y & $s) = 0 THEN
         |      CASE WHEN (x & $s) > 0 THEN 255 - y ELSE y END ELSE x END AS x,
         |    CASE WHEN (y & $s) = 0 THEN
         |      CASE WHEN (x & $s) > 0 THEN 255 - x ELSE x END ELSE y END AS y,
         |    d + ${s * s} * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
         |      CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d,
         |    okey
         |  FROM h${k - 1})""".stripMargin
    }.mkString
    base + rounds +
      "\nSELECT CAST(d AS BIGINT) AS hval, CAST(count(*) AS BIGINT) AS n, " +
      "min(okey) AS min_key FROM h8 GROUP BY 1"
  }

  /** q_zonemap_prune oracle: the literal [[graft.ops.Layout.quantizeN]]
    * IEEE formula per layout + the 3-bit two-lane [[graft.ops.Layout.zValue]]
    * interleave (date = odd lanes), then the stacked zone aggregate.
    */
  private lazy val zonemapPruneSql: String = {
    def quant(c: String, lo: String, hi: String, buckets: Int): String =
      s"CAST(CASE WHEN $hi = $lo THEN 0 ELSE least(floor((($c - $lo) / ($hi - $lo)) * $buckets.0), ${buckets - 1}.0) END AS BIGINT)"
    // outer parens are load-bearing: DuckDB gives <<, &, | EQUAL
    // precedence (left-assoc), so an unparenthesized a << 1 | b parses
    // as (a << 1 | b) — not the C grouping
    val z3 = (0 until 3).flatMap(k => Seq(
      s"(((qd3 >> $k) & 1) << ${2 * k + 1})",
      s"(((qc3 >> $k) & 1) << ${2 * k})")).mkString(" | ")
    s"""WITH b AS (SELECT
       |    CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS dd,
       |    o_custkey AS ck
       |  FROM orders WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL),
       |s AS (SELECT CAST(min(dd) AS DOUBLE) AS dlo, CAST(max(dd) AS DOUBLE) AS dhi,
       |    CAST(min(ck) AS DOUBLE) AS clo, CAST(max(ck) AS DOUBLE) AS chi FROM b),
       |q AS (SELECT dd,
       |    ${quant("CAST(dd AS DOUBLE)", "dlo", "dhi", 64)} AS bdate,
       |    ${quant("CAST(ck AS DOUBLE)", "clo", "chi", 64)} AS bcust,
       |    ${quant("CAST(dd AS DOUBLE)", "dlo", "dhi", 8)} AS qd3,
       |    ${quant("CAST(ck AS DOUBLE)", "clo", "chi", 8)} AS qc3
       |  FROM b, s),
       |st AS (SELECT 'date' AS layout, bdate AS bkt, dd FROM q
       |  UNION ALL SELECT 'custkey', bcust, dd FROM q
       |  UNION ALL SELECT 'zorder', CAST(($z3) AS BIGINT), dd FROM q),
       |zn AS (SELECT layout, bkt, count(*) AS c, min(dd) AS zmin, max(dd) AS zmax,
       |    sum(CASE WHEN dd BETWEEN 1461 AND 1550 THEN 1 ELSE 0 END) AS m
       |  FROM st GROUP BY 1, 2)
       |SELECT layout, CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(sum(CASE WHEN zmax >= 1461 AND zmin <= 1550 THEN 1 ELSE 0 END) AS BIGINT) AS buckets_scanned,
       |  CAST(sum(CASE WHEN zmax >= 1461 AND zmin <= 1550 THEN c ELSE 0 END) AS BIGINT) AS rows_scanned,
       |  CAST(sum(m) AS BIGINT) AS rows_matched
       |FROM zn GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q_corr_matrix oracle, generated so every pair's closed form mirrors
    * `Correlation.pearsonMatrix` operand-for-operand (n·Sxy − Sx·Sy over
    * √(varXN·varYN), all operands cast to double in the same order).
    */
  private lazy val corrMatrixSql: String = {
    val cs = Seq("qty", "price_c", "disc_bp", "tax_bp")
    val prods = for { i <- cs.indices; j <- i until cs.size } yield
      s"sum(${cs(i)} * ${cs(j)}) AS p_${cs(i)}_${cs(j)}"
    val sums = cs.map(c => s"sum($c) AS s_$c")
    val pairRows = for { i <- cs.indices; j <- (i + 1) until cs.size } yield {
      val (x, y) = (cs(i), cs(j))
      val covN = s"CAST(n AS DOUBLE) * CAST(p_${x}_$y AS DOUBLE) - CAST(s_$x AS DOUBLE) * CAST(s_$y AS DOUBLE)"
      val varX = s"CAST(n AS DOUBLE) * CAST(p_${x}_$x AS DOUBLE) - CAST(s_$x AS DOUBLE) * CAST(s_$x AS DOUBLE)"
      val varY = s"CAST(n AS DOUBLE) * CAST(p_${y}_$y AS DOUBLE) - CAST(s_$y AS DOUBLE) * CAST(s_$y AS DOUBLE)"
      s"""SELECT '$x' AS x, '$y' AS y, n,
         |  CASE WHEN ($varX) > 0 AND ($varY) > 0 THEN
         |    floor((($covN) / sqrt(($varX) * ($varY))) * 1000000.0 + 0.5) / 1000000.0
         |  END AS corr FROM m""".stripMargin
    }
    s"""WITH e AS (SELECT
       |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
       |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
       |    CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS disc_bp,
       |    CAST(floor(l_tax * 10000 + 0.5) AS BIGINT) AS tax_bp
       |  FROM lineitem
       |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
       |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  ${(sums ++ prods).mkString(",\n  ")}
       |  FROM e)
       |${pairRows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // Zone-map pruning audit: price three candidate clusterings of orders
    // (64 range buckets on orderdate, on custkey, and an 8×8 z-order cell
    // grid over both) for a 90-day orderdate scan — per layout, the
    // buckets/rows a min-max-skipping reader must touch vs. rows that
    // match. All-integer output; the read-amplification number that
    // justifies (or kills) a re-cluster before paying for the sort.
    QuerySpec("q_zonemap_prune", (s, d) => {
      import graft.ops.Layout
      val o = Tables.orders(s, d)
        .withColumn("dday", datediff(to_date(col("o_orderdate")),
          to_date(lit("1990-01-01"))).cast("long"))
      val stats = o.agg(
        min(col("dday")).cast("double").as("dlo"),
        max(col("dday")).cast("double").as("dhi"),
        min(col("o_custkey")).cast("double").as("clo"),
        max(col("o_custkey")).cast("double").as("chi"))
      val w = o.crossJoin(broadcast(stats))
      val dd = col("dday").cast("double")
      val ck = col("o_custkey").cast("double")
      Layout.zoneMapAudit(w,
          Seq(
            "date" -> Layout.quantizeN(dd, col("dlo"), col("dhi"), 64),
            "custkey" -> Layout.quantizeN(ck, col("clo"), col("chi"), 64),
            "zorder" -> Layout.zValue(Seq(
              Layout.quantize(dd, col("dlo"), col("dhi"), 3),
              Layout.quantize(ck, col("clo"), col("chi"), 3)), bits = 3)),
          scanCol = col("dday"), lo = 1461L, hi = 1550L)
        .orderBy("layout")
    },
    oracle = Some(zonemapPruneSql)),

    // RLE compression dividend — zone-map audit's write-side twin: runs
    // of o_orderpriority per bucket under a priority-clustered vs a
    // custkey-bucketed layout (same in-bucket key order). The clustered
    // layout collapses each bucket to ~1 run; the scattered one pays a
    // run per value change — the storage ratio a re-cluster would buy.
    QuerySpec("q_rle_dividend", (s, d) => {
      import graft.ops.Layout
      val o = Tables.orders(s, d)
      Layout.rleAudit(o,
          Seq(
            "by_priority" -> substring(col("o_orderpriority"), 1, 1).cast("long"),
            "by_custkey" -> pmod(col("o_custkey"), lit(5L))),
          orderCols = Seq(col("o_orderkey")),
          valueCol = col("o_orderpriority"))
        .select(col("layout"), col("n_rows"), col("n_runs"),
          qround(col("avg_run_len"), 6).as("avg_run_len"))
        .orderBy("layout")
    },
    oracle = Some(
      """WITH b AS (SELECT o_orderkey AS k, o_orderpriority AS v,
        |    CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS bp,
        |    o_custkey % 5 AS bc
        |  FROM orders WHERE o_orderpriority IS NOT NULL AND o_custkey IS NOT NULL),
        |st AS (SELECT 'by_priority' AS l, bp AS bkt, k, v FROM b
        |  UNION ALL SELECT 'by_custkey', bc, k, v FROM b),
        |w AS (SELECT l, v, lag(v) OVER (PARTITION BY l, bkt ORDER BY k) AS pv FROM st)
        |SELECT l AS layout, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN pv IS NULL OR pv <> v THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
        |  floor((CAST(count(*) AS DOUBLE) /
        |    sum(CASE WHEN pv IS NULL OR pv <> v THEN 1 ELSE 0 END)) * 1000000.0 + 0.5) / 1000000.0 AS avg_run_len
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin),
    // sf1: stacked lag window over bucket-sized partitions
    sf1 = true),

    // Functional-dependency audit: does l_partkey determine l_suppkey?
    // (It doesn't — a part ships from several suppliers; the rate and
    // the worst witness quantify exactly how far from a key it is.)
    QuerySpec("q_fd_audit", (s, d) =>
      graft.ops.Profiler.fdAudit(Tables.lineitem(s, d),
          Seq("l_partkey"), "l_suppkey")
        .select(col("n_groups"), col("n_violating"),
          qround(col("violation_rate"), 6).as("violation_rate"),
          col("max_rhs_distinct"), col("worst_lhs")),
    oracle = Some(
      """WITH b AS (SELECT CAST(l_partkey AS VARCHAR) AS lhs,
        |    CAST(l_suppkey AS VARCHAR) AS rhs
        |  FROM lineitem WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
        |pk AS (SELECT lhs, CAST(count(DISTINCT rhs) AS BIGINT) AS nrhs
        |  FROM b GROUP BY 1),
        |mx AS (SELECT max(nrhs) AS mx FROM pk)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  floor((CAST(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*))
        |    * 1000000.0 + 0.5) / 1000000.0 AS violation_rate,
        |  max(nrhs) AS max_rhs_distinct,
        |  min(CASE WHEN nrhs = mx THEN lhs END) AS worst_lhs
        |FROM pk, mx""".stripMargin)),

    // S1/P2/P3 — filtered projected scan; predicate + projection reach parquet.
    QuerySpec("q_s1_scan_filter_project", (s, d) => {
      Relational.scan(
        Tables.lineitem(s, d),
        col("l_returnflag") === "R" && col("l_quantity") >= 30,
        Seq(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice")))
    },
    oracle = Some("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 30")),

    // A1/J1 — per-partition share via window sum (join-free team-death-share shape).
    QuerySpec("q_a1_partition_share", (s, d) => {
      Windows.partitionShare(Tables.lineitem(s, d), Seq("l_orderkey"), "l_quantity", "qty_share")
        .select(col("l_orderkey"), col("l_linenumber"), qround(col("qty_share"), 6).as("qty_share"))
    },
    oracle = Some("SELECT l_orderkey, l_linenumber, floor((l_quantity / greatest(SUM(l_quantity) OVER (PARTITION BY l_orderkey), 1.0)) * 1000000.0 + 0.5) / 1000000.0 AS qty_share FROM lineitem")),

    // W1 — RANK() semantics: ties share min rank (pandas rank(method='min')).
    QuerySpec("q_w1_rank_min", (s, d) => {
      Windows.rankMinDesc(Tables.lineitem(s, d), Seq("l_orderkey"), "l_quantity", "rnk")
        .select(col("l_orderkey"), col("l_linenumber"), col("rnk").cast("long").as("rnk"))
    },
    oracle = Some("SELECT l_orderkey, l_linenumber, CAST(rank() OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC) AS BIGINT) AS rnk FROM lineitem")),

    // W2 — ROW_NUMBER() semantics with deterministic tie-break.
    QuerySpec("q_w2_row_number", (s, d) => {
      Windows.ordinalRankDesc(Tables.lineitem(s, d), Seq("l_orderkey"), "l_quantity", Seq("l_linenumber"), "rn")
        .select(col("l_orderkey"), col("l_linenumber"), col("rn").cast("long").as("rn"))
    },
    oracle = Some("SELECT l_orderkey, l_linenumber, CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC, l_linenumber ASC) AS BIGINT) AS rn FROM lineitem")),

    // J1 — groupBy aggregate joined back to each row.
    QuerySpec("q_j1_agg_back_join", (s, d) => {
      Joins.aggBackJoin(Tables.lineitem(s, d), Seq("l_orderkey"),
          Seq(sum(col("l_extendedprice")).as("order_total")), broadcastAgg = false)
        .select(col("l_orderkey"), col("l_linenumber"),
          qround(col("l_extendedprice") / col("order_total"), 6).as("price_share"))
    },
    oracle = Some("SELECT l.l_orderkey, l.l_linenumber, floor((l.l_extendedprice / t.order_total) * 1000000.0 + 0.5) / 1000000.0 AS price_share FROM lineitem l JOIN (SELECT l_orderkey, SUM(l_extendedprice) AS order_total FROM lineitem GROUP BY l_orderkey) t ON l.l_orderkey = t.l_orderkey")),

    // J2 — semi-join by a deterministic key subset (leak-safe split shape).
    QuerySpec("q_j2_semi_join", (s, d) => {
      val keys = Tables.orders(s, d).filter(col("o_orderkey") % 5 === 0).select("o_orderkey")
        .withColumnRenamed("o_orderkey", "l_orderkey")
      Joins.semiJoinByKeys(Tables.lineitem(s, d), keys, Seq("l_orderkey"))
        .agg(count(lit(1)).as("cnt"), qround(sum(col("l_quantity")), 2).as("qty"))
    },
    oracle = Some("SELECT CAST(COUNT(*) AS BIGINT) AS cnt, floor((SUM(l_quantity)) * 100.0 + 0.5) / 100.0 AS qty FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 5 = 0)")),

    // J-anti — the dedup "already seen → reject" gate as a relational
    // anti-join (redis SET membership complement).
    QuerySpec("q_j5_anti_join", (s, d) => {
      val seen = Tables.orders(s, d).filter(col("o_orderkey") % 7 === 0).select("o_orderkey")
        .withColumnRenamed("o_orderkey", "l_orderkey")
      Joins.antiJoinByKeys(Tables.lineitem(s, d), seen, Seq("l_orderkey"))
        .agg(count(lit(1)).as("cnt"), qround(sum(col("l_quantity")), 2).as("qty"))
    },
    oracle = Some("SELECT CAST(COUNT(*) AS BIGINT) AS cnt, floor((SUM(l_quantity)) * 100.0 + 0.5) / 100.0 AS qty FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0)")),

    // J3 — broadcast dim lookup, miss → -1 (champion-encoder join shape).
    QuerySpec("q_j3_dim_lookup_default", (s, d) => {
      val dim = Tables.nation(s, d).filter(col("n_regionkey") < 3)
        .select(col("n_nationkey").as("c_nationkey"), col("n_nationkey").cast("long").as("dim_id"))
      Joins.dimLookup(Tables.customer(s, d), dim, Seq("c_nationkey"), "dim_id", "nation_id", lit(-1L))
        .groupBy("nation_id").agg(count(lit(1)).as("cnt"))
    },
    oracle = Some("SELECT coalesce(n.dim_id, -1) AS nation_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM customer c LEFT JOIN (SELECT n_nationkey, CAST(n_nationkey AS BIGINT) AS dim_id FROM nation WHERE n_regionkey < 3) n ON c.c_nationkey = n.n_nationkey GROUP BY 1")),

    // J4 — full-outer merge, either side nullable (detail⋈timeline shape).
    QuerySpec("q_j4_full_outer_merge", (s, d) => {
      val c = Tables.customer(s, d).groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("c_cnt"))
      val sp = Tables.supplier(s, d).filter(col("s_acctbal") > 5000)
        .groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("s_cnt"))
      Joins.fullOuterMerge(c, sp, Seq("nationkey"))
        .select(col("nationkey"), coalesce(col("c_cnt"), lit(0L)).as("c_cnt"),
          coalesce(col("s_cnt"), lit(0L)).as("s_cnt"))
    },
    oracle = Some("SELECT coalesce(c.nationkey, s.nationkey) AS nationkey, coalesce(c.c_cnt, 0) AS c_cnt, coalesce(s.s_cnt, 0) AS s_cnt FROM (SELECT c_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS c_cnt FROM customer GROUP BY 1) c FULL OUTER JOIN (SELECT s_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS s_cnt FROM supplier WHERE s_acctbal > 5000 GROUP BY 1) s ON c.nationkey = s.nationkey")),

    // A2 — distinct keys.
    QuerySpec("q_a2_distinct", (s, d) =>
      Relational.distinctKeys(Tables.lineitem(s, d), Seq("l_returnflag", "l_linestatus")),
    oracle = Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    // A3 — exact count-distinct per group.
    QuerySpec("q_a3_count_distinct", (s, d) =>
      Aggregates.distinctCount(Tables.lineitem(s, d), Seq("l_returnflag"), "l_partkey"),
    oracle = Some("SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_l_partkey FROM lineitem GROUP BY 1")),

    // A4 — exact percentiles (linear interpolation, = DuckDB quantile_cont).
    QuerySpec("q_a4_quantiles", (s, d) => {
      Aggregates.percentiles(Tables.lineitem(s, d), "l_extendedprice",
          Seq(0.01 -> "q01", 0.5 -> "q50", 0.99 -> "q99"))
        .select(qround(col("q01"), 4).as("q01"), qround(col("q50"), 4).as("q50"), qround(col("q99"), 4).as("q99"))
    },
    oracle = Some("SELECT floor((quantile_cont(l_extendedprice, 0.01)) * 10000.0 + 0.5) / 10000.0 AS q01, floor((quantile_cont(l_extendedprice, 0.5)) * 10000.0 + 0.5) / 10000.0 AS q50, floor((quantile_cont(l_extendedprice, 0.99)) * 10000.0 + 0.5) / 10000.0 AS q99 FROM lineitem")),

    // A5 — mean/stddev per group.
    QuerySpec("q_a5_mean_std", (s, d) => {
      Tables.lineitem(s, d).groupBy("l_linestatus")
        .agg(qround(avg(col("l_quantity")), 4).as("mean_qty"),
          qround(stddev_samp(col("l_quantity")), 4).as("std_qty"))
    },
    oracle = Some("SELECT l_linestatus, floor((AVG(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS mean_qty, floor((stddev_samp(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS std_qty FROM lineitem GROUP BY 1")),

    // A6 — MSE / RMSE / MAE in one pass.
    QuerySpec("q_a6_error_metrics", (s, d) => {
      Aggregates.errorMetrics(Tables.lineitem(s, d), "l_discount", "l_tax")
        .select(qround(col("mse"), 6).as("mse"), qround(col("rmse"), 6).as("rmse"),
          qround(col("mae"), 6).as("mae"))
    },
    oracle = Some("SELECT floor((AVG((l_discount - l_tax) * (l_discount - l_tax))) * 1000000.0 + 0.5) / 1000000.0 AS mse, floor((sqrt(AVG((l_discount - l_tax) * (l_discount - l_tax)))) * 1000000.0 + 0.5) / 1000000.0 AS rmse, floor((AVG(abs(l_discount - l_tax))) * 1000000.0 + 0.5) / 1000000.0 AS mae FROM lineitem")),

    // A7 — grouped mean by a boolean key.
    QuerySpec("q_a7_group_mean_bool", (s, d) => {
      Tables.lineitem(s, d).groupBy((col("l_returnflag") === "R").as("is_returned"))
        .agg(qround(avg(col("l_quantity")), 4).as("avg_qty"))
    },
    oracle = Some("SELECT (l_returnflag = 'R') AS is_returned, floor((AVG(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS avg_qty FROM lineitem GROUP BY 1")),

    // A8 — rank-accuracy report between two per-partition rankings.
    QuerySpec("q_a8_rank_accuracy", (s, d) => {
      val li = Tables.lineitem(s, d)
      // the two row_numbers are paired PER PHYSICAL ROW (|label − pred|),
      // so each ordering must be a total order: (l_orderkey, l_linenumber)
      // is NOT unique in this data — without the extra tie columns, rows
      // sharing (orderkey, quantity, linenumber) get arbitrary ordinals
      // and the pairing diverges between engines (caught at sf0.1)
      val wPrice = Window.partitionBy(col("l_orderkey")).orderBy(
        col("l_extendedprice").desc, col("l_linenumber").asc,
        col("l_quantity").asc, col("l_partkey").asc, col("l_suppkey").asc)
      val wQty = Window.partitionBy(col("l_orderkey")).orderBy(
        col("l_quantity").desc, col("l_linenumber").asc,
        col("l_extendedprice").asc, col("l_partkey").asc, col("l_suppkey").asc)
      val ranked = li.withColumn("r_label", row_number().over(wPrice))
        .withColumn("r_pred", row_number().over(wQty))
      Aggregates.rankAccuracy(ranked, "r_label", "r_pred")
        .select(qround(col("mean_rank_err"), 4).as("mean_rank_err"),
          qround(col("median_rank_err"), 4).as("median_rank_err"),
          qround(col("exact_acc"), 4).as("exact_acc"),
          qround(col("within1_acc"), 4).as("within1_acc"),
          qround(col("within2_acc"), 4).as("within2_acc"))
    },
    oracle = Some(
      """WITH ranked AS (SELECT row_number() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber ASC, l_quantity ASC, l_partkey ASC, l_suppkey ASC) AS r_label, row_number() OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC, l_linenumber ASC, l_extendedprice ASC, l_partkey ASC, l_suppkey ASC) AS r_pred FROM lineitem) SELECT floor((AVG(abs(r_label - r_pred))) * 10000.0 + 0.5) / 10000.0 AS mean_rank_err, floor((quantile_cont(abs(r_label - r_pred), 0.5)) * 10000.0 + 0.5) / 10000.0 AS median_rank_err, floor((AVG(CASE WHEN r_label = r_pred THEN 1.0 ELSE 0.0 END)) * 10000.0 + 0.5) / 10000.0 AS exact_acc, floor((AVG(CASE WHEN abs(r_label - r_pred) <= 1 THEN 1.0 ELSE 0.0 END)) * 10000.0 + 0.5) / 10000.0 AS within1_acc, floor((AVG(CASE WHEN abs(r_label - r_pred) <= 2 THEN 1.0 ELSE 0.0 END)) * 10000.0 + 0.5) / 10000.0 AS within2_acc FROM ranked""")),

    // W3 — the win-bonus conditional as a standalone expression query:
    // score ×1.1 when the boolean holds, raw otherwise.
    QuerySpec("q_w3_win_bonus", (s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
        (col("o_orderstatus") === "F").as("win"))
      Tables.lineitem(s, d).join(o, "l_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"),
          qround(when(col("win"), col("l_extendedprice") * 1.1)
            .otherwise(col("l_extendedprice")), 2).as("bonus_price"))
    },
    oracle = Some("SELECT l.l_orderkey, l.l_linenumber, floor((CASE WHEN o.o_orderstatus = 'F' THEN l.l_extendedprice * 1.1 ELSE l.l_extendedprice END) * 100.0 + 0.5) / 100.0 AS bonus_price FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey")),

    // O1 — deterministic limit (sort by unique key first).
    QuerySpec("q_o1_sorted_limit", (s, d) =>
      Relational.sortedLimit(Tables.orders(s, d), Seq("o_orderkey"), 100)
        .select("o_orderkey", "o_orderstatus", "o_totalprice"),
    oracle = Some("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 100")),

    // O3 — top-k with tie-break (TakeOrderedAndProject).
    QuerySpec("q_o3_topk", (s, d) =>
      Relational.topK(Tables.part(s, d), "p_retailprice", 10, Seq("p_partkey"))
        .select("p_partkey", "p_name", "p_retailprice"),
    oracle = Some("SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 10")),

    // Set op — union-all across heterogeneous sources.
    QuerySpec("q_set_union", (s, d) => {
      Relational.unionByName(Seq(
        Tables.region(s, d).select(col("r_name").as("name"), lit("region").as("src")),
        Tables.nation(s, d).select(col("n_name").as("name"), lit("nation").as("src"))))
    },
    oracle = Some("SELECT r_name AS name, 'region' AS src FROM region UNION ALL SELECT n_name AS name, 'nation' AS src FROM nation")),

    // P5 — scalar guard expressions (greatest/when/coalesce), no UDFs.
    QuerySpec("q_p5_scalar_guards", (s, d) => {
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        qround(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 2).as("charge"),
        qround((col("l_quantity") + col("l_tax") * 100) / greatest(col("l_discount") * 100, lit(1.0)), 4).as("kda_like"),
        qround(when(col("l_discount") > 0, col("l_quantity") / col("l_discount")).otherwise(0.0), 4).as("qty_per_disc"))
    },
    oracle = Some("SELECT l_orderkey, l_linenumber, floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100.0 + 0.5) / 100.0 AS charge, floor(((l_quantity + l_tax * 100) / greatest(l_discount * 100, 1.0)) * 10000.0 + 0.5) / 10000.0 AS kda_like, floor((CASE WHEN l_discount > 0 THEN l_quantity / l_discount ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS qty_per_disc FROM lineitem")),

    // P10 — null diagnostics over a join that actually produces nulls.
    QuerySpec("q_p10_null_diagnostics", (s, d) => {
      val c = Tables.customer(s, d).groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("c_cnt"))
      val sp = Tables.supplier(s, d).filter(col("s_acctbal") > 5000)
        .groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("s_cnt"))
      Aggregates.nullDiagnostics(Joins.fullOuterMerge(c, sp, Seq("nationkey")), Seq("c_cnt", "s_cnt"))
    },
    oracle = Some("WITH c AS (SELECT c_nationkey AS nationkey, COUNT(*) AS c_cnt FROM customer GROUP BY 1), s AS (SELECT s_nationkey AS nationkey, COUNT(*) AS s_cnt FROM supplier WHERE s_acctbal > 5000 GROUP BY 1) SELECT CAST(SUM(CASE WHEN c.c_cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_c_cnt, CAST(SUM(CASE WHEN s.s_cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_s_cnt FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey")),

    // Set op — INTERSECT (distinct semantics): customers holding orders in
    // BOTH statuses. Catalyst plans it as aggregate + left-semi join — the
    // same shuffle shape as J2, never a cross product.
    QuerySpec("q_set_intersect", (s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
    },
    oracle = Some("SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'")),

    // Set op — EXCEPT (distinct semantics): customers with open orders but
    // no finished ones. Plans as aggregate + left-anti join (the J5 shape).
    QuerySpec("q_set_except", (s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "O").select("o_custkey")
        .except(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
    },
    oracle = Some("SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'")),

    // Unpivot / melt — wide per-flag aggregate back to long (measure, value)
    // rows. Narrow generate-side expansion: no shuffle beyond the aggregate
    // that built the wide table. Sums run over derived integer cents so the
    // wide values are fold-order-free before the melt.
    QuerySpec("q_unpivot", (s, d) => {
      val li = Tables.lineitem(s, d)
      val wide = li.groupBy("l_returnflag").agg(
        sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("qty_cents"),
        sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("price_cents"))
      wide.unpivot(Array(col("l_returnflag")),
        Array(col("qty_cents"), col("price_cents")), "measure", "val_cents")
    },
    oracle = Some(
      """WITH wide AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_cents,
        |    CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'qty_cents' AS measure, qty_cents AS val_cents FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'price_cents' AS measure, price_cents AS val_cents FROM wide""".stripMargin)),

    // Pairwise Pearson correlation matrix over the lineitem measure block
    // in ONE pass: a single map-side-combined aggregate carries n, 4 sums
    // and 10 pairwise decimal product-sums (one row total); the (x, y)
    // melt explodes that row. The feature-block linear-dependence screen.
    QuerySpec("q_corr_matrix", (s, d) => {
      val li = Tables.lineitem(s, d).select(
        floor(col("l_quantity") + 0.5).cast("long").as("qty"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("price_c"),
        floor(col("l_discount") * 10000 + 0.5).cast("long").as("disc_bp"),
        floor(col("l_tax") * 10000 + 0.5).cast("long").as("tax_bp"))
      graft.ops.Correlation.pearsonMatrix(li,
          Seq("qty", "price_c", "disc_bp", "tax_bp"))
        .select(col("x"), col("y"), col("n"), qround(col("corr"), 6).as("corr"))
    },
    oracle = Some(corrMatrixSql)),

    // Bloom-pruned exact semi join: build a fixed-size bloom sketch over
    // the urgent-order keys (distributed aggregate), pre-filter lineitem
    // with might_contain BEFORE the join shuffle, then confirm survivors
    // with a real left-semi join — exact result, ~1/5th the exchange.
    QuerySpec("q_bloom_semi_join", (s, d) => {
      val keys = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"))
      BloomJoin.prunedSemiJoin(Tables.lineitem(s, d), keys, Seq("l_orderkey"),
          expectedItems = 100000L, numBits = 1L << 20)
        .agg(count(lit(1)).as("cnt"), qround(sum(col("l_quantity")), 2).as("qty"))
    },
    oracle = Some("SELECT CAST(COUNT(*) AS BIGINT) AS cnt, floor((SUM(l_quantity)) * 100.0 + 0.5) / 100.0 AS qty FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')")),

    // Star join — the multi-way analytic shape (TPC-H Q5 family): fact
    // table joined through orders to customer to nation to region, revenue
    // per nation. Catalyst's join reorder + AQE pick broadcast for the
    // dimension chain (region/nation/customer) and keep the single big
    // fact-side shuffle on l_orderkey; revenue sums run in integer cents.
    QuerySpec("q_star_join", (s, d) => {
      val rev = floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5).cast("long")
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" && col("o_orderstatus") =!= "P")
        .groupBy(col("n_name"))
        .agg(sum(rev).as("revenue_cents"), count(lit(1)).as("n_items"))
    },
    oracle = Some(
      """SELECT n_name,
        |  CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderstatus != 'P'
        |GROUP BY 1""".stripMargin),
    sf1 = true),

    // Z-order (Morton) curve — the bit-interleave behind write-side layout
    // clustering (ops.Layout.zValue plus a caller-side range sort on the
    // z-value), verified cross-engine: z-values of
    // (partkey, suppkey) low bytes, aggregated per curve cell. Pure integer
    // shift/and/or Column math, fully inside whole-stage codegen; the
    // locality property itself is proven in LayoutSpec.
    QuerySpec("q_zorder_curve", (s, d) => {
      val z = graft.ops.Layout.zValue(
        Seq(pmod(col("l_partkey"), lit(256L)), pmod(col("l_suppkey"), lit(256L))), bits = 8)
      Tables.lineitem(s, d).withColumn("zval", z)
        .groupBy("zval").agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("min_key"))
    },
    oracle = Some(s"SELECT CAST(($zTerms) AS BIGINT) AS zval, CAST(count(*) AS BIGINT) AS n, min(l_orderkey) AS min_key FROM lineitem GROUP BY 1")),

    // Hilbert-curve cells over the same (partkey, suppkey) lattice as
    // q_zorder_curve — the locality-superior space-filling alternative
    // (no quadrant-boundary jumps). The curve is a driver-built 65k-row
    // DIMENSION broadcast under the fact scan (the scale path — the
    // unrolled expression form is Θ(3^bits) and leaves codegen past
    // order 5; LayoutSpec pins expression ≡ lattice at order 4).
    QuerySpec("q_hilbert_curve", (s, d) => {
      val lattice = graft.ops.Layout.hilbertLattice(s, bits = 8)
      Tables.lineitem(s, d)
        .withColumn("hx", pmod(col("l_partkey"), lit(256L)))
        .withColumn("hy", pmod(col("l_suppkey"), lit(256L)))
        .join(broadcast(lattice), Seq("hx", "hy"))
        .groupBy("hval").agg(count(lit(1)).as("n"),
          min(col("l_orderkey")).as("min_key"))
    },
    oracle = Some(hilbertSql)),

    // Equi-width bucketize / discretization — the two-pass
    // collect-stats-then-broadcast shape (SURVEY §4): a 1-row global
    // min/max aggregate broadcast under every row, then pure arithmetic
    // binning. The formula is the literal same IEEE-754 expression in both
    // engines, so bin edges agree bit-for-bit.
    QuerySpec("q_bucketize", (s, d) => {
      val li = Tables.lineitem(s, d)
      val stats = li.agg(min(col("l_extendedprice")).as("lo"), max(col("l_extendedprice")).as("hi"))
      li.crossJoin(broadcast(stats))
        .withColumn("bin",
          graft.ops.Layout.quantizeN(col("l_extendedprice"), col("lo"), col("hi"), 20))
        .groupBy("bin").agg(count(lit(1)).as("n"))
    },
    oracle = Some(
      """WITH st AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem)
        |SELECT CAST(least(floor(((l_extendedprice - lo) / (hi - lo)) * 20.0), 19.0) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem, st GROUP BY 1""".stripMargin)),

    // Single-pass ingest-gate profile: counts/nulls/distinct/min/max for a
    // mixed numeric/string/timestamp column set, ONE aggregate job (the
    // multi-distinct lowers to Expand with map-side partials).
    QuerySpec("q_data_profile", (s, d) => {
      Profiler.profile(Tables.lineitem(s, d),
        Seq("l_quantity", "l_returnflag", "l_suppkey", "l_shipdate"))
    },
    oracle = Some {
      def num(c: String, expr: String) =
        s"""SELECT '$c' AS col_name, 'n_rows' AS metric, CAST(count(*) AS DOUBLE) AS value_num, CAST(NULL AS VARCHAR) AS value_str FROM lineitem
           |UNION ALL SELECT '$c', 'n_nulls', CAST(count(*) FILTER ($c IS NULL) AS DOUBLE), NULL FROM lineitem
           |UNION ALL SELECT '$c', 'n_distinct', CAST(count(DISTINCT $c) AS DOUBLE), NULL FROM lineitem
           |UNION ALL SELECT '$c', 'min', CAST(min($expr) AS DOUBLE), NULL FROM lineitem
           |UNION ALL SELECT '$c', 'max', CAST(max($expr) AS DOUBLE), NULL FROM lineitem""".stripMargin
      def str(c: String) =
        s"""SELECT '$c' AS col_name, 'n_rows' AS metric, CAST(count(*) AS DOUBLE) AS value_num, CAST(NULL AS VARCHAR) AS value_str FROM lineitem
           |UNION ALL SELECT '$c', 'n_nulls', CAST(count(*) FILTER ($c IS NULL) AS DOUBLE), NULL FROM lineitem
           |UNION ALL SELECT '$c', 'n_distinct', CAST(count(DISTINCT $c) AS DOUBLE), NULL FROM lineitem
           |UNION ALL SELECT '$c', 'min', CAST(NULL AS DOUBLE), min($c) FROM lineitem
           |UNION ALL SELECT '$c', 'max', CAST(NULL AS DOUBLE), max($c) FROM lineitem""".stripMargin
      Seq(num("l_quantity", "l_quantity"), str("l_returnflag"),
        num("l_suppkey", "l_suppkey"), num("l_shipdate", "epoch_us(l_shipdate)"))
        .mkString("\nUNION ALL ")
    }),

    // Declarative constraint validation over orders: the row-level checks +
    // uniqueness fold into one aggregate; the FK check is an anti-join
    // count against customer (AQE broadcasts the dim).
    QuerySpec("q_constraint_check", (s, d) => {
      Profiler.check(Tables.orders(s, d), Seq(
        Profiler.NotNull("o_custkey"),
        Profiler.InRange("o_totalprice", 0.0, 150000.0),
        Profiler.InSet("o_orderstatus", Seq("F", "O")),
        Profiler.Matches("o_orderpriority", "^[0-9]-"),
        Profiler.Unique(Seq("o_orderkey")),
        Profiler.ForeignKey("o_custkey", Tables.customer(s, d), "c_custkey")))
    },
    oracle = Some(
      """SELECT 'not_null(o_custkey)' AS constraint_name, CAST(count(*) FILTER (o_custkey IS NULL) AS BIGINT) AS violations FROM orders
        |UNION ALL SELECT 'in_range(o_totalprice)', CAST(count(*) FILTER (o_totalprice IS NOT NULL AND (o_totalprice < 0.0 OR o_totalprice > 150000.0)) AS BIGINT) FROM orders
        |UNION ALL SELECT 'in_set(o_orderstatus)', CAST(count(*) FILTER (o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F','O')) AS BIGINT) FROM orders
        |UNION ALL SELECT 'matches(o_orderpriority)', CAST(count(*) FILTER (o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[0-9]-')) AS BIGINT) FROM orders
        |UNION ALL SELECT 'unique(o_orderkey)', CAST(count(*) FILTER (o_orderkey IS NOT NULL) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |UNION ALL SELECT 'foreign_key(o_custkey)', CAST((SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL AND o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT)""".stripMargin)),

    // Fixed-point integer PageRank over the symmetrized customer↔supplier
    // trade graph (orders ⋈ lineitem). Bit-stable cross-engine by
    // construction — the oracle unrolls the same BIGINT recurrence as
    // chained CTEs. Node ids are namespaced (even=customer, odd=supplier).
    QuerySpec("q_graph_pagerank", (s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      // checkpoint before the symmetrizing union (round 16, guide §2.4):
      // without it BOTH union arms re-run the orders⋈lineitem join +
      // distinct — the sf1 stage profile showed the whole edge-build
      // chain twice (2 × ~60 MB scan+join mass) before the loop started
      val pairs = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
        .localCheckpoint(false)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      GraphRank.pageRankFixedPoint(edges, iterations = 5)
    },
    oracle = Some(pageRankOracle),
    sf1 = true),

    // Personalized PageRank from a customer seed set (every 10th custkey):
    // teleport mass returns only to seeds, so ranks measure proximity to
    // the seed cohort under the damped walk — the seed-expansion /
    // crawl-prioritization primitive. Same integer recurrence, oracle
    // unrolled with a seed-conditional teleport.
    QuerySpec("q_graph_ppr", (s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      // checkpoint before the union — see q_graph_pagerank
      val pairs = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
        .localCheckpoint(false)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      val seeds = o.filter(col("o_custkey") % 10 === 0)
        .select((col("o_custkey") * 2).as("node")).distinct()
      GraphRank.personalizedPageRank(edges, seeds, iterations = 5)
    },
    oracle = Some(pprOracle),
    sf1 = true),

    // WEIGHTED fixed-point PageRank over the same trade graph: edge
    // weight = order-line count between customer and supplier, so the
    // walk follows trade VOLUME instead of flattened adjacency. Same
    // integer recurrence with (pr·w) div Σw hops; oracle unrolled.
    QuerySpec("q_graph_pagerank_w", (s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      val pairs = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint(false) // see q_graph_pagerank
      val edges = pairs
        .select(col("a").as("src"), col("b").as("dst"), col("w").as("weight"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst"),
          col("w").as("weight")))
      GraphRank.pageRankWeighted(edges, iterations = 5)
    },
    oracle = Some(pageRankWeightedOracle)),

    // Snapshot drift report (Profiler.profileDiff): the full lineitem
    // profile vs a drifted batch (high-quantity rows only) — null-safe
    // changed flags + numeric relative deltas per (column, metric).
    QuerySpec("q_profile_drift", (s, d) => {
      val li = Tables.lineitem(s, d)
      Profiler.profileDiff(li, li.filter(col("l_quantity") >= 25),
          Seq("l_quantity", "l_returnflag", "l_suppkey"))
        .select(col("col_name"), col("metric"), col("old_num"), col("new_num"),
          col("old_str"), col("new_str"), col("changed"),
          qround(col("rel_delta"), 6).as("rel_delta"))
    },
    oracle = Some {
      def num(src: String, side: String, c: String, expr: String) =
        s"""SELECT '$c' AS col_name, 'n_rows' AS metric, CAST(count(*) AS DOUBLE) AS ${side}_num, CAST(NULL AS VARCHAR) AS ${side}_str FROM $src
           |UNION ALL SELECT '$c', 'n_nulls', CAST(count(*) FILTER ($c IS NULL) AS DOUBLE), NULL FROM $src
           |UNION ALL SELECT '$c', 'n_distinct', CAST(count(DISTINCT $c) AS DOUBLE), NULL FROM $src
           |UNION ALL SELECT '$c', 'min', CAST(min($expr) AS DOUBLE), NULL FROM $src
           |UNION ALL SELECT '$c', 'max', CAST(max($expr) AS DOUBLE), NULL FROM $src""".stripMargin
      def str(src: String, side: String, c: String) =
        s"""SELECT '$c' AS col_name, 'n_rows' AS metric, CAST(count(*) AS DOUBLE) AS ${side}_num, CAST(NULL AS VARCHAR) AS ${side}_str FROM $src
           |UNION ALL SELECT '$c', 'n_nulls', CAST(count(*) FILTER ($c IS NULL) AS DOUBLE), NULL FROM $src
           |UNION ALL SELECT '$c', 'n_distinct', CAST(count(DISTINCT $c) AS DOUBLE), NULL FROM $src
           |UNION ALL SELECT '$c', 'min', CAST(NULL AS DOUBLE), min($c) FROM $src
           |UNION ALL SELECT '$c', 'max', CAST(NULL AS DOUBLE), max($c) FROM $src""".stripMargin
      def prof(src: String, side: String) =
        Seq(num(src, side, "l_quantity", "l_quantity"),
          str(src, side, "l_returnflag"),
          num(src, side, "l_suppkey", "l_suppkey")).mkString("\nUNION ALL ")
      s"""WITH drift AS (SELECT * FROM lineitem WHERE l_quantity >= 25),
         |po AS (${prof("lineitem", "old")}),
         |pn AS (${prof("drift", "new")})
         |SELECT po.col_name, po.metric, old_num, new_num, old_str, new_str,
         |  (old_num IS DISTINCT FROM new_num) OR (old_str IS DISTINCT FROM new_str) AS changed,
         |  CASE WHEN old_num IS NOT NULL AND old_num <> 0.0 THEN
         |    floor(((new_num - old_num) / old_num) * 1000000.0 + 0.5) / 1000000.0
         |  END AS rel_delta
         |FROM po JOIN pn ON po.col_name = pn.col_name AND po.metric = pn.metric""".stripMargin
    }),

    // Skew-safe salted JOIN, oracle-proven: orders (skewed fact) salted
    // against the ×salt-replicated customer dim, re-aggregated per
    // nation — the salt must be invisible in the result, so the oracle
    // is the PLAIN join + aggregate. (saltedAgg already has this
    // evidence via q_salted_agg; this closes the join path too.)
    QuerySpec("q_salted_join", (s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val c = Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      graft.ops.Partitioning.saltedJoin(o, c, Seq("o_custkey"), salt = 8)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
    },
    oracle = Some(
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin)),

    // Benford first-digit audit on extended-price cents — the
    // fabricated-data screen: observed leading-digit fractions next to
    // the log10(1+1/d) expectation, one 9-row aggregate + a 1-row total
    // broadcast. (TPC-H prices are range-constructed, so the deviation
    // itself is informative — the audit TABLE is the checked surface.)
    QuerySpec("q_benford", (s, d) => {
      val li = Tables.lineitem(s, d)
        .withColumn("cents", floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
      Profiler.benfordAudit(li, "cents")
        .select(col("digit"), col("n_obs"),
          qround(col("obs_frac"), 6).as("obs_frac"),
          qround(col("exp_frac"), 6).as("exp_frac"))
    },
    oracle = Some(
      """WITH c AS (
        |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |dg AS (
        |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n_obs
        |  FROM c WHERE cents > 0 GROUP BY 1),
        |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS tt FROM dg)
        |SELECT digit, n_obs,
        |  floor((CAST(n_obs AS DOUBLE) / CAST(tt AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS obs_frac,
        |  floor((ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)) * 1000000.0 + 0.5) / 1000000.0 AS exp_frac
        |FROM dg, t""".stripMargin)),

    // Per-node triangle counts over the strong co-supplier graph: suppliers
    // linked by both shipping the same part in high volume (l_quantity ≥
    // 45), with part fan-out capped at 16 qualifying suppliers — the same
    // guard as winnowing's 5% df cut. Without the gate + cap the graph is a
    // near-clique at bench SF (every supplier pair co-supplies SOME part)
    // and the bench measures a degenerate input forever; a hub part would
    // emit C(fanout, 2) clique edges at any scale. Counting itself is the
    // adjacency-intersection form (no wedge materialization); the oracle
    // enumerates the same canonical edge set with a 3-way self-join
    // (exact integer counts, no orientation needed at oracle scale).
    QuerySpec("q_graph_triangles", (s, d) => {
      val ps = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 45)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val ok = ps.groupBy("l_partkey").agg(count(lit(1)).as("fan"))
        .filter(col("fan") <= 16).select("l_partkey")
      // checkpoint: BOTH sides of the co-supplier self-join read ps2 —
      // without the cut the lineitem distinct + fan filter run twice
      val ps2 = ps.join(ok, "l_partkey").localCheckpoint(false)
      val a = ps2.as("a"); val b = ps2.as("b")
      val edges = a.join(b, col("a.l_partkey") === col("b.l_partkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
      GraphRank.triangleCountsAdjacency(edges)
    },
    oracle = Some(
      """WITH ps0 AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem WHERE l_quantity >= 45),
        |ok AS (SELECT l_partkey FROM ps0 GROUP BY 1 HAVING count(*) <= 16),
        |ps AS (SELECT ps0.l_partkey, ps0.l_suppkey FROM ps0 JOIN ok ON ps0.l_partkey = ok.l_partkey),
        |e AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v FROM ps a
        |  JOIN ps b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
        |t AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |  FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS tri_cnt FROM (
        |  SELECT x AS node FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
        |GROUP BY 1""".stripMargin),
    sf1 = true),

    // Degree distribution + Hill tail index of the part→supplier fan-out:
    // the graph-profiling pass that justifies every degree cap in the
    // library. Exact histogram; the tail ln-sum attaches per DEGREE
    // (1e-9-quantized, integer-summed — order-free), α̂ is one division.
    QuerySpec("q_degree_dist", (s, d) => {
      val edges = Tables.lineitem(s, d)
        .select(col("l_partkey").as("src"), col("l_suppkey").as("dst"))
      GraphRank.degreeDistribution(edges, dmin = 4L)
        .select(col("degree"), col("n_nodes"),
          qround(col("frac"), 6).as("frac"), col("n_tail"),
          qround(col("alpha"), 6).as("alpha"))
    },
    oracle = Some(
      """WITH e AS (SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem
        |  WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
        |dg AS (SELECT src, count(*) AS degree FROM e GROUP BY 1),
        |h AS (SELECT degree, count(*) AS n_nodes FROM dg GROUP BY 1),
        |w AS (SELECT *, SUM(n_nodes) OVER () AS total,
        |    SUM(CASE WHEN degree >= 4 THEN n_nodes ELSE 0 END) OVER () AS n_tail,
        |    SUM(CASE WHEN degree >= 4 THEN n_nodes *
        |      CAST(floor(ln(CAST(degree AS DOUBLE) / 4) * 1000000000.0 + 0.5) AS BIGINT)
        |      ELSE 0 END) OVER () AS lnsum
        |  FROM h)
        |SELECT CAST(degree AS BIGINT) AS degree, CAST(n_nodes AS BIGINT) AS n_nodes,
        |  floor((CAST(n_nodes AS DOUBLE) / total) * 1000000.0 + 0.5) / 1000000.0 AS frac,
        |  CAST(n_tail AS BIGINT) AS n_tail,
        |  CASE WHEN lnsum > 0 THEN
        |    floor((1.0 + CAST(n_tail AS DOUBLE) / (CAST(lnsum AS DOUBLE) / 1000000000.0)) * 1000000.0 + 0.5) / 1000000.0
        |  END AS alpha
        |FROM w""".stripMargin)),

    // HITS hubs & authorities on the supplier→part bipartite graph: the
    // two-sided prestige ranking (well-sourced parts vs broad suppliers)
    // PageRank's single score can't express. Two exact-integer sweeps,
    // one L1-normalizing division per side at readout.
    QuerySpec("q_graph_hits", (s, d) => {
      val edges = Tables.lineitem(s, d)
        .select(col("l_suppkey").as("src"), col("l_partkey").as("dst"))
      GraphRank.hitsScores(edges, iterations = 2)
        .select(col("kind"), col("id"), col("raw"),
          qround(col("score"), 9).as("score"))
    },
    oracle = Some(
      """WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem
        |  WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL),
        |a1 AS (SELECT dst, CAST(count(*) AS BIGINT) AS a FROM e GROUP BY 1),
        |h1 AS (SELECT src, SUM(a) AS h FROM e JOIN a1 USING (dst) GROUP BY 1),
        |a2 AS (SELECT dst, SUM(h) AS a FROM e JOIN h1 USING (src) GROUP BY 1),
        |h2 AS (SELECT src, SUM(a) AS h FROM e JOIN a2 USING (dst) GROUP BY 1),
        |at AS (SELECT SUM(a) AS t FROM a2), ht AS (SELECT SUM(h) AS t FROM h2)
        |SELECT 'authority' AS kind, CAST(dst AS BIGINT) AS id, CAST(a AS DOUBLE) AS raw,
        |  floor((CAST(a AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000000.0 + 0.5) / 1000000000.0 AS score
        |FROM a2, at
        |UNION ALL
        |SELECT 'hub' AS kind, CAST(src AS BIGINT) AS id, CAST(h AS DOUBLE) AS raw,
        |  floor((CAST(h AS DOUBLE) / CAST(t AS DOUBLE)) * 1000000000.0 + 0.5) / 1000000000.0 AS score
        |FROM h2, ht""".stripMargin),
    // sf1: 2 joins + 2 aggs per sweep over the 10× bipartite graph
    sf1 = true),

    // k-core of the same co-supplier graph (k=3, 4 pinned peel rounds so
    // the oracle can unroll the identical recurrence; the convergence
    // form is KCoreSpec's) — the dense-subgraph pruning primitive.
    QuerySpec("q_kcore", (s, d) => {
      val ps = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 45)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val ok = ps.groupBy("l_partkey").agg(count(lit(1)).as("fan"))
        .filter(col("fan") <= 16).select("l_partkey")
      // checkpoint: BOTH sides of the co-supplier self-join read ps2 —
      // without the cut the lineitem distinct + fan filter run twice
      val ps2 = ps.join(ok, "l_partkey").localCheckpoint(false)
      val a = ps2.as("a"); val b = ps2.as("b")
      val edges = a.join(b, col("a.l_partkey") === col("b.l_partkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
      GraphRank.kCorePeeled(edges, k = 3, rounds = 4)
    },
    oracle = Some(// AS MATERIALIZED is load-bearing on every stage: each peel round
      // references its predecessor edge set THREE times (FROM + two IN
      // subqueries), so inlined CTEs re-expand the e0 self-join ~3^4
      // times — the difference between ~0.06 s and ~16 min in DuckDB.
      """WITH ps0 AS MATERIALIZED (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem WHERE l_quantity >= 45),
        |ok AS MATERIALIZED (SELECT l_partkey FROM ps0 GROUP BY 1 HAVING count(*) <= 16),
        |ps AS MATERIALIZED (SELECT ps0.l_partkey, ps0.l_suppkey FROM ps0 JOIN ok ON ps0.l_partkey = ok.l_partkey),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v FROM ps a
        |  JOIN ps b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
        |d1 AS MATERIALIZED (SELECT node, count(*) AS deg FROM
        |  (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
        |n1 AS MATERIALIZED (SELECT node FROM d1 WHERE deg >= 3),
        |e1 AS MATERIALIZED (SELECT u, v FROM e0 WHERE u IN (SELECT node FROM n1) AND v IN (SELECT node FROM n1)),
        |d2 AS MATERIALIZED (SELECT node, count(*) AS deg FROM
        |  (SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1) GROUP BY 1),
        |n2 AS MATERIALIZED (SELECT node FROM d2 WHERE deg >= 3),
        |e2 AS MATERIALIZED (SELECT u, v FROM e1 WHERE u IN (SELECT node FROM n2) AND v IN (SELECT node FROM n2)),
        |d3 AS MATERIALIZED (SELECT node, count(*) AS deg FROM
        |  (SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2) GROUP BY 1),
        |n3 AS MATERIALIZED (SELECT node FROM d3 WHERE deg >= 3),
        |e3 AS MATERIALIZED (SELECT u, v FROM e2 WHERE u IN (SELECT node FROM n3) AND v IN (SELECT node FROM n3)),
        |d4 AS MATERIALIZED (SELECT node, count(*) AS deg FROM
        |  (SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3) GROUP BY 1),
        |n4 AS MATERIALIZED (SELECT node FROM d4 WHERE deg >= 3),
        |e4 AS MATERIALIZED (SELECT u, v FROM e3 WHERE u IN (SELECT node FROM n4) AND v IN (SELECT node FROM n4))
        |SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS deg FROM
        |  (SELECT u AS node FROM e4 UNION ALL SELECT v FROM e4)
        |GROUP BY 1 HAVING count(*) >= 3""".stripMargin)),

    // Deterministic label propagation (3 pinned synchronous rounds; ties
    // to the smallest label) on the co-supplier graph — the lightweight
    // community pass. The oracle unrolls the identical recurrence.
    QuerySpec("q_label_prop", (s, d) => {
      val ps = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 45)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val ok = ps.groupBy("l_partkey").agg(count(lit(1)).as("fan"))
        .filter(col("fan") <= 16).select("l_partkey")
      // checkpoint: BOTH sides of the co-supplier self-join read ps2 —
      // without the cut the lineitem distinct + fan filter run twice
      val ps2 = ps.join(ok, "l_partkey").localCheckpoint(false)
      val a = ps2.as("a"); val b = ps2.as("b")
      val edges = a.join(b, col("a.l_partkey") === col("b.l_partkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
      GraphRank.labelPropagationPinned(edges, rounds = 3)
    },
    oracle = Some(
      """WITH ps0 AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem WHERE l_quantity >= 45),
        |ok AS (SELECT l_partkey FROM ps0 GROUP BY 1 HAVING count(*) <= 16),
        |ps AS (SELECT ps0.l_partkey, ps0.l_suppkey FROM ps0 JOIN ok ON ps0.l_partkey = ok.l_partkey),
        |e AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v FROM ps a
        |  JOIN ps b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
        |sym AS (SELECT u AS node, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
        |l0 AS (SELECT DISTINCT node, node AS label FROM sym),
        |c1 AS (SELECT s.node, l.label, count(*) AS cnt FROM sym s
        |  JOIN l0 l ON l.node = s.nbr GROUP BY 1, 2),
        |l1 AS (SELECT node, min(label) AS label FROM (
        |    SELECT node, label, cnt, max(cnt) OVER (PARTITION BY node) AS mx FROM c1)
        |  WHERE cnt = mx GROUP BY 1),
        |c2 AS (SELECT s.node, l.label, count(*) AS cnt FROM sym s
        |  JOIN l1 l ON l.node = s.nbr GROUP BY 1, 2),
        |l2 AS (SELECT node, min(label) AS label FROM (
        |    SELECT node, label, cnt, max(cnt) OVER (PARTITION BY node) AS mx FROM c2)
        |  WHERE cnt = mx GROUP BY 1),
        |c3 AS (SELECT s.node, l.label, count(*) AS cnt FROM sym s
        |  JOIN l2 l ON l.node = s.nbr GROUP BY 1, 2),
        |l3 AS (SELECT node, min(label) AS label FROM (
        |    SELECT node, label, cnt, max(cnt) OVER (PARTITION BY node) AS mx FROM c3)
        |  WHERE cnt = mx GROUP BY 1)
        |SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label FROM l3""".stripMargin)),

    // Newman modularity of the nation partition over the strong
    // co-supplier graph (GraphRank.modularity): does geography explain
    // the co-supply structure? Exact integer edge/degree masses per
    // community; per-community q_term fixed IEEE; total on the 1e-12
    // long grid. One edge-list pass; |nations|-row algebra after.
    QuerySpec("q_graph_modularity", (s, d) => {
      val ps = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 45)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val ok = ps.groupBy("l_partkey").agg(count(lit(1)).as("fan"))
        .filter(col("fan") <= 16).select("l_partkey")
      // checkpoint: BOTH sides of the co-supplier self-join read ps2 —
      // without the cut the lineitem distinct + fan filter run twice
      val ps2 = ps.join(ok, "l_partkey").localCheckpoint(false)
      val a = ps2.as("a"); val b = ps2.as("b")
      val edges = a.join(b, col("a.l_partkey") === col("b.l_partkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
        .distinct()
      val comm = Tables.supplier(s, d)
        .select(col("s_suppkey").as("id"), col("s_nationkey").as("comm"))
      GraphRank.modularity(edges, comm)
        .select(col("comm"), col("n_nodes"), col("e_in"), col("deg_sum"),
          col("m"), qround(col("q_term"), 9).as("q_term"),
          qround(col("q_total"), 9).as("q_total"))
    },
    oracle = Some(// same capped co-supplier edge set; communities = supplier nation;
      // q_total sums per-community 1e-12-grid longs
      """WITH ps0 AS MATERIALIZED (SELECT DISTINCT l_partkey, l_suppkey
        |  FROM lineitem WHERE l_quantity >= 45),
        |ok AS (SELECT l_partkey FROM ps0 GROUP BY 1 HAVING count(*) <= 16),
        |ps AS (SELECT ps0.* FROM ps0 JOIN ok USING (l_partkey)),
        |e AS MATERIALIZED (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
        |    AND a.l_suppkey < b.l_suppkey),
        |m1 AS (SELECT count(*) AS m FROM e),
        |deg AS (SELECT id, count(*) AS deg FROM (
        |    SELECT src AS id FROM e UNION ALL SELECT dst FROM e) GROUP BY 1),
        |cm AS (SELECT s_suppkey AS id, s_nationkey AS comm FROM supplier),
        |ein AS (SELECT cs.comm AS comm, count(*) AS e_in
        |  FROM e JOIN cm cs ON cs.id = e.src JOIN cm cd ON cd.id = e.dst
        |  WHERE cs.comm = cd.comm GROUP BY 1),
        |dc AS (SELECT cm.comm, SUM(deg.deg) AS deg_sum, count(*) AS n_nodes
        |  FROM deg JOIN cm ON cm.id = deg.id GROUP BY 1),
        |qt AS (SELECT dc.comm, dc.n_nodes, coalesce(ein.e_in, 0) AS e_in,
        |    dc.deg_sum, m1.m,
        |    CAST(coalesce(ein.e_in, 0) AS DOUBLE) / m1.m -
        |      (CAST(dc.deg_sum AS DOUBLE) / (2.0 * CAST(m1.m AS DOUBLE))) *
        |      (CAST(dc.deg_sum AS DOUBLE) / (2.0 * CAST(m1.m AS DOUBLE))) AS q_term
        |  FROM dc LEFT JOIN ein ON ein.comm = dc.comm, m1),
        |qq AS (SELECT *, CAST(floor(q_term * 1000000000000.0 + 0.5) AS BIGINT) AS q12
        |  FROM qt)
        |SELECT comm, CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(e_in AS BIGINT) AS e_in, CAST(deg_sum AS BIGINT) AS deg_sum,
        |  CAST(m AS BIGINT) AS m,
        |  floor(q_term * 1000000000.0 + 0.5) / 1000000000.0 AS q_term,
        |  floor((CAST(SUM(q12) OVER () AS DOUBLE) / 1000000000000.0)
        |    * 1000000000.0 + 0.5) / 1000000000.0 AS q_total
        |FROM qq""".stripMargin)),

    // Pinned 3-hop multi-source BFS from the mod-10 customer seeds over
    // the symmetrized bipartite trade graph (q_graph_ppr's seeds and
    // edges): hop distance = supplier at 1, co-purchasing customer at 2,
    // their other suppliers at 3 — the blast-radius / neighborhood-
    // expansion primitive. Unreached nodes are absent; the oracle unrolls
    // the identical min-distance recurrence as chained CTEs.
    QuerySpec("q_bfs_hops", (s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      val pairs = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
        .localCheckpoint(false) // see q_graph_pagerank
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      val seeds = o.filter(col("o_custkey") % 10 === 0)
        .select((col("o_custkey") * 2).as("node")).distinct()
      GraphRank.bfsHopsPinned(edges, seeds, rounds = 3)
    },
    oracle = Some(// each dist table feeds both the next expansion join and the next
      // min-union — MATERIALIZED stops DuckDB re-expanding the chain
      """WITH p AS MATERIALIZED (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
        |d0 AS MATERIALIZED (SELECT DISTINCT o_custkey*2 AS node, 0 AS dist
        |  FROM orders WHERE o_custkey % 10 = 0),
        |c1 AS (SELECT e.dst AS node, min(d.dist + 1) AS dist
        |  FROM e JOIN d0 d ON e.src = d.node GROUP BY 1),
        |d1 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
        |    SELECT node, dist FROM d0 UNION ALL SELECT node, dist FROM c1) GROUP BY 1),
        |c2 AS (SELECT e.dst AS node, min(d.dist + 1) AS dist
        |  FROM e JOIN d1 d ON e.src = d.node GROUP BY 1),
        |d2 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
        |    SELECT node, dist FROM d1 UNION ALL SELECT node, dist FROM c2) GROUP BY 1),
        |c3 AS (SELECT e.dst AS node, min(d.dist + 1) AS dist
        |  FROM e JOIN d2 d ON e.src = d.node GROUP BY 1),
        |d3 AS (SELECT node, min(dist) AS dist FROM (
        |    SELECT node, dist FROM d2 UNION ALL SELECT node, dist FROM c3) GROUP BY 1)
        |SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist FROM d3""".stripMargin),
    // sf1: the per-round edge join must stay linear in |edges|
    sf1 = true),

    // Common-neighbor link prediction on the BIPARTITE trade graph
    // (customers ⨯ suppliers — two suppliers are never adjacent, so
    // predicted links are co-purchasing affinities through shared
    // low-degree customers; hub customers are the capped apexes). The
    // report is each node's BEST predicted partner — rank on the
    // 6dp-rounded Jaccard + partner tie-break (the repo's stable-rank
    // idiom) so float luck can't reorder cross-engine.
    // Degree-weighted negative sampling (the word2vec unigram^0.75
    // table on the trade graph): 3 deterministic md5-inverse-CDF draws
    // per positive edge, resolved through the bucketized interval join;
    // true-neighbor hits flagged, not dropped. Candidate weights and
    // draws replay exactly in the oracle.
    QuerySpec("q_negative_samples", (s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .filter(col("o_custkey") < 300)
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      GraphRank.negativeSamples(edges, k = 3)
    },
    oracle = Some(// identical weight quantization, md5-60 uniform, and [lo, hi)
      // inverse-CDF; j cast BIGINT to match the exploded long sequence
      """WITH e AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_custkey < 300),
        |deg AS (SELECT dst AS cand, count(*) AS d FROM e GROUP BY 1),
        |w AS (SELECT cand,
        |    CAST(floor(pow(CAST(d AS DOUBLE), 0.75) * 1000000.0 + 0.5) AS BIGINT) AS w
        |  FROM deg),
        |c AS (SELECT cand,
        |    CAST(SUM(w) OVER (ORDER BY cand) - w AS BIGINT) AS lo,
        |    CAST(SUM(w) OVER (ORDER BY cand) AS BIGINT) AS hi FROM w),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS wt FROM w),
        |draws AS (SELECT src, dst, CAST(j AS BIGINT) AS j,
        |    CAST(floor((('0x' || substr(md5(src || ':' || dst || ':' || j), 1, 15))::BIGINT
        |      / 1152921504606846976.0) * CAST(wt AS DOUBLE)) AS BIGINT) AS t
        |  FROM e, range(1, 4) r(j), tot),
        |hit AS (SELECT d.src, d.dst, d.j, c.cand AS neg_id
        |  FROM draws d JOIN c ON d.t >= c.lo AND d.t < c.hi)
        |SELECT h.src, h.dst, h.j, h.neg_id,
        |  (p.dst IS NOT NULL) AS is_positive
        |FROM hit h LEFT JOIN e p ON p.src = h.src AND p.dst = h.neg_id""".stripMargin),
    // sf1: Θ(k·edges) probes through the bucketized interval join —
    // superlinearity means the bucket replication or the probe side broke
    sf1 = true),

    QuerySpec("q_link_predict", (s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      val scored = GraphRank.linkPredictionScores(edges, maxDegree = 64)
        .withColumn("j6", qround(col("jaccard"), 6))
      val both = scored.select(col("a").as("node"), col("b").as("partner"),
          col("cn"), col("j6"))
        .unionByName(scored.select(col("b").as("node"), col("a").as("partner"),
          col("cn"), col("j6")))
      both.withColumn("rnk", row_number().over(
          Window.partitionBy(col("node"))
            .orderBy(col("j6").desc, col("cn").desc, col("partner").asc)))
        .filter(col("rnk") === 1)
        .select(col("node"), col("partner"), col("cn"), col("j6").as("jaccard"))
    },
    oracle = Some(
      """WITH e0 AS (SELECT DISTINCT o_custkey*2 AS u, l_suppkey*2+1 AS v
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM e0),
        |deg AS (SELECT node, count(*) AS deg FROM
        |  (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |sym AS (SELECT u AS apex, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
        |small AS (SELECT s.apex, s.nbr FROM sym s
        |  JOIN deg d ON d.node = s.apex AND d.deg <= 64),
        |w AS (SELECT x.nbr AS a, y.nbr AS b FROM small x
        |  JOIN small y ON x.apex = y.apex AND x.nbr < y.nbr),
        |cn AS (SELECT a, b, count(*) AS cn FROM w GROUP BY 1, 2),
        |nonadj AS (SELECT cn.a, cn.b, cn.cn FROM cn
        |  LEFT JOIN e ON e.u = cn.a AND e.v = cn.b WHERE e.u IS NULL),
        |scored AS (SELECT n.a, n.b, n.cn,
        |    floor((CAST(n.cn AS DOUBLE) / (da.deg + db.deg - n.cn)) * 1000000.0 + 0.5) / 1000000.0 AS j6
        |  FROM nonadj n JOIN deg da ON da.node = n.a JOIN deg db ON db.node = n.b),
        |bidir AS (SELECT a AS node, b AS partner, cn, j6 FROM scored
        |  UNION ALL SELECT b, a, cn, j6 FROM scored),
        |rk AS (SELECT node, partner, cn, j6, row_number() OVER (
        |    PARTITION BY node ORDER BY j6 DESC, cn DESC, partner ASC) AS rnk
        |  FROM bidir)
        |SELECT CAST(node AS BIGINT) AS node, CAST(partner AS BIGINT) AS partner,
        |  CAST(cn AS BIGINT) AS cn, j6 AS jaccard
        |FROM rk WHERE rnk = 1""".stripMargin)),

    // Adamic–Adar + Resource-Allocation link scores over the same
    // customer–supplier graph as q_link_predict — the hub-discounted
    // common-neighbor weights (a shared degree-2 neighbor is evidence,
    // a shared hub is noise); top-50 global pairs by rounded AA.
    QuerySpec("q_link_predict_aa", (s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      GraphRank.linkPredictionWeighted(edges, maxDegree = 64)
        .select(col("a"), col("b"), col("cn"),
          qround(col("aa"), 9).as("aa"), qround(col("ra"), 9).as("ra"))
        .orderBy(col("aa").desc, col("a").asc, col("b").asc)
        .limit(50)
    },
    oracle = Some(// per-wedge 1/ln(deg) and 1/deg on the 1e-12 grid; exact long sums
      // (mirrors GraphRank.linkPredictionWeighted, maxDegree = 64)
      """WITH e0 AS (SELECT DISTINCT o_custkey*2 AS u, l_suppkey*2+1 AS v
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM e0),
        |deg AS (SELECT node, count(*) AS deg FROM
        |  (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |sym AS (SELECT u AS apex, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
        |small AS (SELECT s.apex, s.nbr, d.deg AS adeg FROM sym s
        |  JOIN deg d ON d.node = s.apex AND d.deg <= 64),
        |w AS (SELECT x.nbr AS a, y.nbr AS b,
        |    CAST(floor(1000000000000.0 / ln(CAST(x.adeg AS DOUBLE)) + 0.5) AS BIGINT) AS aa12,
        |    CAST(floor(1000000000000.0 / CAST(x.adeg AS DOUBLE) + 0.5) AS BIGINT) AS ra12
        |  FROM small x JOIN small y ON x.apex = y.apex AND x.nbr < y.nbr),
        |cn AS (SELECT a, b, count(*) AS cn, SUM(aa12) AS saa, SUM(ra12) AS sra
        |  FROM w GROUP BY 1, 2),
        |nonadj AS (SELECT cn.* FROM cn
        |  LEFT JOIN e ON e.u = cn.a AND e.v = cn.b WHERE e.u IS NULL),
        |scored AS (SELECT a, b, cn,
        |    floor((CAST(saa AS DOUBLE) / 1000000000000.0) * 1000000000.0 + 0.5)
        |      / 1000000000.0 AS aa,
        |    floor((CAST(sra AS DOUBLE) / 1000000000000.0) * 1000000000.0 + 0.5)
        |      / 1000000000.0 AS ra
        |  FROM nonadj)
        |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        |  CAST(cn AS BIGINT) AS cn, aa, ra
        |FROM scored ORDER BY aa DESC, a ASC, b ASC LIMIT 50""".stripMargin)),

    // The COMPOSED graph suite, end-to-end in one oracled ledger — the
    // last pillar without a composition pin (corpus, experimentation,
    // classifier, drift, retrieval and multimodal each have theirs):
    // ONE checkpointed trade edge set (orders ⋈ lineitem, namespaced
    // even=customer / odd=supplier) feeds degree profile + Hill tail
    // (the pass that justifies the AA stage's degree cap) → connected
    // components (DupClusters pointer-jumping closure) → 5-sweep integer
    // PageRank → Adamic–Adar / resource-allocation link scores. Every
    // unit stage is green on its own (q_degree_dist, q_dup_clusters,
    // q_graph_pagerank, q_link_predict_aa); this row pins the
    // COMPOSITION: all four stages read the SAME edge collapse, and the
    // ledger is their joint exact summary (integer/count surfaces plus
    // the two grid-rounded score maxima). Scale shape: the edge collapse
    // happens ONCE; each stage's own shape is its unit query's
    // (log-depth closure, partition-once PageRank, degree-capped
    // wedges); the ledger itself is five 1-row aggregates cross-joined
    // by broadcast.
    QuerySpec("q_graph_pipeline", (s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      // pairs is checkpointed EAGERLY (round 16): the six branch ledgers
      // below are materialized on concurrent threads (Branches.materialize,
      // guide §2.6) and a LAZY checkpoint materialized from two threads at
      // once would race on RDDCheckpointData; paying it up front is the
      // same work the first consumer used to pay.
      val pairs = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
        .localCheckpoint(true) // degree, components, pagerank, AA read it
      val dir = pairs.select(col("a").as("src"), col("b").as("dst"))
      val sym = dir.union(pairs.select(col("b").as("src"), col("a").as("dst")))
      // the six ledger branches are mutually independent and two of them
      // (components, pagerank) run driver-side iteration loops whose
      // per-round actions would otherwise serialize the WHOLE pipeline;
      // materialize them concurrently (each branch's own plan unchanged —
      // results bit-identical, only wall-clock overlap differs)
      val Seq(edgeLedger, nodeLedger, degLedger, ccLedger, prLedger,
          aaLedger) = graft.ops.Branches.materialize(Seq(
        () => pairs.agg(count(lit(1)).cast("double").as("n_edges")),
        () => pairs.select(col("a").as("n"))
          .union(pairs.select(col("b").as("n"))).distinct()
          .agg(count(lit(1)).cast("double").as("n_nodes")),
        // 1: degree profile + Hill tail (alpha/n_tail repeat on every row)
        () => GraphRank.degreeDistribution(sym, dmin = 4L)
          .agg(count(lit(1)).cast("double").as("n_degrees"),
            max(col("degree")).cast("double").as("max_degree"),
            max(col("n_tail")).cast("double").as("n_tail"),
            qround(max(col("alpha")), 6).as("hill_alpha")),
        // 2: connected components (min-id labels)
        () => graft.llm.DupClusters.clusters(
            pairs.select(col("a").as("id_a"), col("b").as("id_b")))
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).cast("double").as("n_components"),
            max(col("sz")).cast("double").as("max_component")),
        // 3: 5-sweep integer PageRank (argmax ties to the smaller node)
        () => GraphRank.pageRankFixedPoint(sym, iterations = 5)
          .agg(sum(col("pr")).cast("double").as("pr_sum"),
            max(struct(col("pr"), (-col("node")).as("neg"))).as("m"))
          .select(col("pr_sum"), col("m.pr").cast("double").as("pr_top"),
            (-col("m.neg")).cast("double").as("pr_top_node")),
        // 4: AA/RA link scores (degree-capped wedges; maxima are
        // grid-rounded BEFORE max — qround is monotone, so max∘qround =
        // qround∘max and both engines agree bit-exactly)
        () => GraphRank.linkPredictionWeighted(dir, maxDegree = 64)
          .agg(count(lit(1)).cast("double").as("aa_pairs"),
            sum(col("cn")).cast("double").as("cn_total"),
            qround(max(col("aa")), 9).as("aa_top"),
            qround(max(col("ra")), 9).as("ra_top"))))
      edgeLedger.crossJoin(nodeLedger).crossJoin(degLedger)
        .crossJoin(ccLedger).crossJoin(prLedger).crossJoin(aaLedger)
        .selectExpr("""stack(15,
          '00_n_nodes', n_nodes, '00_n_edges', n_edges,
          '01_n_degrees', n_degrees, '01_max_degree', max_degree,
          '01_n_tail', n_tail, '01_hill_alpha', hill_alpha,
          '02_n_components', n_components, '02_max_component', max_component,
          '03_pr_sum', pr_sum, '03_pr_top', pr_top,
          '03_pr_top_node', pr_top_node,
          '04_aa_pairs', aa_pairs, '04_cn_total', cn_total,
          '04_aa_top', aa_top, '04_ra_top', ra_top) AS (metric, value)""")
    },
    oracle = Some(// the composed graph ledger: shared trade-edge CTEs feed the
      // degree/Hill profile (mirrors GraphRank.degreeDistribution,
      // dmin=4), min-id connected components (TextQueries.componentCtes),
      // the unrolled 5-sweep PageRank recurrence, and the degree-capped
      // AA/RA wedge scores (mirrors linkPredictionWeighted, maxDegree=64)
      s"""WITH RECURSIVE $pageRankCtes,
         |${TextQueries.componentCtes("SELECT a AS id_a, b AS id_b FROM e0")},
         |dd AS (SELECT outdeg AS degree, count(*) AS n_nodes FROM deg GROUP BY 1),
         |hill AS (SELECT count(*) AS n_degrees, max(degree) AS max_degree,
         |    SUM(CASE WHEN degree >= 4 THEN n_nodes ELSE 0 END) AS n_tail,
         |    SUM(CASE WHEN degree >= 4 THEN n_nodes *
         |      CAST(floor(ln(CAST(degree AS DOUBLE) / 4.0) * 1000000000.0 + 0.5) AS BIGINT)
         |      ELSE 0 END) AS lnsum
         |  FROM dd),
         |comp AS (SELECT cluster_id, count(*) AS sz FROM clu GROUP BY 1),
         |ccagg AS (SELECT count(*) AS n_components, max(sz) AS max_component FROM comp),
         |pragg AS (SELECT SUM(pr) AS pr_sum, MAX(pr) AS pr_top FROM r5),
         |prtop AS (SELECT node AS pr_top_node FROM r5
         |  WHERE pr = (SELECT pr_top FROM pragg) ORDER BY node LIMIT 1),
         |le AS (SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM e0),
         |adeg AS (SELECT node, count(*) AS deg FROM
         |  (SELECT u AS node FROM le UNION ALL SELECT v FROM le) GROUP BY 1),
         |lsym AS (SELECT u AS apex, v AS nbr FROM le UNION ALL SELECT v, u FROM le),
         |lsmall AS (SELECT s.apex, s.nbr, d.deg AS adeg FROM lsym s
         |  JOIN adeg d ON d.node = s.apex AND d.deg <= 64),
         |lw AS (SELECT x.nbr AS a, y.nbr AS b,
         |    CAST(floor(1000000000000.0 / ln(CAST(x.adeg AS DOUBLE)) + 0.5) AS BIGINT) AS aa12,
         |    CAST(floor(1000000000000.0 / CAST(x.adeg AS DOUBLE) + 0.5) AS BIGINT) AS ra12
         |  FROM lsmall x JOIN lsmall y ON x.apex = y.apex AND x.nbr < y.nbr),
         |lcn AS (SELECT a, b, count(*) AS cn, SUM(aa12) AS saa, SUM(ra12) AS sra
         |  FROM lw GROUP BY 1, 2),
         |lnj AS (SELECT lcn.* FROM lcn
         |  LEFT JOIN le ON le.u = lcn.a AND le.v = lcn.b WHERE le.u IS NULL),
         |aagg AS (SELECT count(*) AS aa_pairs, SUM(cn) AS cn_total,
         |    max(floor((CAST(saa AS DOUBLE) / 1000000000000.0) * 1000000000.0 + 0.5)
         |      / 1000000000.0) AS aa_top,
         |    max(floor((CAST(sra AS DOUBLE) / 1000000000000.0) * 1000000000.0 + 0.5)
         |      / 1000000000.0) AS ra_top FROM lnj),
         |sz AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM nodes) AS n_nodes,
         |  (SELECT CAST(count(*) AS DOUBLE) FROM e0) AS n_edges)
         |SELECT metric, value FROM (
         |  SELECT '00_n_nodes' AS metric, n_nodes AS value FROM sz
         |  UNION ALL SELECT '00_n_edges', n_edges FROM sz
         |  UNION ALL SELECT '01_n_degrees', CAST(n_degrees AS DOUBLE) FROM hill
         |  UNION ALL SELECT '01_max_degree', CAST(max_degree AS DOUBLE) FROM hill
         |  UNION ALL SELECT '01_n_tail', CAST(n_tail AS DOUBLE) FROM hill
         |  UNION ALL SELECT '01_hill_alpha', CASE WHEN lnsum > 0 THEN
         |      floor((1.0 + CAST(n_tail AS DOUBLE) / (CAST(lnsum AS DOUBLE) / 1000000000.0))
         |        * 1000000.0 + 0.5) / 1000000.0 END FROM hill
         |  UNION ALL SELECT '02_n_components', CAST(n_components AS DOUBLE) FROM ccagg
         |  UNION ALL SELECT '02_max_component', CAST(max_component AS DOUBLE) FROM ccagg
         |  UNION ALL SELECT '03_pr_sum', CAST(pr_sum AS DOUBLE) FROM pragg
         |  UNION ALL SELECT '03_pr_top', CAST(pr_top AS DOUBLE) FROM pragg
         |  UNION ALL SELECT '03_pr_top_node', CAST(pr_top_node AS DOUBLE) FROM prtop
         |  UNION ALL SELECT '04_aa_pairs', CAST(aa_pairs AS DOUBLE) FROM aagg
         |  UNION ALL SELECT '04_cn_total', CAST(cn_total AS DOUBLE) FROM aagg
         |  UNION ALL SELECT '04_aa_top', aa_top FROM aagg
         |  UNION ALL SELECT '04_ra_top', ra_top FROM aagg)""".stripMargin)),

    // Degree assortativity of the customer–supplier graph: do busy
    // customers attach to busy suppliers? (Bipartite graphs skew
    // disassortative — the one-number sanity check before any
    // degree-dependent sampling trusts this edge set.)
    QuerySpec("q_graph_assortativity", (s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      GraphRank.degreeAssortativity(edges)
        .select(col("n_nodes"), col("n_edges"), qround(col("r"), 6).as("r"))
    },
    oracle = Some(// exact decimal stub moments; r = one division of identical doubles
      // (mirrors GraphRank.degreeAssortativity)
      """WITH e0 AS (SELECT DISTINCT o_custkey*2 AS u, l_suppkey*2+1 AS v
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT LEAST(u, v) AS u, GREATEST(u, v) AS v FROM e0),
        |deg AS (SELECT node, count(*) AS deg FROM
        |  (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |wd AS (SELECT da.deg AS du, db.deg AS dv FROM e
        |  JOIN deg da ON da.node = e.u JOIN deg db ON db.node = e.v),
        |agg AS (SELECT count(*) AS m,
        |    SUM(CAST(du AS HUGEINT) * dv) AS sxy,
        |    SUM(CAST(du AS HUGEINT) + dv) AS s1,
        |    SUM(CAST(du AS HUGEINT) * du + CAST(dv AS HUGEINT) * dv) AS s2
        |  FROM wd),
        |nodes AS (SELECT count(*) AS n_nodes FROM deg),
        |f AS (SELECT n_nodes, m,
        |    2.0 * m * 2.0 * CAST(sxy AS DOUBLE) -
        |      CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS num,
        |    2.0 * m * CAST(s2 AS DOUBLE) -
        |      CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS den
        |  FROM agg, nodes)
        |SELECT CAST(n_nodes AS BIGINT) AS n_nodes, CAST(m AS BIGINT) AS n_edges,
        |  CASE WHEN den > 0 THEN floor((num / den) * 1000000.0 + 0.5)
        |    / 1000000.0 END AS r
        |FROM f""".stripMargin)),

    // Equi-HEIGHT histogram (quantile discretizer) — the complement of
    // q_bucketize's equi-width bins: exact interpolated quartile
    // boundaries via the range-partitioned sort (fit), literal bounds in
    // the binning pass (apply). NOT the `Percentile` aggregate — its
    // value→count hash map is the known driver-memory cliff on
    // wide-cardinality columns. Cents keep every boundary a .25-step
    // binary fraction, so the cut is bit-stable cross-engine.
    QuerySpec("q_quantile_bins", (s, d) => {
      val c = Tables.lineitem(s, d)
        .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      val Seq(q1, q2, q3) =
        Aggregates.sortedPercentilesMulti(c, Seq("cents"), Seq(0.25, 0.5, 0.75))("cents")
      c.select(col("cents"),
          when(col("cents") < q1, 0)
            .when(col("cents") < q2, 1)
            .when(col("cents") < q3, 2)
            .otherwise(3).cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min(col("cents")).as("lo"),
          max(col("cents")).as("hi"))
    },
    oracle = Some(
      """WITH c AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents FROM lineitem),
        |b AS (SELECT quantile_cont(cents, 0.25) AS q1, quantile_cont(cents, 0.5) AS q2,
        |             quantile_cont(cents, 0.75) AS q3 FROM c),
        |x AS (SELECT cents, CASE WHEN cents < q1 THEN 0 WHEN cents < q2 THEN 1
        |                         WHEN cents < q3 THEN 2 ELSE 3 END AS bucket FROM c, b)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
        |  min(cents) AS lo, max(cents) AS hi
        |FROM x GROUP BY 1""".stripMargin),
    sf1 = true),

    // Exact PER-GROUP quantiles without the per-group `percentile` driver
    // map: distinct-value collapse + one cumulative window (partition size
    // = distinct cents per flag), conditional-min per probability. Lower
    // (quantile_disc) semantics — pure integer comparisons, no
    // interpolation float math.
    QuerySpec("q_group_quantiles", (s, d) => {
      val li = Tables.lineitem(s, d)
        .withColumn("cents", floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
      graft.ops.Aggregates.groupedQuantiles(li, "l_returnflag", "cents",
        Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75", 0.95 -> "p95"))
    },
    oracle = Some(
      """WITH b AS (SELECT l_returnflag AS g, CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
        |  FROM lineitem WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL),
        |d AS (SELECT g, v, count(*) AS c FROM b GROUP BY 1, 2),
        |w AS (SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v) AS cw,
        |    SUM(c) OVER (PARTITION BY g) AS n FROM d)
        |SELECT g AS l_returnflag, CAST(MAX(n) AS BIGINT) AS n_rows,
        |  MIN(CASE WHEN cw >= ceil(n * 0.25) THEN v END) AS p25,
        |  MIN(CASE WHEN cw >= ceil(n * 0.5) THEN v END) AS p50,
        |  MIN(CASE WHEN cw >= ceil(n * 0.75) THEN v END) AS p75,
        |  MIN(CASE WHEN cw >= ceil(n * 0.95) THEN v END) AS p95
        |FROM w GROUP BY 1""".stripMargin),
    sf1 = true),

    // Market-basket affinity: supplier co-presence across orders. ONE
    // basket-key shuffle (distinct collapse + collect_set), pair fan-out
    // as a pure in-array expression — never a fact-table self-join — then
    // one map-side-combined pair aggregate; catalog-sized stats join the
    // aggregated pairs hint-free. Cosine/lift in fixed operand order.
    QuerySpec("q_basket_affinity", (s, d) =>
      Affinity.basketPairs(Tables.lineitem(s, d), "l_orderkey", "l_suppkey",
          minPairCount = 3L, maxBasketSize = 64)
        .select(col("item_a"), col("item_b"), col("cab"), col("ca"), col("cb"),
          qround(col("cosine"), 6).as("cosine"), qround(col("lift"), 6).as("lift")),
    oracle = Some(
      """WITH f AS (SELECT DISTINCT l_orderkey AS bk, l_suppkey AS it FROM lineitem
        |    WHERE l_orderkey IS NOT NULL AND l_suppkey IS NOT NULL),
        |bs AS (SELECT bk FROM f GROUP BY 1 HAVING count(*) <= 64),
        |b AS (SELECT f.bk, f.it FROM f JOIN bs ON f.bk = bs.bk),
        |ic AS (SELECT it, count(*) AS ci FROM b GROUP BY 1),
        |nb AS (SELECT count(DISTINCT bk) AS n FROM b),
        |pc AS (SELECT a.it AS item_a, x.it AS item_b, count(*) AS cab
        |  FROM b a JOIN b x ON a.bk = x.bk AND a.it < x.it
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT item_a, item_b, CAST(cab AS BIGINT) AS cab,
        |  CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
        |  floor((CAST(cab AS DOUBLE) / sqrt(CAST(ca AS DOUBLE) * cb)) * 1000000.0 + 0.5) / 1000000.0 AS cosine,
        |  floor((CAST(cab AS DOUBLE) * n / (CAST(ca AS DOUBLE) * cb)) * 1000000.0 + 0.5) / 1000000.0 AS lift
        |FROM pc JOIN (SELECT it AS item_a, ci AS ca FROM ic) USING (item_a)
        |  JOIN (SELECT it AS item_b, ci AS cb FROM ic) USING (item_b), nb""".stripMargin),
    sf1 = true),

    // Join-size pre-flight: exact inner-join output cardinality and its
    // single-key skew share from per-key counts alone (Profiler
    // .joinSizeEstimate) — two |keys|-sized aggregates predict the
    // orders⋈lineitem fanout for orders of magnitude less than running
    // it; the Σ cₗ·cᵣ accumulates in decimal(38,0) so a 100 TB estimate
    // cannot silently wrap smaller than reality.
    QuerySpec("q_join_size_estimate", (s, d) =>
      graft.ops.Profiler.joinSizeEstimate(
          Tables.lineitem(s, d), Tables.orders(s, d), "l_orderkey", "o_orderkey")
        .select(col("est_rows"), col("n_keys_both"), col("n_keys_left_only"),
          col("n_keys_right_only"), col("max_contrib"),
          qround(col("max_share"), 9).as("max_share")),
    oracle = Some(
      """WITH lc AS (SELECT l_orderkey AS k, count(*) AS cl FROM lineitem
        |    WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |rc AS (SELECT o_orderkey AS k, count(*) AS cr FROM orders
        |    WHERE o_orderkey IS NOT NULL GROUP BY 1),
        |j AS (SELECT lc.k AS lk, rc.k AS rk, cl, cr
        |  FROM lc FULL OUTER JOIN rc ON lc.k = rc.k)
        |SELECT CAST(coalesce(sum(cl * cr), 0) AS BIGINT) AS est_rows,
        |  CAST(count(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL THEN 1 END) AS BIGINT) AS n_keys_both,
        |  CAST(count(CASE WHEN lk IS NOT NULL AND rk IS NULL THEN 1 END) AS BIGINT) AS n_keys_left_only,
        |  CAST(count(CASE WHEN lk IS NULL AND rk IS NOT NULL THEN 1 END) AS BIGINT) AS n_keys_right_only,
        |  CAST(coalesce(max(cl * cr), 0) AS BIGINT) AS max_contrib,
        |  CASE WHEN coalesce(sum(cl * cr), 0) <> 0 THEN
        |    floor((CAST(max(cl * cr) AS DOUBLE) / CAST(sum(cl * cr) AS DOUBLE)) * 1000000000.0 + 0.5) / 1000000000.0
        |  END AS max_share
        |FROM j""".stripMargin))
  )
}
