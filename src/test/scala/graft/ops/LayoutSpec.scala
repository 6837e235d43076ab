package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits exactly (column 0 on the high lane)") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 3L), (255L, 0L), (0L, 255L))
      .toDF("x", "y")
    val got = df.withColumn("z", Layout.zValue(Seq(col("x"), col("y")), 8))
      .select("x", "y", "z").as[(Long, Long, Long)].collect().toMap2
    assert(got((0L, 0L)) === 0L)
    assert(got((1L, 0L)) === 2L)
    assert(got((0L, 1L)) === 1L)
    assert(got((1L, 1L)) === 3L)
    assert(got((3L, 3L)) === 15L)
    assert(got((255L, 0L)) === 0xAAAAL)
    assert(got((0L, 255L)) === 0x5555L)
  }

  implicit class ToMap2(arr: Array[(Long, Long, Long)]) {
    def toMap2: Map[(Long, Long), Long] = arr.map(t => (t._1, t._2) -> t._3).toMap
  }

  test("z-order clustering keeps BOTH dimensions' per-partition spans narrow") {
    // a uniform 64x64 grid of points; cluster into 16 range partitions
    val grid = spark.range(4096).select(
      (col("id") / 64).cast("long").as("x"), pmod(col("id"), lit(64L)).as("y"))
    def spans(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val per = df.withColumn("p", spark_partition_id())
        .groupBy("p").agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
        .agg(avg("sx").as("ax"), avg("sy").as("ay")).head()
      (per.getDouble(0), per.getDouble(1))
    }
    val (zx, zy) = spans(Layout.zOrderBy(grid, Seq("x", "y"), bits = 6, numPartitions = 16))
    val linear = grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
    val (lx, ly) = spans(linear)
    // linear sort: x-span tiny, y-span ~ the whole domain
    assert(lx < 8 && ly > 55, s"linear baseline unexpected: ($lx, $ly)")
    // z-order: BOTH spans a fraction of the 63-wide domain
    assert(zx <= 24 && zy <= 24, s"z-order spans too wide: ($zx, $zy)")
  }

  test("quantize clamps to [0, 2^bits) inclusive of the max value") {
    val df = Seq(0.0, 2.5, 5.0, 10.0).toDF("v")
    val q = df.select(Layout.quantize(col("v"), lit(0.0), lit(10.0), 4).as("q"))
      .as[Long].collect().toSeq
    assert(q === Seq(0L, 4L, 8L, 15L))
  }

  test("a constant column (hi == lo) bins deterministically to bucket 0") {
    // 0/0 = NaN would otherwise ride least()'s NaN-sorts-greatest quirk
    // into buckets-1; the degenerate case must be an explicit 0
    val df = Seq(7.0, 7.0, 7.0).toDF("v")
    val q = df.select(Layout.quantizeN(col("v"), lit(7.0), lit(7.0), 20).as("q"))
      .as[Long].collect().toSeq
    assert(q === Seq(0L, 0L, 0L))
  }

  test("zOrderBy caps per-lane bits so 4+ columns fit 63 bits") {
    // default bits=16 with 4 columns would need 64 interleaved bits; the
    // effective lane width must derive down to 63/4 = 15 instead of throwing
    val df = spark.range(256).select(
      col("id").as("a"), pmod(col("id"), lit(16L)).as("b"),
      pmod(col("id"), lit(7L)).as("c"), pmod(col("id"), lit(3L)).as("d"))
    val out = Layout.zOrderBy(df, Seq("a", "b", "c", "d"), numPartitions = 4)
    assert(out.count() === 256L)
    assert(out.columns.toSeq === Seq("a", "b", "c", "d"))
  }

  test("compactionPlan: sequential greedy semantics, partitioning-independent") {
    val files = (1L to 400L).map(i => (s"g${i % 3}", i, 10L + i % 90)).toDF("g", "k", "sz")
    val plan = Layout.compactionPlan(files, "g", "k", "sz", targetBytes = 300L)
      .collect().map(r => r.getLong(1) -> (r.getString(0), r.getLong(3))).toMap
    assert(plan.size === 400)
    // reference: replay the greedy walk per group in the same hash order
    def h60(k: Long): BigInt = BigInt(java.security.MessageDigest.getInstance("MD5")
      .digest(k.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    val expected = (1L to 400L).map(i => (s"g${i % 3}", i, 10L + i % 90))
      .groupBy(_._1).flatMap { case (g, rows) =>
        var cum = 0L
        rows.sortBy(r => (h60(r._2), r._2)).map { case (_, k, sz) =>
          val bin = cum / 300L; cum += sz; k -> (g, bin)
        }
      }.toMap
    assert(plan === expected)
    // repartitioning must not change a single assignment
    val again = Layout.compactionPlan(files.repartition(13), "g", "k", "sz", 300L)
      .collect().map(r => r.getLong(1) -> (r.getString(0), r.getLong(3))).toMap
    assert(again === plan)
    // bins are contiguous per group and all but the last hold >= target
    // minus one file's worth of slack (greedy never leaves a full target
    // of slack behind)
    val perBin = plan.values.groupBy(identity).view.mapValues(_.size)
    assert(perBin.keys.map(_._2).min === 0L)
  }

  test("zoneMapAudit: clustered layout prunes, scattered layout cannot") {
    import org.apache.spark.sql.functions.col
    // 100 rows, scan value = row id; clustered = id div 10 (10 tight
    // zones), scattered = id mod 10 (every zone spans [mod, 90+mod])
    val rows = (0L until 100L).map(i => (i / 10, i % 10, i)).toDF("bc", "bs", "s")
    val out = Layout.zoneMapAudit(rows,
        Seq("clustered" -> col("bc"), "scattered" -> col("bs")),
        col("s"), lo = 20L, hi = 39L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // clustered: zones [20..29] and [30..39] overlap -> 2 buckets, 20 rows
    assert(out("clustered") === ((10L, 2L, 20L, 20L)))
    // scattered: every zone [m, 90+m] overlaps [20,39] -> full scan
    assert(out("scattered") === ((10L, 10L, 100L, 20L)))
  }

  test("zoneMapAudit: rows_matched is layout-invariant; nulls drop listwise") {
    import org.apache.spark.sql.{Row => SRow}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val rng = new scala.util.Random(3)
    val rows = (0 until 300).map { i =>
      SRow(
        if (i % 31 == 0) null else java.lang.Long.valueOf(rng.nextInt(7).toLong),
        java.lang.Long.valueOf(rng.nextInt(5).toLong),
        if (i % 41 == 0) null else java.lang.Long.valueOf(rng.nextInt(1000).toLong))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows),
      StructType(Seq(StructField("b1", LongType, nullable = true),
        StructField("b2", LongType, nullable = true),
        StructField("s", LongType, nullable = true))))
    val out = Layout.zoneMapAudit(df,
        Seq("l1" -> col("b1"), "l2" -> col("b2")), col("s"), 100L, 499L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    assert(out("l1")._2 === out("l2")._2, "matched rows don't depend on layout")
    assert(out("l1")._1 >= out("l1")._2 && out("l2")._1 >= out("l2")._2,
      "scanned rows always cover matched rows")
  }

  test("rleAudit: value-clustered layout collapses runs, scattered pays per flip") {
    import org.apache.spark.sql.functions.col
    // 90 rows, 3 values; clustered bucket = value itself (3 one-run
    // buckets); scattered bucket = key mod 3 (values interleave)
    val rows = (0L until 90L).map(i => (i, i % 3, i / 30, s"v${i / 30}"))
      .toDF("k", "bs", "bc", "v")
    val out = Layout.rleAudit(rows,
        Seq("clustered" -> col("bc"), "scattered" -> col("bs")),
        orderCols = Seq(col("k")), valueCol = col("v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("clustered") === ((90L, 3L, 30.0)))
    // scattered: within bucket (k mod 3), consecutive ks are 3 apart, so
    // v changes at i=30,60 boundaries only -> 3 runs per bucket
    assert(out("scattered") === ((90L, 9L, 10.0)))
    // determinism under repartitioning
    def run(p: Int) = Layout.rleAudit(rows.repartition(p),
        Seq("c" -> col("bc")), Seq(col("k")), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(1) === run(7))
  }

  test("hilbert: lattice is a bijection with unit-step adjacency") {
    val lat = Layout.hilbertLattice(spark, bits = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // bijection onto 0..255
    assert(lat.values.toSet === (0L until 256L).toSet)
    // THE Hilbert property (what Z-order lacks): consecutive curve
    // positions are lattice NEIGHBORS — no quadrant-boundary jumps
    val byD = lat.map(_.swap)
    (0L until 255L).foreach { dv =>
      val (x1, y1) = byD(dv); val (x2, y2) = byD(dv + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
        s"jump at d=$dv: ($x1,$y1)->($x2,$y2)")
    }
  }
}
