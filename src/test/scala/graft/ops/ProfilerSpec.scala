package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ProfilerSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    (Some(1.5), Some("b"), 10L),
    (Some(2.5), Some("a"), 10L),
    (None, Some("a"), 20L),
    (Some(2.5), None, 30L)
  ).toDF("x", "s", "k")

  private def metric(rows: Array[org.apache.spark.sql.Row], c: String, m: String) =
    rows.find(r => r.getString(0) == c && r.getString(1) == m).get

  test("profile: counts, nulls, exact distinct, typed min/max in one pass") {
    val rows = Profiler.profile(fixture, Seq("x", "s", "k")).collect()
    assert(rows.length === 15)
    assert(metric(rows, "x", "n_rows").getDouble(2) === 4.0)
    assert(metric(rows, "x", "n_nulls").getDouble(2) === 1.0)
    assert(metric(rows, "x", "n_distinct").getDouble(2) === 2.0)
    assert(metric(rows, "x", "min").getDouble(2) === 1.5)
    assert(metric(rows, "x", "max").getDouble(2) === 2.5)
    // string column: min/max land in value_str, value_num stays null
    assert(metric(rows, "s", "min").isNullAt(2))
    assert(metric(rows, "s", "min").getString(3) === "a")
    assert(metric(rows, "s", "max").getString(3) === "b")
    assert(metric(rows, "s", "n_nulls").getDouble(2) === 1.0)
    assert(metric(rows, "k", "n_distinct").getDouble(2) === 3.0)
  }

  test("profile is a single aggregate job (one scan, Expand for multi-distinct)") {
    val plan = Profiler.profile(fixture, Seq("x", "s", "k"))
      .queryExecution.executedPlan.toString
    // one logical aggregate over one source: no join anywhere
    assert(!plan.contains("Join"), plan.take(800))
  }

  test("check: every row-level constraint counts its violations") {
    val df = Seq(
      (Some(5.0), Some("F"), Some("1-URGENT"), Some(1L), Some(10L)),
      (Some(-1.0), Some("X"), Some("bad"), Some(2L), Some(20L)),
      (None, None, None, Some(2L), Some(99L)),
      (Some(50.0), Some("O"), Some("3-LOW"), None, Some(10L))
    ).toDF("price", "status", "prio", "key", "fk")
    val dim = Seq(10L, 20L).toDF("id")
    val got = Profiler.check(df, Seq(
      Profiler.NotNull("price"),
      Profiler.InRange("price", 0.0, 10.0),
      Profiler.InSet("status", Seq("F", "O")),
      Profiler.Matches("prio", "^[0-9]-"),
      Profiler.Unique(Seq("key")),
      Profiler.ForeignKey("fk", dim, "id")
    )).as[(String, Long)].collect().toMap
    assert(got("not_null(price)") === 1L)
    assert(got("in_range(price)") === 2L) // -1 and 50; null exempt
    assert(got("in_set(status)") === 1L) // X; null exempt
    assert(got("matches(prio)") === 1L) // bad; null exempt
    assert(got("unique(key)") === 1L) // key=2 twice; null row exempt
    assert(got("foreign_key(fk)") === 1L) // 99
  }

  test("check: clean data yields all-zero violations") {
    val df = Seq((1.0, "F", 1L), (2.0, "O", 2L)).toDF("price", "status", "key")
    val got = Profiler.check(df, Seq(
      Profiler.NotNull("price"), Profiler.InRange("price", 0.0, 10.0),
      Profiler.InSet("status", Seq("F", "O")), Profiler.Unique(Seq("key"))))
      .as[(String, Long)].collect()
    assert(got.length === 4 && got.forall(_._2 === 0L))
  }

  test("content manifest: identical under any reshuffle/order; any row change breaks it") {
    import spark.implicits._
    val rows = (1 to 500).map(i => (i.toLong, s"u${i % 37}", if (i % 9 == 0) None else Some(s"t${i % 5}")))
    val df = rows.toDF("id", "u", "t")
    def manifest(d: org.apache.spark.sql.DataFrame) =
      Profiler.contentManifest(d, Seq("id", "u", "t"), nShards = 8)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))).toMap
    val base = manifest(df)
    assert(base.values.map(_._1).sum === 500L)
    // version-stable representation: hex string is the zero-padded xor;
    // the modular sum is a plain non-negative int64 under the prime
    base.values.foreach { case (_, xor, hex, sumMod) =>
      assert(hex === f"$xor%015x")
      assert(sumMod >= 0L && sumMod < (1L << 61) - 1)
    }
    // reshuffled + reordered copy: identical manifest
    assert(manifest(df.repartition(13).sortWithinPartitions("u")) === base)
    // one mutated value: some shard differs
    val mutated = df.withColumn("u",
      when(col("id") === 250L, lit("CORRUPT")).otherwise(col("u")))
    assert(manifest(mutated) !== base)
    // one dropped row: count or fingerprint differs
    assert(manifest(df.filter(col("id") =!= 77L)) !== base)
    // a DUPLICATED row flips no xor bit pair-wise — the sum catches it
    val dup = df.unionAll(df.filter(col("id") === 3L))
    val m = manifest(dup)
    assert(m !== base)
  }

  test("profileDiff: changed flags and relative deltas per (column, metric)") {
    import spark.implicits._
    val old5 = Seq((1L, "a"), (2L, "b"), (3L, "b"), (4L, null.asInstanceOf[String]))
      .toDF("k", "s")
    val new5 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val d = Profiler.profileDiff(old5, new5, Seq("k", "s"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val nRows = d(("k", "n_rows"))
    assert(nRows.getDouble(2) === 4.0 && nRows.getDouble(3) === 2.0)
    assert(nRows.getBoolean(6))                       // changed
    assert(math.abs(nRows.getDouble(7) - (-0.5)) < 1e-12) // (2-4)/4
    val sMax = d(("s", "max"))
    assert(sMax.getString(4) === "b" && sMax.getString(5) === "b")
    assert(!sMax.getBoolean(6))                       // unchanged string max
    assert(sMax.isNullAt(7))                          // no numeric delta
    val nulls = d(("s", "n_nulls"))
    assert(nulls.getDouble(2) === 1.0 && nulls.getDouble(3) === 0.0)
    assert(nulls.getBoolean(6))
    // identical snapshots: nothing changed anywhere
    val same = Profiler.profileDiff(old5, old5, Seq("k", "s")).collect()
    assert(same.forall(!_.getBoolean(6)))
  }

  test("unique over multiple columns excludes rows with any null component") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(1L), Some("a")), // dup pair
      (Some(1L), None), (Some(1L), None) // null component: exempt
    ).toDF("a", "b")
    val got = Profiler.check(df, Seq(Profiler.Unique(Seq("a", "b"))))
      .as[(String, Long)].collect()
    assert(got.toSeq === Seq(("unique(a,b)", 1L)))
  }
}

class KeySkewSpec extends SparkSpec {
  import spark.implicits._

  test("uniform keys: ratio 1, salt 1; one hot key drives ratio and salt") {
    val uniform = (1 to 100).map(i => ("u", (i % 10).toLong)).toDF("x", "k")
    val r = Profiler.keySkew(uniform, "k").collect().head
    assert(r.getLong(0) === 100L && r.getLong(1) === 10L && r.getLong(2) === 10L)
    assert(r.getDouble(5) === 1.0 && r.getLong(6) === 1L)
    // 91 rows on key 0, 9 singleton keys → mean 9.1, max 91, ratio 9.1
    val hot = ((1 to 91).map(_ => 0L) ++ (1L to 9L)).map(("u", _)).toDF("x", "k")
    val h = Profiler.keySkew(hot, "k").collect().head
    assert(h.getLong(2) === 91L && h.getLong(3) === 1L)       // max_c, p50
    assert(math.abs(h.getDouble(5) - 9.1) < 1e-12)
    assert(h.getLong(6) === 10L)                              // ceil(9.1)
  }

  test("null keys are excluded from every statistic") {
    val df = Seq(Some(1L), Some(1L), Some(2L), None, None, None)
      .map(("u", _)).toDF("x", "k")
    val r = Profiler.keySkew(df, "k").collect().head
    assert(r.getLong(0) === 3L && r.getLong(1) === 2L && r.getLong(2) === 2L)
  }

  // ---- joinSizeEstimate ----

  test("join size estimate equals the real inner-join cardinality") {
    val left = Seq("a", "a", "b", "c").toDF("lk")
    val right = Seq("a", "b", "b", "d", "d", "d").toDF("rk")
    val r = Profiler.joinSizeEstimate(left, right, "lk", "rk").collect().head
    val real = left.join(right, left("lk") === right("rk")).count()
    assert(r.getLong(0) === real && real === 4L)  // a:2·1 + b:1·2
    assert(r.getLong(1) === 2L && r.getLong(2) === 1L && r.getLong(3) === 1L)
    assert(r.getLong(4) === 2L)                   // max single-key product
    assert(math.abs(r.getDouble(5) - 0.5) < 1e-12)
  }

  test("disjoint key sets: zero estimate, null skew share") {
    val r = Profiler.joinSizeEstimate(
      Seq("a").toDF("lk"), Seq("b", "b").toDF("rk"), "lk", "rk").collect().head
    assert(r.getLong(0) === 0L && r.getLong(1) === 0L)
    assert(r.getLong(2) === 1L && r.getLong(3) === 1L)
    assert(r.getLong(4) === 0L && r.isNullAt(5))
  }

  test("null join keys never contribute (they cannot match)") {
    val left = Seq(Some("a"), Some("a"), None).toDF("lk")
    val right = Seq(Some("a"), None, None).toDF("rk")
    val r = Profiler.joinSizeEstimate(left, right, "lk", "rk").collect().head
    assert(r.getLong(0) === 2L && r.getLong(1) === 1L)
    assert(r.getLong(2) === 0L && r.getLong(3) === 0L)
  }

  test("benfordAudit: exact digit counts and the log10(1+1/d) expectation") {
    // 1, 19, 123 → digit 1 (×3); 2, 25 → 2; 9 → 9; 0 and null drop
    val vals = Seq(Some(1L), Some(19L), Some(123L), Some(2L), Some(25L),
      Some(9L), Some(0L), None).toDF("x")
    val got = Profiler.benfordAudit(vals, "x")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet === Set(1L, 2L, 9L))
    assert(got(1L)._1 === 3L && got(2L)._1 === 2L && got(9L)._1 === 1L)
    assert(math.abs(got(1L)._2 - 0.5) < 1e-12)
    got.foreach { case (d, (_, _, exp)) =>
      assert(math.abs(exp - math.log10(1.0 + 1.0 / d)) < 1e-12, s"digit $d")
    }
    // Benford-conforming synthetic data lands near the expectation:
    // first digits of 2^k are the classic example
    val pow2 = (0 until 200).map(k => BigInt(2).pow(k).toString.take(1).toLong)
      .map(Some(_)).toDF("x")
    Profiler.benfordAudit(pow2, "x").collect().foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 0.03,
        s"digit ${r.getLong(0)}: obs ${r.getDouble(2)} vs exp ${r.getDouble(3)}")
    }
  }

  test("fdAudit: holding FD, violated FD, witness, and null discipline") {
    // key 1 -> one rhs, key 2 -> two, key 3 -> three (worst), key 4 nulls
    val rows = Seq(
      (Some(1L), Some("a")), (Some(1L), Some("a")),
      (Some(2L), Some("a")), (Some(2L), Some("b")),
      (Some(3L), Some("a")), (Some(3L), Some("b")), (Some(3L), Some("c")),
      (None, Some("x")), (Some(4L), None)).toDF("k", "r")
    val out = Profiler.fdAudit(rows, Seq("k"), "r").collect().head
    assert(out.getLong(0) === 3L && out.getLong(1) === 2L)
    assert(math.abs(out.getDouble(2) - 2.0 / 3) < 1e-15)
    assert(out.getLong(3) === 3L && out.getString(4) === "3")
    // a real key: lhs -> unique rhs everywhere
    val clean = (1L to 50L).map(k => (k, s"v$k")).toDF("k", "r")
    val oc = Profiler.fdAudit(clean, Seq("k"), "r").collect().head
    assert(oc.getLong(1) === 0L && oc.getDouble(2) === 0.0)
    // composite LHS: (a, b) determines what a alone does not
    val comp = Seq((1L, 1L, "x"), (1L, 2L, "y"), (2L, 1L, "x"))
      .toDF("a", "b", "r")
    assert(Profiler.fdAudit(comp, Seq("a", "b"), "r")
      .collect().head.getLong(1) === 0L)
    assert(Profiler.fdAudit(comp, Seq("a"), "r")
      .collect().head.getLong(1) === 1L)
    // boundary collision: ("ab","c") and ("a","bc") are DIFFERENT keys —
    // with a bare concat they'd merge into "abc" and falsely violate
    val coll = Seq(("ab", "c", "x"), ("a", "bc", "y")).toDF("a", "b", "r")
    val cr = Profiler.fdAudit(coll, Seq("a", "b"), "r").collect().head
    assert(cr.getLong(0) === 2L && cr.getLong(1) === 0L)
    // separator-proof: values CONTAINING U+0001 still form distinct
    // keys (struct grouping has no separator to collide with) —
    // ("x\u0001","y") vs ("x","\u0001y") both join to "x\u0001\u0001y"
    // under a U+0001-concat key and would falsely merge
    val sep = Seq(("x\u0001", "y", "r1"), ("x", "\u0001y", "r2"))
      .toDF("a", "b", "r")
    val sr = Profiler.fdAudit(sep, Seq("a", "b"), "r").collect().head
    assert(sr.getLong(0) === 2L && sr.getLong(1) === 0L)
  }
}
