package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PartitioningSpec extends SparkSpec {
  import spark.implicits._

  // skewed: key "hot" holds 90% of rows
  private lazy val skewed = (
    (1 to 900).map(i => ("hot", i.toDouble)) ++ (1 to 100).map(i => (s"k${i % 10}", i.toDouble))
  ).toDF("k", "v").repartition(8).cache()

  test("saltedAgg equals plain aggregation") {
    val plain = skewed.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val salted = Partitioning.saltedAgg(skewed, Seq("k"), salt = 7,
        partials = Seq(sum("v").as("ps"), count(lit(1)).as("pn")),
        finals = Seq(sum("ps").as("s"), sum("pn").as("n")))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted.keySet === plain.keySet)
    plain.foreach { case (k, (s, n)) =>
      assert(math.abs(salted(k)._1 - s) < 1e-6 && salted(k)._2 === n)
    }
  }

  test("saltedJoin equals plain join") {
    val dim = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("k", "label")
    val plain = skewed.join(dim, Seq("k")).groupBy("k", "label").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val salted = Partitioning.saltedJoin(skewed, dim, Seq("k"), salt = 5)
      .groupBy("k", "label").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(salted === plain)
  }

  test("bucketed tables join without an exchange on the bucket key") {
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    def writeBucketed(df: org.apache.spark.sql.DataFrame, table: String): Unit =
      df.write.mode("overwrite").format("parquet")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable(table)
    writeBucketed(li.select("l_orderkey", "l_quantity"), "li_b")
    writeBucketed(li.select("l_orderkey", "l_extendedprice"), "li_b2")
    val joined = spark.table("li_b").groupBy("l_orderkey").agg(sum("l_quantity"))
      .join(spark.table("li_b2").groupBy("l_orderkey").agg(sum("l_extendedprice")), "l_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    // co-partitioned: no shuffle exchange feeding the join/agg
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"), plan.take(2000))
    assert(joined.count() > 0)
    spark.sql("DROP TABLE li_b"); spark.sql("DROP TABLE li_b2")
  }
}

class RendezvousSpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def md5w(key: String, shard: String): BigInt =
    BigInt(java.security.MessageDigest.getInstance("MD5")
      .digest(s"$key:$shard".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15), 16)

  test("assignment is the md5-60 argmax (scala replay), ties on shard name") {
    val shards = Seq("s0", "s1", "s2", "s3")
    val keys = (1 to 200).map(i => s"k$i")
    val out = Partitioning.rendezvousAssign(keys.toDF("k"), "k", shards)
      .as[(String, String)].collect().toMap
    keys.foreach { key =>
      val want = shards.maxBy(s => (md5w(key, s), s))
      assert(out(key) === want, s"key $key")
    }
  }

  test("adding one shard moves only keys won by the new shard (~1/(n+1))") {
    val keys = (1 to 2000).map(i => s"key$i")
    val before = Partitioning.rendezvousAssign(keys.toDF("k"), "k",
      Seq("a", "b", "c", "d")).as[(String, String)].collect().toMap
    val after = Partitioning.rendezvousAssign(keys.toDF("k"), "k",
      Seq("a", "b", "c", "d", "e")).as[(String, String)].collect().toMap
    val moved = keys.filter(k => before(k) != after(k))
    // every moved key moved TO the new shard -- the rendezvous guarantee
    assert(moved.forall(k => after(k) === "e"))
    // expected movement 1/5 = 400; allow generous binomial slack
    assert(moved.size > 300 && moved.size < 500, s"moved ${moved.size}")
  }

  test("single shard degenerates to a constant; duplicate shards rejected") {
    val out = Partitioning.rendezvousAssign(Seq("x", "y").toDF("k"), "k", Seq("only"))
      .as[(String, String)].collect().toMap
    assert(out.values.toSet === Set("only"))
    intercept[IllegalArgumentException] {
      Partitioning.rendezvousAssign(Seq("x").toDF("k"), "k", Seq("a", "a"))
    }
  }

  test("plan stays narrow: no exchange, no explode") {
    val df = Partitioning.rendezvousAssign(
      spark.range(100).select(col("id").cast("string").as("k")), "k",
      Seq("a", "b", "c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Generate"), plan.take(1500))
  }
}
