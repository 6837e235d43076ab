package graft.ops

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

class MaterializeSpec extends graft.SparkSpec {

  private def rel(df: DataFrame): LogicalRDD = Bridge.analyzed(df) match {
    case r: LogicalRDD => r
    case p => fail(s"not a stored relation:\n$p")
  }

  /** The plan that ran: the final adaptive plan after the action. */
  private def ran(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def exchanges(p: SparkPlan): Int = "Exchange".r.findAllIn(p.toString).size

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // one synchronous label-propagation step (GraphRank.lpaStep's shape)
  private def lpaShaped(sym: DataFrame, labels: DataFrame): DataFrame =
    sym.join(labels.select(col("node").as("nbr"), col("label")).hint("SHUFFLE_HASH"), Seq("nbr"))
      .groupBy(col("node"), col("label")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("node")).agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("m"))

  test("AQE on: a join and two aggregates over 1-partition stored tables exchange nothing") {
    // both tables come out of a shuffle that AQE coalesces to one partition,
    // as the loop's edge and label tables do
    val sym = spark.range(0, 200)
      .select((col("id") % 20).as("node"), (col("id") * 7 % 20).as("nbr"))
      .repartition(col("nbr"))
    val labels = sym.select(col("node")).distinct().select(col("node"), col("node").as("label"))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val (s, l) = (Materialize(sym), Materialize(labels))
    for (t <- Seq(s, l)) {
      assert(rel(t).rdd.getNumPartitions == 1)
      assert(rel(t).outputPartitioning == SinglePartition)
    }
    val p = ran(lpaShaped(s, l))
    assert(exchanges(p) == 0, s"exchanges over single-partition tables:\n$p")
    // a plain checkpoint declares nothing under AQE, so the same step shuffles
    val plain = ran(lpaShaped(sym.localCheckpoint(true), labels.localCheckpoint(true)))
    assert(exchanges(plain) > 0, s"the plain checkpoint no longer re-shuffles:\n$plain")
    assert(lpaShaped(s, l).collect().toSet == lpaShaped(sym, labels).collect().toSet)
  }

  test("coalescing off: a table stored hash-partitioned on src joins on src exchanging only the other side") {
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val e = spark.range(0, 2000).select((col("id") % 97).as("src"), col("id").as("dst"))
        .repartition(8, col("src"))
      val m = Materialize(e)
      rel(m).outputPartitioning match {
        case h: HashPartitioning => assert(h.numPartitions == 8)
        case other => fail(s"declared $other")
      }
      val other = spark.range(0, 97).select(col("id").as("src"), (col("id") * 3).as("w"))
      def shuffles(df: DataFrame): Int = "Exchange hashpartitioning".r
        .findAllIn(df.join(other, "src").queryExecution.executedPlan.toString).size
      assert(shuffles(m) == 1)
      assert(shuffles(e.localCheckpoint(true)) == 2)
      assert(m.join(other, "src").count() == e.join(other, "src").count())
    }
  }

  test("a shuffle AQE coalesced to more than one partition declares no hash partitioning") {
    withConf("spark.sql.shuffle.partitions" -> "16",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32k") {
      val e = spark.range(0, 20000, 1, 4).select((col("id") % 1000).as("k"), col("id").as("v"))
        .repartition(col("k"))
      val m = Materialize(e)
      val n = rel(m).rdd.getNumPartitions
      assert(n > 1 && n < 16, s"the shuffle was not coalesced to 2..15 partitions: $n")
      assert(!rel(m).outputPartitioning.isInstanceOf[HashPartitioning])
      assert(m.count() == 20000)
    }
  }

  test("statistics are the stored bytes, and an empty input stores nothing and still plans") {
    val m = Materialize(spark.range(0, 5000, 1, 2).select(col("id"), (col("id") * 2).as("x")))
    val stored = Bridge.storedBytes(rel(m).rdd)
    assert(stored > 0)
    assert(m.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(stored))
    // the status store reports the same bytes once the listener bus has caught up
    val id = rel(m).rdd.id
    val deadline = System.nanoTime() + 10000000000L
    def reported = spark.sparkContext.getRDDStorageInfo.find(_.id == id)
      .map(i => i.memSize + i.diskSize)
    while (!reported.contains(stored) && System.nanoTime() < deadline) Thread.sleep(20)
    assert(reported.contains(stored))

    val empty = Materialize(spark.range(0, 100).toDF().filter(col("id") < 0))
    assert(empty.queryExecution.optimizedPlan.stats.sizeInBytes ==
      BigInt(Bridge.storedBytes(rel(empty).rdd)))
    assert(empty.count() == 0)
    assert(empty.join(m, "id").count() == 0)
  }

  test("label propagation runs one job per round on a tiny graph") {
    val edges = spark.range(0, 40, 1, 1)
      .select(col("id").as("src"), ((col("id") * 7 + 3) % 40).as("dst"))
    def jobs(rounds: Int): Int = jobsRunBy {
      GraphRank.labelPropagationPinned(edges, rounds).collect()
    }
    jobs(1) // warm-up
    val perRound = jobs(3) - jobs(2)
    assert(perRound == 1, s"$perRound jobs per round")
  }

  test("the graph loops and dup clustering cut lineage only through Materialize") {
    // no site is exempt: every loop here is exact integer or decimal
    // arithmetic, and the oracle stayed bit-exact on Materialize. The scan
    // reads source text, so it runs from the repository root.
    val dir = Paths.get("src/main/scala/graft")
    val found = Seq("ops/GraphRank.scala", "llm/DupClusters.scala").flatMap { f =>
      graft.SourceText.read(dir.resolve(f)).split("\n").zipWithIndex.collect {
        case (l, i) if l.contains("localCheckpoint(") => s"$f:${i + 1}"
      }
    }
    assert(found.isEmpty, s"localCheckpoint calls (use Materialize): $found")
  }
}
