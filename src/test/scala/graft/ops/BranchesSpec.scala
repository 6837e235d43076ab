package graft.ops

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import graft.SparkSpec

/** Branches.materialize — the §2.6 branch-overlap helper the composed
  * ledger queries (graph/classifier pipelines) thread their independent
  * sub-analyses through. The contract under test: results are EXACTLY the
  * per-branch plans' results (the helper only adds concurrency + an eager
  * lineage cut), order is preserved, and a failing branch propagates
  * and cancels its siblings.
  */
class BranchesSpec extends SparkSpec {

  test("materialize preserves each branch's result and order") {
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("g", col("id") % 7)
    val sequential = Seq(
      df.groupBy("g").agg(sum("id").as("s")).agg(max("s").as("v")),
      df.agg(count(lit(1)).cast("long").as("v")),
      df.filter(col("id") % 2 === 0).agg(min("id").as("v")))
      .map(_.collect().map(_.toSeq).toSeq)
    val overlapped = Branches.materialize(Seq(
      () => df.groupBy("g").agg(sum("id").as("s")).agg(max("s").as("v")),
      () => df.agg(count(lit(1)).cast("long").as("v")),
      () => df.filter(col("id") % 2 === 0).agg(min("id").as("v"))))
      .map(_.collect().map(_.toSeq).toSeq)
    assert(overlapped === sequential)
  }

  test("materialize runs branches with driver-side actions (iterative loops)") {
    // a branch whose construction itself runs actions — the shape the
    // graph ledgers (pointer-jumping, pagerank sweeps) bring
    val base = spark.range(0, 100).toDF("id").localCheckpoint(true)
    val Seq(a, b) = Branches.materialize(Seq(
      () => {
        var cur = base
        (1 to 3).foreach { _ =>
          cur = cur.withColumn("id", col("id") + 1).localCheckpoint(true)
        }
        cur.agg(sum("id").as("v"))
      },
      () => base.agg(sum("id").as("v"))))
    assert(a.collect().head.getLong(0) === (0L until 100L).sum + 300L)
    assert(b.collect().head.getLong(0) === (0L until 100L).sum)
  }

  test("a failing branch propagates its exception") {
    val df = spark.range(0, 10).toDF("id")
    val ex = intercept[Exception] {
      Branches.materialize(Seq(
        () => df.agg(sum("id").as("v")),
        () => df.select(expr("assert_true(id < 5)")).localCheckpoint(true)))
    }
    assert(ex != null)
  }

  test("a failing branch cancels a sleeping sibling's job and rethrows promptly") {
    import spark.implicits._
    val sc = spark.sparkContext
    val sleeperJobs = ConcurrentHashMap.newKeySet[Int]()
    val sleeperStarted = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("branches.spec.role") == "sleeper") {
          sleeperJobs.add(e.jobId)
          sleeperStarted.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      val sleepMs = 120000L
      val t0 = System.nanoTime()
      val ex = intercept[Exception] {
        Branches.materialize(Seq(
          () => {
            sc.setLocalProperty("branches.spec.role", "sleeper")
            spark.range(0, 1, 1, 1).map { x => Thread.sleep(sleepMs); x }.toDF("v")
          },
          () => {
            // fail only once the sleeper's job is running
            assert(sleeperStarted.await(60, TimeUnit.SECONDS))
            spark.range(0, 10).select(expr("assert_true(id < 5)"))
          }))
      }
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(ex.getMessage.contains("is not true"), ex.getMessage)
      assert(elapsedMs < sleepMs / 2, s"rethrown after $elapsedMs ms")
      assert(!sleeperJobs.isEmpty)
      eventually(timeout(Span(30, Seconds))) {
        val active = sc.statusTracker.getActiveJobIds().toSet
        assert(sleeperJobs.asScala.forall(id => !active.contains(id)),
          s"sleeping branch still has active jobs: ${sleeperJobs.asScala}")
      }
    } finally {
      sc.removeSparkListener(listener)
    }
  }

  test("empty and single-branch inputs") {
    assert(Branches.materialize(Nil).isEmpty)
    val only = Branches.materialize(Seq(
      () => spark.range(0, 5).toDF("id").agg(sum("id").as("v"))))
    assert(only.head.collect().head.getLong(0) === 10L)
  }
}
