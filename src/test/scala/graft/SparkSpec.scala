package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one JVM-wide SparkSession across suites (local[4] keeps
  * test latency low; correctness is partition-count-independent and several
  * tests assert exactly that by repartitioning inputs).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** The number of Spark jobs `body` starts on this thread (and the
    * threads Spark SQL hands its local properties to: broadcasts,
    * subqueries). Jobs are tagged with a local property. The listener bus
    * delivers in order, so once a marker job run after `body` has been
    * seen, every job of `body` has been counted; no fixed sleep.
    */
  def jobsRunBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = "graft.spec.jobs"
    val jobs = new AtomicInteger(0)
    val marker = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)) match {
          case Some("on") => jobs.incrementAndGet(); ()
          case Some("marker") => marker.incrementAndGet(); ()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "on")
      body
      sc.setLocalProperty(tag, "marker")
      spark.range(1).collect()
      val deadline = System.nanoTime() + 10000000000L
      while (marker.get() == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marker.get() == 1, "the marker job never reached the listener")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
