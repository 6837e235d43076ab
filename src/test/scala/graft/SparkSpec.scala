package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one JVM-wide SparkSession across suites (local[4] keeps
  * test latency low; correctness is partition-count-independent and several
  * tests assert exactly that by repartitioning inputs).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
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
