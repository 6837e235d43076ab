package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  private val tmp = Files.createTempDirectory("perfbench-inputs").toFile

  override def afterAll(): Unit = {
    spark.stop()
    def delete(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(delete))
      f.delete()
    }
    delete(tmp)
  }

  /** Rows of every parquet file under `dir`, file by file in name order,
    * keyed by the file's directory under `dir` (file names hold a per-write id).
    */
  private def filesInOrder(dir: String): Seq[(String, Seq[Row])] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk) else Seq(f)
    walk(new File(dir)).filter(_.getName.endsWith(".parquet")).map { f =>
      f.getParent.stripPrefix(dir) -> spark.read.parquet(f.getPath).collect().toSeq
    }
  }

  test("one seed always gives the same delivery plan") {
    val ids = (0 until 500).map(i => f"KR_$i%06d")
    assert(AramEtl.deliveries(ids, 7L) == AramEtl.deliveries(ids, 7L))
    assert(AramEtl.deliveries(ids, 7L) != AramEtl.deliveries(ids, 8L))
  }

  test("every match is delivered, and a redelivery is newer and later") {
    val ids = (0 until 500).map(i => f"KR_$i%06d")
    val plan = AramEtl.deliveries(ids, 3L)
    assert(plan.map(_.matchId).distinct.sorted == ids)
    plan.groupBy(_.matchId).values.foreach { ds =>
      val distinct = ds.distinct.sortBy(_.version)
      assert(distinct.map(_.version) == (1 to distinct.size))
      assert(distinct.map(_.batch) == distinct.map(_.batch).sorted.distinct)
    }
    assert(plan.size > ids.size)
  }

  test("one seed always lays out the same match bodies") {
    val a = AramEtl.layout(spark, 5L, s"$tmp/aram-a")
    val b = AramEtl.layout(spark, 5L, s"$tmp/aram-b")
    assert(a.rows == b.rows && a.layout == b.layout)
    assert(filesInOrder(s"$tmp/aram-a/bodies") == filesInOrder(s"$tmp/aram-b/bodies"))
  }

  test("one seed always gives the same table layout; another seed reorders the same rows") {
    val src = s"$tmp/base.parquet"
    spark.range(0, 1000).selectExpr("id", "id % 7 as k").coalesce(1).write.parquet(src)
    val a = QueryWorkload.relayout(spark, src, s"$tmp/t-a", 1L)
    val b = QueryWorkload.relayout(spark, src, s"$tmp/t-b", 1L)
    val c = QueryWorkload.relayout(spark, src, s"$tmp/t-c", 2L)
    assert(a == b && a._1 == 1000L)
    assert(filesInOrder(s"$tmp/t-a") == filesInOrder(s"$tmp/t-b"))
    val rowsA = filesInOrder(s"$tmp/t-a").flatMap(_._2)
    val rowsC = filesInOrder(s"$tmp/t-c").flatMap(_._2)
    assert(rowsA != rowsC)
    assert(rowsA.map(_.getLong(0)).sorted == rowsC.map(_.getLong(0)).sorted)
  }
}
