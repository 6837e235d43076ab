package perfbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

/** Registered engine queries (`graft.SparkEntry.queries`) over a seeded
  * re-layout of fixed base tables: the seed picks each table's row order
  * and file split, so the contents — and every query's expected digest —
  * stay the same while the scan, partitioning and summation order change.
  */
final class QueryWorkload(val name: String, queries: Seq[(String, Seq[String])],
    dataDir: String, expected: Map[String, String]) extends Workload {

  def layout(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val tables = queries.flatMap(_._2).distinct
    val rowsOf = tables.map { t =>
      t -> QueryWorkload.relayout(spark, s"$dataDir/$t.parquet", s"$dir/$t.parquet", seed)
    }.toMap
    new Inputs {
      val rows: Long = queries.map(_._2.map(t => rowsOf(t)._1).sum).sum
      val layout: String = tables.map(t => s"$t:${rowsOf(t)._1} rows/${rowsOf(t)._2} files")
        .mkString(s"seeded shuffle ($seed) of ", ", ", "")

      def pass(spark: SparkSession, tracer: Tracer, passDir: String): () => Seq[Check] = {
        val outputs = queries.map { case (q, _) =>
          q -> tracer.span(s"queries.$q")(graft.SparkEntry.queries(q)(spark, dir).collect())
        }
        () => outputs.map { case (q, rows) =>
          val got = Digest.ofRows(rows)
          val want = expected.getOrElse(q, "none")
          Check(q, got == want, s"digest $got, expected $want")
        }
      }
    }
  }
}

object QueryWorkload {

  /** Driver-bound iterative loops: many small jobs, per-sweep checkpoints,
    * edge re-shuffles.
    */
  val graphQueries: Seq[(String, Seq[String])] = Seq(
    "q_label_prop" -> Seq("lineitem"),
    "q_dup_clusters" -> Seq("documents"))

  /** Rewrite the parquet table `src` to `dst` in a seeded row order, split
    * into 1 to 4 files. Returns (rows, files).
    */
  def relayout(spark: SparkSession, src: String, dst: String, seed: Long): (Long, Int) = {
    val base = spark.read.parquet(src)
    val rnd = new Random(seed * 1000003L + new java.io.File(src).getName.hashCode)
    val rows: Seq[Row] = rnd.shuffle(base.collect().toSeq)
    val files = 1 + rnd.nextInt(4)
    // parallelize cuts the sequence into `files` contiguous slices, in order
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), base.schema)
      .write.parquet(dst)
    (rows.size.toLong, files)
  }
}
