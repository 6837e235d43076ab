package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A checked output: `ok` is false when the program's output does not
  * match what the benchmark expects. A `digest`, when given, must also be
  * the same on every pass of the run: one seed gives one input, and the
  * program must give one answer for it.
  */
final case class Check(name: String, ok: Boolean, detail: String, digest: Option[String] = None)

/** One call into a layer: wall-clock bounds in ms (to line up with Spark's
  * job times) and its duration in seconds.
  */
final case class Span(name: String, startMs: Long, endMs: Long, seconds: Double)

/** Spans of one pass. Untraced, it only runs the body. Traced, it tags the
  * Spark jobs a span launches (see [[TagListener]]), times the span, and
  * `force` materializes a lazy result so its work lands in its own span.
  */
final class Tracer(spark: SparkSession, val traced: Boolean,
    appender: Option[AccumulatorMissAppender]) {

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Counts the pass learned while running, e.g. rows kept by an upsert. */
  val facts = mutable.Map.empty[String, Double]

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val sc = spark.sparkContext
      sc.setLocalProperty(TagListener.TagProperty, name)
      appender.foreach(_.currentTag = name)
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(name, s0, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
        sc.setLocalProperty(TagListener.TagProperty, null)
        appender.foreach(_.currentTag = TagListener.Untagged)
      }
    }

  def force(df: DataFrame): DataFrame = if (traced) df.localCheckpoint(true) else df
}

/** Inputs laid out for one seed, and the pass that runs over them. */
trait Inputs {
  /** Input rows one pass processes. */
  def rows: Long
  /** How the inputs were laid out, for the run-conditions header. */
  def layout: String
  /** Run the program once. Returns the checks of its outputs, to be run
    * after the pass's clock has stopped.
    */
  def pass(spark: SparkSession, tracer: Tracer, passDir: String): () => Seq[Check]
}

trait Workload {
  def name: String
  def layout(spark: SparkSession, seed: Long, dir: String): Inputs
}

object Workloads {
  def byName(name: String, dataDir: String, expected: Map[String, String]): Workload = name match {
    case "aram_etl" => AramEtl
    case "graph_iterative" => new QueryWorkload(name, QueryWorkload.graphQueries, dataDir, expected)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
