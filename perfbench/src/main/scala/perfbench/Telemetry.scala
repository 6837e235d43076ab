package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Length of the union of half-open `[start, end)` intervals, clipped to
  * `[lo, hi)`. Jobs of one operation may overlap (concurrent branches), so
  * the time covered by jobs is the union, never the sum.
  */
object Intervals {
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Engine counters of one tagged operation, summed over its jobs and tasks. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var scanBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The benchmark's own `SparkListener`. Every job carries the tag of the
  * operation that launched it (the `perfbench.tag` local property, which
  * Spark copies into each job's properties and which child threads
  * inherit), and every stage and task is booked to its job's tag.
  */
final class TagListener extends SparkListener {
  import TagListener.TagProperty

  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobTag = new ConcurrentHashMap[Int, (String, Long)]()
  private val byTag = mutable.Map.empty[String, Counters]

  private def counters(tag: String): Counters = byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagProperty)))
      .getOrElse(TagListener.Untagged)
    jobTag.put(e.jobId, (tag, e.time))
    e.stageIds.foreach(stageTag.put(_, tag))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (tag, start) = Option(jobTag.remove(e.jobId)).getOrElse((TagListener.Untagged, e.time))
    synchronized {
      val c = counters(tag)
      c.jobs += 1
      c.jobIntervals += ((start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val tag = Option(stageTag.get(e.stageInfo.stageId)).getOrElse(TagListener.Untagged)
    synchronized { counters(tag).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = Option(stageTag.get(e.stageId)).getOrElse(TagListener.Untagged)
    val info = e.taskInfo
    val m = e.taskMetrics
    synchronized {
      val c = counters(tag)
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      if (m != null) {
        c.execRunMs += m.executorRunTime
        c.execCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.scanBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
        // the Spark UI's scheduler delay: task duration not spent
        // deserializing, running, serializing or shipping the result
        val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      }
    }
  }

  /** Counters booked so far, by tag; clears them. */
  def drain(): Map[String, Counters] = synchronized {
    val out = byTag.toMap
    byTag.clear()
    out
  }
}

object TagListener {
  val TagProperty = "perfbench.tag"
  val Untagged = "untagged"
}

/** Counts DAGScheduler "attempted to access non-existent accumulator"
  * errors: task metrics that named an accumulator the driver had already
  * dropped, so the update was lost. Each error is booked to the operation
  * running when it was logged.
  */
final class AccumulatorMissAppender
    extends AbstractAppender("perfbench-accumulator-misses", null, null, true, Property.EMPTY_ARRAY) {
  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  @volatile var currentTag: String = TagListener.Untagged

  override def append(event: LogEvent): Unit = {
    val text = Option(event.getMessage).map(_.getFormattedMessage).getOrElse("") +
      Option(event.getThrown).map(t => " " + t.getMessage).getOrElse("")
    if (text.contains("non-existent accumulator"))
      counts.computeIfAbsent(currentTag, _ => new AtomicLong()).incrementAndGet()
  }

  def drain(): Map[String, Long] = {
    val out = counts.asScala.map { case (k, v) => k -> v.getAndSet(0L) }.toMap
    out.filter(_._2 > 0)
  }
}

object AccumulatorMissAppender {
  /** Attach a new appender to the root logger at ERROR, where Spark logs
    * the lost update.
    */
  def install(): AccumulatorMissAppender = {
    val app = new AccumulatorMissAppender
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    config.addAppender(app)
    config.getRootLogger.addAppender(app, Level.ERROR, null)
    ctx.updateLoggers()
    app
  }
}
