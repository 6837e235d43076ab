package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Stage-level profiling main (dev tool, round 15): runs the named queries
  * once (warm) + once timed against a SF dir and prints, per stage, the
  * wall-clock, task time, shuffle read/write bytes and record counts — the
  * guide §1 "where is the time actually going" loop without the Spark UI
  * (disabled in this sandbox). The header line also counts the classes
  * Janino compiled during the timed run (`compiled=`), which reads 0 when
  * the warm run's generated code was reused. Usage:
  *   runMain graft.Profile <sfDir> <query> [query ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSet
    val spark = GraftSession.get("graft-profile")
    spark.sparkContext.setLogLevel("ERROR")

    val stages = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Long, Long, Long, Long, Long, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += ((si.stageId, si.name.takeWhile(_ != '\n').take(80), wall,
            m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.recordsRead, si.numTasks.toLong))
        }
      }
    })

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
      .foreach { case (name, fn) =>
        // warm run (codegen, page cache) — not attributed
        try fn(spark, sfDir).count() catch { case e: Throwable =>
          println(s"$name WARM-FAILED: ${e.getMessage}") }
        Thread.sleep(200)
        stages.synchronized(stages.clear())
        spark.sparkContext.setJobDescription(name)
        val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val n = try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
        val sec = (System.nanoTime() - t0) / 1e9
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
        Thread.sleep(300) // let stage-completed events drain
        println(f"\n===== $name%s  total=$sec%.2fs compiled=$compiled%d rows=$n%d =====")
        println("stageId  wall_ms  task_ms  shufR_MB  shufW_MB  shufR_rec  tasks  name")
        stages.synchronized {
          stages.sortBy(-_._3).take(25).foreach {
            case (id, nm, wall, task, srb, swb, srr, nt) =>
              println(f"$id%7d $wall%8d $task%8d ${srb / 1e6}%9.1f ${swb / 1e6}%9.1f $srr%10d $nt%6d  $nm%s")
          }
        }
      }
    spark.stop()
  }
}
