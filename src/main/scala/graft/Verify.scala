package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The dump is PARALLEL (round 9): at 200+ registered queries a serial
  * run costs ~20+ minutes of mostly per-query fixed overhead (plan, a
  * handful of small jobs, a one-file parquet write, and for the live
  * streaming fixtures a full checkpointed micro-batch replay), which is
  * what starved the round-8 driver gate into an empty artifact. Queries
  * are independent, so they run on a worker pool; each worker gets its
  * own `spark.newSession()` (isolated SQLConf + temp-view catalog over
  * the shared SparkContext — the streaming fixtures tune
  * `spark.sql.shuffle.partitions` per query, which must not leak across
  * concurrent queries) and its own FAIR-scheduler pool so small jobs
  * are not head-of-line blocked behind a long stage. Shared on-disk
  * fixtures are build-once via [[graft.queries.FixtureLock]].
  *
  * Two more resilience properties the round-8 gap demanded:
  * `oracle_sql.json` is written FIRST (a partially-completed run still
  * yields a comparable artifact for every query that finished), and
  * per-query failures are isolated (logged, never fatal).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only these queries (dev iteration; the
    // driver always passes exactly two args and gets the full dump)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val threads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "8").toInt
    // sf0.01 rows are tiny — 8 shuffle partitions keeps per-query task
    // count (and thus fixed overhead) low while 8 concurrent queries
    // still saturate the local[16] core budget; env-tunable for larger
    // SF dirs / different hosts (mirrors SPARK_GRAFT_VERIFY_THREADS)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_VERIFY_SHUFFLE", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Bench.Json.writeValueAsString(SparkEntry.oracleSql))

    // Live streaming fixtures first: they are the longest pole (a full
    // AvailableNow replay each), so starting them early keeps the pool's
    // tail short. Everything else runs in name order.
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .toSeq.sortBy { case (name, _) => (!name.startsWith("q_stream_"), name) }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val futures = selected.map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          val t0 = System.nanoTime()
          try {
            val sess = spark.newSession()
            sess.sparkContext.setLocalProperty(
              "spark.scheduler.pool", Thread.currentThread().getName)
            fn(sess, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            System.err.println(f"[verify] $name ok (${(System.nanoTime() - t0) / 1e9}%.1fs, ${done.incrementAndGet()}/${selected.size})")
          } catch { case e: Throwable =>
            done.incrementAndGet()
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    // Final heartbeat on STDOUT: even if the driver keeps only a bounded
    // log tail, the last line states exactly how many dumps landed — a
    // killed or partial run is then diagnosable from the artifact alone.
    println(s"[verify] ${done.get()}/${selected.size} dumped to $outDir")
    spark.stop()
  }
}
