package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload, one seed, one JVM.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --expected FILE --work DIR [--commit C] [--source S]
  *
  * It sets up three times (session start, input layout), runs one
  * untimed warm-up pass, and reports the median set-up plus the warm-up
  * as `setup_s`. Then it runs timed passes back to back, one client in a
  * closed loop, until S seconds have passed. Untraced, it prints the end-to-end metrics; traced, it
  * alternates untraced and traced passes and prints the per-layer metrics.
  * Every output of every pass is checked. The last stdout line is the
  * result object; the line before it holds the run conditions.
  */
object Main {

  final case class Options(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, expected: String, work: String, commit: String, source: String)

  def parse(args: Array[String]): Options = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Options(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("expected"), need("work"),
      m.getOrElse("commit", "unknown"), m.getOrElse("source", "unknown"))
  }

  val Setups = 3

  /** Every end-to-end metric, with its unit, in print order. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "cpu_s" -> "s",
    "peak_rss_mb" -> "MB", "ok_ratio" -> "fraction")

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val exit = try { run(opts); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    // Spark leaves non-daemon threads behind; end the JVM explicitly.
    System.exit(exit)
  }

  def run(o: Options): Unit = {
    val workload = Workloads.byName(o.workload, o.data, Expected.load(o.expected))
    val checks = new CheckLog
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // Set up three times (session start, input layout) and keep the last;
    // the one untimed warm-up pass runs on it.
    var spark: SparkSession = null
    var inputs: Inputs = null
    val setupSeconds = (1 to Setups).map { k =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Session.start(o.work)
      inputs = workload.layout(spark, o.seed, s"${o.work}/setup$k")
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    checks.attempt(inputs.pass(spark, new Tracer(spark, false, None), s"${o.work}/warmup"))
    val warmupSeconds = (System.nanoTime() - t0) / 1e9

    val listener = if (o.trace) Some(new TagListener) else None
    listener.foreach(spark.sparkContext.addSparkListener(_))
    val appender = if (o.trace) Some(AccumulatorMissAppender.install()) else None

    val untraced = mutable.ArrayBuffer.empty[(Double, Double)] // (wall s, process cpu s)
    val traced = mutable.ArrayBuffer.empty[Map[String, Double]]
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() < deadline || untraced.isEmpty || (o.trace && traced.isEmpty)) {
      require(n < 50, "no pass of this workload succeeds")
      val tracing = o.trace && n % 2 == 1
      val tr = new Tracer(spark, tracing, appender)
      // start every pass from a collected heap, so a collection (and the
      // cleanup of the last pass's shuffles and checkpoints it triggers)
      // does not land in a random pass
      System.gc()
      val cpu0 = os.getProcessCpuTime
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ok = checks.attempt(inputs.pass(spark, tr, s"${o.work}/pass$n"))
      val wall = (System.nanoTime() - t0) / 1e9
      val s1 = System.currentTimeMillis()
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      spark.catalog.clearCache()
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      val (byTag, misses) = (listener.map(_.drain()), appender.map(_.drain()))
      // a pass that threw is counted as failed and not timed
      if (ok && tracing) traced += LayerMetrics.of(tr, byTag.get, misses.get, s0, s1, wall,
        spark.sparkContext.defaultParallelism)
      else if (ok) untraced += ((wall, cpu))
      n += 1
    }

    val values: Map[String, Double] =
      if (!o.trace) Map(
        "setup_s" -> (median(setupSeconds) + warmupSeconds),
        "rows_per_s" -> inputs.rows / median(untraced.map(_._1).toSeq),
        "cpu_s" -> median(untraced.map(_._2).toSeq),
        "peak_rss_mb" -> peakRssMb(),
        "ok_ratio" -> (checks.attempted - checks.failed).toDouble / checks.attempted)
      else {
        val untracedWall = median(untraced.map(_._1).toSeq)
        val tracedWall = median(traced.map(_("trace.pass_s")).toSeq)
        LayerMetrics.catalogue.map { case (name, _) =>
          name -> (name match {
            case "trace.overhead_s" => tracedWall - untracedWall
            case "trace.untraced_pass_s" => untracedWall
            case "setup.first_s" => setupSeconds.head
            case "setup.warmup_s" => warmupSeconds
            case _ => median(traced.map(_.getOrElse(name, 0.0)).toSeq)
          })
        }.toMap
      }
    val metrics = (if (o.trace) LayerMetrics.catalogue else endToEnd)
      .map { case (name, unit) => (name, values(name), unit) }

    val conf = spark.conf
    val conditions = Json.obj(Seq(
      "commit" -> Json.str(o.commit),
      "source_sha256" -> Json.str(o.source),
      "workload" -> Json.str(o.workload),
      "seed" -> o.seed.toString,
      "trace" -> o.trace.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "cpus" -> spark.sparkContext.defaultParallelism.toString,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jvm_flags" -> Json.str(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("-X")).mkString(" ")),
      "confs" -> Json.obj(Session.planConfs.map(k => k -> Json.str(conf.get(k, "unset")))),
      "input_rows" -> inputs.rows.toString,
      "input_layout" -> Json.str(inputs.layout),
      "setups_s" -> setupSeconds.map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(warmupSeconds),
      "passes_s" -> (untraced.map(_._1) ++ traced.map(_("trace.pass_s"))).map(Json.num).mkString("[", ",", "]"),
      "passes" -> (untraced.size + traced.size).toString,
      "failures" -> checks.failures.map(Json.str).mkString("[", ",", "]")))
    spark.stop()

    println(Json.obj(Seq("run_conditions" -> conditions)))
    println(Json.obj(Seq(
      "correct" -> (checks.failed == 0).toString,
      "attempted" -> checks.attempted.toString,
      "failed" -> checks.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (name, v, unit) =>
        name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      }))))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble * 1024 / 1e6
  }
}

/** Every check of the run. A check that carries a digest must repeat the
  * digest its name had the first time in this run.
  */
final class CheckLog {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private val firstDigest = mutable.Map.empty[String, String]

  /** Run a pass and then its checks; a pass or check that throws counts
    * as one failed check. Returns false if the pass threw.
    */
  def attempt(pass: => () => Seq[Check]): Boolean = {
    val verify = try Right(pass) catch { case NonFatal(e) => Left(e) }
    verify match {
      case Right(v) => record(try v() catch { case NonFatal(e) => Seq(Check("checks", false, e.toString)) })
      case Left(e) => record(Seq(Check("pass", false, e.toString)))
    }
    verify.isRight
  }

  def record(cs: Seq[Check]): Unit = cs.foreach { c =>
    val first = c.digest.map(d => firstDigest.getOrElseUpdate(c.name, d))
    val ok = c.ok && first == c.digest
    attempted += 1
    if (!ok) {
      failed += 1
      val why = if (!c.ok) c.detail else s"digest ${c.digest.get}, first pass ${first.get}"
      if (failures.size < 20) failures += s"${c.name}: $why"
      System.err.println(s"perfbench: check failed: ${c.name}: $why")
    }
  }
}

object Session {
  /** Session confs that change plans; recorded with every result. */
  val planConfs: Seq[String] = Seq(
    "spark.sql.adaptive.enabled",
    "spark.sql.join.preferSortMergeJoin",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize")

  /** The library's session (`graft.GraftSession.builder`, sized by
    * SPARK_GRAFT_CPUS), with scratch space kept under `work`.
    */
  def start(work: String): SparkSession = {
    val spark = graft.GraftSession.builder("perfbench")
      .config("spark.local.dir", new File(s"$work/spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(s"$work/warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Expected {
  /** `{"query": "digest", ...}`, the committed expected digests. */
  def load(path: String): Map[String, String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(new File(path))
    val it = node.fields()
    val out = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); out += e.getKey -> e.getValue.asText() }
    out.result()
  }
}

/** Just enough JSON writing for the result lines. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalArgumentException(s"not a JSON number: $v")
    else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
