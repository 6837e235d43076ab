package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the configuration this engine is designed around.
  *
  * Tuned for the dev harness (`local[32]`, single JVM) but every knob is the
  * one you would also set on a real cluster: AQE on (runtime re-planning,
  * skew-join splitting, shuffle-partition coalescing), nested-schema pruning
  * on (the reference's hand-written Mongo projection of 5 subtrees —
  * `transformer/ranking/data_extractor.py:57-63` — becomes automatic), and a
  * shuffle-partition count sized to the parallelism actually available
  * instead of the 200 default.
  */
object GraftSession {

  /** Size of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The engine reruns
    * the same plans pass after pass, and a pass needs more classes than the
    * default holds. The cache is an LRU, so a repeated working set larger
    * than it misses on every lookup, and every pass compiled its classes
    * again with Janino (about 20 ms each, on the driver and on the executor
    * threads). Measured on a 4-core box:
    *  - a timed pass of the benchmark compiled 115 classes (`graph_iterative`)
    *    and 118 (`aram_etl`) at the default size, and 2 and 0 at this one;
    *  - `runMain graft.Profile` at sf0.01 recompiled up to 202 classes in one
    *    query's timed run (`q_retrieval_pipeline`) and 2,494 over all 362;
    *    at this size 594, none above 76;
    *  - `peak_rss_mb` rose 2.5% on `graph_iterative` (900 to 923 MB) and 1.1%
    *    on `aram_etl` (943 to 954 MB).
    */
  val CodegenCacheEntries = 1000

  def builder(appName: String = "graft", master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Spark's own 1MB default (an A/B of 128k measured +5.1 s over a
      // 12-query regression set). Set explicitly because perfbench records
      // it and fails on a bytes conf that is left unset.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Allow shuffled-hash joins where their size conditions hold: the
      // sort-merge default re-sorts both sides of every equi-join, and the
      // engine's joins are id/gram-keyed with bounded build sides
      // (catalog/candidate/node-sized). Oracle 361/361 under this setting.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Static conf: it sizes the JVM-wide cache when the first session
      // generates code.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
