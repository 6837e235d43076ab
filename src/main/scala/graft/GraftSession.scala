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
      // AQE coalescing stays at stock settings. Round 16 A/B'd
      // minPartitionSize=128k (motivated by CPU-dense byte-light
      // pair-verify stages coalescing to 1-4 tasks, e.g.
      // q_similarity_join's verify stage at 918 ms on 4 tasks): the
      // 12-row regression-set sweep measured the flip +5.1 s vs stock
      // (39.75 vs 34.67 subtotal) — the extra scheduling/launch overhead
      // on EVERY small exchange outweighed the isolated stage wins — so
      // the default stands (env override still honored for experiments).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCED_PARTITION_SIZE", "1m"))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Round 16 (guide §3.1/§9): allow shuffled-hash where its size
      // conditions hold — the sort-merge default re-sorts both sides of
      // every equi-join; the engine's joins are id/gram-keyed with
      // bounded build sides (catalog/candidate/node-sized). Full-suite
      // oracle gate re-run under this flag (361/361). Env kill:
      // SPARK_GRAFT_PREFER_SMJ=1 restores sort-merge preference.
      .config("spark.sql.join.preferSortMergeJoin",
        if (sys.env.get("SPARK_GRAFT_PREFER_SMJ").contains("1")) "true" else "false")
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
