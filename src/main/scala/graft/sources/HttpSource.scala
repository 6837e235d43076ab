package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** S2/S3 — the reference's HTTP batch sources (`extractor/riot/match/api.py`:
  * match-id pages by puuid, match detail/timeline docs) as an engine
  * source: a driver-side paginated fetch feeding a DataFrame, with the
  * transport behind a pluggable client so tests and CI are offline
  * (zero-egress — the stub serves canned responses; a production client
  * would wrap an HTTP library with the reference's rate budget: 2000 req /
  * 2 min, ≤200 concurrent, 1 s inter-batch gap, `tasks.py:17-19,159-162`).
  *
  * Design notes for scale: the fetch frontier is driver-coordinated but the
  * fetched JSON lands as a partitioned DataFrame immediately — parsing,
  * schema projection and all downstream transforms are distributed. The
  * error→null tolerance of the reference's async fetchers (`api.py:62-122`:
  * a failed fetch yields None, filtered later) maps to left-join null
  * semantics: ids with no response stay as null-payload rows for the
  * caller to `filter(col.isNotNull)` or route to a dead-letter sink.
  */
object HttpSource {

  /** Transport abstraction. `get` returns the response body, or None on
    * any error (the reference's exception→None normalization).
    */
  trait Client extends Serializable {
    def get(url: String): Option[String]
  }

  /** Offline stub: canned url → body map (CI-safe). */
  final case class StubClient(responses: Map[String, String]) extends Client {
    def get(url: String): Option[String] = responses.get(url)
  }

  /** Token-bucket rate limiter implementing the reference's crawl budget
    * (`extractor/riot/tasks.py:17-19`, `README.md:49`: 2000 requests per
    * 120 s window, with an inter-batch pause). Clock injected for
    * deterministic tests. `acquire` returns the milliseconds a caller must
    * wait before issuing the request (0 = go now) and books the request.
    */
  final class RateLimiter(maxRequests: Int, windowMillis: Long,
      clock: () => Long = System.currentTimeMillis) {
    private val stamps = scala.collection.mutable.Queue.empty[Long]
    def acquire(): Long = synchronized {
      val now = clock()
      while (stamps.nonEmpty && now - stamps.head >= windowMillis) stamps.dequeue()
      if (stamps.size < maxRequests) { stamps.enqueue(now); 0L }
      else {
        val wait = windowMillis - (now - stamps.head)
        stamps.enqueue(now + wait)
        wait
      }
    }
  }

  /** A client decorated with the rate budget: callers sleep as directed
    * (production), or record the waits (tests with a fake clock).
    */
  final class RateLimitedClient(underlying: Client, limiter: RateLimiter,
      sleep: Long => Unit = Thread.sleep) extends Client {
    def get(url: String): Option[String] = {
      val wait = limiter.acquire()
      if (wait > 0) sleep(wait)
      underlying.get(url)
    }
  }

  /** Paginated id-list fetch (S2): GET `basePath/{key}/ids?start=N&count=C`
    * until a short page, like `get_match_ids`' start/count pagination.
    * Returns (key, id) rows.
    */
  def fetchIdPages(spark: SparkSession, client: Client, basePath: String,
      keys: Seq[String], pageSize: Int = 100, maxPages: Int = 10): DataFrame = {
    import spark.implicits._
    val rows = keys.flatMap { key =>
      Iterator.range(0, maxPages).map { page =>
        client.get(s"$basePath/$key/ids?start=${page * pageSize}&count=$pageSize")
          .map(parseJsonStringArray).getOrElse(Seq.empty)
      }.takeWhile(_.nonEmpty).flatten.map(id => (key, id))
    }
    rows.toDF("key", "id")
  }

  /** Per-id document fetch (S3): the ids arrive as a DataFrame
    * column and each partition fetches its slice with its own client —
    * the Spark mapping of the reference's 200-concurrent async batches
    * (`extractor/riot/tasks.py:70-90`): partition parallelism IS the
    * concurrency.
    *
    * The global rate budget is enforced by construction: the window quota
    * is split evenly across the `parallelism` partitions, each of which
    * runs a local token bucket, so the aggregate request rate never
    * exceeds `maxRequestsPerWindow` per window regardless of executor
    * count or placement (no cross-executor coordination needed — the
    * quota shards like the data). `clientFactory` runs ON the executor,
    * once per partition, so real transports (connection pools, sockets)
    * never need to serialize. Returns (id, body) with null body on fetch
    * failure — the caller decides (filter, retry, dead-letter).
    */
  def fetchDocsDistributed(ids: DataFrame, idCol: String,
      urlFor: String => String, clientFactory: () => Client,
      parallelism: Int = 200, maxRequestsPerWindow: Int = 2000,
      windowMillis: Long = 120000L): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    // never exceed the budget: with more partitions than the window quota,
    // a 1-req/window floor per partition would overshoot — cap the fan-out
    // instead so perPartition * effParallelism <= maxRequestsPerWindow
    val effParallelism = math.min(parallelism, maxRequestsPerWindow)
    val perPartition = maxRequestsPerWindow / effParallelism
    ids.select(col(idCol).cast("string")).repartition(effParallelism).as[String]
      .mapPartitions { it =>
        val client = new RateLimitedClient(clientFactory(),
          new RateLimiter(perPartition, windowMillis))
        it.map(id => (id, client.get(urlFor(id)).orNull))
      }
      .toDF("id", "body")
  }

  /** Parse fetched JSON bodies into typed rows with an explicit schema —
    * the distributed half: runs as a normal projection over the body
    * column, corrupt records become null structs (PERMISSIVE semantics).
    */
  def parseBodies(docs: DataFrame, schema: StructType, as: String = "doc"): DataFrame =
    docs.withColumn(as, from_json(col("body"), schema)).drop("body")

  /** Minimal JSON string-array parser for the id-page endpoint (bodies like
    * `["KR_1","KR_2"]`) — avoids dragging a JSON library onto the driver.
    */
  private[sources] def parseJsonStringArray(body: String): Seq[String] = {
    val trimmed = body.trim
    if (!trimmed.startsWith("[")) Seq.empty
    else trimmed.stripPrefix("[").stripSuffix("]").split(",")
      .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
  }
}
