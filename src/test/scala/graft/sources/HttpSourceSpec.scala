package graft.sources

import graft.SparkSpec
import graft.aram.MatchSchema
import org.apache.spark.sql.functions._

class HttpSourceSpec extends SparkSpec {

  private val pages = Map(
    "api/u1/ids?start=0&count=2" -> """["KR_1","KR_2"]""",
    "api/u1/ids?start=2&count=2" -> """["KR_3"]""",
    "api/u2/ids?start=0&count=2" -> """["KR_2","KR_4"]""")

  test("S2: paginated id fetch walks pages until a short/missing page") {
    val client = HttpSource.StubClient(pages)
    val df = HttpSource.fetchIdPages(spark, client, "api", Seq("u1", "u2"), pageSize = 2)
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set("u1" -> "KR_1", "u1" -> "KR_2", "u1" -> "KR_3",
      "u2" -> "KR_2", "u2" -> "KR_4"))
  }

  test("rate budget: token bucket allows the window quota, then imposes waits") {
    var now = 0L
    val limiter = new HttpSource.RateLimiter(maxRequests = 3, windowMillis = 1000, clock = () => now)
    assert(limiter.acquire() === 0L)
    assert(limiter.acquire() === 0L)
    assert(limiter.acquire() === 0L)
    assert(limiter.acquire() === 1000L)   // 4th within the window must wait
    now = 1200                            // the three t=0 stamps rolled out
    assert(limiter.acquire() === 0L)
    assert(limiter.acquire() === 0L)      // bucket: [1000(booked),1200,1200]
    assert(limiter.acquire() === 800L)    // full again; head expires at 2000
    now = 5000
    assert(limiter.acquire() === 0L)      // fully drained window
  }

  test("S3 distributed: per-partition fetch matches driver fetch, one client per partition") {
    import spark.implicits._
    val bodies = (1 to 40).map(i => s"api/match/KR_$i" -> s"""{"id":$i}""").toMap
    val clientsMade = spark.sparkContext.longAccumulator("clientsMade")
    val requests = spark.sparkContext.longAccumulator("requests")
    val factory: () => HttpSource.Client = () => {
      clientsMade.add(1)
      new HttpSource.Client {
        val stub = HttpSource.StubClient(bodies)
        def get(url: String): Option[String] = { requests.add(1); stub.get(url) }
      }
    }
    val ids = ((1 to 40).map(i => s"KR_$i") :+ "KR_404").toDF("match_id")
    val got = HttpSource.fetchDocsDistributed(ids, "match_id", id => s"api/match/$id",
        factory, parallelism = 4, maxRequestsPerWindow = 4000)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size === 41)
    assert(got("KR_7") === """{"id":7}""")
    assert(got("KR_404") === null) // fetch failure → null body, row kept
    assert(clientsMade.value === 4L, "expected one client per partition")
    assert(requests.value === 41L, "every id fetched exactly once")
  }

  test("S3 distributed: fan-out capped at the window budget (no 1-req/partition overshoot)") {
    import spark.implicits._
    val clientsMade = spark.sparkContext.longAccumulator("clientsMade2")
    val factory: () => HttpSource.Client = () => {
      clientsMade.add(1)
      HttpSource.StubClient(Map.empty)
    }
    val ids = (1 to 12).map(i => s"KR_$i").toDF("match_id")
    // parallelism 8 exceeds the 4-req window budget: the fan-out must be
    // capped at 4 partitions of 1 req/window, never 8 × 1. A 50 ms window
    // keeps each partition's two window waits short.
    val n = HttpSource.fetchDocsDistributed(ids, "match_id", id => s"api/$id",
      factory, parallelism = 8, maxRequestsPerWindow = 4, windowMillis = 50L).count()
    assert(n === 12)
    assert(clientsMade.value === 4L,
      s"expected fan-out capped at 4 partitions, got ${clientsMade.value}")
  }

  test("S3: doc fetch yields null body on failure; parse gives typed rows") {
    val detail =
      """{"metadata":{"matchId":"KR_1","participants":["p1"]},
        |"info":{"gameMode":"ARAM","gameDuration":900,"gameVersion":"14.1",
        |"participants":[],"teams":[]}}""".stripMargin.replace("\n", "")
    import spark.implicits._
    val responses = Map("api/match/KR_1" -> detail)
    val docs = HttpSource.fetchDocsDistributed(Seq("KR_1", "KR_404").toDF("match_id"),
      "match_id", id => s"api/match/$id", () => HttpSource.StubClient(responses),
      parallelism = 2)
    assert(docs.filter(col("body").isNull).count() === 1)

    val parsed = HttpSource.parseBodies(docs.filter(col("body").isNotNull), MatchSchema.matchDoc)
    val row = parsed.select(col("doc.metadata.matchId"), col("doc.info.gameMode")).head()
    assert(row.getString(0) === "KR_1" && row.getString(1) === "ARAM")
  }
}
