package graft.streaming

import graft.SparkSpec
import graft.aram.MatchFixtures
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("S5 permanent dedup gate: each key emitted once across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = DedupQueue.dedupPermanent(in.toDF().withColumnRenamed("value", "id"), Seq("id"))
      .writeStream.format("memory").queryName("dedup_perm").outputMode("append").start()
    in.addData("a", "b", "a"); q.processAllAvailable()
    in.addData("b", "c"); q.processAllAvailable()
    val out = spark.table("dedup_perm").collect().map(_.getString(0)).sorted
    q.stop()
    assert(out.toSeq === Seq("a", "b", "c"))
  }

  test("S5 TTL dedup gate: key re-admitted after the watermark passes its TTL") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val df = in.toDF().toDF("id", "ts")
    val q = DedupQueue.dedupWithTtl(df, Seq("id"), "ts", "6 hours")
      .writeStream.format("memory").queryName("dedup_ttl").outputMode("append").start()
    in.addData(("A", ts("00:00")), ("B", ts("00:05"))); q.processAllAvailable()
    in.addData(("A", ts("00:30"))); q.processAllAvailable()          // dup within TTL
    in.addData(("C", ts("20:00"))); q.processAllAvailable()          // watermark → 14:00 > A's 06:00 expiry
    in.addData(("A", ts("20:30"))); q.processAllAvailable()          // A's state expired → re-admit
    val out = spark.table("dedup_ttl").collect().map(_.getString(0))
    q.stop()
    assert(out.count(_ == "A") === 2, s"got ${out.mkString(",")}")
    assert(out.count(_ == "B") === 1 && out.count(_ == "C") === 1)
  }

  test("text scrub surface is streaming-composable: gates + PII + chunking over a stream") {
    // the narrow llm operators are pure column expressions, so the same
    // code runs unchanged under Structured Streaming — the property that
    // makes the corpus pipeline incrementalizable (new crawl data flows
    // through gates/redaction/chunking without a batch rebuild)
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.TextAnalysis
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val en = TextAnalysis.langStopwords.head._2
    val q = TextAnalysis.chunkByTokens(
        docs.filter(TextAnalysis.qualityScore(col("text"), en) >= 0.1)
          .withColumn("text", TextAnalysis.redactPii(col("text"))),
        "doc_id", "text", maxTokens = 4, overlap = 1)
      .writeStream.format("memory").queryName("stream_scrub").outputMode("append").start()
    in.addData(
      (1L, "the cat and the dog mail bob@x.org of it is in"),
      (2L, "xx"))  // fails the quality gate
    q.processAllAvailable()
    val rows = spark.table("stream_scrub").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx")) -> r.getAs[String]("chunk_text")).toMap
    q.stop()
    assert(rows.keySet.map(_._1) === Set(1L))          // doc 2 gated out
    assert(rows((1L, 2L)).startsWith("the dog mail"))  // stride 3 windows
    assert(rows.values.exists(_.contains("<EMAIL>")))  // redaction applied
    assert(!rows.values.exists(_.contains("bob@x.org")))
  }

  test("incremental span-dedup stream: cross-batch spans cut, replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("inc_span").toString
    assert(IncrementalSpanDedup.scrubbedSoFar(spark, dir).count() === 0)
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        IncrementalSpanDedup.processBatch(b, id, dir, "doc_id", "text", k = 5)
      }
      .start()
    in.addData(
      (1L, "alpha beta gamma delta epsilon one two three four five"),
      (2L, "totally unrelated first batch filler text goes right here"))
    q.processAllAvailable()
    in.addData( // batch 1 re-quotes batch 0's span → cut against the store
      (6L, "six seven alpha beta gamma delta epsilon eight nine ten"))
    q.processAllAvailable()
    q.stop()
    def scrubbed() = IncrementalSpanDedup.scrubbedSoFar(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    val out = scrubbed()
    assert(out(1L) === ((0L, "alpha beta gamma delta epsilon one two three four five")))
    assert(out(6L) === ((5L, "six seven eight nine ten")))
    // at-least-once replay of batch 1: same store view (own spans ignored),
    // outputs overwritten in place — state must not change
    val batch1 = Seq((6L, "six seven alpha beta gamma delta epsilon eight nine ten"))
      .toDF("doc_id", "text")
    IncrementalSpanDedup.processBatch(batch1, 1L, dir, "doc_id", "text", k = 5)
    assert(scrubbed() === out)
  }

  test("incremental dedup stream: cross-batch near-dups found, replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("inc_dedup").toString
    // before any batch commits, the pair view is empty, not an error
    assert(IncrementalDedup.pairsSoFar(spark, dir).count() === 0)
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        IncrementalDedup.processBatch(b, id, dir, "doc_id", "text",
          numBands = 6, threshold = 0.4)
      }
      .start()
    in.addData(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy cat near the river bank today"),
      (3L, "completely unrelated content about database systems and query engines"))
    q.processAllAvailable()
    in.addData(
      (6L, "the quick brown fox jumps over the lazy dog near the river bank now"),
      (7L, "entirely fresh material mentioning optimizers and columnar formats"))
    q.processAllAvailable()
    q.stop()
    def pairSet() = IncrementalDedup.pairsSoFar(spark, dir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs = pairSet()
    assert(pairs.contains((1L, 2L)), s"within-batch pair missing: $pairs")  // batch 0
    assert(pairs.exists(p => p._2 == 6L), s"cross-batch pair missing: $pairs") // batch 1 vs store
    assert(!pairs.exists(p => p._1 == 7L || p._2 == 7L))
    // at-least-once replay of batch 1: same store view (own sigs ignored),
    // outputs overwritten in place — state must not change
    val batch1 = Seq(
      (6L, "the quick brown fox jumps over the lazy dog near the river bank now"),
      (7L, "entirely fresh material mentioning optimizers and columnar formats")
    ).toDF("doc_id", "text")
    IncrementalDedup.processBatch(batch1, 1L, dir, "doc_id", "text",
      numBands = 6, threshold = 0.4)
    assert(pairSet() === pairs)
    assert(spark.read.parquet(s"$dir/sigs_*").count() === 5)
  }

  test("incrementally maintained aggregate: foreachBatch folds batches; replay idempotent") {
    import graft.ops.IncrementalAgg
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("inc_agg").toString
    val partials = Seq(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val merges = Seq(sum(col("n")).as("n"), sum(col("s")).as("s"))
    def stateDir(id: Long) = s"$dir/state_$id"
    // exactly-once EFFECT: state is versioned by batch id — state_i is a
    // pure function of (state_{i-1}, batch_i), so an at-least-once replay
    // of batch i overwrites state_i with identical content
    def process(b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long): Unit = {
      val prev = if (id == 0) None else Some(spark.read.parquet(stateDir(id - 1)))
      IncrementalAgg.update(prev, b.toDF(), Seq("k"), partials, merges)
        .write.mode("overwrite").parquet(stateDir(id))
    }
    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("k", "v").writeStream.foreachBatch(process _).start()
    in.addData((1L, 10L), (1L, 20L), (2L, 5L))
    q.processAllAvailable()
    in.addData((1L, 30L), (3L, 7L))
    q.processAllAvailable()
    q.stop()
    def state1() = spark.read.parquet(stateDir(1L))
      .select("k", "n", "s").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Set((1L, 3L, 60L), (2L, 1L, 5L), (3L, 1L, 7L))
    assert(state1() === want)
    // replay batch 1 (at-least-once delivery) — state unchanged
    process(Seq((1L, 30L), (3L, 7L)).toDF("k", "v"), 1L)
    assert(state1() === want)
  }

  test("stream-stream interval join ≡ batch RangeJoin on the same data; late rows dropped") {
    implicit val sqlCtx = spark.sqlContext
    val viewRows = Seq((1L, 100L, ts("01:00")), (1L, 101L, ts("03:00")),
      (2L, 102L, ts("01:30")), (3L, 103L, ts("05:00")))
    val clickRows = Seq((1L, 200L, ts("01:30")), (1L, 201L, ts("03:59")),
      (2L, 202L, ts("02:31")), (3L, 203L, ts("05:00")), (3L, 204L, ts("06:00")))
    val vIn = MemoryStream[(Long, Long, Timestamp)]
    val cIn = MemoryStream[(Long, Long, Timestamp)]
    val q = StreamJoin.intervalJoin(
        vIn.toDF().toDF("user_id", "view_id", "view_ts"), "view_ts",
        cIn.toDF().toDF("user_id", "click_id", "click_ts"), "click_ts",
        keys = Seq("user_id"), window = "1 HOUR", delay = "30 minutes")
      .writeStream.format("memory").queryName("stream_ij").outputMode("append").start()
    vIn.addData(viewRows: _*); cIn.addData(clickRows: _*); q.processAllAvailable()
    // a click below the advanced watermark (max 06:00 − 30 min) is late →
    // dropped even though it falls inside view 100's window
    cIn.addData((1L, 205L, ts("01:59"))); q.processAllAvailable()
    val live = spark.table("stream_ij").select("view_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    // batch twin over micros longs — the oracle-checked q_interval_join path
    val batch = graft.ops.RangeJoin.pointInInterval(
        clickRows.toDF("user_id", "click_id", "ts")
          .select(col("user_id"), col("click_id"), unix_micros(col("ts")).as("c_us")), "c_us",
        viewRows.toDF("user_id", "view_id", "ts")
          .select(col("user_id"), col("view_id"), unix_micros(col("ts")).as("s_us"),
            (unix_micros(col("ts")) + 3600000000L).as("e_us")),
        "s_us", "e_us", bucketWidth = 3600000000L, keys = Seq("user_id"))
      .select("view_id", "click_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live === batch, s"live=$live batch=$batch")
    assert(batch === Set((100L, 200L), (101L, 201L), (103L, 203L)))
    assert(!live.contains((100L, 205L)), "late click survived the watermark")
  }

  test("stream-static join: micro-batches enrich against a static dimension") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("event_id", "user_id")
      .join(dim, Seq("user_id"), "left")
      .writeStream.format("memory").queryName("stream_static").outputMode("append").start()
    in.addData((10L, 1L), (11L, 3L)); q.processAllAvailable()
    in.addData((12L, 2L)); q.processAllAvailable()
    val out = spark.table("stream_static").collect()
      .map(r => r.getAs[Long]("event_id") -> Option(r.getAs[String]("tier"))).toMap
    q.stop()
    assert(out === Map(10L -> Some("gold"), 11L -> None, 12L -> Some("silver")))
  }

  test("native session_window under streaming: gap merge, watermark closes sessions") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val q = in.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("start"), col("n"))
      .writeStream.format("memory").queryName("stream_session").outputMode("append").start()
    // user 1: two events 10 min apart (one session), then a 40-min gap (new
    // session); advance the watermark far enough to close them all
    in.addData((1L, ts("01:00")), (1L, ts("01:10")), (1L, ts("01:50"))); q.processAllAvailable()
    in.addData((2L, ts("09:00"))); q.processAllAvailable()
    val out = spark.table("stream_session").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    q.stop()
    assert(out === Set((1L, ts("01:00"), 2L), (1L, ts("01:50"), 1L)),
      s"got $out")
  }

  test("event-time tumbling window agg: watermark closes windows, late data dropped") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double)]
    val agg = in.toDF().toDF("ts", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      .select(col("window.start").as("w"), col("n"), col("s"))
    val q = agg.writeStream.format("memory").queryName("winagg").outputMode("append").start()

    in.addData((ts("09:10"), 1.0), (ts("09:40"), 2.0), (ts("10:10"), 4.0)); q.processAllAvailable()
    in.addData((ts("13:00"), 8.0)); q.processAllAvailable()   // watermark → 12:00, closes 09:00+10:00
    in.addData((ts("09:20"), 100.0)); q.processAllAvailable() // LATE: behind watermark → dropped
    in.addData((ts("16:00"), 16.0)); q.processAllAvailable()  // closes 13:00

    val out = spark.table("winagg").collect()
      .map(r => r.getTimestamp(0).toString -> (r.getLong(1), r.getDouble(2))).toMap
    q.stop()
    assert(out("2024-01-01 09:00:00.0") === ((2L, 3.0)))  // late 100.0 NOT included
    assert(out("2024-01-01 10:00:00.0") === ((1L, 4.0)))
    assert(out("2024-01-01 13:00:00.0") === ((1L, 8.0)))
  }

  test("S4 upsert sink: last-write-wins, batch replay idempotent, compaction stable") {
    val dir = Files.createTempDirectory("upsert").toString
    val b0 = Seq(("m1", 1L, "v1"), ("m2", 1L, "v1")).toDF("match_id", "version", "payload")
    val b1 = Seq(("m1", 2L, "v2"), ("m3", 1L, "v1")).toDF("match_id", "version", "payload")
    UpsertSink.writeDelta(b0, 0, dir)
    UpsertSink.writeDelta(b1, 1, dir)
    def current() = UpsertSink.readCurrent(spark, dir, Seq("match_id"), Seq("version"))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(current() === Map("m1" -> "v2", "m2" -> "v1", "m3" -> "v1"))
    UpsertSink.writeDelta(b1, 1, dir) // at-least-once replay of the same batch
    assert(current() === Map("m1" -> "v2", "m2" -> "v1", "m3" -> "v1"))
    UpsertSink.compact(spark, dir, Seq("match_id"), Seq("version"))
    assert(current() === Map("m1" -> "v2", "m2" -> "v1", "m3" -> "v1"))
    // compact again with no new deltas: no-op, state unchanged
    UpsertSink.compact(spark, dir, Seq("match_id"), Seq("version"))
    assert(current() === Map("m1" -> "v2", "m2" -> "v1", "m3" -> "v1"))
    // a restarted query with a FRESH checkpoint replays batchId 0 — the
    // compacted snapshot must survive (no name collision) and the old
    // b0 rows must lose LWW against the compacted state
    UpsertSink.writeDelta(b0, 0, dir)
    assert(current() === Map("m1" -> "v2", "m2" -> "v1", "m3" -> "v1"))
    UpsertSink.compact(spark, dir, Seq("match_id"), Seq("version"))
    assert(current() === Map("m1" -> "v2", "m2" -> "v1", "m3" -> "v1"))
  }

  test("E1+E2 topology: queues, api joins, ARAM gate, self-feeding frontier") {
    val base = Files.createTempDirectory("topo").toString
    val userQ = s"$base/users"; val matchQ = s"$base/matches"
    val sink = s"$base/sink"; val ckpt = s"$base/ckpt"

    // api tables from deterministic fixtures
    val docs = MatchFixtures.matches(spark, 20).cache()
    val details = docs.select(col("metadata.matchId").as("match_id"),
      struct(col("metadata"), col("info")).as("detail"))
    val timelines = docs.limit(15).select(col("metadata.matchId").as("match_id"),
      col("timeline"))
    val userMatches = docs.select(explode(col("metadata.participants")).as("user_id"),
        col("metadata.matchId").as("mid"))
      .groupBy("user_id").agg(collect_list("mid").as("match_ids"))

    // seed the user queue with the participants of match 0 (cold start)
    docs.limit(1).select(explode(col("metadata.participants")).as("id"),
        lit(ts("00:00")).as("ts"))
      .write.mode("overwrite").json(userQ)

    val q1 = IngestTopology.userToMatchIds(spark, userQ, matchQ, userMatches, ckpt)
    q1.awaitTermination()
    val matchIds = spark.read.schema(IngestTopology.idSchema).json(matchQ)
    assert(matchIds.count() > 0)

    val q2 = IngestTopology.matchIdsToDocs(spark, matchQ, userQ, details, timelines, sink, ckpt)
    q2.awaitTermination()

    val stored = UpsertSink.readCurrent(spark, sink, Seq("match_id"), Seq("ts"))
    // ARAM gate: no stored doc may be non-ARAM
    assert(stored.filter(col("detail.info.gameMode") =!= "ARAM").count() === 0)
    assert(stored.count() > 0)
    // self-feeding: the user queue grew beyond the seed 10
    assert(spark.read.schema(IngestTopology.idSchema).json(userQ).count() > 10)
    // detail-only rows (no timeline fetched) still stored
    assert(stored.filter(col("timeline").isNull).count() >= 0)
  }
}
