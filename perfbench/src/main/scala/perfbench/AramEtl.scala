package perfbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.aram._
import graft.sources.HttpSource
import graft.streaming.UpsertSink

/** The paper's pipeline end to end: JSON match bodies delivered in batches
  * (with at-least-once redelivery and newer versions of some matches) are
  * parsed, gated to ARAM, upserted as parquet deltas, compacted, read back
  * last-write-wins, turned into features and labels, split, fitted, scored
  * by the rule scorer, ranked and evaluated.
  */
object AramEtl extends Workload {
  val name = "aram_etl"

  val Matches = 500
  val Batches = 2
  /** Share of matches redelivered in a later batch as version 2. */
  val Redelivered = 0.3
  /** Share of deliveries replayed verbatim in the same batch. */
  val Replayed = 0.05

  val scoreWeights: Map[String, Double] = Map(
    "kda" -> 0.3, "damage_per_min" -> 0.2, "kill_participation" -> 0.2,
    "gold_per_min" -> 0.1, "death_share" -> -0.2)

  /** One delivery of a match body: batch, version (1 = first). */
  final case class Delivery(matchId: String, batch: Int, version: Int)

  /** Seeded delivery plan: every match once in a random batch; a fixed
    * share of them again in a later batch as version 2; a fixed share of
    * deliveries replayed verbatim. The seed moves matches between batches
    * but never changes the number of deliveries.
    */
  def deliveries(matchIds: Seq[String], seed: Long): Seq[Delivery] = {
    val rnd = new Random(seed)
    val redelivered = rnd.shuffle(matchIds).take((matchIds.size * Redelivered).toInt).toSet
    val once = matchIds.flatMap { id =>
      if (!redelivered(id)) Seq(Delivery(id, rnd.nextInt(Batches), 1))
      else {
        val first = rnd.nextInt(Batches - 1)
        Seq(Delivery(id, first, 1), Delivery(id, first + 1 + rnd.nextInt(Batches - 1 - first), 2))
      }
    }
    val replayed = rnd.shuffle(once.indices.toVector).take((once.size * Replayed).toInt).toSet
    once.zipWithIndex.flatMap { case (d, i) => if (replayed(i)) Seq(d, d) else Seq(d) }
  }

  private val bodySchema = StructType(Seq(StructField("id", StringType),
    StructField("version", LongType), StructField("body", StringType)))

  def layout(spark: SparkSession, seed: Long, dir: String): Inputs = {
    val docs = MatchFixtures.matches(spark, Matches, seed).collect()
      .map(r => r.getStruct(0).getString(0) -> r).toMap
    val plan = deliveries(docs.keys.toSeq.sorted, seed)

    // Oracle for the upsert: each match that passes the gate, at its
    // newest version. A newer version adds (version - 1) seconds to the
    // duration, which never moves a match across the 300 s gate.
    val newest = plan.groupBy(_.matchId).map { case (id, ds) => id -> ds.map(_.version).max }
    val expectedCurrent = Digest.of(docs.toSeq.collect {
      case (id, doc) if doc.getStruct(1).getString(0) == "ARAM" && doc.getStruct(1).getLong(1) >= 300 =>
        Seq("match_id" -> id, "version" -> newest(id).toLong)
    })

    // Bodies are the documents' JSON, batch by batch in a seeded order.
    val rnd = new Random(seed)
    val batches = (0 until Batches).map { b =>
      rnd.shuffle(plan.filter(_.batch == b))
        .map(d => Row(d.matchId, d.version.toLong, versioned(docs(d.matchId), d.version).json))
    }
    batches.zipWithIndex.foreach { case (rows, b) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), bodySchema)
        .write.parquet(s"$dir/bodies/batch=$b")
    }
    val bodyBytes = batches.flatten.map(_.getString(2).length.toLong).sum

    new Inputs {
      val rows: Long = plan.size.toLong
      val layout: String = s"$Matches matches as $rows JSON bodies in $Batches batches " +
        s"(seed $seed: redelivery ${Redelivered}, replay ${Replayed}), $bodyBytes body bytes"

      def pass(spark: SparkSession, tr: Tracer, passDir: String): () => Seq[Check] = {
        val state = s"$passDir/state"
        (0 until Batches).foreach { b =>
          val batch = spark.read.parquet(s"$dir/bodies/batch=$b")
          val gated = tr.span("sources.parse") {
            tr.force(PlayerFeatures.aramFilter(HttpSource.parseBodies(batch, MatchSchema.matchDoc)
              .select(col("doc.*"), col("version"), col("id").as("match_id"))))
          }
          tr.span("streaming.write_delta")(UpsertSink.writeDelta(gated, b, state))
        }
        tr.span("streaming.compact")(UpsertSink.compact(spark, state, Seq("match_id"), Seq("version")))
        val current = tr.span("streaming.read_current") {
          tr.force(UpsertSink.readCurrent(spark, state, Seq("match_id"), Seq("version")))
        }
        val labeled = tr.span("aram.extract_label") {
          tr.force(Labeling.label(PlayerFeatures.extract(current)))
        }
        val (fitted, test) = tr.span("aram.split_fit") {
          val (train, test) = Preprocess.splitByGroup(labeled, "match_id", 0.2, 42L)
          (Pipeline.fit(train), test)
        }
        val scored = tr.span("aram.transform_score") {
          tr.force(Pipeline.ruleScorer(scoreWeights)(Pipeline.transform(fitted, test)))
        }
        val (ranked, accuracy) = tr.span("aram.rank_eval") {
          val r = Ranking.predictedRanks(scored, "predicted_score", Seq("match_id"), "puuid")
            .select("match_id", "puuid", "rank_in_match", "predicted_rank")
            .localCheckpoint(true)
          (r.collect(), graft.ops.Aggregates.rankAccuracy(r, "rank_in_match", "predicted_rank").head())
        }

        () => {
          val cur = UpsertSink.readCurrent(spark, state, Seq("match_id"), Seq("version"))
            .select("match_id", "version").collect()
          tr.facts("streaming.current_rows") = cur.length.toDouble
          tr.facts("streaming.body_bytes") = bodyBytes.toDouble
          val perMatch = ranked.groupBy(_.getString(0)).values
            .map(_.map(_.getDouble(3)).sorted.toSeq)
          val badMatches = perMatch.count(_ != (1 to 10).map(_.toDouble))
          val acc = (0 until accuracy.length).map(accuracy.getDouble)
          Seq(
            Check("read_current", Digest.ofRows(cur) == expectedCurrent,
              s"digest ${Digest.ofRows(cur)}, expected $expectedCurrent"),
            Check("ranks", perMatch.nonEmpty && badMatches == 0,
              s"${perMatch.size} test matches, $badMatches without exactly ranks 1..10"),
            Check("ranked", true, "", Some(Digest.ofRows(ranked))),
            Check("accuracy", acc.forall(a => a >= 0 && a <= 9),
              acc.mkString("rank accuracy ", ", ", ""), Some(Digest.ofRows(Array(accuracy)))))
        }
      }
    }
  }

  /** The document as delivered at `version`: the duration grows by
    * (version - 1) seconds, so last-write-wins picks a visibly different
    * row.
    */
  private def versioned(doc: Row, version: Int): Row = {
    val info = doc.getStruct(1).asInstanceOf[GenericRowWithSchema]
    val newInfo = new GenericRowWithSchema(
      info.toSeq.updated(1, info.getLong(1) + version - 1).toArray, info.schema)
    new GenericRowWithSchema(doc.toSeq.updated(1, newInfo).toArray,
      doc.asInstanceOf[GenericRowWithSchema].schema)
  }
}
