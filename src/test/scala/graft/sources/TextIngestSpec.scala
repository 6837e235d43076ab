package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class TextIngestSpec extends SparkSpec {

  private def tmpFile(name: String, lines: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toFile
    val f = new java.io.File(dir, name)
    java.nio.file.Files.write(f.toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    dir.toString
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("kind", StringType),
    StructField("v", DoubleType)))

  test("jsonl: valid, truncated, type-mismatch, extra and missing fields") {
    val path = tmpFile("a.jsonl", Seq(
      """{"id":1,"kind":"a","v":1.5}""",
      """{"id":2,"kind":"b","v":2.5,"extra":true}""", // unknown field: fine
      """{"id":3,"kind":"c"}""",                      // missing v: null, valid
      """{"id":4,"kind":"d","v""",                    // truncated: corrupt
      """{"id":"x","kind":"e","v":5.0}"""))           // untypeable id: corrupt
    val df = TextIngest.readJsonl(spark, path, schema)
    val corrupt = df.filter(col("_corrupt_record").isNotNull)
      .select("_corrupt_record").collect().map(_.getString(0)).toSet
    assert(corrupt === Set("""{"id":4,"kind":"d","v""",
      """{"id":"x","kind":"e","v":5.0}"""))
    val valid = df.filter(col("_corrupt_record").isNull)
      .select("id", "kind", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSet
    assert(valid === Set((1L, "a", Some(1.5)), (2L, "b", Some(2.5)),
      (3L, "c", None)))
  }

  test("corrupt predicate composes with aggregation in one pass") {
    val path = tmpFile("c.jsonl", Seq(
      """{"id":1,"kind":"a","v":1.0}""",
      """{"id":2,"kind":"a","v":2.0}""",
      """broken"""))
    val df = TextIngest.readJsonl(spark, path, schema)
    val row = df.agg(
      count(when(col("_corrupt_record").isNull, 1)).as("ok"),
      count(col("_corrupt_record")).as("bad"),
      sum(when(col("_corrupt_record").isNull, col("v"))).as("sv"))
      .collect().head
    assert(row.getLong(0) === 2L && row.getLong(1) === 1L && row.getDouble(2) === 3.0)
  }
}
