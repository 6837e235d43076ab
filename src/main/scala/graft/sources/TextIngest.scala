package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Line-format ingest (JSONL) with explicit schemas and per-record
  * corrupt capture — the layer in front of any 100 TB lake: raw drops
  * arrive as text lines, and the ingest read must (a) never infer schema
  * (an inference pass is a full extra scan, and drift silently retypes
  * columns), (b) never abort on a malformed record, and (c) keep the bad
  * records countable and quarantinable instead of silently dropping them
  * (the reference guards each record fetch in `extractor/riot/tasks.py`
  * and routes failures to a retry queue — same contract, set-at-a-time).
  *
  * Built as a plain text scan + `from_json` projection rather
  * than `spark.read.json` with `columnNameOfCorruptRecord`: the
  * DataSource corrupt column is load-bearing for the parser's column
  * pruning, so Spark REFUSES any query whose referenced columns reduce
  * to it alone (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN —
  * e.g. the natural `filter(corrupt IS NOT NULL).count()` quarantine
  * audit, unless the caller remembers to cache first). The projection
  * form has the same per-record PERMISSIVE semantics (same Jackson
  * parser underneath), stays a narrow map over the text scan
  * (no shuffle, pruning-safe), and composes with any downstream query.
  *
  * Contract: a malformed line yields nulls for the data columns and the
  * raw text in `corruptCol`, so `corruptCol IS NOT NULL` is the exact
  * bad-record predicate and `corruptCol IS NULL` the clean view.
  */
object TextIngest {

  private def project(parsed: Column, schema: StructType,
                      corruptCol: String): Seq[Column] =
    schema.fieldNames.toSeq.map(f => parsed.getField(f).as(f)) :+
      parsed.getField(corruptCol).as(corruptCol)

  /** The JSONL parse projection over a `value: string` line column —
    * shared verbatim by the batch and streaming reads (the projection is
    * a stateless narrow map, so it is stream-safe by construction).
    */
  def parseJsonl(lines: DataFrame, schema: StructType,
                 corruptCol: String = "_corrupt_record"): DataFrame = {
    val full = schema.add(corruptCol, StringType)
    val opts = Map("mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> corruptCol)
    lines
      .select(from_json(col("value"), full, opts).as("__r"))
      .select(project(col("__r"), schema, corruptCol): _*)
  }

  /** JSON-lines read: explicit `schema`, malformed lines captured in
    * `corruptCol` (appended to the output) instead of failing the job.
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType,
                corruptCol: String = "_corrupt_record"): DataFrame =
    parseJsonl(spark.read.text(path), schema, corruptCol)

  /** The same ingest gate as a STREAMING read — raw line drops land in a
    * directory and the quarantine accounting runs continuously; the
    * parse is the identical [[parseJsonl]] projection.
    */
  def readJsonlStream(spark: SparkSession, path: String, schema: StructType,
                      maxFilesPerTrigger: Int = 1,
                      corruptCol: String = "_corrupt_record"): DataFrame =
    parseJsonl(
      spark.readStream.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
        .text(path),
      schema, corruptCol)
}
