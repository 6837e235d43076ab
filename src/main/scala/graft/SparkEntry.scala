package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Every operator in SURVEY.md §2 (and the LLM-pipeline extensions) is one
  * [[graft.queries.QuerySpec]] record in a family's `specs`: the Spark build
  * function, its DuckDB oracle SQL (identical output column names) and the
  * bench's sf1 flag. Queries live in `graft.queries.*`, implemented on top
  * of the operator library (`graft.ops`, `graft.aram`, `graft.llm`,
  * `graft.streaming`). [[queries]] and [[oracleSql]] are views of [[specs]].
  */
object SparkEntry {

  import _root_.graft.{queries => q}

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q.FlagshipQuery.flagship(spark, "/root/testdata/sf0.001")

  /** Every registered query, in family order. */
  val specs: Seq[q.QuerySpec] =
    q.RelationalQueries.specs ++
      q.PreprocessQueries.specs ++
      q.TextQueries.specs ++
      q.EventsQueries.specs ++
      q.EmbeddingQueries.specs ++
      q.FlagshipQuery.specs

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Absent for non-SQL-expressible ops.
    */
  val oracleSql: Map[String, String] =
    specs.flatMap(s => s.oracle.map(s.name -> _)).toMap
}
