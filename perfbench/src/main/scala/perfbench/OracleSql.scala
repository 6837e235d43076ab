package perfbench

/** Prints, as one JSON object, the DuckDB oracle SQL of every query the
  * benchmark runs (`graft.SparkEntry.oracleSql`); `oracle_check.py` replays
  * it to check the expected digests.
  */
object OracleSql {
  def main(args: Array[String]): Unit =
    println(Json.obj(QueryWorkload.graphQueries.map { case (q, _) =>
      q -> Json.str(graft.SparkEntry.oracleSql(q))
    }))
}
