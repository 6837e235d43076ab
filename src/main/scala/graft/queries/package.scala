package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{floor, lit}

package object queries {

  /** One registered query: its Spark build function over `(session, sfDir)`,
    * the DuckDB oracle SQL that must reproduce its output over the same
    * tables (identical column names; `None` only where no SQL engine can
    * replay the operator), and whether the bench times it again at 10× the
    * bench SF.
    */
  final case class QuerySpec(name: String, build: (SparkSession, String) => DataFrame,
      oracle: Option[String], sf1: Boolean = false)

  /** Engine-stable rounding for oracle-compared outputs:
    * `floor(x · 10ⁿ + 0.5) / 10ⁿ`. Unlike `round()` (BigDecimal HALF_UP in
    * Spark vs C-library rounding in DuckDB, which can disagree on values at
    * the half-way boundary), every step here is a plain IEEE-754 double op,
    * so both engines produce bit-identical results. The oracle SQL uses the
    * literal same formula.
    */
  def qround(c: Column, scale: Int): Column = {
    val p = math.pow(10.0, scale)
    floor(c * p + lit(0.5)) / p
  }
}
