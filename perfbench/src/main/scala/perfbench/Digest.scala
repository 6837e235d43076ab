package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a result: `<rows>:<hex>`, where hex is the
  * sum (mod 2^64) of a 64-bit hash of each row. A sum, not an xor, so
  * duplicate rows count.
  *
  * A row hashes the canonical text of its values, with columns sorted by
  * name. Each value carries its type family (integer, double, string,
  * boolean, null), so a value that is equal in a different family — a
  * DuckDB HUGEINT where Spark returns a long is fine, a double is not —
  * changes the digest. Doubles are put on a 1e-6 grid with plain IEEE
  * operations, `floor(x * 1e6 + 0.5)`, which DuckDB-side code can
  * reproduce bit for bit (`oracle_check.py` does).
  */
object Digest {

  def canonical(v: Any): String = v match {
    case null => "n"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: java.math.BigDecimal => "i" + x.toBigIntegerExact
    case x: Float => "d" + grid(x.toDouble)
    case x: Double => "d" + grid(x)
    case s: String => "s" + s
    case other => "o" + other.toString
  }

  private def grid(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else new java.math.BigDecimal(math.floor(d * 1e6 + 0.5)).toBigInteger.toString

  def rowHash(text: String): Long = {
    val h = MessageDigest.getInstance("SHA-256").digest(text.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  /** Digest of rows given as (column name, value) pairs. */
  def of(rows: Iterable[Seq[(String, Any)]]): String = {
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      sum += rowHash(r.sortBy(_._1).map { case (k, v) => k + "=" + canonical(v) }.mkString("\u0001"))
      n += 1
    }
    f"$n:${java.lang.Long.toUnsignedString(sum, 16)}%16s".replace(' ', '0')
  }

  def ofRows(rows: Array[Row]): String =
    of(rows.toSeq.map(r => r.schema.fieldNames.toSeq.zip(r.toSeq)))
}
