package graftbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-insensitive digest of a gate's collected rows.
  *
  * The same canonical form is implemented in `pin_hashes.py` over the
  * DuckDB oracle's rows, so a gate's digest can be compared with the
  * expected digest pinned from the oracle:
  *  - columns are taken in name order and the sorted names are hashed;
  *  - every number (integer, float, decimal) is rounded to 9 decimal
  *    places (half-even on the exact binary value, as Python's
  *    `round(x, 9)` does) and printed plain without trailing zeros, so
  *    a LONG 3, a DOUBLE 3.0 and a DECIMAL 3.00 all read `n3`;
  *  - timestamps are epoch microseconds, dates epoch days (UTC);
  *  - each row is hashed on its own and the sorted row digests are
  *    hashed again, so row order never matters.
  */
object Canon {
  private val hexDigits = "0123456789abcdef".toCharArray

  def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = hexDigits((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def sha256(s: String): String =
    hex(MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")))

  def number(bd: JBigDecimal): String = {
    val q = bd.setScale(9, RoundingMode.HALF_EVEN)
    if (q.signum == 0) "n0" else "n" + q.stripTrailingZeros.toPlainString
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "btrue" else "bfalse"
    case d: Double =>
      if (d.isNaN) "nNaN" else if (d.isInfinite) (if (d > 0) "nInf" else "n-Inf")
      else number(new JBigDecimal(d))
    case f: Float => value(f.toDouble)
    case n: Byte => number(JBigDecimal.valueOf(n.toLong))
    case n: Short => number(JBigDecimal.valueOf(n.toLong))
    case n: Int => number(JBigDecimal.valueOf(n.toLong))
    case n: Long => number(JBigDecimal.valueOf(n))
    case bd: JBigDecimal => number(bd)
    case bd: scala.math.BigDecimal => number(bd.bigDecimal)
    case s: String => "s" + s
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case i: java.time.Instant => "t" + micros(i)
    case l: java.time.LocalDateTime => "t" + micros(l.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case a: Array[Byte] => "x" + hex(a)
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other =>
      throw new IllegalArgumentException(s"no canonical form for ${other.getClass.getName}")
  }

  /** Digest of a result: (row count, digest). */
  def digest(columns: Seq[String], rows: Seq[Row]): (Long, String) = {
    val order = columns.indices.sortBy(columns(_))
    val header = "cols:" + order.map(columns(_)).mkString(",")
    val rowDigests = rows.map(r => sha256(order.map(i => value(r.get(i))).mkString("\u001f")))
    (rows.length.toLong, sha256(header + "\n" + rowDigests.sorted.mkString("\n")).take(16))
  }
}
