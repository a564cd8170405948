package graft.perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-independent digest of a result set, encoded the same way as
  * `oracle.py` encodes a DuckDB result: columns sorted by name, one
  * canonical string per row, the sorted per-row SHA-256 hashes hashed
  * again. Doubles are compared by bit pattern (with -0.0 folded into
  * 0.0 and every NaN into one token). */
object Digest {
  def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: java.math.BigInteger => "i" + x
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: java.math.BigDecimal =>
      val s = x.stripTrailingZeros
      "d" + (if (s.signum == 0) "0" else s.toPlainString)
    case x: String => "s" + x
    case x: java.sql.Timestamp =>
      "t" + (x.getTime / 1000 * 1000000L + x.getNanos / 1000 % 1000000)
    case x: java.time.Instant => "t" + (x.getEpochSecond * 1000000L + x.getNano / 1000)
    case x: java.time.LocalDateTime =>
      cell(x.toInstant(java.time.ZoneOffset.UTC))
    case x: java.sql.Date => "D" + x.toLocalDate.toEpochDay
    case x: java.time.LocalDate => "D" + x.toEpochDay
    case x: scala.collection.Seq[_] => x.map(cell).mkString("[", ",", "]")
    case x: Array[_] => x.toSeq.map(cell).mkString("[", ",", "]")
    case x: Row => x.toSeq.map(cell).mkString("{", ",", "}")
    case x => "o" + x.toString
  }

  private def dbl(x: Double): String =
    if (x.isNaN) "fnan"
    else "f" + java.lang.Long.toHexString(
      java.lang.Double.doubleToLongBits(if (x == 0.0) 0.0 else x))

  /** Canonical row strings, columns in name order. */
  def rows(columns: Seq[String], data: Array[Row]): Array[String] = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2).toArray
    data.map(r => order.map(i => cell(r.get(i))).mkString("\u001f"))
  }

  def ofRows(rs: Iterable[String]): String = {
    val hs = rs.map(r => hex(sha(r.getBytes("UTF-8")))).toArray.sorted
    hex(sha(hs.mkString("\n").getBytes("UTF-8")))
  }

  def of(columns: Seq[String], data: Array[Row]): String = ofRows(rows(columns, data))

  private def sha(b: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(b)
  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
}
