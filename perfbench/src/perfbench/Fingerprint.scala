package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a query result over every row and
  * every column, the JVM half of `oracle.py`'s `fingerprint` (the two
  * must stay byte-for-byte in step).
  *
  * Columns are taken in name order and rows as a multiset, the
  * normalisation `tools/check.py` applies before its exact compare.
  * Each row becomes one canonical string; the fingerprint is the row
  * count plus the sum, modulo 2^64, of the first eight bytes of each
  * row string's MD5. Numbers are written as the exact decimal value of
  * their double image (decimals are compared as doubles, as pandas
  * compares DuckDB's DECIMAL output), so 3, 3L and 3.0 agree.
  */
object Fingerprint {

  def of(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2).toArray
    val md5   = MessageDigest.getInstance("MD5")
    var sum   = 0L
    val sb    = new java.lang.StringBuilder
    rows.foreach { r =>
      canonRow(r, order, sb)
      val d = md5.digest(sb.toString.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    columns.sorted.mkString(",") + "|" + rows.length + "|" + java.lang.Long.toUnsignedString(sum, 16)
  }

  /** The canonical string of one row, its columns taken in `order`. */
  private def canonRow(r: Row, order: Array[Int], sb: java.lang.StringBuilder): Unit = {
    sb.setLength(0)
    var i = 0
    while (i < order.length) {
      if (i > 0) sb.append('\u001f')
      canon(r.get(order(i)), sb)
      i += 1
    }
  }

  private def number(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN) sb.append("NaN")
    else if (d.isInfinite) sb.append(if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) sb.append('0')
    else sb.append(new java.math.BigDecimal(d).stripTrailingZeros.toPlainString)

  private val tsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null                       => sb.append("\\N")
    case b: Boolean                 => sb.append(if (b) "true" else "false")
    case s: String                  => sb.append(s)
    case x: Byte                    => sb.append(x.toLong)
    case x: Short                   => sb.append(x.toLong)
    case x: Int                     => sb.append(x.toLong)
    case x: Long                    => sb.append(x)
    case x: Float                   => number(x.toDouble, sb)
    case x: Double                  => number(x, sb)
    case x: java.math.BigDecimal    => number(x.doubleValue, sb)
    case x: scala.math.BigDecimal   => number(x.toDouble, sb)
    case x: java.sql.Timestamp      =>
      sb.append(tsFormat.format(x.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime))
    case x: java.time.Instant       =>
      sb.append(tsFormat.format(x.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime))
    case x: java.time.LocalDateTime => sb.append(tsFormat.format(x))
    case x: java.sql.Date           => sb.append(x.toLocalDate.toString)
    case x: java.time.LocalDate     => sb.append(x.toString)
    case x: Array[Byte]             => x.foreach(b => sb.append(f"${b & 0xff}%02x"))
    case x: Row                     =>
      sb.append('{')
      (0 until x.length).foreach { i => if (i > 0) sb.append(','); canon(x.get(i), sb) }
      sb.append('}')
    case x: scala.collection.Map[_, _] =>
      val entries = x.toSeq.map { case (k, e) =>
        val kb = new java.lang.StringBuilder; canon(k, kb)
        val eb = new java.lang.StringBuilder; canon(e, eb)
        kb.toString + ":" + eb.toString
      }.sorted
      sb.append('{').append(entries.mkString(",")).append('}')
    case x: scala.collection.Seq[_] =>
      sb.append('[')
      var first = true
      x.foreach { e => if (!first) sb.append(','); first = false; canon(e, sb) }
      sb.append(']')
    case other => sb.append(other.toString)
  }
}
