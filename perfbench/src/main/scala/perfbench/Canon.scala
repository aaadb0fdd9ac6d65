package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Engine-independent canonical hash of a result set; perfbench/canon.py
  * computes the same hash from DuckDB rows.
  *
  *  - columns are taken in name order; a row is its value tokens joined by
  *    U+001F;
  *  - a number whose value is integral (and below 1e15 in magnitude) is
  *    its decimal integer, so 5, 5L and 5.0 agree across engines; any
  *    other float is "d" + the hex of its IEEE-754 double bits;
  *  - timestamps are epoch microseconds, dates epoch days, NULL is U+0000N,
  *    arrays are [..], structs (..), maps {k:v} in key order;
  *  - the result hash is "<rows>:<sum of the first 8 bytes of each row's
  *    SHA-256, mod 2^64, in hex>", so it ignores row order and keeps
  *    duplicates.
  */
object Canon {

  def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def token(v: Any): String = v match {
    case null => "\u0000N"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.math.BigInteger => n.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case bd: java.math.BigDecimal =>
      val s = bd.stripTrailingZeros
      if (s.scale <= 0 && s.abs.compareTo(java.math.BigDecimal.valueOf(1e15)) < 0)
        s.toBigIntegerExact.toString
      else num(bd.doubleValue)
    case s: String => s
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case i: java.time.Instant => micros(i).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(token).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (token(k), token(x)) }.sortBy(_._1)
        .map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(token).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Tokens of one row with its columns in name order. */
  def rowString(order: Array[Int], r: Row): String =
    order.map(i => token(r.get(i))).mkString("\u001f")

  def columnOrder(schema: StructType): Array[Int] =
    schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)

  def hash(schema: StructType, rows: Array[Row]): String = {
    val order = columnOrder(schema)
    val md = MessageDigest.getInstance("SHA-256")
    var acc = 0L
    rows.foreach { r =>
      val d = md.digest(rowString(order, r).getBytes(StandardCharsets.UTF_8))
      acc += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    s"${rows.length}:${java.lang.Long.toUnsignedString(acc, 16)}"
  }
}
