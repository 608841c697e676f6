package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent checksum of a query result, matched value for
  * value by `checksum.py`, which computes the expected side from the
  * DuckDB oracle. Columns are taken in name order; each row becomes one
  * canonical string; the checksum is the row count, the sorted column
  * names and the sum (mod 2^64) of the first 8 bytes of each row
  * string's SHA-256.
  *
  * Canonical values: null `\N`; integers in decimal; doubles and floats
  * by their IEEE-754 bit pattern (so equality is bit-exact, like the
  * oracle gate), with -0.0 read as 0.0; decimals with trailing zeros
  * stripped; strings length-prefixed; timestamps as UTC epoch
  * microseconds; dates as epoch days; arrays in order; structs and maps
  * by field or key name. */
object Checksum {

  def of(schema: StructType, rows: Iterator[Row]): String = {
    val names = schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val md = MessageDigest.getInstance("SHA-256")
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      val line = order.map(i => canon(r.get(i))).mkString("\u0001")
      val h = md.digest(line.getBytes(StandardCharsets.UTF_8))
      var w = 0L
      var k = 0
      while (k < 8) { w = (w << 8) | (h(k) & 0xffL); k += 1 }
      sum += w
      n += 1
    }
    s"n=$n;cols=${order.map(names(_)).mkString(",")};sum=${f"$sum%016x"}"
  }

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: java.math.BigInteger => x.toString
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: java.math.BigDecimal => dec(x)
    case x: scala.math.BigDecimal => dec(x.bigDecimal)
    case s: String => s"${s.length}:$s"
    case t: java.sql.Timestamp =>
      val sec = Math.floorDiv(t.getTime, 1000L)
      s"ts:${sec * 1000000L + t.getNanos / 1000}"
    case t: java.time.Instant =>
      s"ts:${t.getEpochSecond * 1000000L + t.getNano / 1000}"
    case t: java.time.LocalDateTime =>
      canon(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => s"d:${d.toLocalDate.toEpochDay}"
    case d: java.time.LocalDate => s"d:${d.toEpochDay}"
    case b: Array[Byte] => "x:" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row =>
      val names = r.schema.fieldNames
      names.indices.sortBy(names(_))
        .map(i => s"${names(i)}=${canon(r.get(i))}").mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (canon(k), canon(x)) }.sortBy(_._1)
        .map { case (k, x) => s"$k=$x" }.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => s"?:${other.toString}"
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN"
    else {
      val z = if (d == 0.0) 0.0 else d
      "f:" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(z))
    }

  private def dec(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
}
