package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Content digest of a query result, independent of row order.
  *
  * Each row becomes a canonical string; the strings are sorted and hashed.
  * Floating values keep 6 significant digits, because a sum's last bits
  * depend on the order in which shuffle blocks arrive. Byte arrays enter by
  * their own hash, timestamps as UTC instants.
  */
object Digest {
  def of(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    hex(md.digest()).take(16)
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.5e", Double.box(d))

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: Array[Byte] =>
      "0x" + hex(MessageDigest.getInstance("SHA-256").digest(a)).take(16)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case s: String => "\"" + s + "\""
    case x => x.toString
  }
}
