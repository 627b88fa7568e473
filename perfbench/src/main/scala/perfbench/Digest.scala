package perfbench

import org.apache.spark.sql.Row

/** Order-insensitive digest of a result: the row count plus the sum of
  * one 64-bit hash per row. Doubles and floats are rounded to
  * [[SigDigits]] significant digits first, so a different summation
  * order in a parallel aggregate does not change the digest.
  */
object Digest {
  val SigDigits = 6

  def of(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += hash64(canon(r)))
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }

  private def hash64(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    java.nio.ByteBuffer.wrap(md.digest(s.getBytes("UTF-8"))).getLong
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(SigDigits)).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case s: String => "\"" + s + "\""
    case other => other.toString
  }
}
