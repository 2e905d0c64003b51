package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive output fingerprint: the row count plus the sum
  * (mod 2^64) of a 64-bit hash of each row's canonical text. Doubles
  * are rounded to 6 significant digits before hashing, so a change of
  * summation order (partitioning, AQE) does not change the print,
  * while any real change to a row does.
  */
object Fingerprint {

  def of(df: DataFrame): String = {
    val (n, h) = df.rdd.mapPartitions { rows =>
      var n = 0L
      var h = 0L
      rows.foreach { r => n += 1; h += rowHash(r) }
      Iterator((n, h))
    }.fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    f"$n:$h%016x"
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x0b5e).toLong & 0xffffffffL)
  }

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => java.util.HexFormat.of().formatHex(a)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(6)).stripTrailingZeros.toString
}
