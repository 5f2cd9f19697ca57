package lambdabench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive fingerprint of a result: its row count and the sum
  * (mod 2^64) of a 64-bit hash of each row's canonical text. Floating
  * values are rounded to 10 significant digits first, so the last-ulp
  * differences that a different summation order produces do not change
  * the fingerprint. */
object Digest {
  final case class Result(rows: Long, hash: String)

  def of(df: DataFrame): Result = {
    val it = df.toLocalIterator()
    var rows = 0L
    var acc = 0L
    val md = MessageDigest.getInstance("MD5")
    while (it.hasNext) {
      val bytes = md.digest(canon(it.next()).getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(bytes, 0, 8).getLong
      rows += 1
    }
    Result(rows, f"$acc%016x")
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(10)).stripTrailingZeros.toPlainString

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "\u0002" + canon(x) }.sorted
        .mkString("{", "\u0001", "}")
    case other => other.toString
  }
}
