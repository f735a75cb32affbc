package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive result digest: the row count plus two independent
  * 32-bit row hashes, each summed over all rows (a sum is blind to row
  * order but not to duplicates). Doubles are rounded to six significant
  * digits and magnitudes below 1e-9 read as zero, so the last-ulp drift
  * of a parallel floating-point sum never reads as a wrong answer. The
  * schema (names and types, in order) is part of the digest. */
object Digest {

  def of(schema: StructType, rows: Array[Row]): String = {
    var a = 0L
    var b = 0L
    rows.foreach { r =>
      val s = canon(r)
      a += MurmurHash3.stringHash(s, 0x2545f491) & 0xffffffffL
      b += MurmurHash3.bytesHash(s.getBytes(UTF_8), 0x3c6ef372) & 0xffffffffL
    }
    val sch = MurmurHash3.stringHash(schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(","), 7) & 0xffffffffL
    f"${rows.length}%d:$sch%08x:$a%016x:$b%016x"
  }

  def rowCount(digest: String): Long = digest.takeWhile(_ != ':').toLong

  private[perfbench] def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "+Inf" else "-Inf")
    else if (math.abs(d) < 1e-9) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6))
      .stripTrailingZeros.toString

  private[perfbench] def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case bd: java.math.BigDecimal => double(bd.doubleValue)
    case bytes: Array[Byte] => bytes.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => canon(k) + "->" + canon(x) }.toSeq.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case x => x.toString
  }
}
