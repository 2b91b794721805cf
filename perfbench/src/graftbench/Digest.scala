package graftbench

import java.math.{BigDecimal => JBigDecimal, MathContext}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a complete query result.
  *
  * Each row is rendered canonically (doubles and floats rounded to
  * [[Precision]] significant digits, map entries sorted, nested rows and
  * arrays rendered in order) and hashed to 64 bits; the digest is the row
  * count plus the sum of the row hashes modulo 2^64 plus a hash of the
  * column names. A sum is a multiset hash: row order does not change it,
  * while a changed value, a lost row or a duplicated row does. */
object Digest {
  val Precision = 9
  private val mc = new MathContext(Precision)

  def of(schema: StructType, rows: Iterator[Row]): String = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += hash64(render(r)) }
    f"$n%d:${hash64(schema.fieldNames.mkString(","))}%016x:$sum%016x"
  }

  def of(schema: StructType, rows: Seq[Row]): String = of(schema, rows.iterator)

  def render(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: JBigDecimal => b.round(mc).stripTrailingZeros.toPlainString
    case b: BigDecimal => render(b.bigDecimal)
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case s: String => "\"" + s + "\""
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(mc).stripTrailingZeros.toString

  /** 64-bit hash from two independent 32-bit MurmurHash3 lanes. */
  def hash64(s: String): Long = {
    val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }
}
