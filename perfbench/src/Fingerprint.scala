package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Order-insensitive output fingerprint: row count plus the sum (mod 2^64)
 * of a 64-bit hash of each row. A row is its columns sorted by name, each
 * value rendered canonically, doubles rounded to 9 significant digits.
 * `fingerprint.py` implements the same rendering for DuckDB results; the
 * two must stay in step. */
object Fingerprint {

  final case class Fp(rows: Long, hash: String)

  def of(df: DataFrame): Fp = {
    val names = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val (rows, sum) = df.rdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      var n = 0L
      var s = 0L
      it.foreach { r =>
        s += rowHash(md, names.map(i => value(r.get(i))).mkString("|"))
        n += 1
      }
      Iterator.single((n, s))
    }.fold((0L, 0L)) { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
    Fp(rows, f"$sum%016x")
  }

  private def rowHash(md: MessageDigest, row: String): Long = {
    val d = md.digest(row.getBytes(StandardCharsets.UTF_8))
    (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))
  }

  private val Digits9 = new MathContext(9, RoundingMode.HALF_EVEN)

  private def number(d: JBigDecimal): String =
    if (d.signum == 0) "0"
    else { val s = d.stripTrailingZeros; s"${s.unscaledValue}e${-s.scale}" }

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else number(new JBigDecimal(d).round(Digits9))

  private def micros(epochSecond: Long, nanos: Int): String =
    s"T${epochSecond * 1000000L + nanos / 1000}"

  private[perfbench] def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "B1" else "B0"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case i: Int => number(JBigDecimal.valueOf(i.toLong))
    case l: Long => number(JBigDecimal.valueOf(l))
    case s: Short => number(JBigDecimal.valueOf(s.toLong))
    case b: Byte => number(JBigDecimal.valueOf(b.toLong))
    case d: JBigDecimal => number(d)
    case d: scala.math.BigDecimal => number(d.bigDecimal)
    case s: String => s"S${s.getBytes(StandardCharsets.UTF_8).length}:$s"
    case t: java.sql.Timestamp =>
      val i = t.toInstant; micros(i.getEpochSecond, i.getNano)
    case i: java.time.Instant => micros(i.getEpochSecond, i.getNano)
    case t: java.time.LocalDateTime =>
      micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
    case d: java.sql.Date => s"D${d.toLocalDate.toEpochDay}"
    case d: java.time.LocalDate => s"D${d.toEpochDay}"
    case b: Array[Byte] => "X" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }
}
