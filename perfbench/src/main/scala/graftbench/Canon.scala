package graftbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Canonical text of result rows, mirrored by `canon.py` for DuckDB
  * results: numbers of any type round to 9 significant digits, fields
  * join with `|`, rows with newlines, and the digest is SHA-256 of that. */
object Canon {
  private val mc = new MathContext(9, RoundingMode.HALF_EVEN)

  private def num(b: JBigDecimal): String =
    if (b.signum == 0) "0" else b.round(mc).stripTrailingZeros.toPlainString

  def value(v: Any): String = v match {
    case null => "\\N"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
      else num(new JBigDecimal(d))
    case f: Float => value(f.toDouble)
    case b: JBigDecimal => num(b)
    case b: scala.math.BigDecimal => num(b.bigDecimal)
    case i: Int => num(JBigDecimal.valueOf(i.toLong))
    case l: Long => num(JBigDecimal.valueOf(l))
    case s: Short => num(JBigDecimal.valueOf(s.toLong))
    case b: Byte => num(JBigDecimal.valueOf(b.toLong))
    case b: Boolean => b.toString
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toLocalDateTime)
    case t: java.time.LocalDateTime => micros(t)
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  private def micros(t: java.time.LocalDateTime): String = {
    val i = t.toInstant(java.time.ZoneOffset.UTC)
    (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
  }

  def row(r: Row): String = r.toSeq.map(value).mkString("|")

  /** Digest of a result; `ordered = false` sorts the rows first, for
    * operators whose output order is not part of their contract. */
  def digest(rows: Array[Row], ordered: Boolean): String = {
    val lines = rows.map(row)
    sha256((if (ordered) lines else lines.sorted).mkString("\n").getBytes(UTF_8))
  }

  def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  def fileSha256(p: Path): String = sha256(Files.readAllBytes(p))
}
