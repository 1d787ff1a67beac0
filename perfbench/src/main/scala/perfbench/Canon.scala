package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive result hash with the canonicalisation of the
  * repository's DuckDB oracle checker: columns sorted by lower-cased
  * name, every value rendered as Python's `str` would render the value
  * DuckDB hands back (floats at full precision via `repr`, `NaN` for
  * not-a-number), rows sorted. `perfbench/canon.py` is the Python twin;
  * both must give the same hex digest for the same rows. */
object Canon {

  def hash(schema: StructType, rows: Array[Row]): String = {
    val names = schema.fieldNames.map(_.toLowerCase)
    val order = names.indices.sortBy(names(_)).toArray
    val tuples = rows.map(r => order.map(i => top(r.get(i))))
    java.util.Arrays.sort(tuples, (a: Array[String], b: Array[String]) => cmp(a, b))
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(names(_)).mkString("\u001f").getBytes("UTF-8"))
    md.update("\n".getBytes("UTF-8"))
    tuples.foreach { t =>
      md.update(t.mkString("\u001f").getBytes("UTF-8"))
      md.update("\n".getBytes("UTF-8"))
    }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  private def cmp(a: Array[String], b: Array[String]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val c = a(i).compareTo(b(i))
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** A top-level cell: Python `str(value)`, except `NaN` for NaN. */
  def top(v: Any): String = v match {
    case d: Double if d.isNaN => "NaN"
    case f: Float if f.isNaN  => "NaN"
    case s: String            => s
    case b: Array[Byte]       => b.map(x => f"${x & 0xff}%02x").mkString
    case other                => str(other)
  }

  /** Python `str` of the value DuckDB returns for a Spark-written cell. */
  def str(v: Any): String = v match {
    case null                  => "None"
    case b: Boolean            => if (b) "True" else "False"
    case d: Double             => pyFloat(d)
    case f: Float              => pyFloat(f.toDouble)
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case d: JBigDecimal        => d.toPlainString
    case d: java.sql.Date      => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => pyDateTime(t.toLocalDateTime)
    case t: java.time.Instant  =>
      pyDateTime(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => pyDateTime(t)
    case s: String             => s
    case s: scala.collection.Seq[_] => s.map(repr).mkString("[", ", ", "]")
    case r: Row =>
      r.schema.fieldNames.zipWithIndex
        .map { case (n, i) => s"${repr(n)}: ${repr(r.get(i))}" }.mkString("{", ", ", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${repr(k)}: ${repr(x)}" }.mkString("{", ", ", "}")
    case other => other.toString
  }

  /** Python `repr` (used for values nested in lists and dicts). */
  def repr(v: Any): String = v match {
    case s: String => pyStrRepr(s)
    case d: JBigDecimal => s"Decimal('${d.toPlainString}')"
    case other => str(other)
  }

  private def pyStrRepr(s: String): String = {
    val quote = if (s.contains('\'') && !s.contains('"')) '"' else '\''
    val sb = new StringBuilder().append(quote)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c == quote => sb.append('\\').append(c)
      case c if c < ' ' || c == '\u007f' => sb.append(f"\\x${c.toInt}%02x")
      case c => sb.append(c)
    }
    sb.append(quote).toString
  }

  private def pyDateTime(t: java.time.LocalDateTime): String = {
    val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    val micros = t.getNano / 1000
    if (micros == 0) base else f"$base.$micros%06d"
  }

  /** Python's `repr(float)`: the shortest decimal that reads back as the
    * same double, in fixed notation for 1e-4 <= |x| < 1e16 and in
    * exponent notation (`1e-05`, `1.5e+16`) otherwise. */
  def pyFloat(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isInfinite) return if (d > 0) "inf" else "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val exact = new JBigDecimal(d)
    var p = 1
    var bd = exact.round(new MathContext(p, RoundingMode.HALF_EVEN))
    while (bd.doubleValue != d) {
      p += 1
      bd = exact.round(new MathContext(p, RoundingMode.HALF_EVEN))
    }
    val digits = bd.unscaledValue.abs.toString.reverse.dropWhile(_ == '0').reverse
    val digitsOrZero = if (digits.isEmpty) "0" else digits
    // decimal exponent of the leading digit
    val exp10 = bd.precision - bd.scale - 1
    val sign = if (d < 0) "-" else ""
    if (exp10 >= -4 && exp10 < 16) {
      val n = digitsOrZero.length
      val body =
        if (exp10 >= n - 1) digitsOrZero + "0" * (exp10 - n + 1) + ".0"
        else if (exp10 >= 0) digitsOrZero.take(exp10 + 1) + "." + digitsOrZero.drop(exp10 + 1)
        else "0." + "0" * (-exp10 - 1) + digitsOrZero
      sign + body
    } else {
      val mant =
        if (digitsOrZero.length == 1) digitsOrZero
        else digitsOrZero.head.toString + "." + digitsOrZero.tail
      val e = if (exp10 < 0) f"-${-exp10}%02d" else f"+$exp10%02d"
      s"$sign${mant}e$e"
    }
  }
}
