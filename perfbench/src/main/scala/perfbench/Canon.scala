package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StructField, StructType}

/** Canonical result rows, cell for cell the form oracle.py writes for the
  * DuckDB results: columns ordered by name, floats and decimals rounded to
  * 12 significant digits, rows joined by U+0001 and sorted.
  */
object Canon {

  private val Ctx = new java.math.MathContext(12, java.math.RoundingMode.HALF_EVEN)
  private val TsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def c12(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.round(Ctx).stripTrailingZeros.toPlainString

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isPosInfinity) "Infinity"
    else if (d.isNegInfinity) "-Infinity"
    else c12(new java.math.BigDecimal(d))

  private def ldt(t: java.time.LocalDateTime): String = {
    val s = t.format(TsFmt)
    if (t.getNano == 0) s else f"$s.${t.getNano / 1000}%06d"
  }

  def cell(v: Any): String = v match {
    case null                        => "\\N"
    case b: Boolean                  => if (b) "true" else "false"
    case i: Int                      => i.toString
    case l: Long                     => l.toString
    case s: Short                    => s.toString
    case b: Byte                     => b.toString
    case f: Float                    => dbl(f.toDouble)
    case d: Double                   => dbl(d)
    case b: java.math.BigDecimal     => c12(b)
    case b: scala.math.BigDecimal    => c12(b.bigDecimal)
    case s: String                   => s
    case t: java.sql.Timestamp       => ldt(t.toLocalDateTime)
    case t: java.time.LocalDateTime  => ldt(t)
    case t: java.time.Instant        => ldt(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case d: java.sql.Date            => d.toLocalDate.toString
    case d: java.time.LocalDate      => d.toString
    case a: Array[Byte]              => a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row if r.schema != null  => struct(r, r.schema)
    case s: scala.collection.Seq[_]  => s.map(cell).mkString("[", ", ", "]")
    case other => throw new IllegalArgumentException(s"no canonical form for ${other.getClass.getName}")
  }

  private def struct(r: Row, schema: StructType): String =
    schema.fields.zipWithIndex.sortBy(_._1.name)
      .map { case (f: StructField, i) => s"${f.name}: ${cell(r.get(i))}" }
      .mkString("{", ", ", "}")

  /** (column names in order, sorted canonical rows) of a collected result. */
  def rows(schema: StructType, rows: Array[Row]): (Seq[String], Seq[String]) = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    (order.map(_._1).toSeq,
      rows.map(r => order.map { case (_, i) => cell(r.get(i)) }.mkString("\u0001")).sorted.toSeq)
  }
}
