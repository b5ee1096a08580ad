package perfbench

import org.apache.spark.sql.Row

/** Minimal JSON rendering: the harness writes records and result rows for
  * the Python side, and needs nothing beyond strings, numbers and nesting.
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN) "\"NaN\""
    else if (d.isInfinite) (if (d > 0) "\"Infinity\"" else "\"-Infinity\"")
    else java.lang.Double.toString(d)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  private def micros(epochSecond: Long, nanos: Int): Long =
    Math.addExact(Math.multiplyExact(epochSecond, 1000000L), nanos / 1000L)

  /** One collected value, tagged where JSON has no native type, so the
    * Python side can normalise it the way it normalises DuckDB's values.
    * Floats are widened to the double DuckDB reports for a FLOAT column.
    */
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal => obj(Seq("$dec" -> str(x.toPlainString)))
    case x: scala.math.BigDecimal => obj(Seq("$dec" -> str(x.bigDecimal.toPlainString)))
    case x: String => str(x)
    case x: Array[Byte] =>
      obj(Seq("$bin" -> str(java.util.Base64.getEncoder.encodeToString(x))))
    case x: java.sql.Timestamp =>
      obj(Seq("$ts" -> micros(Math.floorDiv(x.getTime, 1000L), x.getNanos).toString))
    case x: java.time.Instant => obj(Seq("$ts" -> micros(x.getEpochSecond, x.getNano).toString))
    case x: java.time.LocalDateTime =>
      val i = x.toInstant(java.time.ZoneOffset.UTC)
      obj(Seq("$ts" -> micros(i.getEpochSecond, i.getNano).toString))
    case x: java.sql.Date => obj(Seq("$date" -> x.toLocalDate.toEpochDay.toString))
    case x: java.time.LocalDate => obj(Seq("$date" -> x.toEpochDay.toString))
    case x: java.time.Duration =>
      obj(Seq("$us" -> micros(x.getSeconds, x.getNano).toString))
    case r: Row =>
      obj(Seq("$struct" -> obj(r.schema.fieldNames.toSeq.zip(r.toSeq.map(value)))))
    case m: scala.collection.Map[_, _] =>
      obj(Seq("$map" -> arr(m.toSeq.map { case (k, x) => arr(Seq(value(k), value(x))) })))
    case s: scala.collection.Seq[_] => arr(s.map(value))
    case a: Array[_] => arr(a.toSeq.map(value))
    case other => str(other.toString)
  }

  def row(r: Row): String = arr(r.toSeq.map(value))
}
