package graft.perfbench

import org.apache.spark.sql.Row

/** The JSON the harness writes: result records for the runner, and a
  * canonical encoding of a DataFrame's rows that `check.py` compares with
  * the DuckDB oracle the way `scripts/check_local.py` does (columns sorted
  * by name, rows in collect order).
  *
  * Value encoding, mirrored by `check.py`'s normalization of DuckDB values:
  * integers and booleans as JSON numbers and literals; floating point as
  * the shortest round-tripping decimal (NaN and infinities as strings);
  * timestamps as epoch microseconds; dates as ISO strings; binary as hex;
  * structs and arrays as arrays; maps as arrays of [key, value] pairs
  * sorted by key. */
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
    (b += '"').result()
  }

  def num(d: Double): String =
    if (d.isNaN) "\"NaN\""
    else if (d.isInfinite) (if (d > 0) "\"Infinity\"" else "\"-Infinity\"")
    else java.lang.Double.toString(d)

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: scala.math.BigDecimal => num(d.toDouble)
    case s: String => str(s)
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case d: java.time.LocalDate => str(d.toString)
    case b: Array[Byte] => str(b.map(x => f"${x & 0xff}%02x").mkString)
    case r: Row => arr(r.toSeq.map(value))
    case m: scala.collection.Map[_, _] =>
      arr(m.toSeq.map { case (k, x) => (value(k), value(x)) }.sortBy(_._1)
        .map { case (k, x) => s"[$k,$x]" })
    case s: scala.collection.Seq[_] => arr(s.map(value))
    case other => str(other.toString)
  }

  /** Each row as a JSON array of its values, columns sorted by name. */
  def rowLines(columns: Array[String], data: Array[Row]): Array[String] = {
    val order = columns.indices.sortBy(columns(_))
    data.map(r => arr(order.map(i => value(r.get(i)))))
  }

  /** `{"cols": [...], "rows": [[...], ...]}` with columns sorted by name. */
  def rows(columns: Array[String], lines: Array[String]): String =
    s"""{"cols":${arr(columns.sorted.map(str))},"rows":${lines.mkString("[", ",\n", "]")}}"""
}
