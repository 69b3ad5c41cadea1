package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Minimal JSON writer for the run's result file and the collected query
  * outputs the correctness check reads. Timestamps are written as epoch
  * microseconds and dates as ISO strings, so the checker can compare them
  * with DuckDB's values without parsing locale-dependent text.
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
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  /** Scala values: Map, Seq, String, numbers, Boolean, Option, null. */
  def of(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => of(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + of(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(of).mkString("[", ",", "]")
    case a: Array[_] => a.map(of).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** One Spark value of type `t`. */
  def cell(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => "null"
    case (ts: java.sql.Timestamp, _) =>
      (Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000).toString
    case (i: java.time.Instant, _) => (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case (l: java.time.LocalDateTime, _) =>
      val i = l.toInstant(java.time.ZoneOffset.UTC)
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case (d: java.sql.Date, _) => str(d.toLocalDate.toString)
    case (d: java.time.LocalDate, _) => str(d.toString)
    case (d: java.math.BigDecimal, _) => num(d.doubleValue)
    case (d: scala.math.BigDecimal, _) => num(d.toDouble)
    case (b: Array[Byte], _) => str(b.map("%02x".format(_)).mkString)
    case (s: scala.collection.Seq[_], ArrayType(et, _)) => s.map(cell(_, et)).mkString("[", ",", "]")
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.toSeq.map { case (k, x) => "[" + cell(k, kt) + "," + cell(x, vt) + "]" }
        .mkString("[", ",", "]")
    case (r: Row, st: StructType) =>
      st.fields.indices.map(i => cell(r.get(i), st.fields(i).dataType)).mkString("[", ",", "]")
    case (x: Double, _) => num(x)
    case (x: Float, _) => num(x.toDouble)
    case (x: String, _) => str(x)
    case (x, _) => x.toString
  }

  /** Rows as one JSON document: schema (name, simple type) plus row arrays. */
  def rows(schema: StructType, rs: Array[Row]): String = {
    val cols = schema.fields.map(f => "[" + str(f.name) + "," + str(f.dataType.simpleString) + "]")
    val body = rs.iterator.map(r =>
      schema.fields.indices.map(i => cell(r.get(i), schema.fields(i).dataType)).mkString("[", ",", "]"))
    "{\"columns\":" + cols.mkString("[", ",", "]") + ",\"rows\":[" + body.mkString(",\n") + "]}"
  }

  def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
  }
}
