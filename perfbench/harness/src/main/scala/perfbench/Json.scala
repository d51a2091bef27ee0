package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row

/** Minimal JSON writer for result dumps and the run record.
  *
  * Cell encoding keeps every value exact for the checker: doubles as
  * Java's shortest round-trip decimal string, decimals as
  * `{"dec": plain}`, timestamps (UTC wall clock, micros) as
  * `{"ts": "yyyy-MM-ddTHH:mm:ss.ffffff"}`, dates as `{"date": ...}`,
  * non-finite doubles as `{"f": "NaN"|"Infinity"|"-Infinity"}`. */
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

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  def cell(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) s"""{"f": ${str(d.toString)}}""" else d.toString
    case f: Float => cell(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case b: Boolean => b.toString
    case d: java.math.BigDecimal => s"""{"dec": ${str(d.toPlainString)}}"""
    case d: scala.math.BigDecimal => cell(d.bigDecimal)
    case t: java.sql.Timestamp =>
      cell(java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC))
    case t: java.time.Instant =>
      cell(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => s"""{"ts": ${str(t.format(tsFmt))}}"""
    case d: java.sql.Date => s"""{"date": ${str(d.toLocalDate.toString)}}"""
    case d: java.time.LocalDate => s"""{"date": ${str(d.toString)}}"""
    case s: String => str(s)
    case r: Row => r.toSeq.map(cell).mkString("[", ", ", "]")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ", ", "]")
    case a: Array[_] => a.map(cell).mkString("[", ", ", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"[${cell(k)}, ${cell(x)}]" }.sorted.mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  /** A JSON value from plain Scala data (maps, sequences, numbers,
    * strings, options), for the run record. */
  def value(v: Any): String = v match {
    case None | null => "null"
    case Some(x) => value(x)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case other => cell(other)
  }

  /** Result dump: column names and types, then one array per row. */
  def rows(columns: Seq[(String, String)], rs: Iterable[Row]): String = {
    val b = new StringBuilder
    b ++= "{\"columns\": " + columns.map(c => str(c._1)).mkString("[", ", ", "]")
    b ++= ", \"types\": " + columns.map(c => str(c._2)).mkString("[", ", ", "]")
    b ++= ", \"rows\": ["
    var first = true
    rs.foreach { r =>
      if (!first) b ++= ",\n"
      first = false
      b ++= cell(r)
    }
    (b ++= "]}").toString
  }

  def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(UTF_8))
  }
}
