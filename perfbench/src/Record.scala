package perfbench

import java.io.{BufferedWriter, FileWriter}

/** Append-only JSON-lines record of raw measurements. The JVM side only
  * observes and writes events; every metric is reduced from this file by
  * `perfbench/reduce.py`, so the arithmetic lives in one tested place.
  */
final class Record(path: String) {
  private val out = new BufferedWriter(new FileWriter(path))

  def emit(kind: String, fields: (String, Any)*): Unit = {
    val body = (("kind" -> kind) +: fields).map { case (k, v) =>
      Record.quote(k) + ":" + Record.value(v)
    }.mkString("{", ",", "}")
    synchronized { out.write(body); out.newLine() }
  }

  def close(): Unit = synchronized(out.close())
}

object Record {
  def quote(s: String): String = {
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

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
