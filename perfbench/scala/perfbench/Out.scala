package perfbench

import java.io.{BufferedWriter, FileWriter}

/** Append-only JSON-lines record file. The JVM side only measures and
  * records; every statistic is computed from these records by the Python
  * side (`perfbench/stats.py`). Thread-safe: the workload's thread and
  * Spark's listener threads both write. */
final class Out(path: String) {
  private val w = new BufferedWriter(new FileWriter(path))

  def rec(kind: String, fields: (String, Any)*): Unit = synchronized {
    w.write(Json.obj(("kind" -> kind) +: fields))
    w.write('\n')
  }

  def close(): Unit = synchronized(w.close())
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** A value already serialized as JSON (e.g. a StreamingQueryProgress). */
  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
