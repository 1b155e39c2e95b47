package graftbench

import scala.collection.mutable.ArrayBuffer

/** Minimal JSON-lines writer: records are kept in memory and written
  * when the run ends, so file IO never lands inside a timed op.
  */
final class Out(path: String) {
  private val lines = ArrayBuffer.empty[String]

  def rec(fields: (String, Any)*): Unit = {
    val s = Out.obj(fields)
    lines.synchronized { lines += s }
  }

  def close(): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try lines.synchronized { lines.foreach(w.println) } finally w.close()
  }
}

object Out {
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
    b += '"'
    b.toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case s: String => str(s)
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
