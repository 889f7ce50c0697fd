package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Minimal JSON writer for the harness's result file (maps, sequences,
  * strings, numbers and booleans). */
object Json {
  def write(path: Path, v: Any): Unit = {
    val sb = new StringBuilder
    render(v, sb)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  private def render(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => render(x, sb)
    case s: String => quote(s, sb)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: Number => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        quote(k.toString, sb); sb += ':'; render(x, sb)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; render(x, sb) }
      sb += ']'
    case other => quote(other.toString, sb)
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
