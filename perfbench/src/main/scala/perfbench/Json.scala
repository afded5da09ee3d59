package perfbench

/** Minimal JSON writer for the raw run record (numbers, strings, booleans,
  * sequences and nested objects). */
object Json {
  final class Obj(val fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = new Obj(fields)

  def apply(v: Any): String = v match {
    case o: Obj => o.fields.map { case (k, x) => str(k) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = {
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
}
