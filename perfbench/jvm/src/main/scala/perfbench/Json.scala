package perfbench

/** Minimal JSON writer for the harness's result file: maps, sequences,
  * numbers, strings, booleans and null. The Python side parses it.
  */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case b: Boolean => sb ++= b.toString
      case d: Double =>
        sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case s: String => str(s)
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        var first = true
        m.foreach { case (k, vv) =>
          if (!first) sb += ','
          first = false
          str(k.toString); sb += ':'; go(vv)
        }
        sb += '}'
      case it: Iterable[_] =>
        sb += '['
        var first = true
        it.foreach { e => if (!first) sb += ','; first = false; go(e) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
