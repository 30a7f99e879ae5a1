package perfbench

/** Minimal JSON writer for the harness's result and trace files: maps,
  * sequences, strings, numbers, booleans and null. Non-finite doubles
  * are written as null. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"'  => sb ++= "\\\""
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
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.iterator.zipWithIndex.foreach { case ((k, v2), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(v2)
        }
        sb += '}'
      case s: Iterable[_] =>
        sb += '['
        s.iterator.zipWithIndex.foreach { case (v2, i) => if (i > 0) sb += ','; go(v2) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }

  def save(path: java.nio.file.Path, v: Any): Unit =
    java.nio.file.Files.writeString(path, write(v))
}
