package perfbench

/** Minimal JSON writer for the run record (maps, sequences, numbers, text). */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    emit(v, sb)
    sb.toString
  }

  private def emit(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => emit(x, sb)
    case s: String => quote(s, sb)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: Number => sb ++= n.toString
    case f: java.io.File => quote(f.getPath, sb)
    case m: collection.Map[_, _] =>
      sb += '{'
      m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        quote(k.toString, sb); sb += ':'; emit(x, sb)
      }
      sb += '}'
    case it: Iterable[_] =>
      sb += '['
      it.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; emit(x, sb) }
      sb += ']'
    case other => quote(other.toString, sb)
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
