package graftbench

/** Minimal JSON writer for the run record the Python side reads. Values
  * are Maps, Seqs, Strings, Booleans, numbers or null. */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(v: Any): String = v match {
    case null => "null"
    case None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => quote(other.toString)
  }

  def save(path: java.nio.file.Path, v: Any): Unit =
    java.nio.file.Files.writeString(path, write(v))
}
