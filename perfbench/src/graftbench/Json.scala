package graftbench

/** Minimal JSON writer for the run record (maps, sequences, numbers,
  * strings, booleans, null).
  */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null => sb.append("null")
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double =>
        if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        m.iterator.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb.append(','); str(k.toString); sb.append(':'); go(y)
        }
        sb.append('}')
      case s: Iterable[_] =>
        sb.append('[')
        s.iterator.zipWithIndex.foreach { case (y, i) =>
          if (i > 0) sb.append(','); go(y)
        }
        sb.append(']')
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
