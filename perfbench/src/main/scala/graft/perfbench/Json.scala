package graft.perfbench

/** Minimal JSON rendering for the benchmark's result and trace files: maps,
  * sequences, strings, booleans, numbers (non-finite ones become null) and
  * null. Doubles render through `Double.toString`, which ignores the
  * default locale, so a comma-decimal locale cannot produce invalid JSON.
  */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb.append("null")
    case s: String => quote(sb, s)
    case b: Boolean => sb.append(b)
    case i: Int => sb.append(i)
    case l: Long => sb.append(l)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null")
      else sb.append(java.lang.Double.toString(d))
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        quote(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      xs.iterator.zipWithIndex.foreach { case (x, i) =>
        if (i > 0) sb.append(',')
        write(sb, x)
      }
      sb.append(']')
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
