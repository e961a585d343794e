package perfbench

/** Minimal JSON writer for the result line and the trace file. Values are
  * Boolean, whole numbers, doubles, strings, Seq and ordered Map. */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb.append("null")
    case b: Boolean => sb.append(b)
    case i: Int => sb.append(i)
    case l: Long => sb.append(l)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      sb.append(java.lang.Double.toString(d))
    case s: String => quote(sb, s)
    case m: collection.Map[_, _] =>
      sb.append('{')
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(", ")
        quote(sb, k.toString); sb.append(": "); write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      xs.iterator.zipWithIndex.foreach { case (x, i) =>
        if (i > 0) sb.append(", ")
        write(sb, x)
      }
      sb.append(']')
    case other => throw new IllegalArgumentException(s"not JSON: $other")
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
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
}
