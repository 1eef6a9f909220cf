package perfbench

/** Minimal JSON writer for the harness's result file. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null | None => sb.append("null")
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Number => sb.append(n.toString)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        m.toSeq.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb.append(','); str(k.toString); sb.append(':'); go(y)
        }
        sb.append('}')
      case xs: Iterable[_] =>
        sb.append('[')
        xs.zipWithIndex.foreach { case (y, i) => if (i > 0) sb.append(','); go(y) }
        sb.append(']')
      case a: Array[_] => go(a.toSeq)
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
