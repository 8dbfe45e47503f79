package graftbench

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans); the reading side is Python's json module. */
object Json {
  def write(v: Any): String = {
    val b = new StringBuilder
    emit(v, b)
    b.toString
  }

  private def emit(v: Any, b: StringBuilder): Unit = v match {
    case null | None => b.append("null")
    case Some(x) => emit(x, b)
    case s: String => quote(s, b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) b.append("null") else b.append(d.toString)
    case f: Float => emit(f.toDouble, b)
    case n: Int => b.append(n)
    case n: Long => b.append(n)
    case n: BigInt => b.append(n.toString)
    case x: Boolean => b.append(x)
    case m: scala.collection.Map[_, _] =>
      b.append('{')
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) b.append(", ")
        quote(k.toString, b); b.append(": "); emit(x, b)
      }
      b.append('}')
    case s: Iterable[_] =>
      b.append('[')
      s.iterator.zipWithIndex.foreach { case (x, i) =>
        if (i > 0) b.append(", ")
        emit(x, b)
      }
      b.append(']')
    case a: Array[_] => emit(a.toSeq, b)
    case other => quote(other.toString, b)
  }

  private def quote(s: String, b: StringBuilder): Unit = {
    b.append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"')
  }
}
