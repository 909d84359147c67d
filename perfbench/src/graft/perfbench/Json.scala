package graft.perfbench

/** Minimal JSON writer for the benchmark's own output (no JSON library
  * sits on the Spark classpath that the benchmark wants to depend on).
  * Values: String, Boolean, Int/Long/Double, Seq, Map (insertion order
  * kept with a ListMap / LinkedHashMap), Option (None -> null).
  */
object Json {

  def str(s: String): String = {
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
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => str(other.toString)
  }
}
