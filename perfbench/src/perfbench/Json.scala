package perfbench

/** Minimal JSON writer for the harness's result line. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append("\\u%04x".format(c.toInt))
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** An infinite latency (a failed operation) stays readable as
    * Python's `Infinity`; NaN becomes null. */
  def num(d: Double): String =
    if (d.isNaN) "null" else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
    else d.toString

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case (x, y) => apply(Seq(x, y))
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
