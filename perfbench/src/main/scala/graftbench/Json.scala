package graftbench

/** Minimal JSON rendering for the result and span files. */
object Json {
  final class Raw(val text: String) { override def toString: String = text }

  def obj(kvs: (String, Any)*): Raw =
    new Raw(kvs.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}"))

  def arr(vs: Iterable[Any]): Raw = new Raw(vs.map(render).mkString("[", ",", "]"))

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case r: Raw => r.text
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).text
    case it: Iterable[_] => arr(it).text
    case x => str(x.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolated percentile of an ascending sample. */
  def percentile(sorted: Seq[Double], p: Double): Double = {
    val pos = (sorted.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }
}
