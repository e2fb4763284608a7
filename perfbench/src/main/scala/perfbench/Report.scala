package perfbench

import java.nio.file.{Files, Path}

/** Order statistics and the JSON the harness writes for `run.py`. */
object Report {

  /** Nearest-rank percentile (0 < p <= 100) of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One reported number with its unit and the samples behind it. */
  final case class Metric(value: Double, unit: String, n: Int)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case Metric(value, unit, n) =>
      render(Map("value" -> value, "unit" -> unit, "n" -> n))
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}:${render(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(path: Path, v: Any): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, render(v) + "\n")
  }
}
