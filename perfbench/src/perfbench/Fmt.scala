package perfbench

import java.util.Locale

/** Number and JSON formatting for everything the benchmark prints.
  *
  * Every number goes through `Locale.ROOT`: a default locale with a comma
  * decimal separator (de_DE, fr_FR) must never turn `1.5` into `1,5` and
  * break the JSON line. The self-test runs the JVM under such a locale and
  * parses the output.
  */
object Fmt {

  /** A measured value with all its digits (no rounding to a display width). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else String.format(Locale.ROOT, "%.9f", Double.box(v))

  def num(v: Long): String = String.format(Locale.ROOT, "%d", Long.box(v))

  /** Short human-readable form for stderr progress lines. */
  def short(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** JSON value: Double, Long/Int, Boolean, String, Seq (array), Map (object). */
  def json(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case l: Long => num(l)
    case i: Int => num(i.toLong)
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank-with-interpolation quantile (q in [0,1]); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
