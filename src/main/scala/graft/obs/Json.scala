package graft.obs

import java.util.Locale

/** The one JSON writer for the bench, probe and diagnostic lines and
  * the oracle dump. Numbers are formatted under `Locale.ROOT`: under a
  * comma-decimal default locale a `%f` line would not parse.
  */
object Json {

  /** A rendered JSON fragment, inserted as is. */
  final case class Raw(json: String)

  /** `v` with `decimals` fixed decimals; NaN and ±∞ are `null`, for
    * which JSON has no number.
    */
  def fixed(v: Double, decimals: Int): Raw =
    Raw(if (v.isNaN || v.isInfinite) "null"
      else String.format(Locale.ROOT, s"%.${decimals}f", Double.box(v)))

  /** `s` quoted, with quote, backslash and every control character
    * escaped.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** An object with `fields` in the given order. */
  def obj(fields: (String, Any)*): Raw =
    Raw(fields.map { case (k, v) => str(k) + ":" + render(v) }
      .mkString("{", ",", "}"))

  /** Strings are quoted, maps become objects in key order, other
    * iterables arrays. A bare `Double` is refused: every number says
    * its decimals through [[fixed]].
    */
  def render(v: Any): String = v match {
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1): _*).json
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no JSON form for ${other.getClass.getName}; use Json.fixed for doubles")
  }
}
