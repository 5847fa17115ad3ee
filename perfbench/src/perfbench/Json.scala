package perfbench

import com.fasterxml.jackson.core.io.JsonStringEncoder

/** Minimal JSON rendering for the run record and the span file. */
object Json {
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def str(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def value(v: Any): String = v match {
    case null | None  => "null"
    case Raw(json)    => json
    case Some(x)      => value(x)
    case s: String    => str(s)
    case b: Boolean   => b.toString
    case i: Int       => i.toString
    case l: Long      => l.toString
    case d: Double    => num(d)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other        => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
