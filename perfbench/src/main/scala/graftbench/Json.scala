package graftbench

import com.fasterxml.jackson.core.io.JsonStringEncoder

/** Minimal JSON writing: quoted strings with Jackson's escaping (the
  * escaping Spark's `to_json` uses) and a writer for the result records.
  */
object Json {
  def str(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance().quoteAsString(s)) + "\""

  /** Renders maps, sequences, strings, numbers, booleans and None/null. */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => str(other.toString)
  }
}
