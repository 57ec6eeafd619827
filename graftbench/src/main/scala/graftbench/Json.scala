package graftbench

/** Minimal JSON rendering for the harness's report: maps, sequences,
  * strings, numbers, booleans and null. Non-finite numbers render as
  * null so a broken measurement can never pass as a value.
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private val strings = new com.fasterxml.jackson.databind.ObjectMapper()

  def quote(s: String): String = strings.writeValueAsString(s)
}
