package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Run records and expected files as JSON, through the json4s that Spark
  * ships. Maps keep their order; a number that is not finite is written as
  * null, which keeps the output valid JSON. */
object Json {

  private def value(v: Any): JValue = v match {
    case null | None => JNull
    case Some(x) => value(x)
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case d: Double => if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    case n: Int => JLong(n)
    case n: Long => JLong(n)
    case m: scala.collection.Map[_, _] => JObject(m.toList.map { case (k, x) => k.toString -> value(x) })
    case xs: Iterable[_] => JArray(xs.toList.map(value))
    case other => JString(other.toString)
  }

  def render(v: Any): String = JsonMethods.compact(JsonMethods.render(value(v)))

  /** Parses a JSON document into Map / Vector / String / Double / Boolean /
    * null. */
  def parse(s: String): Any = {
    def plain(v: JValue): Any = v match {
      case JObject(fields) => fields.map { case (k, x) => k -> plain(x) }.toMap
      case JArray(xs) => xs.map(plain).toVector
      case JString(x) => x
      case JBool(b) => b
      case JNull | JNothing => null
      case n => n.values.toString.toDouble
    }
    plain(JsonMethods.parse(s))
  }
}
