package graftbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** json4s for both directions: building the result record and reading
  * the generated inputs.
  */
object Json {
  def str(s: String): JValue = JString(s)
  /** A number; NaN and infinities, which JSON cannot hold, become null. */
  def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)
  def num(n: Long): JValue = JLong(n)
  def bool(b: Boolean): JValue = JBool(b)
  def arr(xs: Iterable[JValue]): JValue = JArray(xs.toList)
  def obj(kvs: (String, JValue)*): JValue = JObject(kvs.toList)

  def render(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))

  def parseFile(path: String): JValue = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try JsonMethods.parse(src.mkString) finally src.close()
  }

  def parse(s: String): JValue = JsonMethods.parse(s)

  def write(path: String, v: JValue): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), render(v).getBytes("UTF-8"))

  // readers over json4s values
  def longs(v: JValue): Seq[Long] = v match {
    case JArray(xs) => xs.collect { case JInt(n) => n.toLong; case JLong(n) => n }
    case _ => Nil
  }
  def strs(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.collect { case JString(s) => s }
    case _ => Nil
  }
  def floats(v: JValue): Array[Float] = v match {
    case JArray(xs) => xs.collect {
      case JDouble(d) => d.toFloat; case JInt(n) => n.toFloat
      case JLong(n) => n.toFloat; case JDecimal(d) => d.toFloat
    }.toArray
    case _ => Array.empty
  }
  def int(v: JValue, dflt: Int): Int = v match {
    case JInt(n) => n.toInt; case JLong(n) => n.toInt; case _ => dflt
  }
}
