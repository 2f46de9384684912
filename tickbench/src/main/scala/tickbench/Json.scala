package tickbench

import scala.jdk.CollectionConverters._

/** Minimal JSON for the benchmark's own records. Doubles are written with
  * all their digits (`Double.toString`); non-finite numbers become null.
  */
object Json {
  /** An already-rendered JSON value. */
  final case class Raw(json: String) {
    override def toString: String = json
  }

  def obj(fields: Seq[(String, Any)]): Raw =
    Raw(fields.map { case (k, v) => quote(k) + ":" + render(v) }.mkString("{", ",", "}"))

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case r: Raw => r.json
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }).json
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parse a JSON object into Scala maps, sequences and boxed numbers. */
  def parse(s: String): Map[String, Any] =
    fromJava(mapper.readValue(s, classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]

  private def fromJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> fromJava(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(fromJava).toSeq
    case other => other
  }

  /** A number field of a parsed object, as a double. */
  def num(m: Map[String, Any], k: String): Double = m.get(k) match {
    case Some(n: java.lang.Number) => n.doubleValue()
    case other => throw new IllegalStateException(s"no number $k in $m ($other)")
  }
}
