package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the harness's result file, and a reader for
  * the run plan the input generator writes. */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
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
    b += '"'
    b.toString
  }

  def read(path: String): JsonNode =
    new ObjectMapper().readTree(new java.io.File(path))

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
  def items(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}
