package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Minimal JSON writing with real escaping, and Jackson for reading. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: java.nio.file.Path): JsonNode = mapper.readTree(path.toFile)

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.properties().asScala.map(e => e.getKey -> e.getValue).toSeq

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) java.lang.Long.toString(d.toLong)
    else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Raw => r.json
    case x => str(x.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Pre-rendered JSON, spliced verbatim. */
  final case class Raw(json: String)
}
