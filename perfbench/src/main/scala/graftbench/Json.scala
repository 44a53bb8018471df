package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Minimal JSON in (Jackson's tree model, shipped with Spark) and out. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def elems(n: JsonNode): Seq[JsonNode] =
    if (n == null || n.isNull) Seq.empty else n.elements().asScala.toSeq

  def longs(n: JsonNode): Array[Long] = elems(n).map(_.asLong).toArray

  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Renders Scala values: Map, Seq, String, numbers, Boolean, Option. */
  def render(v: Any): String = v match {
    case null | None          => "null"
    case Some(x)              => render(x)
    case s: String            => str(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => render(f.toDouble)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_]         => render(xs.toSeq)
    case other                => str(other.toString)
  }
}
