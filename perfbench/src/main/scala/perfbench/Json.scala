package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON reading (Jackson, shipped with Spark) and writing. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: java.nio.file.Path): JsonNode = mapper.readTree(path.toFile)

  def str(s: String): String = mapper.writeValueAsString(s)

  /** Render nested Scala maps, sequences, numbers, strings and booleans. */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
