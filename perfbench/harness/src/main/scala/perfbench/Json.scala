package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Minimal JSON in/out for the spec the runner hands over and the raw
  * measurements handed back. Values are Map/Iterable/String/Number/Boolean. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode =
    mapper.readTree(Files.readAllBytes(Paths.get(path)))

  def write(path: String, v: Any): Unit = {
    val sb = new java.lang.StringBuilder
    render(v, sb)
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  private def render(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => render(x, sb)
    case s: String => sb.append(mapper.writeValueAsString(s))
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case n: Number => sb.append(n.toString)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        sb.append(mapper.writeValueAsString(k.toString)).append(':')
        render(x, sb)
      }
      sb.append('}')
    case it: Iterable[_] =>
      sb.append('[')
      var first = true
      it.foreach { x =>
        if (!first) sb.append(',')
        first = false
        render(x, sb)
      }
      sb.append(']')
    case other => sb.append(mapper.writeValueAsString(other.toString))
  }
}
