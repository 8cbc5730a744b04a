package graftbench

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Plan in, report out: Jackson trees, converted from plain Scala values. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new File(path))

  def write(path: String, value: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), toJava(value))

  def line(value: Any): String = mapper.writeValueAsString(toJava(value))

  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case None => null
    case Some(x) => toJava(x)
    case m: collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] =>
      val j = new java.util.ArrayList[AnyRef]()
      s.foreach(x => j.add(toJava(x)))
      j
    case x => x.asInstanceOf[AnyRef]
  }

  def strings(n: JsonNode): Seq[String] =
    (0 until n.size()).map(i => n.get(i).asText())

  def ints(n: JsonNode): Seq[Int] = (0 until n.size()).map(i => n.get(i).asInt())
}
