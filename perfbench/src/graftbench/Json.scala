package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the raw run record the Python side reads (Jackson, from
  * Spark's own classpath).
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)

  /** A JSON document (a streaming progress event) as a tree, so it is
    * written back as JSON rather than as a string.
    */
  def tree(text: String): JsonNode = mapper.readTree(text)
}
