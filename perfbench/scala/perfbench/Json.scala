package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Reading and writing the harness's JSON files (Scala maps and sequences
  * included). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
}
