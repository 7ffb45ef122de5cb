package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.jdk.CollectionConverters._

/** JSON through Jackson and its Scala module, both on Spark's classpath. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def elems(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}
