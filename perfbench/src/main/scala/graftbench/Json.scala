package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON in and out with the Jackson/json4s already on Spark's classpath. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(value: Any, path: String): Unit =
    mapper.writeValue(new java.io.File(path), value)

  /** Parse a file into plain Scala values (Map, List, BigInt, Double, String). */
  def read[T](path: String): T = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    org.json4s.jackson.JsonMethods.parse(text).values.asInstanceOf[T]
  }
}
