package benchmatch

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The benchmark JVM's JSON surface: it reads one config file written by run.py and
  * writes one result file back. Results are plain Scala maps, sequences,
  * strings and numbers. */
object Json {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def read(path: String): JsonNode = mapper.readTree(Paths.get(path).toFile)

  def write(path: String, value: Any): Unit =
    Files.write(Paths.get(path), render(value).getBytes(UTF_8))

  def render(value: Any): String = mapper.writeValueAsString(value)
}
