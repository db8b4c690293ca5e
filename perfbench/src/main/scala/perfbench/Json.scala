package perfbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON through Jackson, with map keys sorted so equal values always
  * render to equal bytes. */
object Json {
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)

  def render(v: Any): String = mapper.writeValueAsString(v)

  def write(p: Path, v: Any): Unit =
    Files.write(p, mapper.writeValueAsBytes(v) :+ '\n'.toByte)

  def read(p: Path): JsonNode = mapper.readTree(Files.readAllBytes(p))
}
