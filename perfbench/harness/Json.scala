package graft.perfbench

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the harness, with the Jackson that ships with Spark: reads
  * the config, writes Scala maps, sequences, options, case classes and
  * scalars (NaN as the bare token Python's `json` reads). */
object Json {
  val mapper: ObjectMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .build()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def write(path: String, v: Any): Unit =
    mapper.writeValue(new java.io.File(path), v)
}
