package graft.core

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule, JavaTypeable}
import com.fasterxml.jackson.databind.ObjectMapper

/** The engine's one JSON codec: jackson-module-scala, which ships with the
  * Spark jars. Output is compact; an absent `Option` property is omitted,
  * while a null or `None` map value is written as `null` (a failed bench
  * entry keeps its key). */
object Json {

  private val mapper = new ObjectMapper() with ClassTagExtensions
  mapper.registerModule(DefaultScalaModule)
  mapper.setDefaultPropertyInclusion(JsonInclude.Value.construct(
    JsonInclude.Include.NON_ABSENT, JsonInclude.Include.ALWAYS))

  def write(value: Any): String = mapper.writeValueAsString(value)

  /** Parse `text` as a `T`; throws a `JsonProcessingException` on malformed
    * or truncated input. */
  def read[T: JavaTypeable](text: String): T = mapper.readValue[T](text)
}
