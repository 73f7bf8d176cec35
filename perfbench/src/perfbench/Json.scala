package perfbench

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Jackson, as the program uses it: reads response bodies with decimals
  * kept exact, and renders Scala maps and sequences for the report. */
object Json {
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  def parse(s: String): JsonNode = mapper.readTree(s)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
