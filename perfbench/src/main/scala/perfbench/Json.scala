package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the files the runner reads (Scala maps, sequences, scalars),
  * with the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
