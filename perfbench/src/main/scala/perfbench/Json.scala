package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for a run's result files (Scala maps, sequences, options). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
