package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON in and out of the measured process (Jackson ships with Spark). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)

  def parse(s: String): Any = mapper.readValue(s, classOf[Map[String, Any]])
}
