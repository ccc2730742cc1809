package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON rendering for the harness's result record and span file, with
  * the Jackson that Spark already ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One JSON object, its fields in the given order. */
  def obj(fields: Seq[(String, Any)]): String =
    mapper.writeValueAsString(scala.collection.immutable.ListMap(fields: _*))
}
