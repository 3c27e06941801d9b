package perfbench

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The run record is built from ordered maps and sequences and written
  * with the Jackson (and its Scala module) that Spark ships. */
object Json {
  type Obj = ListMap[String, Any]

  def obj(fields: (String, Any)*): Obj = ListMap(fields: _*)

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .build()

  def render(v: Any): String = mapper.writeValueAsString(v)
}
