package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON in and out of the harness (Spark ships Jackson with its Scala
  * module). */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeFile(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}
