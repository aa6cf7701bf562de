package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON writer of the harness mains and probes: one compact line,
  * strings escaped by Jackson. Maps keep their iteration order (records are
  * built from `ListMap`), so the key order is the caller's.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}
