package graft.core

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The JSON reader and writer of Bench, Canary and Verify: Jackson with
  * the Scala module, so a `ListMap` keeps its key order, strings are
  * escaped and a `java.math.BigDecimal` keeps its decimal places. */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(value: Any): String = mapper.writeValueAsString(value)
}
