package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON writer of the driver artifacts (Bench, Verify,
  * ContractCheck): Jackson with its Scala module, both on Spark's
  * classpath. Jackson escapes every control char, so Spark exception
  * text (tabs, newlines, ANSI escapes) stays on one line and parses. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `v` as one line: maps (a `ListMap` keeps its field order), seqs,
    * options, strings, numbers, booleans. */
  def write(v: Any): String = mapper.writeValueAsString(v)
}
