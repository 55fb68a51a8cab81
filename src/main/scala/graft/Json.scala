package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The program's one JSON reader and writer: jackson, which ships with
  * Spark. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper()
}
