package graft

import org.json4s.JString
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("cpus echo: numeric stays a number, anything else is a valid JSON string") {
    assert(Bench.cpusJson("4") == "4")
    for (v <- Seq("*", "", "4\"}", "a\\b", "tab\there")) {
      assert(JsonMethods.parse(s"""{"cpus":${Bench.cpusJson(v)}}""") \ "cpus" == JString(v))
    }
  }
}
