package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a query whose timed run threw is listed under failed; the other keys keep their bytes") {
    val line = Bench.jsonLine(Seq("q1" -> 1.5, "q2" -> -1.0, "q3" -> 0.25), Seq("q2"), "/d/sf0.1", 8)
    assert(line == """{"metric":"total","value":1.75,"unit":"sec",""" +
      """"queries":{"q1":1.5,"q2":-1.0,"q3":0.25},"sf":"/d/sf0.1","cpus":8,"failed":["q2"]}""")
    assert(Bench.jsonLine(Seq("q1" -> 2.0), Nil, "/d", 4) ==
      """{"metric":"total","value":2.0,"unit":"sec","queries":{"q1":2.0},"sf":"/d","cpus":4,"failed":[]}""")
  }
}
