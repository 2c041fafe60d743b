package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS must be a positive integer") {
    assert(Bench.coreCount(None) == 32)
    assert(Bench.coreCount(Some("8")) == 8)
    assert(Bench.coreCount(Some(" 4 ")) == 4)
    for (bad <- Seq("*", "0", "-2", "4x", "")) {
      val e = intercept[IllegalArgumentException](Bench.coreCount(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }
}
