package graft

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset means every core, a non-integer fails naming the variable") {
    assert(Harness.coresFrom(None) == Runtime.getRuntime.availableProcessors())
    assert(Harness.coresFrom(Some("8")) == 8)
    assert(Harness.coresFrom(Some(" 2 ")) == 2)
    for (bad <- Seq("", "four", "4.5", "0", "-1")) {
      val e = intercept[IllegalArgumentException](Harness.coresFrom(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
