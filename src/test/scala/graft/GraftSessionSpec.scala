package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  private val nproc = Runtime.getRuntime.availableProcessors

  test("SPARK_GRAFT_CPUS: unset or * means every processor") {
    assert(GraftSession.parseCpus(None) == nproc)
    assert(GraftSession.parseCpus(Some("*")) == nproc)
  }

  test("SPARK_GRAFT_CPUS: a positive integer is taken as is") {
    assert(GraftSession.parseCpus(Some("8")) == 8)
  }

  test("SPARK_GRAFT_CPUS: anything else fails and names the variable") {
    Seq("0", "-2", "x").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"))
    }
  }
}
