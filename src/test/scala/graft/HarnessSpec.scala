package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `SPARK_GRAFT_CONF` parser every entry point's session applies. */
class HarnessSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CONF: each k=v entry is one conf pair") {
    assert(Harness.confPairs("a=1;b=2") === Seq("a" -> "1", "b" -> "2"))
    // the value keeps any further '='; empty entries are skipped
    assert(Harness.confPairs("k=x=y;;") === Seq("k" -> "x=y"))
  }

  test("SPARK_GRAFT_CONF: an entry without '=' fails, naming it") {
    val e = intercept[RuntimeException](Harness.confPairs("a=1;b"))
    assert(e.getMessage ===
      "SPARK_GRAFT_CONF entry 'b' is not k=v (full value: a=1;b)")
  }
}
