package graft

import org.scalatest.funsuite.AnyFunSuite

/** The AQE env knobs accept only `true`/`false`, Bench's gate knobs only
  * integers in range, and both name the variable when they reject a value.
  */
class SessionsSpec extends AnyFunSuite {

  test("AQE knobs: unset gives the default, true/false pass through") {
    assert(Sessions.boolKnob(Map.empty, "GRAFT_AQE_CACHED_REPART", default = false) == "false")
    assert(Sessions.boolKnob(Map.empty, "GRAFT_AQE_PARALLELISM_FIRST", default = true) == "true")
    val env = Map("GRAFT_AQE_CACHED_REPART" -> "true", "GRAFT_AQE_PARALLELISM_FIRST" -> "false")
    assert(Sessions.boolKnob(env, "GRAFT_AQE_CACHED_REPART", default = false) == "true")
    assert(Sessions.boolKnob(env, "GRAFT_AQE_PARALLELISM_FIRST", default = true) == "false")
  }

  test("AQE knobs: a bad value fails with the variable's name") {
    val repart = intercept[IllegalArgumentException] {
      Sessions.boolKnob(Map("GRAFT_AQE_CACHED_REPART" -> "1"), "GRAFT_AQE_CACHED_REPART", default = false)
    }
    assert(repart.getMessage.contains("GRAFT_AQE_CACHED_REPART") && repart.getMessage.contains("'1'"))
    val first = intercept[IllegalArgumentException] {
      Sessions.boolKnob(
        Map("GRAFT_AQE_PARALLELISM_FIRST" -> "ture"), "GRAFT_AQE_PARALLELISM_FIRST", default = true)
    }
    assert(first.getMessage.contains("GRAFT_AQE_PARALLELISM_FIRST") && first.getMessage.contains("'ture'"))
  }

  test("gate knobs: unset gives the default, integers in range pass through") {
    assert(Sessions.intKnob(Map.empty, "SPARK_GRAFT_GATE_TRIES", default = 8, min = 1) == 8)
    val env = Map("SPARK_GRAFT_GATE_TRIES" -> "1", "SPARK_GRAFT_GATE_SLEEP_SEC" -> "0")
    assert(Sessions.intKnob(env, "SPARK_GRAFT_GATE_TRIES", default = 8, min = 1) == 1)
    assert(Sessions.intKnob(env, "SPARK_GRAFT_GATE_SLEEP_SEC", default = 45, min = 0) == 0)
  }

  test("gate knobs: a non-integer or out-of-range value fails with the variable's name") {
    def reject(name: String, v: String, min: Int): Unit = {
      val e = intercept[IllegalArgumentException] {
        Sessions.intKnob(Map(name -> v), name, default = 8, min = min)
      }
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$v'"))
    }
    reject("SPARK_GRAFT_GATE_TRIES", "abc", min = 1)
    reject("SPARK_GRAFT_GATE_TRIES", "0", min = 1)
    reject("SPARK_GRAFT_GATE_SLEEP_SEC", "-1", min = 0)
  }
}
