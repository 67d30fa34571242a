package graft

import org.scalatest.funsuite.AnyFunSuite

/** The AQE env knobs accept only `true`/`false` and name the variable
  * when they reject a value.
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
}
