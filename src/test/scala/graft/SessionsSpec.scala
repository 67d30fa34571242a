package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's gate knobs accept only integers in range, the tmpfs, gate and
  * passes switches only the values they document, and each names the
  * variable when it rejects a value.
  */
class SessionsSpec extends AnyFunSuite {

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

  private def rejects[A](name: String, value: String)(read: => A): Unit = {
    val e = intercept[IllegalArgumentException](read)
    assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$value'"), e.getMessage)
  }

  test("tmpfs scratch knob: on by default, 0/false off, 1/true on, anything else fails") {
    assert(Sessions.tmpfsScratchEnabled(Map.empty))
    for (v <- Seq("0", "false")) assert(!Sessions.tmpfsScratchEnabled(Map("GRAFT_TMPFS_SCRATCH" -> v)))
    for (v <- Seq("1", "true")) assert(Sessions.tmpfsScratchEnabled(Map("GRAFT_TMPFS_SCRATCH" -> v)))
    rejects("GRAFT_TMPFS_SCRATCH", "no")(Sessions.tmpfsScratchEnabled(Map("GRAFT_TMPFS_SCRATCH" -> "no")))
  }

  test("Bench gate and passes switches: on/off and 1/2 pass, anything else fails") {
    assert(Bench.gateKnob(Map.empty) && Bench.gateKnob(Map("SPARK_GRAFT_GATE" -> "on")))
    assert(!Bench.gateKnob(Map("SPARK_GRAFT_GATE" -> "off")))
    rejects("SPARK_GRAFT_GATE", "of")(Bench.gateKnob(Map("SPARK_GRAFT_GATE" -> "of")))
    assert(!Bench.onePassKnob(Map.empty) && !Bench.onePassKnob(Map("SPARK_GRAFT_PASSES" -> "2")))
    assert(Bench.onePassKnob(Map("SPARK_GRAFT_PASSES" -> "1")))
    rejects("SPARK_GRAFT_PASSES", "one")(Bench.onePassKnob(Map("SPARK_GRAFT_PASSES" -> "one")))
  }
}
