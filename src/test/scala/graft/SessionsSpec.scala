package graft

import org.scalatest.funsuite.AnyFunSuite

/** The AQE env knobs accept only `true`/`false`, Bench's gate knobs only
  * integers in range, the state-store, tmpfs, gate and passes switches
  * only the values they document, and each names the variable (or conf)
  * when it rejects a value.
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

  private def rejects[A](name: String, value: String)(read: => A): Unit = {
    val e = intercept[IllegalArgumentException](read)
    assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$value'"), e.getMessage)
  }

  test("state store knobs: rocksdb and the on/off spellings pass, from the conf before the env") {
    val noConf: String => Option[String] = _ => None
    assert(!Sessions.rocksDbChosen(noConf, Map.empty))
    assert(Sessions.rocksDbChosen(noConf, Map("GRAFT_STATE_STORE" -> "rocksdb")))
    assert(Sessions.rocksDbChosen(Map(Sessions.StateStoreKey -> "rocksdb").get, Map.empty))
    assert(!Sessions.highChurnChosen(noConf, Map.empty))
    for (v <- Seq("1", "true"))
      assert(Sessions.highChurnChosen(noConf, Map("GRAFT_STATE_STORE_HIGH_CHURN" -> v)))
    for (v <- Seq("0", "false"))
      assert(!Sessions.highChurnChosen(noConf, Map("GRAFT_STATE_STORE_HIGH_CHURN" -> v)))
    // the conf wins over the env, as perfbench sets it
    assert(Sessions.highChurnChosen(
      Map("graft.stateStore.highChurn" -> "true").get, Map("GRAFT_STATE_STORE_HIGH_CHURN" -> "0")))
  }

  test("state store knobs: a typo fails with the variable's or the conf's name") {
    val noConf: String => Option[String] = _ => None
    rejects("GRAFT_STATE_STORE", "rocks")(Sessions.rocksDbChosen(noConf, Map("GRAFT_STATE_STORE" -> "rocks")))
    rejects(Sessions.StateStoreKey, "hdfs")(
      Sessions.rocksDbChosen(Map(Sessions.StateStoreKey -> "hdfs").get, Map.empty))
    rejects("GRAFT_STATE_STORE_HIGH_CHURN", "yes")(
      Sessions.highChurnChosen(noConf, Map("GRAFT_STATE_STORE_HIGH_CHURN" -> "yes")))
    rejects("graft.stateStore.highChurn", "ture")(
      Sessions.highChurnChosen(Map("graft.stateStore.highChurn" -> "ture").get, Map.empty))
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
