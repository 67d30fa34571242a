package graft

import org.scalatest.funsuite.AnyFunSuite

/** The calibration probe's multicore job gives every session core the
  * same one kernel call, so `cpu_mt_sec` does not grow as cores shrink.
  */
class CalibrateSpec extends AnyFunSuite {

  test("cpu_mt job: one seed (and partition) per session core") {
    assert(Calibrate.mtSeeds(32) == (1 to 32))
    assert(Calibrate.mtSeeds(4) == (1 to 4))
    assert(Calibrate.mtSeeds(1) == (1 to 1))
    assert(Calibrate.mtSeeds(0) == (1 to 1))
  }
}
