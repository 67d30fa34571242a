package graft

import org.scalatest.funsuite.AnyFunSuite

/** The calibration probe's multicore and shuffle jobs give every session
  * core the same load, so `cpu_mt_sec` and `shuffle_sec` do not grow as
  * cores shrink.
  */
class CalibrateSpec extends AnyFunSuite {

  test("cpu_mt job: one seed (and partition) per session core") {
    assert(Calibrate.mtSeeds(32) == (1 to 32))
    assert(Calibrate.mtSeeds(4) == (1 to 4))
    assert(Calibrate.mtSeeds(1) == (1 to 1))
    assert(Calibrate.mtSeeds(0) == (1 to 1))
  }

  test("shuffle job: 32 cores' per-core rows and keys, one partition per core") {
    assert(Calibrate.shuffleShape(32) == ((30000000L, 1000000L, 32)))
    assert(Calibrate.shuffleShape(4) == ((3750000L, 125000L, 4)))
    assert(Calibrate.shuffleShape(0) == ((937500L, 31250L, 1)))
  }
}
