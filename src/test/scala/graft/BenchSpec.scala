package graft

import graft.Bench.{Timing, pool, retimeQueue}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's failure handling: failed timings never set a query's wall
  * while a successful one exists, a query that failed every timing stays
  * recognisable (and so out of the total), and failed queries get the
  * re-timing slots before spiked ones.
  */
class BenchSpec extends AnyFunSuite {

  private def ok(wall: Double) = Timing(wall, ok = true)
  private def failed(wall: Double) = Timing(wall, ok = false)

  test("pool: the minimum and spread come from successful timings only") {
    val p = pool(Seq(ok(4.0), failed(0.2), ok(3.0), ok(3.5)))
    assert(p.best == ok(3.0))
    assert(p.spread == 0.5)
    assert(!p.allFailed)
  }

  test("pool: a query whose every timing failed is flagged all-failed") {
    val p = pool(Seq(failed(0.3), failed(0.1)))
    assert(p.allFailed)
    assert(p.best == failed(0.1))
    assert(math.abs(p.spread - 0.2) < 1e-12)
    assert(pool(Seq(ok(2.0))).spread == 0.0)
  }

  test("retimeQueue: failed-timing queries take the slots before spiked ones") {
    // names chosen so that name order would put the spiked queries first
    val pass1 = Map(
      "a_spiked" -> ok(1.0), "b_spiked" -> ok(10.0), "c_steady" -> ok(2.0),
      "y_failed" -> failed(0.1), "z_failed" -> ok(3.0))
    val pass2 = Map(
      "a_spiked" -> ok(3.0), "b_spiked" -> ok(4.0), "c_steady" -> ok(2.2),
      "y_failed" -> ok(1.0), "z_failed" -> failed(0.1))
    assert(retimeQueue(pass1, pass2) == Seq("y_failed", "z_failed", "a_spiked", "b_spiked"))
    assert(retimeQueue(pass1, pass2, cap = 2) == Seq("y_failed", "z_failed"))
    assert(retimeQueue(pass1, pass2, cap = 3) == Seq("y_failed", "z_failed", "a_spiked"))
  }

  test("retimeQueue: the spike threshold is max(0.5 s, 50% of the faster pass)") {
    val pass1 = Map("small" -> ok(0.2), "large" -> ok(10.0), "edge" -> ok(10.0))
    val pass2 = Map("small" -> ok(0.6), "large" -> ok(15.1), "edge" -> ok(15.0))
    assert(retimeQueue(pass1, pass2) == Seq("large"))
  }
}
