package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's rep logic: an entry whose query throws must fail, not
  * be timed as a fast run (the throw returns at once, so its wall
  * would otherwise pull the min and the total down). */
class BenchSpec extends AnyFunSuite {

  test("a throwing entry fails and stops after the first failed rep") {
    var runs = 0
    val sec = Bench.minOfReps(3) { runs += 1; sys.error("query failed") }
    assert(sec.isEmpty)
    assert(runs == 1)
  }

  test("a failure on a later rep fails the entry even after a timed rep") {
    var runs = 0
    val sec = Bench.minOfReps(2) { runs += 1; if (runs == 2) sys.error("query failed") }
    assert(sec.isEmpty)
    assert(runs == 2)
  }

  test("passing reps report the min wall") {
    val sleeps = Iterator(200L, 5L, 200L)
    val sec = Bench.minOfReps(3)(Thread.sleep(sleeps.next()))
    assert(sec.exists(s => s >= 0.005 && s < 0.2), sec)
  }
}
