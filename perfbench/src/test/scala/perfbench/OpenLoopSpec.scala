package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {

  test("lateness is measured against the fixed schedule, not the previous offer") {
    // slots at 0, 50, 100, 150; the second offer runs 30 ms late and the
    // rest stay on schedule: one late offer does not shift the others
    val late = OpenLoop.lateness(0, 50, Seq(0.0, 80.0, 100.0, 151.0))
    assert(late == Seq(0.0, 30.0, 0.0, 1.0))
  }

  test("a generator that keeps falling behind accumulates lateness") {
    // each offer takes 60 ms against a 50 ms period
    val late = OpenLoop.lateness(0, 50, (0 until 5).map(k => k * 60.0))
    assert(late == Seq(0.0, 10.0, 20.0, 30.0, 40.0))
  }

  test("early offers count as on time") {
    assert(OpenLoop.lateness(100, 50, Seq(90.0, 140.0)) == Seq(0.0, 0.0))
  }

  test("backlog is what was offered by a time but not yet taken") {
    val offers = Seq(0.0 -> 25, 50.0 -> 25, 100.0 -> 25)
    assert(OpenLoop.backlog(offers, 60, taken = 25) == 25)
    assert(OpenLoop.backlog(offers, 100, taken = 25) == 50)
    assert(OpenLoop.backlog(offers, 100, taken = 75) == 0)
    assert(OpenLoop.backlog(offers, -1, taken = 0) == 0)
  }
}
