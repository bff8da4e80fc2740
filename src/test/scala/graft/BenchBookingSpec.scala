package graft

import org.scalatest.funsuite.AnyFunSuite

/** Board bookings: a query that fails every timed pass is reported in
  * `errors` and nowhere else, so it cannot lower the board's total.
  */
class BenchBookingSpec extends AnyFunSuite {

  private def board(failing: Option[String]): Bench.Board =
    Bench.book(Seq("q01" -> 0.02, "q02" -> 0.05, "q03" -> 0.01).map { case (q, s) =>
      q -> Bench.timePasses(q, ()) {
        if (failing.contains(q)) throw new IllegalStateException("forced")
        Thread.sleep((s * 1000).toLong)
      }
    })

  test("a forced failure cannot lower the total") {
    val clean = board(None)
    val broken = board(Some("q02"))
    assert(clean.errors.isEmpty && clean.queries.map(_._1) == Seq("q01", "q02", "q03"))
    assert(broken.errors == Seq("q02"))
    // no 0.0 s row: the failed query has no booked time at all
    assert(broken.queries.map(_._1) == Seq("q01", "q03"))
    assert(broken.queries.forall(_._2 > 0))
    assert(broken.total == broken.queries.map(_._2).sum)
    // over the rows both boards booked, the failure leaves each row at
    // or above its sleep, so the comparable total cannot fall
    val floor = Map("q01" -> 0.02, "q03" -> 0.01)
    assert(broken.queries.forall { case (q, t) => t >= floor(q) })
    assert(broken.total >= floor.values.sum)
  }

  test("rows under 1.5 s get four passes, a row failing every pass none") {
    var runs = 0
    assert(Bench.timePasses("fast", ())(runs += 1).size == 4 && runs == 4)
    runs = 0
    assert(Bench.timePasses("down", ()) { runs += 1; sys.error("forced") }.isEmpty)
    assert(runs == 2)
  }
}
