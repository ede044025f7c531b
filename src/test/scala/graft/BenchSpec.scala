package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench's timed run: a query that throws is reported as failed
  * (status + exception class), never recorded as a fast time. */
class BenchSpec extends AnyFunSuite {

  test("a throwing query is reported as failed, not timed as a fast run") {
    var calls = 0
    val (times, error) = Bench.timeRuns(3) {
      calls += 1
      throw new IllegalStateException("boom")
    }
    assert(error.exists(_.isInstanceOf[IllegalStateException]))
    assert(calls == 1 && times.length == 1) // the first throw ends the repeats
    val (status, errors) = Bench.statusJson(Seq("q_ok", "q_boom"), Map("q_boom" -> error.get))
    assert(status == """{"q_ok":"ok","q_boom":"failed"}""")
    assert(errors == """{"q_boom":"java.lang.IllegalStateException"}""")
  }

  test("a passing query is timed on every repeat, sorted") {
    var calls = 0
    val (times, error) = Bench.timeRuns(3) { calls += 1 }
    assert(error.isEmpty && calls == 3)
    assert(times.length == 3 && times == times.sorted)
  }
}
