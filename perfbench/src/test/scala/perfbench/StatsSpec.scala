package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // p90 leaves 10 samples beyond it, p95 only 5
    assert(Stats.tail(xs) == Some((0.9, 90.0)))
    assert(Stats.tail((1 to 1000).map(_.toDouble)) == Some((0.99, 990.0)))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some((0.5, 10.0)))
    assert(Stats.tail((1 to 39).map(_.toDouble)) == Some((0.5, 20.0)))
    assert(Stats.tail((1 to 40).map(_.toDouble)) == Some((0.75, 30.0)))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile(Seq(5.0, 1.0, 4.0, 2.0, 3.0), 0.5) == 3.0)
    assert(Stats.percentile(Seq(5.0, 1.0), 1.0) == 5.0)
    assert(Stats.beyond(100, 0.9) == 10)
  }

  test("union of job intervals merges overlaps and skips gaps") {
    assert(Stats.unionLength(Nil) == 0.0)
    assert(Stats.unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0))) == 20.0)
    assert(Stats.unionLength(Seq((20.0, 25.0), (0.0, 10.0), (2.0, 3.0))) == 15.0)
    assert(Stats.unionLength(Seq((0.0, 10.0), (10.0, 12.0))) == 12.0)
    assert(Stats.unionLength(Seq((5.0, 5.0), (7.0, 6.0))) == 0.0)
  }

  test("driver gap is wall time minus the union of jobs inside the span") {
    // jobs overlap each other and stick out of the span on both sides
    val jobs = Seq((-5.0, 10.0), (8.0, 30.0), (50.0, 60.0), (95.0, 120.0))
    assert(Stats.driverGap(0.0, 100.0, jobs) == 100.0 - (30.0 + 10.0 + 5.0))
    assert(Stats.driverGap(0.0, 100.0, Nil) == 100.0)
    assert(Stats.driverGap(0.0, 100.0, Seq((200.0, 300.0))) == 100.0)
  }

  test("self time subtracts the children's covered interval once") {
    assert(Stats.selfTime(0.0, 100.0, Seq((10.0, 40.0), (30.0, 50.0), (90.0, 100.0))) == 50.0)
    assert(Stats.selfTime(0.0, 10.0, Nil) == 10.0)
  }

  test("tracing alternates A B B A over an operation's repetitions") {
    assert((0 until 8).map(Run.tracedAt) ==
      Seq(false, true, true, false, false, true, true, false))
  }

  test("tracing overhead and its noise come from pairs of like repetitions") {
    def t(name: String, ms: Double, traced: Boolean) = Timed(name, ms, traced)
    // q's pairs: 110/100 and 120/100; r's pair: 13/10; r's third run has no partner
    val ops = Seq(t("q", 100, false), t("q", 110, true), t("q", 120, true), t("q", 100, false),
      t("r", 10, false), t("r", 13, true), t("r", 50, false))
    assert(Run.pairRatios(ops).sorted.map(x => math.round(x * 100)) == Seq(110, 120, 130))
    assert(math.abs(Run.overhead(ops) - 0.2) < 1e-9)
    // nearest-rank quartiles of (1.1, 1.2, 1.3) are 1.1 and 1.3
    assert(math.abs(Run.noiseFloor(ops) - 0.1) < 1e-9)
    assert(Run.overhead(Seq(t("q", 1, false), t("q", 1, false))).isNaN)
    assert(Run.noiseFloor(ops.take(2)).isNaN)
  }

  test("JSON keeps map order and writes non-finite numbers as null") {
    val doc = scala.collection.immutable.ListMap(
      "b" -> 1.25, "a" -> Double.NaN, "c" -> Seq(1L, 2L), "d" -> Map("x" -> true))
    assert(Json.render(doc) == """{"b":1.25,"a":null,"c":[1,2],"d":{"x":true}}""")
    assert(Json.parse("""{"q":{"rows":8,"hash":"ab"}}""") ==
      Map("q" -> Map("rows" -> 8.0, "hash" -> "ab")))
  }
}
