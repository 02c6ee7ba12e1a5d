package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own rules: percentiles, the generator, the derived
  * queue arithmetic, self times and the output checker.
  */
class BenchSpec extends AnyFunSuite {

  test("median, and a p90 tail only with at least ten samples beyond it") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.tail(xs, 0.9).contains(90.0))
    assert(Stats.tail(xs.take(99), 0.9).isEmpty) // only 9 beyond
    val s = Stats.summary(xs.take(40))
    assert(s.n == 40 && s.p50 == 20.5 && s.p90.isEmpty)
    assert(Stats.summary(Nil).p50.isNaN)
  }

  test("the generator is deterministic per seed") {
    def gen(seed: Long) = Gen.mix(new scala.util.Random(seed),
      Gen.Hooks.map(_ -> 25), 1)
    val a = gen(42)
    assert(a.map(_.payload) == gen(42).map(_.payload))
    assert(a.map(_.expected.map(_.toString)) == gen(42).map(_.expected.map(_.toString)))
    assert(a.map(_.payload) != gen(43).map(_.payload))
    // exact composition, unique ids
    assert(a.groupBy(_.hook).map { case (h, es) => h -> es.size } ==
      Gen.Hooks.map(_ -> 25).toMap)
    assert(a.map(_.key).distinct.size == a.size)
    assert(a.forall(e => Gateway.keyOf(e.payload).contains(e.key)))
  }

  test("rounds keep the hook mix balanced at every prefix") {
    val evs = Gen.rounds(new scala.util.Random(5), 10, 1)
    assert(evs.size == 40)
    assert(evs.grouped(4).forall(_.map(_.hook).toSet == Gen.Hooks.toSet))
    assert(evs.map(_.hook) != Gen.rounds(new scala.util.Random(6), 10, 1).map(_.hook))
  }

  test("rounds hold the exact filter pass share and array line mix") {
    Seq(1L, 2L, 3L).foreach { seed =>
      val evs = Gen.rounds(new scala.util.Random(seed), 20, 1)
      val nested = evs.filter(_.hook == "nested")
      assert(nested.count(_.expected.isDefined) == 14)
      val lines = evs.filter(_.hook == "array")
        .map(e => Gen.mapper.readTree(e.payload).size)
      assert(lines.groupBy(identity).map { case (n, xs) => n -> xs.size } ==
        (1 to 4).map(_ -> 5).toMap)
    }
  }

  test("the warm-up set holds one event of every payload variant") {
    val w = Gen.warmupSet(1)
    assert(w.size == 9) // nested 2×2, array 2, udf 2, refjoin 1
    assert(w.map(_.payload) == Gen.warmupSet(1).map(_.payload))
  }

  test("one numeric field takes both integral and fractional values") {
    val evs = Gen.mix(new scala.util.Random(7), Seq("udf" -> 50), 1)
    val amounts = evs.map(e => Gen.mapper.readTree(e.payload).get("amount"))
    assert(amounts.exists(_.isIntegralNumber))
    assert(amounts.exists(a => !a.isIntegralNumber))
    // and the key shape tells the two apart
    val shapes = evs.map(e => Gen.keyShape(e.payload)).distinct
    assert(shapes.size == 2)
    val (shapeShare, textShare) = Gen.repeatShares(evs)
    assert(shapeShare == 48.0 / 50 && textShare == 0.0)
  }

  test("FIFO queue wait and service on a synthetic timeline") {
    // arrivals 0, 1, 2, 10; completions 5, 7, 8, 12 on one worker:
    // service starts at 0, 5, 7, 10
    val v = Seq(Stats.Visit(1, 7), Stats.Visit(0, 5), Stats.Visit(2, 8),
      Stats.Visit(10, 12))
    assert(Stats.fifoSplit(v) == Seq((0.0, 5.0), (4.0, 2.0), (5.0, 1.0),
      (0.0, 2.0)))
    assert(Stats.maxDepth(v.map(_.arrival), v.map(_.done)) == 3)
  }

  test("self time subtracts the union of the children") {
    val p = Stats.Interval(0, 10)
    val kids = Seq(Stats.Interval(1, 3), Stats.Interval(2, 5),
      Stats.Interval(7, 8), Stats.Interval(9, 12))
    assert(Stats.covered(p, kids) == 6.0)
    assert(Stats.selfTime(p, kids) == 4.0)
  }

  test("the checker accepts the expected output and rejects a wrong one") {
    val r = new scala.util.Random(3)
    val e = Iterator.continually(Gen.event(r, "udf", 1))
      .find(ev => !Gen.mapper.readTree(ev.payload).get("amount").isIntegralNumber).get
    val want = e.expected.get
    assert(Workloads.outputError(e, want.toString, success = true, "ok").isEmpty)
    // numbers compare numerically: 12 equals 12.0
    val j = Gen.mapper.readTree("""{"a": 12, "b": [1.5, null]}""")
    assert(Gen.jsonEq(j, Gen.mapper.readTree("""{"b": [1.50, null], "a": 12.0}""")))
    assert(Gen.jsonEq(Gen.mapper.readTree("""{"a": 1, "n": null}"""),
      Gen.mapper.readTree("""{"a": 1}""")))
    // a fractional amount read back as its integral part is wrong
    val wrong = want.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    wrong.put("amount", want.get("amount").decimalValue.intValue)
    assert(Workloads.outputError(e, wrong.toString, success = true, "ok").isDefined)
    assert(Workloads.outputError(e, "{}", success = false,
      "Filtered out by filter_query").isDefined)
    // a filtered event must be audited as filtered
    val pushless = Iterator.continually(Gen.event(r, "nested", 2))
      .find(_.expected.isEmpty).get
    assert(Workloads.outputError(pushless, "{}", success = false,
      "Filtered out by filter_query").isEmpty)
    assert(Workloads.outputError(pushless, pushless.payload, success = true,
      "ok").isDefined)
  }
}
