package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail: the highest percentile with at least ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    // p99 leaves 1 beyond, p95 leaves 5, p90 leaves exactly 10
    assert(Stats.tail(hundred) == Some(Stats.Tail(90.0, 90.0, 100)))
    val thousand = (1 to 1000).map(_.toDouble)
    // p99.9 leaves 1 beyond, p99 leaves 10
    assert(Stats.tail(thousand) == Some(Stats.Tail(99.0, 990.0, 1000)))
    // 39 samples: p75 leaves 9 beyond, too few for any tail
    assert(Stats.tail((1 to 39).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 40).map(_.toDouble)) == Some(Stats.Tail(75.0, 30.0, 40)))
  }

  test("tail: ties at the percentile do not count as beyond it") {
    val xs = Seq.fill(95)(1.0) ++ (1 to 5).map(_ + 1.0)
    // every percentile up to p95 reads 1.0 with only 5 samples above
    assert(Stats.tail(xs).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("union length merges overlapping and touching intervals") {
    assert(Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
    assert(Stats.unionLength(Seq((0.0, 1.0), (1.0, 2.0))) == 2.0)
    assert(Stats.unionLength(Seq((3.0, 3.0), (4.0, 2.0))) == 0.0)
    assert(Stats.unionLength(Nil) == 0.0)
  }

  test("uncovered time clips intervals to the window") {
    assert(Stats.uncovered(0, 10, Seq((-5.0, 2.0), (8.0, 20.0))) == 6.0)
    assert(Stats.uncovered(0, 10, Nil) == 10.0)
    assert(Stats.uncovered(0, 10, Seq((0.0, 10.0))) == 0.0)
  }

  private def span(id: Long, parent: Option[Long], start: Double, end: Double,
                   layer: String = "L", tasks: Seq[(Double, Double)] = Nil): Span = {
    val s = new Span(id, 1, layer, parent, start)
    s.endMs = end
    tasks.foreach(s.taskIntervals.add)
    s
  }

  test("self time: a span's duration minus the part its children cover") {
    val parent = span(1, None, 0, 1000, "Outer")
    val a = span(2, Some(1), 100, 300, "Inner")
    val b = span(3, Some(1), 200, 500, "Inner") // overlaps a: covered 100..500
    val costs = Tracer.layerCosts(Seq(parent, a, b), Map.empty, cores = 4)
    assert(costs("Outer").wallS == 1.0)
    assert(costs("Outer").selfS == 0.6)
    assert(costs("Inner").wallS == 0.5)
    assert(costs("Inner").selfS == 0.5)
  }

  test("driver gap: span time with none of its own or its descendants' tasks running") {
    val parent = span(1, None, 0, 1000, "Outer", tasks = Seq((0.0, 100.0), (50.0, 150.0)))
    val child = span(2, Some(1), 400, 900, "Inner", tasks = Seq((450.0, 650.0), (600.0, 700.0)))
    val costs = Tracer.layerCosts(Seq(parent, child), Map.empty, cores = 4)
    // parent: tasks cover 0..150 and 450..700 -> 600 ms idle
    assert(costs("Outer").driverGapS == 0.6)
    // child: 400..900 minus 450..700 -> 250 ms idle
    assert(costs("Inner").driverGapS == 0.25)
  }

  test("spans still open are left out; utilization is cpu over wall times cores") {
    val done = span(1, None, 0, 2000)
    done.cpuNs.set(4000000000L)
    val open = new Span(2, 1, "L", None, 0)
    val costs = Tracer.layerCosts(Seq(done, open), Map.empty, cores = 4)
    assert(costs("L").wallS == 2.0)
    assert(costs("L").util == 0.5)
  }
}
