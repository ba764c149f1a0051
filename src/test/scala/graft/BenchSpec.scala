package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("warm spread leaves out a memo-cold first sample") {
    // shaped like q245 in a memo-consumer run: one cold build, four warm runs
    val runs = Seq("q245" -> Seq(12.883, 3.490, 3.450, 3.620, 3.480), "q01" -> Seq(1.0, 1.01, 1.0))
    assert(math.abs(Bench.worstSpread(runs, skip = 0) - (12.883 - 3.450) / 3.490) < 1e-9)
    assert(math.abs(Bench.worstSpread(runs, skip = 1) - (3.620 - 3.450) / 3.490) < 1e-9)
    // a failed sample drops the query; too few samples left counts nothing
    assert(Bench.worstSpread(Seq("q1" -> Seq(-1.0, 2.0, 3.0)), skip = 0) === 0.0)
    assert(Bench.worstSpread(Seq("q1" -> Seq(5.0, 2.0)), skip = 1) === 0.0)
  }
}
