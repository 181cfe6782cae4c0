package graft

import graft.tools.Sampler
import org.scalatest.funsuite.AnyFunSuite

/** Bench's sampling protocol: a fixed sample count whatever the samples
  * say, and a throw ends the query as failed.
  */
class BenchSpec extends AnyFunSuite {

  test("a 10 s outlier between two 0.1 s runs is reported in the spread, not re-drawn") {
    val times = Iterator(0.1, 10.0, 0.1, 0.1, 0.1)
    var calls = 0
    val s = Sampler.sample(Bench.samplesPerQuery) { () => calls += 1; times.next() }
    assert(calls === 3)
    assert(!s.failed)
    assert(s.median === 0.1)
    assert(s.min === 0.1)
    assert(s.max === 10.0)
  }

  test("a run that throws stops sampling and marks the query failed") {
    var calls = 0
    val s = Sampler.sample(Bench.samplesPerQuery) { () =>
      calls += 1
      if (calls == 2) throw new IllegalStateException("boom") else 0.1
    }
    assert(calls === 2)
    assert(s.failed)
    assert(s.error.map(_.getMessage) === Some("boom"))
    assert(s.seconds === Vector(0.1))
  }
}
