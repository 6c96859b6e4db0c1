package graft

import org.scalatest.funsuite.AnyFunSuite

/** The curve's name lists and its exponent fit; no Spark job runs. */
class ScaleBenchSpec extends AnyFunSuite {

  test("every tracked name is a gate, and no twin reuses a gate's name") {
    val gates = SparkEntry.queries.keySet
    assert(ScaleBench.Tracked.filterNot(gates).isEmpty)
    assert(ScaleBench.Tracked.distinct == ScaleBench.Tracked)
    val twins = ScaleBench.twins.map(_._1)
    assert(twins.filter(gates).isEmpty)
    assert(twins.distinct == twins)
  }

  test("fitSlope recovers the exponent of exact power-law points") {
    val ks = Seq(1.0, 10.0, 30.0)
    assert(math.abs(ScaleBench.fitSlope(ks.map(k => k -> 0.25 * k)) - 1.0) < 1e-9)
    assert(math.abs(ScaleBench.fitSlope(ks.map(k => k -> 3.0 * k * k)) - 2.0) < 1e-9)
  }
}
