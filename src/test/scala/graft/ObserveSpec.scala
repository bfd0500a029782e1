package graft

import org.apache.spark.sql.Observation
import org.scalatest.funsuite.AnyFunSuite

/** A bounded observation read gives up, and says so, when no action fires. */
class ObserveSpec extends AnyFunSuite {

  test("metric and metricDouble return None once their bound passes") {
    val obs = Observation()
    val t0 = System.nanoTime()
    assert(Observe.metric(obs, "n", timeoutMs = 50L).isEmpty)
    assert(Observe.metricDouble(obs, "l1", timeoutMs = 50L).isEmpty)
    assert(System.nanoTime() - t0 >= 100L * 1000 * 1000, "returned before the bound")
  }
}
