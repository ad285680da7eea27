package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate maps in [[SparkEntry]] are matched by name only at runtime:
  * every gate needs an oracle, every oracle a gate, and every production
  * twin or replay-harness floor must name an existing gate. Checks key sets
  * only, so it needs no Spark session and runs no query.
  */
class GateMapSpec extends AnyFunSuite {
  private val gates = SparkEntry.queries.keySet

  test("every gate has an oracle and every oracle a gate") {
    val oracles = SparkEntry.oracleSql.keySet
    assert((gates -- oracles).isEmpty, s"gates without an oracle: ${gates -- oracles}")
    assert((oracles -- gates).isEmpty, s"oracles without a gate: ${oracles -- gates}")
  }

  test("production twins and replay-harness floors name existing gates") {
    val twins = SparkEntry.productionPath.keySet
    val floors = SparkEntry.replayHarness.keySet
    assert(twins.subsetOf(gates), s"unknown gates: ${twins -- gates}")
    assert(floors.subsetOf(gates), s"unknown gates: ${floors -- gates}")
  }
}
