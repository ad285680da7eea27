package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gates.Gates

/** The gate registry's structure: unique names across families, a non-blank
  * oracle per gate, and the name-keyed maps in [[SparkEntry]] derived from it.
  * Builds no Spark session and runs no query.
  */
class GateRegistrySpec extends AnyFunSuite {
  private val declared = Gates.all.flatMap(_._2)

  test("gate names are unique across all families, and the index rejects a repeat") {
    val repeated = declared.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    assert(repeated.isEmpty, s"gate names declared more than once: $repeated")
    val g = declared.head
    val err = intercept[IllegalArgumentException](Gates.index(Seq(g, g.copy())))
    assert(err.getMessage.contains(g.name))
  }

  test("every gate has a non-blank oracle and sits in exactly one family") {
    val blank = declared.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"gates with a blank oracle: $blank")
    val families = Gates.all.map(_._1)
    assert(families.distinct == families, s"families named twice: $families")
    val homes = declared.map(g => g.name -> Gates.all.count(_._2.contains(g))).toMap
    assert(homes.values.forall(_ == 1), s"gates outside exactly one family: $homes")
  }

  test("SparkEntry.queries and oracleSql are keyed by the 253 registered names") {
    val names = declared.map(_.name).toSet
    assert(SparkEntry.queries.keySet == names)
    assert(SparkEntry.oracleSql.keySet == names)
    assert(names.size == 253)
  }
}
