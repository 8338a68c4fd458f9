package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The gate registry after initialization: the family objects reference
  * each other's helpers through `Shared`, and a val read before its
  * object finished initializing would register a null query or oracle. */
class GateRegistrySpec extends AnyFunSuite {

  test("127 gates, each with a query and a non-empty oracle") {
    val gates = SparkEntry.gates
    assert(gates.size === 127)
    assert(gates.forall(g => g != null && g.name != null && g.query != null))
    val noOracle = gates.filterNot(_.oracle.exists(o => o != null && o.trim.nonEmpty))
    assert(noOracle.isEmpty, noOracle.map(_.name).mkString(", "))
    assert(gates.forall(g => Set("", "state", "counts").contains(g.memo)))
  }

  test("queries and oracleSql have the same 127 keys and no null value") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size === 127)
    assert(SparkEntry.queries.values.forall(_ != null))
    assert(SparkEntry.oracleSql.values.forall(_ != null))
  }

  test("a name declared twice stops the registry") {
    val g = SparkEntry.gates.head
    val e = intercept[IllegalArgumentException](Gate.uniquelyNamed(Seq(g, g.copy(oracle = None))))
    assert(e.getMessage.contains(g.name))
  }
}
