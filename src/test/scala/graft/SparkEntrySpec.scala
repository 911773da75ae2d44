package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query board's three registries name the same queries: `Verify`
  * writes whatever `oracleSql` holds, so an orphan oracle or a query
  * without one would otherwise surface only at the correctness gate
  * after a retirement. */
class SparkEntrySpec extends AnyFunSuite {

  test("queries and oracleSql name the same board; demo is on it") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"queries without oracle: ${q -- o}; oracles without query: ${o -- q}")
    assert(SparkEntry.demo.subsetOf(q), s"demo names off the board: ${SparkEntry.demo -- q}")
    assert(q.size == 228)
  }
}
