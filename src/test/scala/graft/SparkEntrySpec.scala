package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query board declares each query once, plan and oracle together
  * (`QueryDef`), so a query without an oracle cannot be written; what
  * the list does not rule out by construction is pinned here: names
  * are unique (a second declaration would shadow the first in the name
  * lookup), every oracle has SQL, the demo tier is the known six, and a
  * name filter fails loudly instead of selecting nothing. */
class SparkEntrySpec extends AnyFunSuite {

  test("the board holds 228 uniquely named queries, each with an oracle") {
    val names = SparkEntry.board.map(_.name)
    val twice = names.diff(names.distinct)
    assert(twice.isEmpty, s"declared twice: $twice")
    assert(names.size == 228)
    val noSql = SparkEntry.board.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(noSql.isEmpty, s"empty oracle SQL: $noSql")
  }

  test("the demo tier is exactly the six diagnostic queries") {
    assert(SparkEntry.board.filter(_.demo).map(_.name).toSet ==
      Set("q_simhash_neardup", "q_ann_recall", "q_ann_frontier",
        "q_candidate_stats", "q_semdedup", "q_embedding_neardup_lsh"))
  }

  test("select: the filter's queries in its order, and an unknown name throws naming it") {
    assert(SparkEntry.select(None) == SparkEntry.board)
    assert(SparkEntry.select(Some(" q_mad, q_global_summary,,q_mad ")).map(_.name) ==
      Seq("q_mad", "q_global_summary"))
    assert(SparkEntry.query("q_mad").name == "q_mad")
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q_global_summary,q_global_sumary,q_nope")))
    assert(e.getMessage.contains("q_global_sumary, q_nope"), e.getMessage)
    assert(!e.getMessage.contains("q_global_summary,"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.select(Some(" , ")))
    assert(intercept[IllegalArgumentException](SparkEntry.query("q_nope"))
      .getMessage.contains("q_nope"))
  }
}
