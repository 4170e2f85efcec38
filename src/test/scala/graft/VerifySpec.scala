package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Verify`'s argument and row-list checks and the query/oracle
  * registry — pure, no Spark session. */
class VerifySpec extends AnyFunSuite {
  test("Verify.unknownRows names a mistyped row and passes a registered one") {
    val registered = SparkEntry.queries.keySet
    assert(registered.contains("ann_sq8"))
    assert(Verify.unknownRows(Set("ann_sq8", "ann_sq"), registered) === Seq("ann_sq"))
    assert(Verify.unknownRows(Set("ann_sq8"), registered).isEmpty)
  }

  test("Verify.parseArgs takes two or three arguments and rejects any other count") {
    assert(Verify.parseArgs(Array("sf", "out")) === Some(("sf", "out", None)))
    assert(Verify.parseArgs(Array("sf", "out", "ann_sq8,bm25_topk")) ===
      Some(("sf", "out", Some(Set("ann_sq8", "bm25_topk")))))
    Seq(Array.empty[String], Array("sf"), Array("sf", "out", "rows", "extra"))
      .foreach(a => assert(Verify.parseArgs(a).isEmpty, a.mkString("[", ",", "]")))
  }

  test("every registered query has exactly one oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries.nonEmpty)
    assert((queries -- oracles).isEmpty, s"queries without an oracle: ${queries -- oracles}")
    assert((oracles -- queries).isEmpty, s"oracles without a query: ${oracles -- queries}")
  }
}
