package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Verify`'s row-list check — pure, no Spark session. */
class VerifySpec extends AnyFunSuite {
  test("Verify.unknownRows names a mistyped row and passes a registered one") {
    val registered = SparkEntry.queries.keySet
    assert(registered.contains("ann_sq8"))
    assert(Verify.unknownRows(Set("ann_sq8", "ann_sq"), registered) === Seq("ann_sq"))
    assert(Verify.unknownRows(Set("ann_sq8"), registered).isEmpty)
  }
}
