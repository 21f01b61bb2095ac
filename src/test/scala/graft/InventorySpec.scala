package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Inventory doc-drift gate inside `sbt test`: SURVEY.md §2 and the
  * README headline must match `SparkEntry`, the spec count must match the
  * tree, and the newest plan audit must cover the live key set — so doc
  * drift fails the suite instead of waiting for someone to run the tool. */
class InventorySpec extends AnyFunSuite {

  test("docs, spec count and plan audit agree with the code") {
    assert(graft.tools.Inventory.failures() === Nil)
  }
}
