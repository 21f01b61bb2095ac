package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Inventory doc-drift gate inside `sbt test`: SURVEY.md §2 and the
  * README headline must match `SparkEntry`, the spec count must match the
  * tree, and the newest plan audit must cover the live key set — so doc
  * drift fails the suite instead of waiting for someone to run the tool;
  * the store-lifecycle rule is also checked against a planted call. */
class InventorySpec extends AnyFunSuite {

  test("docs, spec count and plan audit agree with the code") {
    assert(graft.tools.Inventory.failures() === Nil)
  }

  test("the store lifecycle stays in PartitionSwap: a planted internal call is named") {
    val sinks = java.nio.file.Paths.get("src/main/scala/graft/sinks")
    def src(f: String) = sinks.resolve(f) -> new String(
      java.nio.file.Files.readAllBytes(sinks.resolve(f)), "UTF-8")
    val clean = Seq("AnnStore.scala", "BandStore.scala", "ZOrderTable.scala", "PartitionSwap.scala").map(src)
    assert(graft.tools.Inventory.storeCommitCopies(clean) === Nil)
    val (zt, body) = src("ZOrderTable.scala")
    val planted = clean.map { case (f, b) =>
      f -> (if (f == zt) body + "\nobject Planted { PartitionSwap.mv(fs, a, b) }\n" else b) }
    assert(graft.tools.Inventory.storeCommitCopies(planted) === Seq(zt.toString))
    // the whole-root swap stays callable by every sink
    val rootSwap = clean.map { case (f, b) =>
      f -> (if (f == zt) body + "\nPartitionSwap.swapRoot(fs, p, s)(w)\n" else b) }
    assert(graft.tools.Inventory.storeCommitCopies(rootSwap) === Nil)
  }
}
