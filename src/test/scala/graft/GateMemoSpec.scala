package graft

import graft.ops.CheckpointUtil

/** Cross-gate memos survive the storage release between runs: a gate whose
  * memo once held checkpointed frames failed on its second run. */
class GateMemoSpec extends SparkTestBase {

  test("q210_kneser_ney runs twice with every persisted block released between") {
    val dir = new java.io.File(sf("documents")).getParent
    val gate = SparkEntry.queries("q210_kneser_ney")
    val first = gate(spark, dir).collect().toSeq
    CheckpointUtil.releaseAll(spark, blocking = true)
    val second = gate(spark, dir).collect().toSeq
    assert(first.nonEmpty)
    assert(second == first)
  }
}
