package graft

import graft.core.SparseBlock

/** The sparse oracle rows must actually exercise the SparseBlock
  * kernels — if the vector assembly ever densified, q_sparse_* would
  * silently certify the dense path instead. */
class SparseQueriesSpec extends SparkSpec {

  test("q_sparse_* queries run on SparseBlocks end-to-end") {
    val dir = "/root/testdata/sf0.001"
    val col = Queries.sparseColumnar(spark, dir)
    val kinds = col.data.flatMap(_.features.toSeq)
      .map(_.getClass.getSimpleName).distinct().collect().toSet
    assert(kinds == Set(classOf[SparseBlock].getSimpleName))
    // and the registered query over the same cache returns rows
    assert(Queries.sparseHist2d(spark, dir).count() > 0)
    assert(Queries.sparseSelectorMim(spark, dir).count() == 4)
    Queries.clearCache()
  }
}
