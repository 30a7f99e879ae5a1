package graft

import graft.api.Memo

/** SparkEntry.releaseMemos must free every session memo and every
  * resource graft created for it — checkpoint blocks, cached frames,
  * the triangle Bloom broadcast and its temp function — while keeping
  * the layout memos (persisted tables), and a rerun after the release
  * must rebuild identical results. */
class ReleaseCompletenessSpec extends SparkSpec {

  private val entries = Seq("graph_triangles", "pagerank", "ml_kmeans",
    "text_bpe_train", "text_suffix_array")

  private def runAll(): Seq[Seq[String]] =
    entries.map(n => SparkEntry.queries(n)(spark, sf).collect().map(_.toString).sorted.toSeq)

  private def bloomFunctions: Seq[String] =
    spark.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_tri_bloom_"))

  private def edgeLayouts: Seq[String] =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_edges_b")).toSeq

  test("releaseMemos frees every session memo, broadcast and temp function; layouts stay") {
    spark.conf.set("spark.graft.triangleBloom", "true")
    try {
      SparkEntry.releaseMemos(spark)
      val first = runAll()
      assert(Memo.trackedCount > 0)
      assert(bloomFunctions.nonEmpty, "forced Bloom filter registered no probe function")
      SparkEntry.releaseMemos(spark)
      assert(Memo.trackedCount == 0)
      assert(bloomFunctions.isEmpty, s"left registered: ${bloomFunctions.mkString(", ")}")
      assert(edgeLayouts.nonEmpty, "the persisted edge layout was dropped")
      assert(runAll() == first)
    } finally {
      spark.conf.unset("spark.graft.triangleBloom")
      SparkEntry.releaseMemos(spark)
    }
  }
}
