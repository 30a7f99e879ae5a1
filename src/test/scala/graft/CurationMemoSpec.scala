package graft

import graft.operators.CurationQuality

/** The r17 curation family memos (qualityFilter / qualityClassifier /
  * cleanIds / calmIds) must be a pure timing optimization: every
  * pipeline's rows are identical whether its prefix memo was built by
  * an earlier family member (the bench's producer-charged order) or by
  * the pipeline itself on a cold memo map. */
class CurationMemoSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("pipelines agree cold vs riding family memos, pass after pass") {
    // cold: each pipeline builds its own prefix memos
    SparkEntry.releaseMemos(spark)
    val v4cold = rows(CurationQuality.pipelineV4(spark, sf))
    SparkEntry.releaseMemos(spark)
    val v5cold = rows(CurationQuality.pipelineV5(spark, sf))
    // warm: declaration order — v2 builds cleanIds, v3 builds calmIds,
    // v4/v5 ride
    SparkEntry.releaseMemos(spark)
    val v2 = rows(CurationQuality.pipelineV2(spark, sf))
    val v3 = rows(CurationQuality.pipelineV3(spark, sf))
    assert(rows(CurationQuality.pipelineV4(spark, sf)) == v4cold)
    assert(rows(CurationQuality.pipelineV5(spark, sf)) == v5cold)
    // second pass over a reset memo map reproduces everything
    SparkEntry.releaseMemos(spark)
    assert(rows(CurationQuality.pipelineV2(spark, sf)) == v2)
    assert(rows(CurationQuality.pipelineV3(spark, sf)) == v3)
  }

  test("qualityFilter/qualityClassifier memo round-trips exactly") {
    SparkEntry.releaseMemos(spark)
    val qf1 = rows(CurationQuality.qualityFilter(spark, sf))
    val qc1 = rows(CurationQuality.qualityClassifier(spark, sf))
    // memoized second read
    assert(rows(CurationQuality.qualityFilter(spark, sf)) == qf1)
    // fresh build after reset
    SparkEntry.releaseMemos(spark)
    assert(rows(CurationQuality.qualityFilter(spark, sf)) == qf1)
    assert(rows(CurationQuality.qualityClassifier(spark, sf)) == qc1)
  }
}
