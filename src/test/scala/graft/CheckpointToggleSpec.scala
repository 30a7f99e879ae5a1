package graft

import org.apache.spark.sql.functions._
import graft.api.GraftOps

/** The reliable-checkpoint toggle: with spark.graft.reliableCheckpoint
  * = true (and a checkpoint dir set), every iterative core truncates
  * round lineage with fault-tolerant checkpoint() instead of
  * localCheckpoint() — the 1000-executor durability posture (executor
  * loss discards localCheckpoint blocks and the truncated lineage
  * cannot rebuild them). Results must be BIT-IDENTICAL either way:
  * the toggle changes where blocks live, never the plan's values. */
class CheckpointToggleSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def und = graft.sources.Tables.lineitem(spark, dir)
    .select(col("l_suppkey").as("s"), (col("l_partkey") + 1000000L).as("p"))
    .distinct()

  private def withReliable[A](body: => A): A = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    spark.conf.set(GraftOps.ReliableCheckpointKey, "true")
    try body
    finally {
      spark.conf.unset(GraftOps.ReliableCheckpointKey)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("pagerank and connected components are bit-identical under reliable checkpointing") {
    val local = graft.operators.Graph.pagerank(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val ccLocal = GraftOps.connectedComponents(und, "s", "p", 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val (reliable, ccReliable) = withReliable {
      SparkEntry.releaseMemos(spark) // drop the memoized local-mode ranks
      val pr = graft.operators.Graph.pagerank(spark, dir)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      val cc = GraftOps.connectedComponents(und, "s", "p", 6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      (pr, cc)
    }
    SparkEntry.releaseMemos(spark) // don't leak reliably-built memos to other specs
    assert(reliable == local, "pagerank diverged under reliable checkpointing")
    assert(ccReliable == ccLocal, "CC diverged under reliable checkpointing")
  }

  test("r12-routed iterative cores (suffix array, BPE, k-truss) are bit-identical under reliable checkpointing") {
    def snap(): (Seq[String], Seq[String], Seq[String]) = (
      graft.operators.SuffixArray.textSuffixArray(spark, dir)
        .collect().map(_.mkString("|")).sorted.toSeq,
      graft.operators.Bpe.train(spark, dir)
        .collect().map(_.mkString("|")).sorted.toSeq,
      graft.operators.Truss.graphKtruss(spark, dir)
        .collect().map(_.mkString("|")).sorted.toSeq)
    SparkEntry.releaseMemos(spark)
    val local = snap()
    val reliable = withReliable {
      SparkEntry.releaseMemos(spark)
      snap()
    }
    SparkEntry.releaseMemos(spark)
    assert(reliable._1 == local._1, "suffix array diverged under reliable checkpointing")
    assert(reliable._2 == local._2, "BPE merge table diverged under reliable checkpointing")
    assert(reliable._3 == local._3, "k-truss diverged under reliable checkpointing")
  }

  test("reliable mode actually writes checkpoint files") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    spark.conf.set(GraftOps.ReliableCheckpointKey, "true")
    try {
      GraftOps.connectedComponents(und, "s", "p", 4).count()
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "no checkpoint files written in reliable mode")
    } finally {
      spark.conf.unset(GraftOps.ReliableCheckpointKey)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }
}
