package graft

/** Plan-evidence harness for INTERNAL pipeline stages that the
  * registered queries checkpoint-collapse to LogicalRDD leaves before
  * their final plan forms (the embedding candidate stage, notably).
  * Prints the stage's own `.explain("formatted")` so a plan-shape
  * change in a shared core is visible even though every consumer's
  * final plan is a join over checkpointed leaves.
  *
  * Usage: runMain graft.ExplainStage [sfDir] [stage...]
  * Stages: emb_pairs (default)
  */
object ExplainStage {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val stages = if (args.length > 1) args.drop(1).toSeq else Seq("emb_pairs")
    val spark = Harness.session()
    // plan-only: skip the hot-bucket probe's eager job (see Explain)
    spark.conf.set("spark.graft.lshProbe", "false")
    stages.foreach { s =>
      println(s"\n================ stage:$s ================")
      s match {
        case "emb_pairs" =>
          // the shared candidate+cosine stage of ml_dbscan /
          // dedup_embedding / cur_semdedup / mm_pipeline — NOT
          // truncated here, so the full pair-generation plan prints
          api.GraftOps.embeddingCandidatePairs(
            sources.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
            hotThreshold = functions.EmbLsh.SaltHotBucket,
            salt = functions.EmbLsh.SaltWays)
            .explain("formatted")
        case other => println(s"unknown stage: $other")
      }
    }
    spark.stop()
  }
}
