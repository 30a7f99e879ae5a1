package graft

/** Plan auditor: dumps the formatted physical plan of selected queries
  * so scan pushdown (`PushedFilters`), column pruning (`ReadSchema`),
  * join strategy, and whole-stage codegen coverage can be inspected.
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // args containing '=' are session conf overrides (e.g. force a
    // scale-dispatched plan variant for inspection:
    // spark.graft.triangleBloom=true); the rest are query names
    val (confArgs, nameArgs) = args.drop(1).toSeq.partition(_.contains("="))
    val names = if (nameArgs.nonEmpty) nameArgs else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session()
    // plan-only session: skip the LSH hot-bucket probe's eager job so
    // explain stays lazy (constructs the probe's cold outcome — the
    // plain self-join plan; see GraftOps.bucketPairs)
    spark.conf.set("spark.graft.lshProbe", "false")
    confArgs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
