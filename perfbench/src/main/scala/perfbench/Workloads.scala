package perfbench

/** The graft entries each batch workload runs, by name. They run in
  * SparkEntry declaration order whatever the order here. */
object Workloads {
  val olap: Seq[String] = Seq("q1_filter_count", "q2_join_top20", "q7_topk_window",
    "q28_grouping_sets", "q34_partition_pruning", "q37_funnel", "q50_ewma", "wordcount")

  val graph: Seq[String] = Seq("pagerank", "graph_components_auto", "dedup_embedding")

  def apply(workload: String): Seq[String] = workload match {
    case "olap"  => olap
    case "graph" => graph
    case other   => sys.error(s"unknown workload: $other")
  }
}
