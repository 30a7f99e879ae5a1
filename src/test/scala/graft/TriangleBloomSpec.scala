package graft

import graft.operators.Graph

/** The r17 wedge-stream Bloom pre-filter (GraftOps.wedgeBloomProbe)
  * must change shuffle bytes only, never rows: the exact closing-edge
  * semi join downstream decides membership, so forcing the filter ON
  * (the sf10 dispatch outcome) must reproduce the plain plan's counts
  * row for row on both consumers. */
class TriangleBloomSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def withBloom[A](mode: String)(body: => A): A = {
    spark.conf.set("spark.graft.triangleBloom", mode)
    try body finally spark.conf.unset("spark.graft.triangleBloom")
  }

  test("graph_triangles: Bloom-on equals Bloom-off, and auto stays off at toy scale") {
    val off = withBloom("false")(rows(Graph.graphTriangles(spark, sf)))
    val on = withBloom("true")(rows(Graph.graphTriangles(spark, sf)))
    assert(on == off)
    // auto dispatch: sf0.001's co-purchase graph is far below
    // triangleBloomMinEdges, so the unset-conf plan is the plain one —
    // same rows either way (and no probe function needs registering)
    assert(rows(Graph.graphTriangles(spark, sf)) == off)
  }

  test("graph_clustering_coeff: Bloom-on equals Bloom-off") {
    val off = withBloom("false")(rows(Graph.graphClusteringCoeff(spark, sf)))
    val on = withBloom("true")(rows(Graph.graphClusteringCoeff(spark, sf)))
    assert(on == off)
  }

  private def withBounds[A](min: String, max: String)(body: => A): A = {
    spark.conf.set("spark.graft.triangleBloomMinEdges", min)
    spark.conf.set("spark.graft.triangleBloomMaxEdges", max)
    try body finally {
      spark.conf.unset("spark.graft.triangleBloomMinEdges")
      spark.conf.unset("spark.graft.triangleBloomMaxEdges")
    }
  }

  test("edge-count bounds accept the 2e6 / 2e8 form the scaladoc uses") {
    val plain = withBloom("false")(rows(Graph.graphTriangles(spark, sf)))
    // auto dispatch with the documented defaults spelled out: toy scale
    // stays below 2e6, and a 0 floor engages the filter — same rows
    assert(withBounds("2e6", "2e8")(rows(Graph.graphTriangles(spark, sf))) == plain)
    assert(withBounds("0", "2e8")(rows(Graph.graphTriangles(spark, sf))) == plain)
  }

  test("negative, fractional or non-numeric bounds fail naming key and value") {
    for (bad <- Seq("-1", "2.5", "2e6x")) {
      val e = intercept[IllegalArgumentException](
        withBounds(bad, "2e8")(Graph.graphTriangles(spark, sf).collect()))
      assert(e.getMessage.contains("spark.graft.triangleBloomMinEdges") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
