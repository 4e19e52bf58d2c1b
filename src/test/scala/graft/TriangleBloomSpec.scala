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
    // the edge bounds parse in the 2e6 form their defaults are written in
    spark.conf.set("spark.graft.triangleBloomMinEdges", "2e6")
    try assert(rows(Graph.graphTriangles(spark, sf)) == off)
    finally spark.conf.unset("spark.graft.triangleBloomMinEdges")
  }

  test("graph_clustering_coeff: Bloom-on equals Bloom-off") {
    val off = withBloom("false")(rows(Graph.graphClusteringCoeff(spark, sf)))
    val on = withBloom("true")(rows(Graph.graphClusteringCoeff(spark, sf)))
    assert(on == off)
  }
}
