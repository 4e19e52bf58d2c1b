package graft

import org.apache.spark.sql.functions._
import graft.api.GraftOps

/** The generalized personalized-PageRank core must conserve mass
  * (Σr = 1) even when dangling nodes hold most of it, and match
  * hand-computed ranks on a minimal graph. */
class PageRankDanglingSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("dangling mass returns to the sources: hand-computed 2-node graph") {
    // 1 → 2, source {1}: r1 = (0.15, 0.85); r2 = (0.8725, 0.1275)
    val edges = Seq((1L, 2L)).toDF("s", "d")
    val r = GraftOps.personalizedPageRank(edges, "s", "d", Seq(1L), 0.15, iters = 2)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(1L) - 0.8725) < 1e-12 && math.abs(r(2L) - 0.1275) < 1e-12)
  }

  test("sum of ranks is exactly 1 on a graph where most mass goes dangling") {
    // fan-out: each source points at 50 dangling sinks
    val edges = (0L until 3L).flatMap(s => (100L until 150L).map(d => (s, d + s * 100)))
      .toDF("s", "d")
    for (iters <- Seq(1, 3, 7)) {
      val sum = GraftOps.personalizedPageRank(edges, "s", "d", Seq(0L, 1L, 2L), 0.15, iters)
        .agg(org.apache.spark.sql.functions.sum(col("r"))).collect().head.getDouble(0)
      assert(math.abs(sum - 1.0) < 1e-9, s"iters=$iters: sum=$sum")
    }
  }

  test("source absent from the edge set still receives its jump mass") {
    val edges = Seq((1L, 2L)).toDF("s", "d")
    val r = GraftOps.personalizedPageRank(edges, "s", "d", Seq(1L, 99L), 0.15, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.contains(99L) && r(99L) > 0)
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("log-space variant matches the linear core to 1e-12 (dangling graph)") {
    val edges = (Seq((1L, 2L), (2L, 3L), (1L, 4L)) ++
      (10L until 40L).map(i => (3L, i))).toDF("s", "d")
    val linear = GraftOps.personalizedPageRank(edges, "s", "d", Seq(1L), 0.15, iters = 4)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val logged = GraftOps.personalizedPageRankLog(edges, "s", "d", Seq(1L), 0.15, iters = 4)
      .collect().map(x => x.getLong(0) -> math.exp(x.getDouble(1))).toMap
    assert(linear.keySet == logged.keySet)
    linear.foreach { case (v, r) =>
      assert(math.abs(logged(v) - r) < 1e-12, s"node $v: log-space ${logged(v)} vs $r")
    }
    assert(math.abs(logged.values.sum - 1.0) < 1e-9)
  }

  test("mirrored-graph special case agrees with the flagship pagerank query") {
    // on the bipartite mirror there are no dangling nodes, so the
    // generalized core must reproduce Graph.pagerank exactly
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_suppkey"), col("l_partkey")).distinct()
    val fwd = li.select(col("l_suppkey").as("s"),
      (col("l_partkey") + graft.operators.Graph.PartOffset).as("d"))
    val edges = fwd.unionAll(fwd.select(col("d").as("s"), col("s").as("d")))
    val general = GraftOps.personalizedPageRank(edges, "s", "d",
        graft.operators.Graph.Sources, graft.operators.Graph.Alpha,
        graft.operators.Graph.Iters)
      .select(col("v"), round(col("r"), 8).as("rank"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    SparkEntry.releaseMemos(spark)
    val flagship = graft.operators.Graph.pagerank(spark, sf)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    SparkEntry.releaseMemos(spark)
    assert(general == flagship)
  }
}
