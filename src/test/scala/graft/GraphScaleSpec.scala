package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** The graph iterations must not DEPEND on broadcast joins: at 100×
  * scale the |V|-sized rank table and the |E|-sized oriented edge set
  * exceed any broadcast threshold, so the same plans have to produce
  * identical results as pure shuffle joins. These tests disable
  * broadcasting entirely (autoBroadcastJoinThreshold = -1 also disables
  * AQE's runtime broadcast fallback) and compare against the
  * default-conf results. */
class GraphScaleSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def withBroadcastDisabled[A](body: => A): A = {
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("pagerank iteration is broadcast-independent (shuffle-join path identical)") {
    SparkEntry.releaseMemos(spark)
    val default = rows(Graph.pagerank(spark, sf))
    SparkEntry.releaseMemos(spark)
    val noBcast = withBroadcastDisabled { rows(Graph.pagerank(spark, sf)) }
    SparkEntry.releaseMemos(spark)
    assert(default.nonEmpty && default == noBcast)
  }

  test("triangle count is broadcast-independent") {
    val default = rows(Graph.graphTriangles(spark, sf))
    val noBcast = withBroadcastDisabled { rows(Graph.graphTriangles(spark, sf)) }
    assert(default == noBcast)
  }

  test("connected components are broadcast-independent") {
    val default = rows(Graph.graphComponents(spark, sf))
    val noBcast = withBroadcastDisabled { rows(Graph.graphComponents(spark, sf)) }
    assert(default.nonEmpty && default == noBcast)
  }

  test("pagerank plan carries no forced broadcast hint") {
    // Graph.pagerank returns a memoized checkpoint, so its own plan hides
    // the iteration: listen to every plan executed while it builds from
    // a released state instead. A ResolvedHint in an analyzed plan = a
    // hard-coded broadcast() call that would bypass the size threshold
    // at any scale; with broadcasting disabled, any broadcast exchange
    // in an executed plan can only come from such a hint.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add((qe.analyzed.toString, qe.executedPlan.toString))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    SparkEntry.releaseMemos(spark)
    spark.listenerManager.register(ql)
    try withBroadcastDisabled {
      Graph.pagerank(spark, sf).collect()
      // listener events are delivered in order: once this marker
      // query's event arrives, every pagerank plan's has too
      spark.range(1).toDF("graph_scale_spec_marker").collect()
      def marked = plans.toArray.exists(_.toString.contains("graph_scale_spec_marker"))
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!marked && System.nanoTime() < deadline) Thread.sleep(20)
      assert(marked, "marker query's plan never delivered")
    } finally spark.listenerManager.unregister(ql)
    SparkEntry.releaseMemos(spark)
    assert(plans.size > 2, s"${plans.size} executed plans seen")
    plans.forEach { case (analyzed, executed) =>
      assert(!analyzed.contains("UnresolvedHint") && !analyzed.contains("ResolvedHint"),
        s"forced hint in a pagerank plan:\n${analyzed.take(1500)}")
      assert(!executed.contains("BroadcastExchange"),
        s"broadcast in a pagerank plan with broadcasting disabled:\n${executed.take(1500)}")
    }
  }

  test("DOULION-sampled triangle estimate lands within 10% of exact (sf0.01)") {
    // the md5 edge sample is deterministic, so the measured error is
    // stable across runs (0.5% at p = 1/4 on this graph)
    val dir = "/root/testdata/sf0.01"
    val exact = graft.operators.Graph.graphTriangles(spark, dir)
      .collect().head.getLong(0)
    val row = graft.operators.Graph.graphTrianglesApprox(spark, dir).collect().head
    val est = row.getLong(0)
    assert(exact > 0)
    assert(math.abs(est - exact).toDouble / exact < 0.1, s"est $est vs exact $exact")
    // and the sample really is ~p of the edges
    val sampledEdges = row.getLong(2)
    assert(sampledEdges > 0 && sampledEdges < 40000)
  }

  test("triangleCount order key survives ids and degrees beyond 2^33") {
    // the old packed-long key (degree * 2^33 + id) overflowed here; the
    // struct comparison has no range limit
    val big = 1L << 40
    val tri = Seq((big, big + 1), (big, big + 2), (big + 1, big + 2),
      (big + 2, big + 3)).toDF("a", "b")
    val r = graft.api.GraftOps.triangleCount(tri, "a", "b").collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 4L)
  }

  test("triangle sampling rejects sub-resolution p and rounds the cutoff") {
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      graft.api.GraftOps.triangleCountApprox(tri, "a", "b", p = 0.00005)
    }
    // 0.0003 * 10000 = 2.9999999999999996 — must round to 3, not floor to 2
    graft.api.GraftOps.triangleCountApprox(tri, "a", "b", p = 0.0003).collect()
  }

  test("versioned upsert tolerates map-typed columns (excluded from tie-break)") {
    val base = Seq((1L, 10L, Map("a" -> "x"))).toDF("k", "ver", "m")
    val updates = Seq((1L, 20L, Map("b" -> "y")), (2L, 5L, Map.empty[String, String]))
      .toDF("k", "ver", "m")
    val got = graft.api.GraftOps.upsertByKey(base, updates, "k", Some("ver"))
    assert(got.count() == 2)
  }

  test("versioned upsert resolves duplicate (key, version) rows deterministically") {
    val base = Seq((1L, 10L, "old")).toDF("k", "ver", "val")
    val updates = Seq((1L, 20L, "x"), (1L, 20L, "y"), (2L, 5L, "z"))
      .toDF("k", "ver", "val")
    def run() = graft.api.GraftOps.upsertByKey(base, updates, "k", Some("ver"))
      .collect().map(_.toString).sorted.toSeq
    val first = run()
    assert(first == run()) // hash tie-break: stable across runs
    assert(first.length == 2)
  }
}
