package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Bucketed-table join layout: the shuffle is paid once at write time;
  * subsequent equi-joins on the bucket key plan with NO Exchange. */
class BucketingSpec extends SparkSpec {

  test("q32_bucketed_join's join subtree plans with zero Exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val joined = graft.operators.ScaleOps.bucketedJoin(spark, sf)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // and the registered query agrees with the plain-parquet join
      val viaBuckets = graft.operators.ScaleOps.q32BucketedJoin(spark, sf)
        .collect().map(_.toString).toSeq
      val plain = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy("priority").collect().map(_.toString).toSeq
      assert(viaBuckets == plain)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("persisted graph edge layout: iteration join has no Exchange on the edge side") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    // pagerank_weighted's input: arbitrary, unpartitioned edges
    def weighted = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey")).distinct()
      .groupBy(col("l_suppkey").as("src"),
        (col("l_partkey") + graft.operators.Graph.PartOffset).as("dst"))
      .agg(count(lit(1)).as("w"))
    // one PageRank-shaped iteration: |V|-sized state joined against
    // the layout on src — only the state side may shuffle
    def iterate(edges: org.apache.spark.sql.DataFrame) = {
      val ranks = edges.select(col("src").as("v")).distinct()
        .withColumn("r", lit(1.0))
      edges.join(ranks, edges("src") === ranks("v"))
        .groupBy(col("dst")).agg(sum(col("r") / col("d")).as("c"))
    }
    try {
      for (reliable <- Seq(false, true)) {
        val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-keyed").toString
        if (reliable) {
          spark.sparkContext.setCheckpointDir(ckpt)
          spark.conf.set(graft.api.GraftOps.ReliableCheckpointKey, "true")
        }
        try {
          SparkEntry.releaseMemos(spark)
          val inputs = Seq(
            "persistedSymEdges" -> graft.operators.Graph.persistedSymEdges(spark, sf),
            "keyedEdges(weighted)" -> graft.api.GraftOps.keyedEdges(weighted).df)
          inputs.foreach { case (name, edges) =>
            // an edge-side exchange would repartition on src (the join
            // key of the keyed checkpoint); the state-side shuffle keys
            // on v and the groupBy's on dst — both legitimate
            val iter = iterate(edges)
            val plan = iter.queryExecution.executedPlan.toString
            assert(!plan.contains("Exchange hashpartitioning(src"),
              s"$name (reliable=$reliable): edge side of the iteration join still shuffles:\n" +
                plan.take(2000))
            assert(iter.count() > 0)
          }
        } finally {
          spark.conf.unset(graft.api.GraftOps.ReliableCheckpointKey)
          SparkEntry.releaseMemos(spark)
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
        }
      }
      // cross-check vs the unbucketed equivalent: the same join over raw
      // symmetric edges MUST plan the |E|-side src shuffle the layout
      // eliminates (guards against the assertion going vacuous if plan
      // rendering changes)
      val rawPairs = graft.sources.Tables.lineitem(spark, sf)
        .select(col("l_suppkey"), col("l_partkey")).distinct()
      val fwd = rawPairs.select(col("l_suppkey").as("src"),
        (col("l_partkey") + graft.operators.Graph.PartOffset).as("dst"))
      val rawEdges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .withColumn("d", lit(1L))
      val rawPlan = iterate(rawEdges).queryExecution.executedPlan.toString
      assert(rawPlan.contains("Exchange hashpartitioning(src"),
        s"expected the unbucketed plan to shuffle the edge side:\n${rawPlan.take(2000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("persisted minhash layout: band self-join shuffle-free, family parity") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val (sigs, cand) = graft.operators.Dedup.persistedMinhashLayout(spark, sf)
      // the candidate self-join keys exactly on the bucket keys (bj, bv):
      // with both sides reading the bucketed scan, neither may shuffle
      val self = cand.select(col("doc_id").as("a"), col("bj"), col("bv"))
        .join(cand.select(col("doc_id").as("b"), col("bj"), col("bv")),
          Seq("bj", "bv"))
        .filter(col("a") < col("b"))
      val plan = self.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(bj"),
        s"band self-join still shuffles the candidate sides:\n${plan.take(2000)}")
      // the layout path must return bit-identical pairs to the direct path
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).toSeq
      val viaLayout = rows(graft.operators.Dedup.dedupMinhash(spark, sf))
      val direct = rows(graft.api.GraftOps
        .minhashCandidates(graft.sources.Tables.documents(spark, sf), "doc_id", "text")
        .orderBy("a", "b"))
      assert(viaLayout == direct)
      val viaSalted = rows(graft.operators.Dedup.dedupMinhashSalted(spark, sf))
      assert(viaSalted == direct)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("incremental minhash ≡ full pairs restricted to the delta") {
    val delta = (id: Long) =>
      java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(8), 16) %
        graft.operators.Dedup.DeltaMod == 0
    val full = graft.operators.Dedup.dedupMinhash(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = full.filter { case (a, b, _) => delta(a) || delta(b) }
    val inc = graft.operators.Dedup.dedupMinhashIncremental(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(inc.toSeq == expected.toSeq)
    assert(expected.nonEmpty, "delta touched no pairs — vacuous at this SF")
  }

  test("bucketed lineitem ⋈ orders plans without a shuffle exchange") {
    // (managed tables land in ./spark-warehouse — gitignored)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      Tables.writeBucketed(Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"),
        "li_b", "l_orderkey", 8)
      Tables.writeBucketed(Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"),
        "o_b", "o_orderkey", 8)
      val joined = spark.table("li_b")
        .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // and it computes the same result as the plain join
      val plain = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      assert(joined.count() == plain.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }
}
