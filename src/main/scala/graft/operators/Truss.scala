package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.api.Memo.MemoOps
import graft.sources.Tables
import graft.api.GraftOps.TruncateOps

/** k-truss decomposition (Cohen 2008) — the triangle-reinforced
  * community kernel: the k-truss is the maximal subgraph where every
  * edge closes ≥ k−2 triangles INSIDE the subgraph, computed by
  * support peeling (count per-edge triangles, drop light edges,
  * repeat — removal cascades because a dropped edge weakens its
  * triangles' other two sides).
  *
  * Runs on the semantic k-NN graph (sim_knn_graph symmetrized): the
  * truss edges are the triangle-locked cores of embedding clusters —
  * exactly the "mutually-confirming near-dup groups" a curation
  * pipeline trusts over one-shot pairs.
  *
  * Scale: each round is one wedge join + one aggregate on the CURRENT
  * (shrinking) edge set — |E|·d̄ wedge work, map-side combined; the
  * peel is FixedRounds deterministic sweeps (the graph_components
  * unrolled-iteration discipline), so the oracle replays identical
  * rounds; TrussSpec asserts the fixpoint is actually reached at the
  * test SFs, so the bound is slack, not semantics. The k-NN base
  * bounds degree by 2·KnnK, so wedge fan-out per edge is constant —
  * no hub mitigation needed on ANY corpus (the cap lives upstream in
  * the k-NN construction). */
object Truss {
  /** k = 4 (every surviving edge in ≥ 2 surviving triangles) over a
    * DENSER K=TrussKnnK neighbor graph than sim_knn_graph's K=3: at k = 3 the
    * peel is provably cascade-free (every triangle self-supports), so
    * the denser base is what makes truss pruning actually iterate. */
  val TrussK = 4
  val TrussKnnK = 10
  val FixedRounds = 4

  /** The K=TrussKnnK LSH k-NN edge set — sim_knn_graph's construction with
    * the truss' own K (the shared NumTables×BitsPerTable candidate
    * generation; exact cosine only within buckets). */
  private def knnEdges(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val e0 = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .memoized()
    val pairs = graft.api.GraftOps.bucketKnnPairs(Similarity.corpusBuckets(e0), "vec_id",
      prefix = Some("__p"))
    val scored = pairs
      .join(e0.select(col("vec_id").as("a"), col("v").as("qv")), Seq("a"))
      .join(e0.select(col("vec_id").as("b"), col("v")), Seq("b"))
      .select(col("a").as("qid"), expr("cosine_sim(qv, v)").as("cos"), col("b"))
    graft.api.GraftOps.topKPerGroupAgg(scored, part = "qid",
        ordCol = "cos", payloadCol = "b", k = TrussKnnK)
      .select(col("qid"), col("b").as("neighbor"))
  }

  def graphKtruss(spark: SparkSession, dir: String): DataFrame = {
    var edges = knnEdges(spark, dir)
      .select(least(col("qid"), col("neighbor")).as("a"),
        greatest(col("qid"), col("neighbor")).as("b"))
      .distinct()
      .truncated() // the base graph feeds every peeling round
    var support: DataFrame = null
    for (_ <- 1 to FixedRounds) {
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
      // wedge (a—b, a—c) closes iff (min(b,c), max(b,c)) is an edge
      val wedges = edges.as("e").join(sym.as("s"), col("s.u") === col("e.a"))
        .filter(col("s.v") =!= col("e.b"))
        .select(col("e.a").as("a"), col("e.b").as("b"),
          least(col("e.b"), col("s.v")).as("ca"),
          greatest(col("e.b"), col("s.v")).as("cb"))
      support = wedges
        .join(edges.select(col("a").as("ca"), col("b").as("cb")), Seq("ca", "cb"), "left_semi")
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
      edges = edges
        .join(support.filter(col("support") >= TrussK - 2), Seq("a", "b"), "left_semi")
        .truncated()
    }
    edges.join(support, Seq("a", "b"))
      .select(col("a"), col("b"), col("support"))
      .orderBy("a", "b")
  }

  /** DuckDB replay: the sim_knn_graph oracle chain (inlined LSH
    * hyperplanes → candidates → exact-cosine top-K), then FixedRounds
    * unrolled peel rounds. */
  private lazy val oracle: String = {
    import graft.functions.LshBucket
    val planeRows = (0 until Similarity.NumTables).flatMap { t =>
      val ps = LshBucket.planes(Similarity.BitsPerTable, 64, t)
      (0 until Similarity.BitsPerTable).map { j =>
        s"($t, $j, [${ps(j).map(w => if (w > 0) "1.0" else "-1.0").mkString(",")}]::DOUBLE[])"
      }
    }.mkString(",\n            ")
    val cos = """list_dot_product(eq.v, ec.v) /
           (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v)))"""
    val rounds = (1 to FixedRounds).map { r =>
      val prev = s"t${r - 1}"
      s"""sym$r AS (SELECT a AS u, b AS v FROM $prev UNION ALL SELECT b, a FROM $prev),
          sup$r AS MATERIALIZED (
            SELECT e.a, e.b, count(*) AS support
            FROM $prev e JOIN sym$r s ON s.u = e.a
            JOIN $prev e2 ON e2.a = least(e.b, s.v) AND e2.b = greatest(e.b, s.v)
            WHERE s.v <> e.b
            GROUP BY 1, 2),
          t$r AS MATERIALIZED (
            SELECT e.a, e.b FROM $prev e
            JOIN sup$r s ON s.a = e.a AND s.b = e.b
            WHERE s.support >= ${TrussK - 2})"""
    }.mkString(",\n          ")
    s"""WITH planes(t, j, w) AS (VALUES
            $planeRows),
          e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          proj AS (SELECT e.vec_id, p.t,
                          CASE WHEN list_dot_product(e.v, p.w) > 0 THEN 1 << p.j ELSE 0 END AS bit
                   FROM e, planes p),
          buck AS MATERIALIZED (SELECT vec_id, t, sum(bit) AS bv FROM proj GROUP BY 1, 2),
          cand AS (SELECT DISTINCT ba.vec_id AS qid, bb.vec_id
                   FROM buck ba JOIN buck bb ON ba.t = bb.t AND ba.bv = bb.bv
                   WHERE bb.vec_id <> ba.vec_id),
          scored AS (SELECT c.qid, c.vec_id, $cos AS cos
                     FROM cand c JOIN e eq ON c.qid = eq.vec_id JOIN e ec ON c.vec_id = ec.vec_id),
          rk AS (SELECT qid, vec_id, cos,
                       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
                FROM scored),
          t0 AS MATERIALIZED (
            SELECT DISTINCT least(qid, vec_id) AS a, greatest(qid, vec_id) AS b
            FROM rk WHERE rnk <= $TrussKnnK),
          $rounds
        SELECT t.a, t.b, s.support
        FROM t$FixedRounds t JOIN sup$FixedRounds s ON s.a = t.a AND s.b = t.b
        ORDER BY t.a, t.b"""
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("graph_ktruss", graphKtruss, Some(oracle)),
  )
}
