package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.api.{GraftOps, Memo}
import graft.api.Memo.MemoOps
import graft.sources.Tables
import graft.api.GraftOps.TruncateOps

/** Multi-source personalized PageRank.
  *
  * Reference semantics: a4/RunPersonalizedPageRankBasic.java:284-345 —
  * α = 0.15 random-jump mass returned ONLY to the source nodes (split
  * evenly), iterate a fixed number of rounds, report ranks
  * (a4/FindMaxPageRankNodes.java). The reference runs per-iteration
  * MapReduce jobs with log-space mass; we keep linear-space doubles
  * (fine at these magnitudes) and express one iteration as a single
  * aggregation over the src-partitioned edge checkpoint.
  *
  * Graph: the bipartite supplier↔part network from lineitem (both
  * directions, so no dangling nodes and mass is conserved exactly:
  * Σr = 1 every round).
  *
  * Scale: edges are hash-partitioned by src ONCE and checkpointed
  * ([[persistedSymEdges]]); each iteration then shuffles only the
  * per-edge messages on dst, never the edge table itself. AQE handles
  * skewed high-degree nodes. 5 iterations = 5 message shuffles.
  */
object Graph {
  val Alpha = 0.15
  val Iters = 5
  val PartOffset = 1000000L
  val Sources: Seq[Long] = Seq(0L, 1L, 2L)

  /** Distinct (supplier, part) pairs — the base of the bipartite graph
    * queries, shared by five of them (the first consumer pays the
    * build). Checkpointed so each consumer starts from materialized
    * pairs instead of re-running the scan + distinct. */
  private def liPairs(spark: SparkSession, dir: String): DataFrame =
    Memo.keyed(spark, dir, "graph.liPairs")(
      Tables.lineitem(spark, dir)
        .select(col("l_suppkey"), col("l_partkey")).distinct()
        .memoized())

  /** Src-keyed symmetric edge relation with fused degree (src, dst, d)
    * — the reference's PartitionGraph.java:37-118 (RangePartitioner +
    * persisted layout that downstream PageRank reads shuffle-free), as
    * one [[GraftOps.keyedEdges]] checkpoint: every iterative consumer
    * (pagerank, CC, BFS) joins its |V|-sized state against it with zero
    * Exchange on the |E| edge side. Built once per (session, dir), freed
    * by [[graft.SparkEntry.releaseMemos]]. */
  def persistedSymEdges(spark: SparkSession, dir: String): DataFrame = symEdges(spark, dir).df

  private def symEdges(spark: SparkSession, dir: String): GraftOps.KeyedEdges =
    Memo.keyed(spark, dir, "graph.symEdges") {
      val fwd = liPairs(spark, dir).select(col("l_suppkey").as("src"),
        (col("l_partkey") + PartOffset).as("dst"))
      GraftOps.keyedEdges(fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst"))),
        Sources)
    }

  /** Distinct co-purchase part pairs (a < b, same order) — shared by
    * the exact and sampled triangle counts. */
  private def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    Memo.keyed(spark, dir, "graph.coPurchase") {
      val op = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      op.as("x").join(op.as("y"), col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b")).distinct()
        .memoized()
    }

  /** The symmetric graph is closed, so [[GraftOps.pageRank]] skips the
    * dangling term and the node table. */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    Memo.keyed(spark, dir, "graph.pagerank")(
      GraftOps.pageRank(symEdges(spark, dir), col("r") / col("d"), Sources, Alpha, Iters)
        .select(col("v"), round(col("r"), 8).as("rank")).orderBy("v").memoized())

  /** Unrolled-iteration DuckDB oracle generated from the same constants. */
  private val oracle: String = {
    val srcList = Sources.mkString(", ")
    val jump = s"CASE WHEN n.v IN ($srcList) THEN $Alpha * (1.0 / ${Sources.length}) ELSE 0 END"
    // MATERIALIZED: every rK is referenced twice downstream; DuckDB's
    // default CTE inlining would re-evaluate each round 2^Iters times.
    val iterCtes = (1 to Iters).map { k =>
      s"""c$k AS MATERIALIZED (SELECT e.dst AS v, sum(r.r / d.d) AS c
                  FROM r${k - 1} r JOIN edges e ON r.v = e.src JOIN deg d ON r.v = d.src
                  GROUP BY 1),
          r$k AS MATERIALIZED (SELECT n.v, ${1 - Alpha} * coalesce(c.c, 0) + $jump AS r
                  FROM nodes n LEFT JOIN c$k c ON n.v = c.v)"""
    }.mkString(",\n          ")
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS MATERIALIZED (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
          deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY 1),
          nodes AS MATERIALIZED (SELECT DISTINCT v FROM (SELECT src AS v FROM edges
                    UNION ALL SELECT * FROM (VALUES (${Sources.mkString("), (")})) s(v))),
          r0 AS MATERIALIZED (SELECT n.v, CASE WHEN n.v IN ($srcList) THEN 1.0 / ${Sources.length} ELSE 0 END AS r
                 FROM nodes n),
          $iterCtes
        SELECT v, round(r, 8) AS rank FROM r$Iters ORDER BY v"""
  }

  /** Personalized PageRank on the DIRECTED supplier→part graph: every
    * part is a dangling node (no out-edges), so ~half the total mass is
    * dangling each round — the hard case for the reference's dangling-
    * mass redistribution (a4/RunPersonalizedPageRankBasic.java), which
    * the bipartite mirror above sidesteps. Runs on the same
    * [[GraftOps.pageRank]] core. */
  def pagerankDirected(spark: SparkSession, dir: String): DataFrame = {
    // the DIRECTED supplier→part edges are exactly the src < PartOffset
    // half of the symmetric edge checkpoint (suppliers key below the
    // offset, parts above): the filter keeps the checkpoint's hash
    // partitioning on src, and a supplier's symmetric degree is its
    // directed out-degree
    val half = persistedSymEdges(spark, dir).filter(col("src") < PartOffset)
    GraftOps.pageRank(GraftOps.KeyedEdges(half, closed = false), col("r") / col("d"),
        Sources, Alpha, Iters)
      .select(col("v"), round(col("r"), 8).as("rank")).orderBy("v")
  }

  /** Unrolled directed-graph oracle: per round, the contrib CTE plus a
    * dangling-mass scalar (sum of rank over nodes with no out-edge)
    * folded back through the personalization vector — the exact same
    * float expression order as the Spark side. */
  private val directedOracle: String = {
    val srcList = Sources.mkString(", ")
    val jump = s"CASE WHEN n.v IN ($srcList) THEN 1.0 / ${Sources.length} ELSE 0 END"
    val iterCtes = (1 to Iters).map { k =>
      s"""c$k AS MATERIALIZED (SELECT e.dst AS v, sum(r.r / d.d) AS c
                  FROM r${k - 1} r JOIN edges e ON r.v = e.src JOIN deg d ON r.v = d.src
                  GROUP BY 1),
          m$k AS MATERIALIZED (SELECT coalesce(sum(r.r), 0) AS m
                  FROM r${k - 1} r LEFT JOIN deg d ON r.v = d.src WHERE d.src IS NULL),
          r$k AS MATERIALIZED (SELECT n.v,
                    ${1 - Alpha} * (coalesce(c.c, 0) + m.m * $jump) + $Alpha * $jump AS r
                  FROM nodes n LEFT JOIN c$k c ON n.v = c.v CROSS JOIN m$k m)"""
    }.mkString(",\n          ")
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS MATERIALIZED (SELECT s AS src, p AS dst FROM li),
          deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY 1),
          nodes AS MATERIALIZED (SELECT DISTINCT v FROM (SELECT src AS v FROM edges
                    UNION ALL SELECT dst FROM edges
                    UNION ALL SELECT * FROM (VALUES (${Sources.mkString("), (")})) s(v))),
          r0 AS MATERIALIZED (SELECT n.v, CASE WHEN n.v IN ($srcList) THEN 1.0 / ${Sources.length} ELSE 0 END AS r
                 FROM nodes n),
          $iterCtes
        SELECT v, round(r, 8) AS rank FROM r$Iters ORDER BY v"""
  }

  /** Incremental personalized PageRank (GraftOps.personalizedPageRank
    * From): the directed graph is split into a BASE (orders with
    * l_orderkey % 10 < IncCut — 80% of edges) and a delta; ranks
    * converge on the base with the usual Iters cold rounds, then the
    * delta lands and only IncIters warm rounds run on the FULL graph,
    * starting from the base ranks (new nodes enter at 0; Σr is
    * preserved by the iteration). The at-scale story: a daily edge
    * delta costs 2 rounds instead of a full cold start. PageRank
    * IncrementalSpec measures the warm result against the cold
    * fixpoint. */
  val IncCut = 8
  val IncIters = 2

  /** Persisted base-rank layout for [[pagerankIncremental]] — same
    * discipline as [[persistedLouvainBase]]: the Iters-round cold
    * converge on the base (80%) graph is written ONCE per (session,
    * dir) as a v-bucketed managed table (`graft_pr_base_b*`); the
    * incremental entry reads it and pays only the IncIters warm
    * rounds. Ranks are IEEE754 doubles — the parquet roundtrip is
    * bit-exact, so the existing base+warm replay oracle still
    * verifies. Session-lived ([[graft.api.Memo.layout]]): the layout is
    * load-time, so a release does not rewrite it. */
  def persistedPagerankBase(spark: SparkSession, dir: String): DataFrame = {
    val t = Memo.layout(spark, dir, "graph.pagerankBase") {
      val name = s"graft_pr_base_b${ScaleOps.dirKey(dir)}"
      ScaleOps.dropStale(spark, name)
      val basePairs = Tables.lineitem(spark, dir)
        .filter(col("l_orderkey") % 10 < IncCut)
        .select(col("l_suppkey").as("src"), (col("l_partkey") + PartOffset).as("dst"))
        .distinct()
      Tables.writeBucketed(
        GraftOps.personalizedPageRank(basePairs, "src", "dst",
          Sources, Alpha, Iters),
        name, Seq("v"), ScaleOps.NBuckets)
      name
    }
    spark.table(t)
  }

  def pagerankIncremental(spark: SparkSession, dir: String): DataFrame = {
    val fullPairs = Tables.lineitem(spark, dir)
      .select(col("l_suppkey").as("src"), (col("l_partkey") + PartOffset).as("dst"))
      .distinct()
    val baseRanks = persistedPagerankBase(spark, dir)
    GraftOps
      .personalizedPageRankFrom(fullPairs, "src", "dst", Sources, baseRanks,
        Alpha, IncIters)
      .select(col("v"), round(col("r"), 8).as("rank")).orderBy("v")
  }

  /** Unrolled incremental oracle: Iters rounds on the base edge set
    * (directedOracle's recurrences), then the warm start maps base
    * ranks onto the full node set (new nodes 0) and IncIters rounds run
    * against the full edges/degrees — same float order throughout. */
  private val incrementalOracle: String = {
    val srcList = Sources.mkString(", ")
    val jump = s"CASE WHEN n.v IN ($srcList) THEN 1.0 / ${Sources.length} ELSE 0 END"
    def rounds(n: Int, edges: String, deg: String, nodes: String,
               rPrev: Int => String, tag: String): String =
      (1 to n).map { k =>
        val prev = if (k == 1) rPrev(0) else s"$tag${k - 1}"
        s"""c$tag$k AS MATERIALIZED (SELECT e.dst AS v, sum(r.r / d.d) AS c
                  FROM $prev r JOIN $edges e ON r.v = e.src JOIN $deg d ON r.v = d.src
                  GROUP BY 1),
          m$tag$k AS MATERIALIZED (SELECT coalesce(sum(r.r), 0) AS m
                  FROM $prev r LEFT JOIN $deg d ON r.v = d.src WHERE d.src IS NULL),
          $tag$k AS MATERIALIZED (SELECT n.v,
                    ${1 - Alpha} * (coalesce(c.c, 0) + m.m * $jump) + $Alpha * $jump AS r
                  FROM $nodes n LEFT JOIN c$tag$k c ON n.v = c.v CROSS JOIN m$tag$k m)"""
      }.mkString(",\n          ")
    s"""WITH lib AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p
                FROM lineitem WHERE l_orderkey % 10 < $IncCut),
          lif AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          eb AS MATERIALIZED (SELECT s AS src, p AS dst FROM lib),
          ef AS MATERIALIZED (SELECT s AS src, p AS dst FROM lif),
          db AS MATERIALIZED (SELECT src, count(*) AS d FROM eb GROUP BY 1),
          df AS MATERIALIZED (SELECT src, count(*) AS d FROM ef GROUP BY 1),
          nb AS MATERIALIZED (SELECT DISTINCT v FROM (SELECT src AS v FROM eb
                    UNION ALL SELECT dst FROM eb
                    UNION ALL SELECT * FROM (VALUES (${Sources.mkString("), (")})) s(v))),
          nf AS MATERIALIZED (SELECT DISTINCT v FROM (SELECT src AS v FROM ef
                    UNION ALL SELECT dst FROM ef
                    UNION ALL SELECT * FROM (VALUES (${Sources.mkString("), (")})) s(v))),
          b0 AS MATERIALIZED (SELECT n.v, $jump AS r FROM nb n),
          ${rounds(Iters, "eb", "db", "nb", _ => "b0", "b")},
          w0 AS MATERIALIZED (SELECT n.v, coalesce(b.r, 0) AS r
                 FROM nf n LEFT JOIN b$Iters b ON n.v = b.v),
          ${rounds(IncIters, "ef", "df", "nf", _ => "w0", "w")}
        SELECT v, round(r, 8) AS rank FROM w$IncIters ORDER BY v"""
  }

  /** a4/FindMaxPageRankNodes.java: top-k nodes by rank. Ordering on the
    * ROUNDED rank (ties broken by node id) keeps the cutoff deterministic
    * across engines despite last-ulp float differences. */
  def pagerankTopk(spark: SparkSession, dir: String): DataFrame =
    pagerank(spark, dir)
      .orderBy(col("rank").desc, col("v"))
      .limit(20)

  /** Weighted personalized PageRank (GraftOps.personalizedPageRank
    * Weighted) on the directed supplier→part graph with edge weight =
    * number of DISTINCT orders connecting the pair — rank flows out
    * proportionally to order volume (r·w/Σw), not uniformly. Every
    * part node dangles, exercising the dangling path under weights. */
  def pagerankWeighted(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey")).distinct()
      .groupBy(col("l_suppkey").as("src"),
        (col("l_partkey") + PartOffset).as("dst"))
      .agg(count(lit(1)).as("w"))
    GraftOps
      .personalizedPageRankWeighted(edges, "src", "dst", "w", Sources, Alpha, Iters)
      .select(col("v"), round(col("r"), 8).as("rank")).orderBy("v")
  }

  /** Unrolled weighted-directed oracle: strength instead of degree,
    * Σ r·w/s contributions, same dangling scalar and float order. */
  private val weightedOracle: String = {
    val srcList = Sources.mkString(", ")
    val jump = s"CASE WHEN n.v IN ($srcList) THEN 1.0 / ${Sources.length} ELSE 0 END"
    val iterCtes = (1 to Iters).map { k =>
      s"""c$k AS MATERIALIZED (SELECT e.dst AS v, sum(r.r / s.s * e.w) AS c
                  FROM r${k - 1} r JOIN edges e ON r.v = e.src JOIN str s ON r.v = s.src
                  GROUP BY 1),
          m$k AS MATERIALIZED (SELECT coalesce(sum(r.r), 0) AS m
                  FROM r${k - 1} r LEFT JOIN str s ON r.v = s.src WHERE s.src IS NULL),
          r$k AS MATERIALIZED (SELECT n.v,
                    ${1 - Alpha} * (coalesce(c.c, 0) + m.m * $jump) + $Alpha * $jump AS r
                  FROM nodes n LEFT JOIN c$k c ON n.v = c.v CROSS JOIN m$k m)"""
    }.mkString(",\n          ")
    s"""WITH ow AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_suppkey, l_partkey FROM lineitem),
          edges AS MATERIALIZED (SELECT l_suppkey AS src, l_partkey + $PartOffset AS dst,
                    CAST(count(*) AS DOUBLE) AS w
                  FROM ow GROUP BY 1, 2),
          str AS MATERIALIZED (SELECT src, sum(w) AS s FROM edges GROUP BY 1),
          nodes AS MATERIALIZED (SELECT DISTINCT v FROM (SELECT src AS v FROM edges
                    UNION ALL SELECT dst FROM edges
                    UNION ALL SELECT * FROM (VALUES (${Sources.mkString("), (")})) s(v))),
          r0 AS MATERIALIZED (SELECT n.v, CASE WHEN n.v IN ($srcList) THEN 1.0 / ${Sources.length} ELSE 0 END AS r
                 FROM nodes n),
          $iterCtes
        SELECT v, round(r, 8) AS rank FROM r$Iters ORDER BY v"""
  }

  /** Degree distribution of the supplier↔part graph: how many nodes have
    * each degree. Scan + two groupBys (map-side partial both times);
    * shuffle volume ∝ |V| then ∝ distinct degrees. */
  def graphDegree(spark: SparkSession, dir: String): DataFrame =
    // on the symmetric edge set a node's edge count per dst is its
    // degree. Counting per dst shuffles between the partial and the
    // final aggregation; a distinct over src, the column the checkpoint
    // is partitioned on, would run both phases in one task, each holding
    // a full Tungsten page however few rows it has. Then the tiny
    // distribution groupBy
    persistedSymEdges(spark, dir)
      .groupBy(col("dst")).agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")

  /** Connected components by min-label propagation: comp(v) starts at v,
    * each round takes the min over the neighborhood; after `CcIters`
    * rounds comp(v) = min node id within CcIters hops (= the true
    * component once rounds ≥ diameter — the spec asserts convergence at
    * test scale). A FIXED round count keeps the oracle exact.
    *
    * Scale: each round is one join against the edge checkpoint + one
    * min-groupBy — the same co-partitioned layout as PageRank (shuffle
    * ∝ |V| per round, not |E|). At 100 TB diameters, use
    * `graph_components_logn` below — large-star/small-star contraction,
    * O(log n) rounds regardless of diameter; localCheckpoint every 3
    * rounds truncates the growing lineage either way. */
  val CcIters = 6 // all test SFs converge in 3 rounds (measured); 2× margin
  def graphComponents(spark: SparkSession, dir: String): DataFrame =
    graft.api.GraftOps.connectedComponentsSym(
      persistedSymEdges(spark, dir).select("src", "dst"), CcIters).orderBy("v")

  /** Same components via large-star/small-star contraction
    * (GraftOps.connectedComponentsLogN) — the diameter-independent
    * 100 TB path. Labels are the component minimum, so the SAME oracle
    * as `graph_components` verifies it. */
  def graphComponentsLogN(spark: SparkSession, dir: String): DataFrame = {
    val und = liPairs(spark, dir)
      .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
    graft.api.GraftOps.connectedComponentsLogN(und, "s", "p").orderBy("v")
  }

  /** Cost-based dispatch (GraftOps.connectedComponentsAuto): a capped
    * seed-BFS depth probe routes shallow graphs to min-label
    * propagation and deep ones to star contraction. Labels are the
    * component minimum either way — SAME oracle again. */
  def graphComponentsAuto(spark: SparkSession, dir: String): DataFrame = {
    val und = liPairs(spark, dir)
      .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
    graft.api.GraftOps.connectedComponentsAuto(und, "s", "p").orderBy("v")
  }

  /** Unrolled min-label-propagation CTEs (l1..lK over CTEs `edges` +
    * `l0`), shared by every CC-based oracle. Each lK is referenced twice
    * (by mK+1 and lK+1): DuckDB inlines CTEs by default, which would
    * expand this 2^K times — MATERIALIZED pins each round to one
    * evaluation (Spark-side localCheckpoint is the same idea). */
  /** Unrolled min-label-propagation rounds from `${p}l0` over
    * `${p}edges` — the optional prefix lets one SQL text run TWO CC
    * instances (the incremental oracle: base graph + contracted
    * delta graph) without CTE-name collisions. */
  def ccUnrolledCtes(iters: Int, p: String = ""): String = (1 to iters).map { k =>
    s"""${p}m$k AS MATERIALIZED (SELECT e.dst AS v, min(l.comp) AS nc
                FROM ${p}l${k - 1} l JOIN ${p}edges e ON l.v = e.src GROUP BY 1),
        ${p}l$k AS MATERIALIZED (SELECT l.v, least(l.comp, coalesce(m.nc, l.comp)) AS comp
                FROM ${p}l${k - 1} l LEFT JOIN ${p}m$k m ON l.v = m.v)"""
  }.mkString(",\n          ")

  private val ccOracle: String =
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS MATERIALIZED (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
          l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS comp FROM edges),
          ${ccUnrolledCtes(CcIters)}
        SELECT v, comp FROM l$CcIters ORDER BY v"""

  /** Incremental CC (GraftOps.connectedComponentsIncremental): base
    * components from the 80% graph (l_orderkey % 10 < IncCut), the
    * remaining pairs land as a delta, CC re-runs ONLY on the
    * label-contracted delta graph. CcIncrementalSpec proves the labels
    * equal a cold full-graph CC exactly. */
  def graphComponentsIncremental(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey"))
    def pairs(f: DataFrame => DataFrame) = f(li)
      .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
      .distinct()
    val base = pairs(_.filter(col("l_orderkey") % 10 < IncCut))
    val delta = pairs(_.filter(col("l_orderkey") % 10 >= IncCut))
    val baseLabels = graft.api.GraftOps.connectedComponents(base, "s", "p", CcIters)
    graft.api.GraftOps
      .connectedComponentsIncremental(baseLabels, delta, "s", "p")
      .orderBy("v")
  }

  /** Two CC instances in one SQL text via the prefixed generator: the
    * base graph ("b"), then the label-contracted delta graph ("c"),
    * composed exactly as the Spark core does. */
  private val ccIncrementalOracle: String =
    s"""WITH lib AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p
                FROM lineitem WHERE l_orderkey % 10 < $IncCut),
          lid AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p
                FROM lineitem WHERE l_orderkey % 10 >= $IncCut),
          bedges AS MATERIALIZED (SELECT s AS src, p AS dst FROM lib UNION ALL SELECT p, s FROM lib),
          bl0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS comp FROM bedges),
          ${ccUnrolledCtes(CcIters, "b")},
          md AS MATERIALIZED (SELECT coalesce(la.comp, d.s) AS ca, coalesce(lb.comp, d.p) AS cb
                FROM lid d
                LEFT JOIN bl$CcIters la ON d.s = la.v
                LEFT JOIN bl$CcIters lb ON d.p = lb.v
                WHERE coalesce(la.comp, d.s) <> coalesce(lb.comp, d.p)),
          cedges AS MATERIALIZED (SELECT ca AS src, cb AS dst FROM md UNION ALL SELECT cb, ca FROM md),
          cl0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS comp FROM cedges),
          ${ccUnrolledCtes(CcIters, "c")},
          allv AS MATERIALIZED (SELECT v, comp FROM bl$CcIters
                UNION ALL
                SELECT d.v, d.v AS comp FROM (
                  SELECT DISTINCT v FROM (SELECT s AS v FROM lid UNION ALL SELECT p FROM lid)) d
                WHERE NOT EXISTS (SELECT 1 FROM bl$CcIters b WHERE b.v = d.v))
        SELECT a.v, coalesce(c.comp, a.comp) AS comp
        FROM allv a LEFT JOIN cl$CcIters c ON a.comp = c.v
        ORDER BY a.v"""

  /** Triangle count on the co-purchase graph (parts co-occurring in an
    * order), via degree-ordered edge orientation: each undirected edge
    * points to its higher-(degree, id) endpoint, a triangle is counted
    * exactly once as two out-edges of its lowest vertex plus the closing
    * edge. Degree ordering bounds per-vertex out-degree by ~√|E| (hub
    * skew can't explode the wedge count); the count is orientation-
    * invariant, so the oracle keeps the simple id-ordered SQL.
    *
    * The wedge build and the closing-edge semi-join carry NO broadcast
    * hints: AQE broadcasts the oriented edge set at runtime while it
    * fits (the intermediate wedges then flow through map-side hash
    * joins + partial count without being shuffled), and beyond
    * broadcast size the same plan runs as shuffle joins partitioned on
    * src/(u,w) where only |E|-sized tables move — never the wedges. */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame =
    graft.api.GraftOps.triangleCount(coPurchaseEdges(spark, dir), "a", "b")

  /** Per-node local clustering coefficient over the co-purchase graph
    * (GraftOps.clusteringCoeff — the per-corner readout of the same
    * degree-ordered triangle enumeration graph_triangles runs). */
  def graphClusteringCoeff(spark: SparkSession, dir: String): DataFrame =
    graft.api.GraftOps.clusteringCoeff(coPurchaseEdges(spark, dir), "a", "b")
      .orderBy("v")

  private lazy val clusteringOracle: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          edges AS MATERIALIZED (SELECT DISTINCT x.pk AS a, y.pk AS b
                    FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
          tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                  FROM edges e1 JOIN edges e2 ON e1.b = e2.a
                  WHERE EXISTS (SELECT 1 FROM edges e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
          pern AS (SELECT v, count(*) AS n_tri FROM (
                     SELECT unnest([x, y, z]) AS v FROM tri) GROUP BY 1),
          deg AS (SELECT v, count(*) AS degree FROM (
                    SELECT a AS v FROM edges UNION ALL SELECT b FROM edges) GROUP BY 1)
        SELECT d.v, d.degree, coalesce(t.n_tri, 0) AS n_triangles,
               CASE WHEN d.degree >= 2
                    THEN round(2.0 * coalesce(t.n_tri, 0)::DOUBLE /
                               (d.degree::DOUBLE * (d.degree - 1)::DOUBLE), 6)
                    ELSE 0.0 END AS coeff
        FROM deg d LEFT JOIN pern t ON d.v = t.v ORDER BY d.v"""

  /** Multi-source BFS hop distance from the PageRank source suppliers
    * over the supplier↔part graph (GraftOps.bfsHops — fixed-round
    * relaxation, same co-partitioned per-round layout as CC). BfsRounds
    * covers the graph's eccentricity at every test SF with margin;
    * GraphSpec asserts the fixpoint. */
  val BfsRounds = 8
  def graphBfs(spark: SparkSession, dir: String): DataFrame =
    graft.api.GraftOps.bfsHopsSym(
      persistedSymEdges(spark, dir).select("src", "dst"), Sources, BfsRounds)
      .orderBy("v")

  /** Neighborhood function / reachability-growth curve over the
    * supplier↔part graph (GraftOps.anfSketch — HyperANF's curve with
    * deterministic KMV sketches, k = AnfK): one row per hop 0..BfsRounds
    * with the estimated Σ_v |B(v,h)|. The effective-diameter readout at
    * scale: the first hop where the curve flattens. */
  val AnfK = 8
  // curve memoized per (session, dir): graph_anf and the effective-
  // diameter readout share one sketch iteration (a release clears it
  // so a timed pass pays the real cost exactly once)
  private def anfCurve(spark: SparkSession, dir: String): DataFrame =
    Memo.keyed(spark, dir, "graph.anf") {
      val und = liPairs(spark, dir)
        .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
      graft.api.GraftOps.anfSketch(und, "s", "p", AnfK, BfsRounds).memoized()
    }
  def graphAnf(spark: SparkSession, dir: String): DataFrame =
    anfCurve(spark, dir).orderBy("hop")

  /** Effective diameter at α = 0.9 off the memoized ANF curve — the
    * readout HyperANF exists for: the smallest hop h where N(h) ≥
    * α·N(max hop), i.e. where reachability growth flattens. Integer
    * hop (no interpolation) keeps the comparison float-exact on both
    * engines: nf_est is 4-dp-rounded on each side before the α
    * multiply, so the ≥ test sees identical doubles. */
  val EffDiamAlpha = 0.9
  def graphAnfDiameter(spark: SparkSession, dir: String): DataFrame = {
    val curve = anfCurve(spark, dir)
    val fin = curve.filter(col("hop") === BfsRounds)
      .select(col("nf_est").as("nf_total"))
    curve.crossJoin(broadcast(fin))
      .filter(col("nf_est") >= lit(EffDiamAlpha) * col("nf_total"))
      .agg(min(col("hop")).as("eff_diameter"), max(col("nf_total")).as("nf_total"))
  }

  /** Oracle replays the EXACT sketch iteration (k-min truncation
    * commutes with union, so per-round row_number ≤ k over the merged
    * neighbor sketches IS the reachable-set k-min) and the identical
    * micro-scaled estimator arithmetic. */
  private lazy val anfOracle: String = {
    val k = AnfK
    val iterCtes = (1 to BfsRounds).map { t =>
      s"""u$t AS (SELECT e.dst AS v, s.x FROM s${t - 1} s JOIN edges e ON s.v = e.src
                UNION SELECT v, x FROM s${t - 1}),
          s$t AS MATERIALIZED (SELECT v, x FROM (
                SELECT v, x, row_number() OVER (PARTITION BY v ORDER BY x) AS rk
                FROM u$t) WHERE rk <= $k)"""
    }.mkString(",\n          ")
    val nfCtes = (0 to BfsRounds).map { t =>
      s"""n$t AS (SELECT $t AS hop, round(sum(em) / 1000000.0, 4) AS nf_est FROM (
                SELECT CASE WHEN count(*) < $k THEN count(*) * 1000000
                       ELSE CAST(round(${k - 1} * 4294967296 * 1000000.0 / max(x)) AS BIGINT)
                       END AS em
                FROM s$t GROUP BY v))"""
    }.mkString(",\n          ")
    val unionAll = (0 to BfsRounds).map(t => s"SELECT * FROM n$t").mkString(" UNION ALL ")
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS MATERIALIZED (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
          s0 AS MATERIALIZED (SELECT v, ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 8))::BIGINT + 1 AS x
                FROM (SELECT DISTINCT src AS v FROM edges)),
          $iterCtes,
          $nfCtes
        SELECT * FROM ($unionAll) ORDER BY hop"""
  }

  /** Multi-source WEIGHTED shortest paths (GraftOps.ssspWeighted,
    * Bellman-Ford relaxation) over the supplier↔part graph with integer
    * edge cost = 11 − min(10, distinct orders for the pair): heavily-
    * traded pairs are cheap hops, rare pairs expensive — "how close is
    * every node to the source suppliers through actively-traded links".
    * Integer costs keep distances float-free on both engines. More
    * rounds than BFS (SsspRounds = 12): a weighted optimum may chain
    * many cheap edges where BFS takes one hop; Graph4Spec asserts the
    * fixpoint at test scale. */
  val SsspRounds = 12
  val SsspMaxCost = 10L
  def weightedPairCosts(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey")).distinct()
      .groupBy(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
      .agg((lit(SsspMaxCost + 1) - least(lit(SsspMaxCost), count(lit(1)))).as("w"))
    pairs.select(col("s").as("src"), col("p").as("dst"), col("w"))
      .unionAll(pairs.select(col("p").as("src"), col("s").as("dst"), col("w")))
  }
  def graphSssp(spark: SparkSession, dir: String): DataFrame =
    graft.api.GraftOps.ssspWeighted(weightedPairCosts(spark, dir),
        "src", "dst", "w", Sources, SsspRounds)
      .orderBy("v")

  private lazy val ssspOracle: String = {
    val seed = Sources.map(s => s"($s::BIGINT, 0::BIGINT)").mkString(", ")
    val iterCtes = (1 to SsspRounds).map { t =>
      s"""r$t AS MATERIALIZED (SELECT e.dst AS v, min(d.dist + e.w) AS nd
                FROM d${t - 1} d JOIN we e ON d.v = e.src GROUP BY 1),
          d$t AS MATERIALIZED (SELECT coalesce(d.v, r.v) AS v,
                least(coalesce(d.dist, r.nd), coalesce(r.nd, d.dist)) AS dist
                FROM d${t - 1} d FULL JOIN r$t r ON d.v = r.v)"""
    }.mkString(",\n          ")
    s"""WITH ow AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_suppkey, l_partkey FROM lineitem),
          pw AS MATERIALIZED (SELECT l_suppkey AS s, l_partkey + $PartOffset AS p,
                ${SsspMaxCost + 1} - least($SsspMaxCost, count(*)) AS w
                FROM ow GROUP BY 1, 2),
          we AS MATERIALIZED (SELECT s AS src, p AS dst, w FROM pw
                UNION ALL SELECT p, s, w FROM pw),
          d0 AS MATERIALIZED (SELECT * FROM (VALUES $seed) t(v, dist)),
          $iterCtes
        SELECT v, dist FROM d$SsspRounds ORDER BY v"""
  }

  /** Minimum spanning forest by distributed Borůvka over the weighted
    * supplier↔part graph (same integer costs as `graph_sssp`). The
    * edge total order (w, a, b) makes weights effectively distinct, so
    * the MSF is UNIQUE — every round, each current component picks its
    * minimum outgoing edge under that order, and by the cut property
    * EVERY such pick is an MSF edge no matter how partial the merge
    * state is (any vertex set S: the min edge crossing (S, V∖S) is in
    * the MSF). Contraction is min-hooking (new label = min of own and
    * partner's label — monotone decreasing, so the hook map is
    * cycle-free) followed by MstJumps pointer-jumping compositions of
    * the ≤|comps|-row label map, which resolves hook chains up to
    * 2^MstJumps deep per round; rounds after convergence are no-ops
    * (no cross-component edges → no picks → labels unchanged), so the
    * FIXED MstRounds unroll stays oracle-exact. MstSpec certifies the
    * result against an independent driver-side Kruskal and the
    * |MSF| = |V| − #components identity.
    *
    * Scale: per round one |E| join against labels (the same shape as
    * each CC round) + MstJumps self-joins of a map whose size is the
    * CURRENT component count (collapses geometrically); components at
    * least halve per effective round, so MstRounds = 6 with 64-deep
    * jumps covers graphs far beyond the test SFs — at true 100 TB
    * scale raise MstRounds (O(log |V|) total), nothing else changes. */
  val MstRounds = 6
  val MstJumps = 6

  /** Materialize AND sever logical-plan lineage. `localCheckpoint`
    * alone truncates execution but re-derives the new LogicalRDD's
    * constraints/stats from the parent plan — chained across the
    * rounds×jumps generations of this loop those rewrites compound
    * GEOMETRICALLY (measured: round-4 jumps took 30–100 s on a
    * 5-component graph, pure driver-side analysis). Re-wrapping the
    * checkpointed RDD through createDataFrame starts every generation
    * from a bare leaf. Costs one Row conversion per downstream scan of
    * a ≤|V|-row table — noise next to the |E| joins. */
  private def hardBreak(df: DataFrame): DataFrame = {
    val ck = df.memoized()
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  def graphMst(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey")).distinct()
      .groupBy(col("l_suppkey").as("a"), (col("l_partkey") + PartOffset).as("b"))
      .agg((lit(SsspMaxCost + 1) - least(lit(SsspMaxCost), count(lit(1)))).as("w"))
      .memoized()
    var labels = hardBreak(edges.select(explode(array(col("a"), col("b"))).as("v"))
      .distinct().select(col("v"), col("v").as("comp")))
    var picks: Option[DataFrame] = None
    var converged = false
    for (_ <- 1 to MstRounds if !converged) {
      val ec = edges.as("e")
        .join(labels.as("la"), col("e.a") === col("la.v"))
        .join(labels.as("lb"), col("e.b") === col("lb.v"))
        .filter(col("la.comp") =!= col("lb.comp"))
        .select(col("la.comp").as("ca"), col("lb.comp").as("cb"),
          col("e.w").as("w"), col("e.a").as("a"), col("e.b").as("b"))
      val cand = ec
        .select(col("ca").as("comp"), col("cb").as("other"), col("w"), col("a"), col("b"))
        .unionAll(ec
          .select(col("cb").as("comp"), col("ca").as("other"), col("w"), col("a"), col("b")))
      // (w, a, b) is unique per comp (an edge contributes one row per
      // side), so min(struct) ≡ the oracle's row_number ORDER BY w,a,b
      val pick = hardBreak(cand.groupBy("comp")
        .agg(min(struct(col("w"), col("a"), col("b"), col("other"))).as("m"))
        .select(col("comp"), col("m.other").as("other"),
          col("m.w").as("w"), col("m.a").as("a"), col("m.b").as("b")))
      if (pick.isEmpty) {
        // no cross-component edges anywhere → MSF complete; the
        // remaining unrolled rounds are no-ops in the oracle too
        converged = true
      } else {
        picks = Some(picks.fold(pick.select("a", "b", "w"))(
          _ unionAll pick.select("a", "b", "w")))
        var map = hardBreak(
          pick.select(col("comp"), least(col("comp"), col("other")).as("lab")))
        for (_ <- 1 to MstJumps) {
          val m2 = map.select(col("comp").as("c2"), col("lab").as("l2"))
          map = hardBreak(map.join(m2, col("lab") === col("c2"), "left")
            .select(col("comp"), coalesce(col("l2"), col("lab")).as("lab")))
        }
        labels = hardBreak(
          labels.as("l").join(map.as("m"), col("l.comp") === col("m.comp"), "left")
            .select(col("l.v").as("v"), coalesce(col("m.lab"), col("l.comp")).as("comp")))
      }
    }
    picks.get.distinct().orderBy("a", "b")
  }

  /** The identical Borůvka unroll in DuckDB CTEs: per round a pick
    * (row_number over the same (w, a, b) order) + MstJumps map
    * compositions + the relabel; the answer is the distinct union of
    * every round's picks. */
  private lazy val mstOracle: String = {
    def jumps(r: Int): String = (1 to MstJumps).map { j =>
      s"""map${r}_$j AS MATERIALIZED (SELECT m1.comp, coalesce(m2.lab, m1.lab) AS lab
              FROM map${r}_${j - 1} m1 LEFT JOIN map${r}_${j - 1} m2 ON m1.lab = m2.comp)"""
    }.mkString(",\n          ")
    val rounds = (1 to MstRounds).map { r =>
      s"""ec$r AS (SELECT la.comp AS ca, lb.comp AS cb, e.w, e.a, e.b
              FROM ew e JOIN ml${r - 1} la ON e.a = la.v JOIN ml${r - 1} lb ON e.b = lb.v
              WHERE la.comp <> lb.comp),
          cand$r AS (SELECT ca AS comp, cb AS other, w, a, b FROM ec$r
                     UNION ALL SELECT cb, ca, w, a, b FROM ec$r),
          pick$r AS MATERIALIZED (SELECT comp, other, w, a, b FROM (
                     SELECT *, row_number() OVER (PARTITION BY comp ORDER BY w, a, b) AS rn
                     FROM cand$r) WHERE rn = 1),
          map${r}_0 AS MATERIALIZED (SELECT comp, least(comp, other) AS lab FROM pick$r),
          ${jumps(r)},
          ml$r AS MATERIALIZED (SELECT l.v, coalesce(m.lab, l.comp) AS comp
                  FROM ml${r - 1} l LEFT JOIN map${r}_$MstJumps m ON l.comp = m.comp)"""
    }.mkString(",\n          ")
    val unionPicks = (1 to MstRounds)
      .map(r => s"SELECT a, b, w FROM pick$r").mkString(" UNION ALL ")
    s"""WITH ow AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_suppkey, l_partkey FROM lineitem),
          ew AS MATERIALIZED (SELECT l_suppkey AS a, l_partkey + $PartOffset AS b,
                ${SsspMaxCost + 1} - least($SsspMaxCost, count(*)) AS w
                FROM ow GROUP BY 1, 2),
          ml0 AS MATERIALIZED (SELECT v, v AS comp FROM (
                SELECT DISTINCT v FROM (SELECT a AS v FROM ew UNION ALL SELECT b FROM ew))),
          $rounds
        SELECT DISTINCT a, b, w FROM ($unionPicks) ORDER BY a, b"""
  }

  /** Approximate diameter by DOUBLE SWEEP (Magnien/Latapy/Habib): BFS
    * from a fixed seed finds a farthest node u; a second BFS from u
    * reaches (on real-world graphs, usually attains) the diameter —
    * max dist of sweep 2 is a certified LOWER bound at 2×BFS cost,
    * against |V| BFS runs for the exact value. The u pick between
    * sweeps is ONE driver action on a 1-row argmax (the ccProbe /
    * dedupEmbedding plan-construction pattern — not a per-row
    * collect); ties break (dist desc, v asc) so both engines choose
    * the identical u. Output: one row (seed, far node, estimate). */
  def graphDiameter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val und = liPairs(spark, dir)
      .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
      .memoized() // consumed by both sweeps
    val seed = Sources.head
    val d1 = graft.api.GraftOps.bfsHops(und, "s", "p", Seq(seed), BfsRounds)
    val u = d1.orderBy(col("dist").desc, col("v")).head().getLong(0)
    val est = graft.api.GraftOps.bfsHops(und, "s", "p", Seq(u), BfsRounds)
      .agg(max(col("dist")).as("diameter_lb"))
    est.select(lit(seed).as("seed"), lit(u).as("far_node"), col("diameter_lb"))
  }

  private val diameterOracle: String = {
    def sweep(tag: String, d0: String): String =
      (1 to BfsRounds).map { t =>
        val prev = if (t == 1) d0 else s"$tag${t - 1}"
        s"""r$tag$t AS MATERIALIZED (SELECT e.dst AS v, min(d.dist) + 1 AS nd
                FROM $prev d JOIN edges e ON d.v = e.src GROUP BY 1),
          $tag$t AS MATERIALIZED (SELECT coalesce(d.v, r.v) AS v,
                least(coalesce(d.dist, r.nd), coalesce(r.nd, d.dist)) AS dist
                FROM $prev d FULL JOIN r$tag$t r ON d.v = r.v)"""
      }.mkString(",\n          ")
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS MATERIALIZED (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
          a0 AS MATERIALIZED (SELECT ${Sources.head}::BIGINT AS v, 0::BIGINT AS dist),
          ${sweep("a", "a0")},
          u AS MATERIALIZED (SELECT v FROM a$BfsRounds
                ORDER BY dist DESC, v LIMIT 1),
          b0 AS MATERIALIZED (SELECT v, 0::BIGINT AS dist FROM u),
          ${sweep("b", "b0")}
        SELECT ${Sources.head}::BIGINT AS seed, (SELECT v FROM u) AS far_node,
               max(dist) AS diameter_lb
        FROM b$BfsRounds"""
  }

  /** 28-core of the supplier↔part graph (GraftOps.kCore — synchronized
    * peeling rounds, shrinking checkpointed edge set). k = 28 actually
    * bites on this dense bipartite graph (peels ~2/3 of vertices at
    * sf0.01, ~1/3 at sf0.1; min degree is 11-13 so small k is a no-op).
    * KCoreRounds is a fixed unroll both engines execute identically;
    * Graph4Spec asserts peeling reached its fixpoint at test scale
    * (measured: 2 rounds), so the survivors are the true k-core. */
  val KCoreK = 28
  val KCoreRounds = 8
  def graphKCore(spark: SparkSession, dir: String): DataFrame = {
    val und = liPairs(spark, dir)
      .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
    graft.api.GraftOps.kCore(und, "s", "p", KCoreK, KCoreRounds).orderBy("v")
  }

  /** BUTTERFLY counting (Wang et al., the bipartite analog of triangle
    * counting — a butterfly is a (2,2)-biclique): ON THIS GRAPH the
    * right motif, since a bipartite network has zero triangles by
    * construction. Per part, its C(d,2) supplier pairs enumerate
    * co-access wedges (fan-out ∝ Σ C(d_p, 2) — bounded by part
    * degrees, never |S|²); butterflies = Σ over supplier pairs of
    * C(common, 2). The bipartite clustering coefficient 4B/W (wedges
    * closing into butterflies) is one rounded division. */
  def graphButterflies(spark: SparkSession, dir: String): DataFrame =
    butterfliesOn(liPairs(spark, dir)
      .select(col("l_suppkey").as("s"), col("l_partkey").as("p")))

  /** The butterfly core over any bipartite (s, p) edge frame. */
  def butterfliesOn(li: DataFrame): DataFrame = {
    val pairs = li.as("x").join(li.as("y"),
        col("x.p") === col("y.p") && col("x.s") < col("y.s"))
      .groupBy(col("x.s").as("a"), col("y.s").as("b"))
      .agg(count(lit(1)).as("c"))
    val bf = pairs.agg(sum(expr("c * (c - 1) div 2")).as("n_butterflies"))
    val ds = li.groupBy("s").agg(count(lit(1)).as("dS"))
    val dp = li.groupBy("p").agg(count(lit(1)).as("dP"))
    val cat = li.join(ds, Seq("s")).join(dp, Seq("p"))
      .agg(sum((col("dS") - 1) * (col("dP") - 1)).as("n_caterpillars"))
    bf.crossJoin(cat)
      .select(col("n_butterflies"), col("n_caterpillars"),
        round(lit(4.0) * col("n_butterflies").cast("double") /
          col("n_caterpillars").cast("double"), 6).as("bf_clustering"))
  }

  private val butterfliesOracle: String =
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
          pr AS (SELECT x.s AS a, y.s AS b, count(*) AS c
                 FROM li x JOIN li y ON x.p = y.p AND x.s < y.s
                 GROUP BY 1, 2),
          bf AS (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_butterflies FROM pr),
          ds AS (SELECT s, count(*) AS dS FROM li GROUP BY 1),
          dp AS (SELECT p, count(*) AS dP FROM li GROUP BY 1),
          ct AS (SELECT CAST(sum((ds.dS - 1) * (dp.dP - 1)) AS BIGINT) AS n_caterpillars
                 FROM li JOIN ds USING (s) JOIN dp USING (p))
        SELECT n_butterflies, n_caterpillars,
               round(4.0 * n_butterflies::DOUBLE / n_caterpillars::DOUBLE, 6) AS bf_clustering
        FROM bf, ct"""

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the directed-both-ways edge list — "do hubs
    * attach to hubs". Exactly the ml_linear_reg discipline: five
    * order-free integer moments (degrees are integers) in decimal(38)
    * accumulators, ONE double expression with fixed cross-engine
    * operand order, 6-dp round. One degree groupBy + two broadcast-able
    * joins + five aggregates — scan-speed at any |E|. */
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val und = liPairs(spark, dir)
      .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
    val edges = und.select(col("s").as("a"), col("p").as("b"))
      .unionAll(und.select(col("p").as("a"), col("s").as("b")))
    val deg = edges.groupBy(col("a").as("v")).agg(count(lit(1)).as("d"))
    val ep = edges
      .join(deg.select(col("v").as("a"), col("d").as("x")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("y")), Seq("b"))
    val s = ep.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
      sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
      sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
    def d(c: Column): Column = c.cast("double")
    val num = d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
    val den = sqrt(d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
      sqrt(d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))
    s.select(col("n").as("n_directed_edges"),
      round(num / den, 6).as("assortativity"))
  }

  private val assortativityOracle: String =
    s"""WITH li AS (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS MATERIALIZED (SELECT s AS a, p AS b FROM li UNION ALL SELECT p, s FROM li),
          deg AS (SELECT a AS v, count(*) AS d FROM edges GROUP BY 1),
          ep AS (SELECT da.d AS x, db.d AS y FROM edges e
                 JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
          s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                       sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
                FROM ep)
        SELECT n AS n_directed_edges,
               round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
                     (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
                      sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6) AS assortativity
        FROM s"""

  /** Full core decomposition (coreness per vertex) — the one-run
    * generalization of graph_kcore's fixed-k peel: GraftOps.coreness'
    * iterated H-index over the supplier↔part graph; the kcore
    * subgraph for ANY k then reads off this table. */
  val CorenessRounds = 8
  def graphCoreness(spark: SparkSession, dir: String): DataFrame = {
    val und = liPairs(spark, dir)
      .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
    graft.api.GraftOps.coreness(und, "s", "p", CorenessRounds)
      .select(col("v"), col("c").as("coreness"))
      .orderBy("v")
  }

  /** Unrolled iterated-H-index rounds: per round, desc-rank the
    * neighbor values per vertex and take max(least(rank, value)). */
  private lazy val corenessOracle: String = {
    val iterCtes = (1 to CorenessRounds).map { t =>
      s"""hv$t AS (SELECT e.src AS v, c.c AS nc FROM edges e
                JOIN hc${t - 1} c ON e.dst = c.v),
          hr$t AS (SELECT v, nc, row_number() OVER (PARTITION BY v ORDER BY nc DESC) AS rn
                FROM hv$t),
          hc$t AS MATERIALIZED (SELECT v, max(least(rn, nc)) AS c FROM hr$t GROUP BY 1)"""
    }.mkString(",\n          ")
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS MATERIALIZED (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
          hc0 AS MATERIALIZED (SELECT src AS v, count(*) AS c FROM edges GROUP BY 1),
          $iterCtes
        SELECT v, c AS coreness FROM hc$CorenessRounds ORDER BY v"""
  }

  /** Label-propagation communities (GraftOps.labelPropagation) on the
    * supplier↔part graph, LpaRounds synchronized rounds with self-vote
    * and smallest-label tie-break — deterministic, oracle-unrolled.
    * Output: each vertex with its community label plus the community
    * size (a second groupBy over the |V| label table). */
  val LpaRounds = 4
  def graphLpa(spark: SparkSession, dir: String): DataFrame = {
    val und = liPairs(spark, dir)
      .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
    val lbl = graft.api.GraftOps.labelPropagation(und, "s", "p", LpaRounds)
    lbl.join(lbl.groupBy(col("comm")).agg(count(lit(1)).as("comm_size")), "comm")
      .select(col("v"), col("comm"), col("comm_size"))
      .orderBy("v")
  }

  /** Newman modularity of the LPA communities — the standard "did the
    * community detector find real structure" score, per community:
    * Q_c = L_c/m − (d_c/2m)² with L_c = edges internal to c, d_c = sum
    * of member degrees, m = |undirected edges|. All three inputs are
    * exact integers (no float iteration); the per-community term does
    * ONE double division inside an 8-dp round, with every operand
    * explicitly cast double in the same order on both engines. Total
    * Q = Σ q_term (the caller's trivial sum); per-community rows are
    * the useful output — they say WHICH communities are cohesive.
    *
    * Scale: labels join edges twice (src, dst) — shuffle ∝ |E| on the
    * join key like any LPA round; everything after is |comms|-sized.
    * m rides along as a broadcast 1-row aggregate, not a driver action. */
  def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    val und = liPairs(spark, dir)
      .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
    val lbl = graft.api.GraftOps.labelPropagation(und, "s", "p", LpaRounds)
    graft.api.GraftOps.modularity(und, "s", "p", lbl).orderBy("comm")
  }

  /** Louvain communities (GraftOps.louvain — Blondel et al. 2008) on
    * the same supplier↔part graph as graph_lpa: two levels of
    * synchronized local-move sweeps with a community-graph contraction
    * between them, labels canonicalized to min member id. The
    * modularity-OPTIMIZING answer where LPA honestly collapses this
    * bipartite graph to one community (Q = 0) — ModularitySpec
    * measures the Q win. Output matches graph_lpa's shape:
    * (v, comm, comm_size). Oracle: both levels fully unrolled
    * (the graph_coreness discipline), every local-move comparator
    * replayed bit-for-bit from exact integer weights. */
  val LouvainL1Rounds = 8
  val LouvainL2Rounds = 4

  /** Louvain labels memoized per (session, dir): graph_louvain and its
    * modularity scoring share one 12-round run (the sccLabels
    * discipline). */
  private def louvainLabels(spark: SparkSession, dir: String): DataFrame =
    Memo.keyed(spark, dir, "graph.louvain")(
      graft.api.GraftOps.truncate(graft.api.GraftOps.louvain(
        liPairs(spark, dir)
          .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p")),
        "s", "p", LouvainL1Rounds, LouvainL2Rounds)))

  def graphLouvain(spark: SparkSession, dir: String): DataFrame = {
    val lbl = louvainLabels(spark, dir)
    lbl.join(lbl.groupBy(col("comm")).agg(count(lit(1)).as("comm_size")), "comm")
      .select(col("v"), col("comm"), col("comm_size"))
      .orderBy("v")
  }

  /** Newman modularity of the LOUVAIN communities — graph_modularity's
    * exact aggregation over [[louvainLabels]]: the registered,
    * value-verified evidence that the optimizer finds positive-Q
    * structure (Σ q_term > 0) where the LPA scoring's Q is exactly 0
    * on this corpus graph. */
  def graphLouvainQ(spark: SparkSession, dir: String): DataFrame = {
    val und = liPairs(spark, dir)
      .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
    graft.api.GraftOps.modularity(und, "s", "p", louvainLabels(spark, dir))
      .orderBy("comm")
  }

  /** One unrolled Louvain LEVEL as CTE text: requires `{p}edges`
    * (a,b,w — undirected, a≠b) and `{p}selfs` (v,sw) CTEs upstream;
    * emits `{p}l<rounds>` as the level's final (v, lbl) table. Mirrors
    * GraftOps.louvainLevel round for round: Σtot per community, per-
    * (node, neighbor-community) weights, the stay-candidate union, the
    * parity gate (only v % 2 = r % 2 nodes move in round r), the
    * singleton-merge ordering guard, the gain comparator with v's k
    * excluded from its own community's Σtot, argmax with smallest-c
    * tie-break. */
  private def louvainLevelCtes(p: String, rounds: Int,
                               initCte: Option[String] = None): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""${p}st$r AS MATERIALIZED (SELECT l.lbl AS c, sum(k.kv) AS sig, count(*) AS cnt
                FROM ${p}l${r - 1} l JOIN ${p}k k USING (v) GROUP BY 1),
          ${p}cand$r AS (SELECT v, c, sum(wc) AS wc FROM (
                SELECT s.src AS v, l.lbl AS c, sum(s.w) AS wc
                FROM ${p}sym s JOIN ${p}l${r - 1} l ON s.dst = l.v GROUP BY 1, 2
                UNION ALL SELECT v, lbl AS c, 0 FROM ${p}l${r - 1}) GROUP BY 1, 2
                HAVING v % 2 = ${r % 2}),
          ${p}sc$r AS (SELECT cd.v, cd.c, l.lbl,
                cd.wc::DOUBLE - (k.kv::DOUBLE *
                  (g.sig - CASE WHEN cd.c = l.lbl THEN k.kv ELSE 0 END)::DOUBLE) /
                  (2.0 * m.m) AS score
                FROM ${p}cand$r cd JOIN ${p}l${r - 1} l USING (v)
                JOIN ${p}k k USING (v) JOIN ${p}st$r g ON cd.c = g.c
                JOIN ${p}st$r zl ON l.lbl = zl.c, ${p}m m
                WHERE NOT (zl.cnt = 1 AND g.cnt = 1 AND cd.c > l.lbl)),
          ${p}l$r AS MATERIALIZED (SELECT v, c AS lbl FROM (
                SELECT v, c, row_number() OVER (PARTITION BY v ORDER BY score DESC,
                  CASE WHEN c = lbl THEN 1 ELSE 0 END DESC, c) AS rn
                FROM ${p}sc$r) WHERE rn = 1
                UNION ALL
                SELECT v, lbl FROM ${p}l${r - 1} WHERE v % 2 <> ${r % 2})"""
    }.mkString(",\n          ")
    s"""${p}sym AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM ${p}edges
              UNION ALL SELECT b, a, w FROM ${p}edges),
          ${p}k AS MATERIALIZED (SELECT coalesce(i.v, s.v) AS v,
                coalesce(i.kw, 0) + 2 * coalesce(s.sw, 0) AS kv
              FROM (SELECT src AS v, sum(w) AS kw FROM ${p}sym GROUP BY 1) i
              FULL JOIN (SELECT v, sum(sw) AS sw FROM ${p}selfs GROUP BY 1) s ON i.v = s.v),
          ${p}m AS (SELECT ((SELECT coalesce(sum(w), 0) FROM ${p}edges) +
                            (SELECT coalesce(sum(sw), 0) FROM ${p}selfs))::DOUBLE AS m),
          ${p}l0 AS MATERIALIZED (${initCte match {
            case None => s"SELECT v, v AS lbl FROM ${p}k"
            case Some(init) =>
              s"""SELECT k.v, coalesce(i.comm, k.v) AS lbl
                FROM ${p}k k LEFT JOIN $init i ON k.v = i.v"""
          }}),
          $roundCtes"""
  }

  /** INCREMENTAL Louvain (GraftOps.louvainWarm): base communities from
    * the 80% graph (l_orderkey % 10 < IncCut — the CC-incremental
    * split), then the full graph's delta edges land and TWO warm
    * parity-gated sweeps (one per parity: every node gets one move
    * chance) re-place moved/new nodes from the base labels instead of
    * re-running 8+4 rounds from singletons. The delta-ingest path a
    * daily community job runs. LouvainIncrementalSpec measures the Q
    * the warm path retains vs the cold full run. */
  val LouvainWarmRounds = 2

  /** Persisted Louvain base-label layout — the dedup_minhash_incremental
    * discipline applied to communities: the 8+4-round cold Louvain on
    * the base (80%) graph is a LOAD-TIME artifact, written ONCE per
    * (session, dir) as a v-bucketed managed table
    * (`graft_louvain_base_b*`), exactly like the minhash signature
    * layout (Dedup.persistedMinhashLayout). The incremental entry then READS
    * base labels and pays only the warm sweeps — the actual cost shape
    * of a daily delta-ingest community job. Values are unchanged
    * (labels are (long, long); the parquet roundtrip is exact), so the
    * existing oracle — which replays base + warm — still verifies.
    * Session-lived ([[graft.api.Memo.layout]]): the layout is on disk
    * by design, so a release does not rewrite it and a timed pass pays
    * the warm path, which is the operator's claim. */
  def persistedLouvainBase(spark: SparkSession, dir: String): DataFrame = {
    val t = Memo.layout(spark, dir, "graph.louvainBase") {
      val name = s"graft_louvain_base_b${ScaleOps.dirKey(dir)}"
      ScaleOps.dropStale(spark, name)
      val base = Tables.lineitem(spark, dir)
        .filter(col("l_orderkey") % 10 < IncCut)
        .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
        .distinct()
      Tables.writeBucketed(
        graft.api.GraftOps.louvain(base, "s", "p",
          LouvainL1Rounds, LouvainL2Rounds),
        name, Seq("v"), ScaleOps.NBuckets)
      name
    }
    spark.table(t)
  }

  def graphLouvainIncremental(spark: SparkSession, dir: String): DataFrame = {
    val full = Tables.lineitem(spark, dir)
      .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
      .distinct()
    val baseLbl = persistedLouvainBase(spark, dir)
    val lbl = graft.api.GraftOps.louvainWarm(full, "s", "p", baseLbl, LouvainWarmRounds)
    lbl.join(lbl.groupBy(col("comm")).agg(count(lit(1)).as("comm_size")), "comm")
      .select(col("v"), col("comm"), col("comm_size"))
      .orderBy("v")
  }

  /** Order-free integer modularity score of the `lblRel` labeling over
    * `pairsRel` (s, p): the modularityOracle aggregation with q_term
    * quantized via floor(q·10⁸ + 0.5) and summed as BIGINT — so the
    * warm-vs-base comparison cannot flip under float summation order.
    * Ends with `${p}qs` (one row, column qs). */
  private def qScoreCtes(pairsRel: String, lblRel: String, mRel: String,
                         p: String): String =
    s"""${p}ec AS MATERIALIZED (SELECT ls.comm AS cs, lp.comm AS cp FROM $pairsRel li
                JOIN $lblRel ls ON li.s = ls.v JOIN $lblRel lp ON li.p = lp.v),
          ${p}int AS (SELECT cs AS comm, count(*) AS internal_edges
                FROM ${p}ec WHERE cs = cp GROUP BY 1),
          ${p}deg AS (SELECT comm, count(*) AS degree_sum FROM (
                SELECT cs AS comm FROM ${p}ec UNION ALL SELECT cp FROM ${p}ec) GROUP BY 1),
          ${p}nds AS (SELECT comm FROM $lblRel GROUP BY 1),
          ${p}qt AS (SELECT n.comm,
                round((4.0 * m.m::DOUBLE * coalesce(i.internal_edges, 0)::DOUBLE -
                       coalesce(d.degree_sum, 0)::DOUBLE * coalesce(d.degree_sum, 0)::DOUBLE) /
                      (4.0 * m.m::DOUBLE * m.m::DOUBLE), 8) AS q_term
                FROM ${p}nds n LEFT JOIN ${p}int i ON n.comm = i.comm
                LEFT JOIN ${p}deg d ON n.comm = d.comm, $mRel m),
          ${p}qs AS (SELECT coalesce(sum(CAST(floor(q_term * 1e8 + 0.5) AS BIGINT)), 0) AS qs
                FROM ${p}qt)"""

  private lazy val louvainIncrementalOracle: String =
    s"""WITH ${louvainChainCtes(
        s"SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem WHERE l_orderkey % 10 < $IncCut",
        "z")},
          wli AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          w_edges AS MATERIALIZED (SELECT s AS a, p AS b, CAST(1 AS BIGINT) AS w FROM wli),
          w_selfs AS (SELECT CAST(NULL AS BIGINT) AS v, CAST(NULL AS BIGINT) AS sw WHERE 1 = 0),
          ${louvainLevelCtes("w_", LouvainWarmRounds, initCte = Some("zlbl"))},
          wcanon AS (SELECT lbl AS l, min(v) AS comm FROM w_l$LouvainWarmRounds GROUP BY 1),
          wl AS MATERIALIZED (SELECT w.v, c.comm
                FROM w_l$LouvainWarmRounds w JOIN wcanon c ON w.lbl = c.l),
          wnodes AS (SELECT s AS v FROM wli UNION SELECT p FROM wli),
          blx AS (SELECT n.v, coalesce(z.comm, n.v) AS lbl
                FROM wnodes n LEFT JOIN zlbl z ON n.v = z.v),
          blc AS (SELECT lbl, min(v) AS comm FROM blx GROUP BY 1),
          bl AS MATERIALIZED (SELECT blx.v, blc.comm FROM blx JOIN blc USING (lbl)),
          qm AS (SELECT count(*) AS m FROM wli),
          ${qScoreCtes("wli", "wl", "qm", "qw_")},
          ${qScoreCtes("wli", "bl", "qm", "qb_")},
          fin AS MATERIALIZED (
            SELECT v, comm FROM wl
            WHERE (SELECT qs FROM qw_qs) >= (SELECT qs FROM qb_qs)
            UNION ALL
            SELECT v, comm FROM bl
            WHERE (SELECT qs FROM qw_qs) < (SELECT qs FROM qb_qs)),
          fsz AS (SELECT comm, count(*) AS comm_size FROM fin GROUP BY 1)
        SELECT fin.v, fin.comm, fsz.comm_size FROM fin JOIN fsz USING (comm)
        ORDER BY fin.v"""

  /** LEIDEN-STYLE connectivity refinement of the Louvain communities
    * (Traag et al. 2019's headline defect fix): Louvain can emit
    * communities that are internally DISCONNECTED — vertices glued by
    * label adoption with no intra-community path — and splitting such
    * a community into its connected components strictly increases Q
    * (each split removes cross-component degree-product penalty while
    * losing zero internal edges). Refinement = connected components
    * over the INTRA-community edge subgraph (cross-community edges
    * dropped, so min-label CC can never leak a label across
    * communities); vertices with no intra-community edge become
    * singletons. Output: (v, comm, rcomm, rcomm_size); ModularitySpec
    * asserts Q(refined) ≥ Q(louvain) and that every refined community
    * IS connected. Shuffle: two label joins on |E| + the CC rounds on
    * the (smaller) intra subgraph. */
  val LouvainRefineCcIters = 8
  def graphLouvainRefined(spark: SparkSession, dir: String): DataFrame = {
    val lbl = louvainLabels(spark, dir)
    val und = liPairs(spark, dir)
      .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
    val intra = und
      .join(lbl.select(col("v").as("s"), col("comm").as("cs")), Seq("s"))
      .join(lbl.select(col("v").as("p"), col("comm").as("cp")), Seq("p"))
      .filter(col("cs") === col("cp"))
      .select(col("s"), col("p"))
    val cc = graft.api.GraftOps.connectedComponents(intra, "s", "p", LouvainRefineCcIters)
    val refined = lbl
      .join(cc, Seq("v"), "left")
      .select(col("v"), col("comm"), coalesce(col("comp"), col("v")).as("rcomm"))
    refined
      .join(refined.groupBy("rcomm").agg(count(lit(1)).as("rcomm_size")), "rcomm")
      .select(col("v"), col("comm"), col("rcomm"), col("rcomm_size"))
      .orderBy("v")
  }

  private lazy val louvainRefinedOracle: String =
    s"""WITH $louvainCtePrefix,
          intra AS MATERIALIZED (
            SELECT li.s, li.p FROM li
            JOIN lbl ls ON li.s = ls.v JOIN lbl lp ON li.p = lp.v
            WHERE ls.comm = lp.comm),
          edges AS MATERIALIZED (SELECT s AS src, p AS dst FROM intra
                UNION ALL SELECT p, s FROM intra),
          l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS comp FROM edges),
          ${ccUnrolledCtes(LouvainRefineCcIters)},
          ref AS MATERIALIZED (
            SELECT b.v, b.comm, coalesce(c.comp, b.v) AS rcomm
            FROM lbl b LEFT JOIN l$LouvainRefineCcIters c ON b.v = c.v),
          rsz AS (SELECT rcomm, count(*) AS rcomm_size FROM ref GROUP BY 1)
        SELECT ref.v, ref.comm, ref.rcomm, rsz.rcomm_size
        FROM ref JOIN rsz USING (rcomm) ORDER BY ref.v"""

  /** Both louvain levels + composition + canonicalization as a CTE
    * prefix ending with `lbl` (v, comm) — shared by the label output
    * and the modularity scoring, like lpaCtePrefix. */
  /** The full two-level chain over an arbitrary edge-pair relation
    * body (columns s, p), every CTE name prefixed — ends with
    * `${p}lbl` (v, comm). */
  private def louvainChainCtes(pairsSql: String, p: String): String = {
    val l1 = LouvainL1Rounds; val l2 = LouvainL2Rounds
    s"""${p}li AS MATERIALIZED ($pairsSql),
          ${p}a_edges AS MATERIALIZED (SELECT s AS a, p AS b, CAST(1 AS BIGINT) AS w FROM ${p}li),
          ${p}a_selfs AS (SELECT CAST(NULL AS BIGINT) AS v, CAST(NULL AS BIGINT) AS sw WHERE 1 = 0),
          ${louvainLevelCtes(s"${p}a_", l1)},
          ${p}b_ec AS MATERIALIZED (SELECT la.lbl AS ca, lb.lbl AS cb, e.w FROM ${p}a_edges e
                JOIN ${p}a_l$l1 la ON e.a = la.v JOIN ${p}a_l$l1 lb ON e.b = lb.v),
          ${p}b_edges AS MATERIALIZED (SELECT least(ca, cb) AS a, greatest(ca, cb) AS b, sum(w) AS w
                FROM ${p}b_ec WHERE ca <> cb GROUP BY 1, 2),
          ${p}b_selfs AS MATERIALIZED (SELECT ca AS v, sum(w) AS sw FROM ${p}b_ec WHERE ca = cb GROUP BY 1),
          ${louvainLevelCtes(s"${p}b_", l2)},
          ${p}comp AS MATERIALIZED (SELECT la.v, coalesce(lb.lbl, la.lbl) AS c
                FROM ${p}a_l$l1 la LEFT JOIN ${p}b_l$l2 lb ON la.lbl = lb.v),
          ${p}canon AS (SELECT c, min(v) AS comm FROM ${p}comp GROUP BY 1),
          ${p}lbl AS MATERIALIZED (SELECT c0.v, cn.comm
                FROM ${p}comp c0 JOIN ${p}canon cn USING (c))"""
  }

  private lazy val louvainCtePrefix: String = louvainChainCtes(
    s"SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem", "")

  private lazy val louvainOracle: String =
    s"""WITH $louvainCtePrefix,
          sz AS (SELECT comm, count(*) AS comm_size FROM lbl GROUP BY 1)
        SELECT lbl.v, lbl.comm, sz.comm_size FROM lbl JOIN sz USING (comm)
        ORDER BY lbl.v"""

  /** The louvain chain, then graph_modularity's exact aggregation
    * (same shape as modularityOracle, labels from `lbl`). */
  private lazy val louvainQOracle: String =
    s"""WITH $louvainCtePrefix,
          m AS (SELECT count(*) AS m FROM li),
          ec AS MATERIALIZED (SELECT ls.comm AS cs, lp.comm AS cp FROM li
                JOIN lbl ls ON li.s = ls.v
                JOIN lbl lp ON li.p = lp.v),
          internal AS (SELECT cs AS comm, count(*) AS internal_edges
                       FROM ec WHERE cs = cp GROUP BY 1),
          degsum AS (SELECT comm, count(*) AS degree_sum FROM (
                       SELECT cs AS comm FROM ec UNION ALL SELECT cp FROM ec)
                     GROUP BY 1),
          nodes AS (SELECT comm, count(*) AS n_nodes FROM lbl GROUP BY 1)
        SELECT n.comm, n.n_nodes,
               coalesce(i.internal_edges, 0) AS internal_edges,
               coalesce(d.degree_sum, 0) AS degree_sum,
               round((4.0 * m.m::DOUBLE * coalesce(i.internal_edges, 0)::DOUBLE -
                      coalesce(d.degree_sum, 0)::DOUBLE * coalesce(d.degree_sum, 0)::DOUBLE) /
                     (4.0 * m.m::DOUBLE * m.m::DOUBLE), 8) AS q_term
        FROM nodes n LEFT JOIN internal i ON n.comm = i.comm
        LEFT JOIN degsum d ON n.comm = d.comm, m
        ORDER BY n.comm"""

  /** HITS hubs & authorities (GraftOps.hits) on the DIRECTED
    * supplier→part graph: suppliers score as hubs (they point at
    * parts), parts as authorities — the natural bipartite reading.
    * Fixed HitsIters alternating half-steps, L1-normalized; oracle
    * unrolls them. */
  val HitsIters = 5
  def graphHits(spark: SparkSession, dir: String): DataFrame = {
    val edges = liPairs(spark, dir).select(col("l_suppkey").as("s"),
      (col("l_partkey") + PartOffset).as("p"))
    graft.api.GraftOps.hits(edges, "s", "p", HitsIters).orderBy("v")
  }

  /** Neighborhood-Jaccard link prediction over the bipartite graph:
    * for supplier pairs sharing ≥1 part, |N(a)∩N(b)| / |N(a)∪N(b)|,
    * top 50 by (rounded) similarity (GraftOps.neighborhoodJaccard).
    * The co-occurrence self-join on part shuffles ∝ Σ deg(part)²
    * wedge pairs; each part's supplier list is md5-capped at
    * JaccardPartCap BEFORE the join, so one hot part can't explode the
    * stage at 100× — and the cap exceeds every part degree at the test
    * SFs (max 52 at sf0.1), so the output is bit-identical to the
    * uncapped form there. The oracle replays the identical cap. The
    * final top-50 is a TakeOrdered bounded heap, not a global sort. */
  val JaccardTopN = 50
  val JaccardPartCap = 64
  def graphJaccard(spark: SparkSession, dir: String): DataFrame =
    graft.api.GraftOps.neighborhoodJaccard(
      liPairs(spark, dir), "l_partkey", "l_suppkey", JaccardTopN, JaccardPartCap)

  /** DOULION-sampled triangle estimate on the same co-purchase graph
    * (p = 1/4 ⇒ ~16× less wedge work). The md5 edge sampling is
    * deterministic, so the oracle replays the IDENTICAL sample and the
    * whole estimator — not just the exact sub-count — verifies. */
  val TriSampleP = 0.25
  def graphTrianglesApprox(spark: SparkSession, dir: String): DataFrame =
    graft.api.GraftOps.triangleCountApprox(coPurchaseEdges(spark, dir), "a", "b", TriSampleP)

  /** Strongly-connected components (GraftOps.stronglyConnectedComponents,
    * forward–backward priority peeling) on a deterministic DIRECTED
    * cycle-bearing graph derived from orders: within each customer,
    * orders sort by key and chain in runs of ≤ SccChainLen (next-order
    * edges); each md5-picked order (SccBackPct %) adds a back-edge to
    * its run's head. A run's SCC is then the prefix up to its last
    * back-edge source, the rest singletons — thousands of small SCCs of
    * mixed size, diameter bounded by the run length so the fixpoint
    * sweeps stay shallow. Output: vertex, SCC label (min member id),
    * SCC size. The oracle is INDEPENDENT: a recursive-CTE transitive
    * closure → mutual-reachability pairs → min label, not a replay of
    * the peeling. */
  val SccChainLen = 8
  val SccBackPct = 3000 // md5(k) % 10000 under this → back-edge (30%)
  def sccEdges(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), col("o_custkey").as("c"))
    val seq = o.withColumn("rn",
        row_number().over(Window.partitionBy("c").orderBy("k")))
      .withColumn("grp", ((col("rn") - 1) / SccChainLen).cast("long"))
    val runW = Window.partitionBy("c", "grp")
    val chain = seq
      .withColumn("nxt", lead(col("k"), 1).over(runW.orderBy("k")))
      .filter(col("nxt").isNotNull)
      .select(col("k").as("src"), col("nxt").as("dst"))
    val back = seq.withColumn("head", min(col("k")).over(runW))
      .filter(col("k") =!= col("head") &&
        conv(substring(md5(col("k").cast("string")), 1, 8), 16, 10)
          .cast("long") % 10000 < SccBackPct)
      .select(col("k").as("src"), col("head").as("dst"))
    chain.unionAll(back)
  }

  /** SCC labels memoized per (session, dir): graph_scc and the
    * condensation share one peeling run (the memo-producer-first bench
    * discipline, same as pagerank → pagerank_topk). */
  private def sccLabels(spark: SparkSession, dir: String): DataFrame =
    Memo.keyed(spark, dir, "graph.scc")(
      graft.api.GraftOps.stronglyConnectedComponents(
        sccEdges(spark, dir), "src", "dst").memoized())

  def graphScc(spark: SparkSession, dir: String): DataFrame = {
    val scc = sccLabels(spark, dir)
    scc.join(scc.groupBy("scc").agg(count(lit(1)).as("scc_size")), "scc")
      .select(col("v"), col("scc"), col("scc_size"))
      .orderBy("v")
  }

  /** Condensation DAG: the graph OF the SCCs — one row per
    * (src component, dst component) pair connected by ≥1 original
    * edge, with the parallel-edge count. Two narrow label joins over
    * the memoized SCC table; the result is what cycle-free downstream
    * processing (topological order, reachability on the DAG) consumes. */
  def graphSccCondensation(spark: SparkSession, dir: String): DataFrame = {
    val lbl = sccLabels(spark, dir)
    sccEdges(spark, dir)
      .join(lbl.select(col("v").as("src"), col("scc").as("src_scc")), "src")
      .join(lbl.select(col("v").as("dst"), col("scc").as("dst_scc")), "dst")
      .filter(col("src_scc") =!= col("dst_scc"))
      .groupBy("src_scc", "dst_scc").agg(count(lit(1)).as("n_edges"))
      .orderBy("src_scc", "dst_scc")
  }

  /** Topological levels of the SCC condensation DAG: level(c) = length
    * of the longest path from any root to c — the stage number a
    * scheduler would run component c in. Computed by TopoRounds
    * synchronized max-relaxation rounds over the condensation edges
    * (level ← max(level, 1 + level(pred)); correct on DAGs once rounds
    * ≥ depth, and the condensation's depth is bounded by the run
    * length, so SccChainLen rounds provably converge — Graph4Spec
    * asserts the fixpoint). Output: (scc, level) plus the per-level
    * component count. */
  def graphTopoLevels(spark: SparkSession, dir: String): DataFrame =
    topoLevelsOf(
      graphSccCondensation(spark, dir)
        .select(col("src_scc").as("src"), col("dst_scc").as("dst")),
      SccChainLen)
      .orderBy("scc")

  /** The max-relaxation itself, over any DAG edge list (src, dst) —
    * exposed so Graph4Spec can hand-check levels and assert the
    * registered round count sits past the fixpoint. Covers vertices
    * with ≥1 edge (isolated DAG nodes have no ordering content). */
  def topoLevelsOf(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.truncated()
    val verts = e.select(col("src").as("c")).unionAll(e.select(col("dst").as("c")))
      .distinct()
    var lvl = verts.select(col("c"), lit(0L).as("level")).truncated()
    // frontier delta, like the BFS family: only vertices whose level
    // rose last round can raise a successor; empty frontier = fixpoint,
    // so the loop exits early with output identical to the full unroll
    var frontier = lvl
    var i = 0
    var settled = false
    while (i < rounds && !settled) {
      val relax = e.join(frontier, e("src") === frontier("c"))
        .groupBy(e("dst").as("c")).agg((max(col("level")) + 1L).as("nl"))
      val joined = lvl.join(relax, Seq("c"), "left")
        .select(col("c"), greatest(col("level"), coalesce(col("nl"), col("level"))).as("l2"),
          (col("nl").isNotNull && col("nl") > col("level")).as("__chg"))
        .truncated()
      frontier = joined.filter(col("__chg")).select(col("c"), col("l2").as("level"))
      lvl = joined.select(col("c"), col("l2").as("level"))
      settled = frontier.isEmpty
      i += 1
    }
    lvl.join(lvl.groupBy("level").agg(count(lit(1)).as("n_comps")), "level")
      .select(col("c").as("scc"), col("level"), col("n_comps"))
  }

  private lazy val topoOracle: String = {
    val iterCtes = (1 to SccChainLen).map { t =>
      s"""r$t AS MATERIALIZED (SELECT e.dst AS c, max(l.level) + 1 AS nl
                FROM l${t - 1} l JOIN ce e ON l.c = e.src GROUP BY 1),
          l$t AS MATERIALIZED (SELECT l.c, greatest(l.level, coalesce(r.nl, l.level)) AS level
                FROM l${t - 1} l LEFT JOIN r$t r ON l.c = r.c)"""
    }.mkString(",\n          ")
    s"""WITH RECURSIVE $sccCtes,
          ce AS MATERIALIZED (
            SELECT DISTINCT la.scc AS src, lb.scc AS dst
            FROM edges e JOIN lab la ON e.src = la.v JOIN lab lb ON e.dst = lb.v
            WHERE la.scc <> lb.scc),
          cv AS MATERIALIZED (SELECT DISTINCT c FROM
            (SELECT src AS c FROM ce UNION ALL SELECT dst FROM ce)),
          l0 AS MATERIALIZED (SELECT c, 0::BIGINT AS level FROM cv),
          $iterCtes,
          sz AS (SELECT level, count(*) AS n_comps FROM l$SccChainLen GROUP BY 1)
        SELECT l.c AS scc, l.level, sz.n_comps
        FROM l$SccChainLen l JOIN sz ON l.level = sz.level ORDER BY scc"""
  }

  /** Just the directed-graph construction CTEs (ending in `edges`) —
    * shared by the SCC oracles and graph_reciprocity. */
  private lazy val sccEdgeCtes: String =
    s"""seq AS MATERIALIZED (
            SELECT o_orderkey AS k, o_custkey AS c,
                   row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
            FROM orders),
          g AS MATERIALIZED (SELECT k, c, rn, (rn - 1) // $SccChainLen AS grp FROM seq),
          chain AS (SELECT k AS src,
                           lead(k) OVER (PARTITION BY c, grp ORDER BY k) AS dst
                    FROM g),
          heads AS (SELECT k, min(k) OVER (PARTITION BY c, grp) AS head FROM g),
          back AS (SELECT k AS src, head AS dst FROM heads
                   WHERE k <> head
                     AND ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))::BIGINT % 10000 < $SccBackPct),
          edges AS MATERIALIZED (
            SELECT src, dst FROM chain WHERE dst IS NOT NULL
            UNION SELECT src, dst FROM back)"""

  /** Shared CTE body of the SCC oracles: graph construction, recursive
    * closure, mutual pairs, labels. */
  private lazy val sccCtes: String =
    s"""$sccEdgeCtes,
          verts AS MATERIALIZED (SELECT DISTINCT v FROM
            (SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges)),
          reach(src, dst) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
          mutual AS MATERIALIZED (
            SELECT a.src AS v, a.dst AS w
            FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src),
          lab AS MATERIALIZED (
            SELECT verts.v, coalesce(least(verts.v, min(m.w)), verts.v) AS scc
            FROM verts LEFT JOIN mutual m ON verts.v = m.v
            GROUP BY verts.v)"""

  private lazy val sccOracle: String =
    s"""WITH RECURSIVE $sccCtes,
          sz AS (SELECT scc, count(*) AS scc_size FROM lab GROUP BY 1)
        SELECT lab.v, lab.scc, sz.scc_size
        FROM lab JOIN sz ON lab.scc = sz.scc ORDER BY lab.v"""

  private lazy val sccCondensationOracle: String =
    s"""WITH RECURSIVE $sccCtes
        SELECT la.scc AS src_scc, lb.scc AS dst_scc, count(*) AS n_edges
        FROM edges e JOIN lab la ON e.src = la.v JOIN lab lb ON e.dst = lb.v
        WHERE la.scc <> lb.scc
        GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Approximate closeness centrality (GraftOps.closenessSampled) on
    * the bipartite supplier↔part graph: hop distances from
    * ClosenessK md5-sampled sources, closeness(v) = n_reaching / Σd.
    * The sample is deterministic (hash-min vertices), so the oracle
    * replays it; BfsRounds bounds the sweeps exactly like graph_bfs
    * (fixpoint-asserted at test scale). */
  val ClosenessK = 4
  // the K-source BFS distance table memoized per (session, dir):
  // graph_closeness and graph_harmonic are two readouts of one sweep
  // (the anfCurve discipline; a release clears it so a timed pass
  // pays the sweep exactly once)
  private def srcDistances(spark: SparkSession, dir: String): DataFrame =
    Memo.keyed(spark, dir, "graph.srcDistances") {
      val und = liPairs(spark, dir)
        .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
      graft.api.GraftOps.sourceDistancesSampled(und, "s", "p", ClosenessK, BfsRounds)
        .memoized()
    }

  def graphCloseness(spark: SparkSession, dir: String): DataFrame =
    graft.api.GraftOps.closenessOf(srcDistances(spark, dir)).orderBy("v")

  /** Harmonic centrality (Boldi–Vigna 2014's recommendation over
    * closeness: finite and rank-meaningful under disconnection) from
    * the SAME memoized K-source sweep as graph_closeness — Σ 1/d in
    * exact integer micro-units, so the sum is order-free and the
    * oracle replays the closeness CTE chain with a different
    * readout. */
  def graphHarmonic(spark: SparkSession, dir: String): DataFrame =
    graft.api.GraftOps.harmonicOf(srcDistances(spark, dir)).orderBy("v")

  /** Per-source eccentricity (max hop distance) and reach count from
    * the SAME memoized sweep — the iFUB-style seed statistic: each
    * sampled source's eccentricity is a DIAMETER LOWER BOUND, and the
    * best seed (max ecc) is where an exact-diameter search would
    * start. Third readout of one K-source BFS. */
  def graphEccentricity(spark: SparkSession, dir: String): DataFrame =
    srcDistances(spark, dir)
      .groupBy(col("s"))
      .agg(max(col("dist")).as("eccentricity"),
        count(lit(1)).as("n_reached"))
      .orderBy("s")

  /** Approximate betweenness centrality (GraftOps.betweennessSampled,
    * Brandes from BetweennessK md5-sampled sources) on the bipartite
    * supplier↔part graph — the σ path counts and per-level δ
    * accumulation verify against a fully unrolled two-phase oracle. */
  val BetweennessK = 4
  def graphBetweenness(spark: SparkSession, dir: String): DataFrame = {
    val und = liPairs(spark, dir)
      .select(col("l_suppkey").as("s"), (col("l_partkey") + PartOffset).as("p"))
    graft.api.GraftOps.betweennessSampled(und, "s", "p", BetweennessK, BfsRounds)
      .orderBy("v")
  }

  /** Two-phase Brandes unroll: forward levels l0..lR carrying σ (new
    * vertices only — NOT EXISTS against the cumulative set), then
    * dependency CTEs dR..d0 walking the levels back down, δ rounded to
    * 9 dp per level exactly like the Spark plan. */
  private lazy val betweennessOracle: String = {
    val R = BfsRounds
    val fwdCtes = (1 to R).map { t =>
      s"""l$t AS MATERIALIZED (SELECT f.s, e.dst AS v, sum(f.sigma) AS sigma
                FROM l${t - 1} f JOIN edges e ON f.v = e.src
                WHERE NOT EXISTS (SELECT 1 FROM a${t - 1} p
                                  WHERE p.s = f.s AND p.v = e.dst)
                GROUP BY 1, 2),
          a$t AS MATERIALIZED (SELECT s, v FROM a${t - 1}
                UNION ALL SELECT s, v FROM l$t)"""
    }.mkString(",\n          ")
    val bwdCtes = (R - 1 to 0 by -1).map { lev =>
      s"""d$lev AS MATERIALIZED (
            SELECT lu.s, lu.v,
                   round(coalesce(sum(lu.sigma / CAST(c.sw AS DOUBLE) * (1 + c.dwv)), 0), 9) AS delta
            FROM l$lev lu
            LEFT JOIN (SELECT lw.s, e.src AS u, lw.sigma AS sw, dw.delta AS dwv
                       FROM edges e JOIN l${lev + 1} lw ON e.dst = lw.v
                       JOIN d${lev + 1} dw ON dw.s = lw.s AND dw.v = lw.v) c
              ON c.s = lu.s AND c.u = lu.v
            GROUP BY 1, 2)"""
    }.mkString(",\n          ")
    val allD = (0 to R).map(l => s"SELECT s, v, delta FROM d$l").mkString("\n            UNION ALL ")
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS MATERIALIZED (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
          srcs AS MATERIALIZED (SELECT n AS s FROM (SELECT DISTINCT src AS n FROM edges)
                ORDER BY md5(CAST(n AS VARCHAR)), n LIMIT $BetweennessK),
          l0 AS MATERIALIZED (SELECT s, s AS v, 1::BIGINT AS sigma FROM srcs),
          a0 AS MATERIALIZED (SELECT s, v FROM l0),
          $fwdCtes,
          d$R AS MATERIALIZED (SELECT s, v, 0.0 AS delta FROM l$R),
          $bwdCtes,
          alld AS ($allD)
        SELECT v, round(sum(delta) / 2, 6) AS betweenness
        FROM alld WHERE s <> v GROUP BY v ORDER BY v"""
  }

  /** Per-(source, vertex) unrolled BFS — the bfsOracle pattern keyed by
    * (s, v); sources are the md5-min vertices, replayed identically.
    * Shared prefix: `d$BfsRounds` is the final (s, v, dist) table —
    * the closeness AND harmonic oracles are two readouts of it. */
  private lazy val closenessCtePrefix: String = {
    val iterCtes = (1 to BfsRounds).map { t =>
      s"""r$t AS MATERIALIZED (SELECT d.s, e.dst AS v, min(d.dist) + 1 AS nd
                FROM d${t - 1} d JOIN edges e ON d.v = e.src GROUP BY 1, 2),
          d$t AS MATERIALIZED (SELECT coalesce(d.s, r.s) AS s, coalesce(d.v, r.v) AS v,
                least(coalesce(d.dist, r.nd), coalesce(r.nd, d.dist)) AS dist
                FROM d${t - 1} d FULL JOIN r$t r ON d.s = r.s AND d.v = r.v)"""
    }.mkString(",\n          ")
    s"""li AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS MATERIALIZED (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
          srcs AS MATERIALIZED (SELECT n AS s FROM (SELECT DISTINCT src AS n FROM edges)
                ORDER BY md5(CAST(n AS VARCHAR)), n LIMIT $ClosenessK),
          d0 AS MATERIALIZED (SELECT s, s AS v, 0::BIGINT AS dist FROM srcs),
          $iterCtes"""
  }

  private lazy val closenessOracle: String =
    s"""WITH $closenessCtePrefix
        SELECT v, count(*) AS n_src, CAST(sum(dist) AS BIGINT) AS sum_dist,
               CASE WHEN sum(dist) = 0 THEN 0.0
                    ELSE round(count(*) / CAST(sum(dist) AS DOUBLE), 6) END AS closeness
        FROM d$BfsRounds GROUP BY v ORDER BY v"""

  private lazy val eccentricityOracle: String =
    s"""WITH $closenessCtePrefix
        SELECT s, CAST(max(dist) AS BIGINT) AS eccentricity,
               count(*) AS n_reached
        FROM d$BfsRounds GROUP BY s ORDER BY s"""

  private lazy val harmonicOracle: String =
    s"""WITH $closenessCtePrefix
        SELECT v, count(*) AS n_reaching,
               round(CAST(sum(CAST(floor(1000000.0 / dist + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0, 6) AS harmonic
        FROM d$BfsRounds WHERE dist > 0 GROUP BY v ORDER BY v"""

  /** Unrolled BFS relaxation rounds (house oracle style: every level
    * referenced twice → MATERIALIZED, or DuckDB's default CTE inlining
    * re-evaluates 2^K times). */
  /** ONE SQL text, BOTH engines (r12 — the q59 recursiveReachSql
    * discipline replacing the unrolled d0..d$BfsRounds generator):
    * WITH RECURSIVE frontier expansion, depth-capped at BfsRounds, a
    * DISTINCT in the recursive member (Spark 4 rejects UNION-distinct
    * recursion, and plain UNION ALL would enumerate WALKS — the
    * per-step DISTINCT bounds each level at |V| rows on this cyclic
    * graph), min(dist) readout = BFS distance. DuckDB replays the
    * identical text verbatim (RecursiveOracleSpec also proves Spark's
    * own execution of this text matches the hand-written delta-
    * iteration loop row for row). */
  private[graft] lazy val bfsOracle: String = {
    val seed = Sources.map(s => s"($s, 0)").mkString(", ")
    s"""WITH RECURSIVE
          li AS (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
          bfs(v, dist) AS (
              SELECT CAST(t.v AS BIGINT), CAST(t.dist AS BIGINT)
              FROM (VALUES $seed) t(v, dist)
            UNION ALL
              SELECT DISTINCT e.dst, b.dist + 1
              FROM bfs b JOIN edges e ON b.v = e.src
              WHERE b.dist < $BfsRounds)
        SELECT v, min(dist) AS dist FROM bfs GROUP BY v ORDER BY v"""
  }

  /** Unrolled k-core peeling rounds — same MATERIALIZED discipline. */
  private lazy val kcoreOracle: String = {
    val iterCtes = (1 to KCoreRounds).map { t =>
      s"""a$t AS MATERIALIZED (SELECT src AS av FROM (
                SELECT src, count(*) AS c FROM e${t - 1} GROUP BY 1) WHERE c >= $KCoreK),
          e$t AS MATERIALIZED (SELECT e.src, e.dst FROM e${t - 1} e
                JOIN a$t x ON e.src = x.av JOIN a$t y ON e.dst = y.av)"""
    }.mkString(",\n          ")
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          e0 AS MATERIALIZED (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
          $iterCtes
        SELECT src AS v, count(*) AS core_degree FROM e$KCoreRounds GROUP BY 1 ORDER BY v"""
  }

  /** Unrolled LPA rounds: votes (neighbor labels + self) → per-(v,lbl)
    * counts → per-v argmax with (count DESC, label ASC) tie-break.
    * Shared CTE prefix: `l$LpaRounds` is the final (v, lbl) table —
    * the modularity oracle builds on the same chain. */
  private lazy val lpaCtePrefix: String = {
    val iterCtes = (1 to LpaRounds).map { k =>
      s"""v$k AS MATERIALIZED (SELECT e.dst AS v, l.lbl FROM l${k - 1} l
                JOIN edges e ON l.v = e.src
              UNION ALL SELECT v, lbl FROM l${k - 1}),
          c$k AS MATERIALIZED (SELECT v, lbl, count(*) AS c FROM v$k GROUP BY 1, 2),
          l$k AS MATERIALIZED (SELECT v, lbl FROM (
                SELECT v, lbl, row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn
                FROM c$k) WHERE rn = 1)"""
    }.mkString(",\n          ")
    s"""li AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS MATERIALIZED (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
          l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lbl FROM edges),
          $iterCtes"""
  }

  private lazy val lpaOracle: String =
    s"""WITH ${lpaCtePrefix},
          sz AS (SELECT lbl AS comm, count(*) AS comm_size FROM l$LpaRounds GROUP BY 1)
        SELECT l.v, l.lbl AS comm, sz.comm_size
        FROM l$LpaRounds l JOIN sz ON l.lbl = sz.comm ORDER BY l.v"""

  /** Same unrolled LPA chain, then the modularity aggregation: one
    * UNDIRECTED edge per li pair (the `li` CTE), endpoint labels from
    * l$LpaRounds, per-community internal-edge / degree-sum / node
    * counts, q_term with operands cast double in the Spark order. */
  private lazy val modularityOracle: String =
    s"""WITH ${lpaCtePrefix},
          m AS (SELECT count(*) AS m FROM li),
          ec AS MATERIALIZED (SELECT ls.lbl AS cs, lp.lbl AS cp FROM li
                JOIN l$LpaRounds ls ON li.s = ls.v
                JOIN l$LpaRounds lp ON li.p = lp.v),
          internal AS (SELECT cs AS comm, count(*) AS internal_edges
                       FROM ec WHERE cs = cp GROUP BY 1),
          degsum AS (SELECT comm, count(*) AS degree_sum FROM (
                       SELECT cs AS comm FROM ec UNION ALL SELECT cp FROM ec)
                     GROUP BY 1),
          nodes AS (SELECT lbl AS comm, count(*) AS n_nodes FROM l$LpaRounds GROUP BY 1)
        SELECT n.comm, n.n_nodes,
               coalesce(i.internal_edges, 0) AS internal_edges,
               coalesce(d.degree_sum, 0) AS degree_sum,
               round((4.0 * m.m::DOUBLE * coalesce(i.internal_edges, 0)::DOUBLE -
                      coalesce(d.degree_sum, 0)::DOUBLE * coalesce(d.degree_sum, 0)::DOUBLE) /
                     (4.0 * m.m::DOUBLE * m.m::DOUBLE), 8) AS q_term
        FROM nodes n LEFT JOIN internal i ON n.comm = i.comm
        LEFT JOIN degsum d ON n.comm = d.comm, m
        ORDER BY n.comm"""

  /** Unrolled HITS half-steps; every level referenced twice →
    * MATERIALIZED. Scalar L1 norms as subqueries (DuckDB evaluates the
    * scalar once per materialized level). */
  private lazy val hitsOracle: String = {
    val iterCtes = (1 to HitsIters).map { k =>
      s"""h${k}0 AS MATERIALIZED (SELECT n.v, coalesce(x.h, 0) AS h FROM nodes n
                LEFT JOIN (SELECT e.src AS v, sum(a.a) AS h
                           FROM a${k - 1} a JOIN edges e ON a.v = e.dst GROUP BY 1) x USING (v)),
          h$k AS MATERIALIZED (SELECT v, h / (SELECT sum(h) FROM h${k}0) AS h FROM h${k}0),
          a${k}0 AS MATERIALIZED (SELECT n.v, coalesce(x.a, 0) AS a FROM nodes n
                LEFT JOIN (SELECT e.dst AS v, sum(h.h) AS a
                           FROM h$k h JOIN edges e ON h.v = e.src GROUP BY 1) x USING (v)),
          a$k AS MATERIALIZED (SELECT v, a / (SELECT sum(a) FROM a${k}0) AS a FROM a${k}0)"""
    }.mkString(",\n          ")
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS MATERIALIZED (SELECT s AS src, p AS dst FROM li),
          nodes AS MATERIALIZED (SELECT DISTINCT v FROM (SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges)),
          a0 AS MATERIALIZED (SELECT v, 1.0 AS a FROM nodes),
          $iterCtes
        SELECT h.v, round(h.h, 8) AS hub, round(a.a, 8) AS auth
        FROM h$HitsIters h JOIN a$HitsIters a USING (v) ORDER BY v"""
  }

  /** Edge reciprocity of the directed order graph (chain + back
    * edges): the fraction of edges whose reverse also exists — "do
    * relationships point both ways", the first-order directed-graph
    * shape statistic. One self-join on the swapped key; exact counts,
    * one division. A back edge k→head is reciprocated exactly when k
    * is the run head's immediate successor, so the measured value has
    * a closed-form expectation the spec sanity-bounds. */
  def graphReciprocity(spark: SparkSession, dir: String): DataFrame = {
    val e = sccEdges(spark, dir).distinct().memoized()
    val recip = e.as("x").join(e.as("y"),
      col("x.src") === col("y.dst") && col("x.dst") === col("y.src"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_recip")))
      .select(col("n_edges"), col("n_recip"),
        round(col("n_recip") / col("n_edges"), 6).as("reciprocity"))
  }

  private lazy val reciprocityOracle: String =
    s"""WITH $sccEdgeCtes,
          r AS (SELECT count(*) AS n_recip
                FROM edges x JOIN edges y ON x.src = y.dst AND x.dst = y.src),
          t AS (SELECT count(*) AS n_edges FROM edges)
        SELECT t.n_edges, r.n_recip,
               round(r.n_recip / CAST(t.n_edges AS DOUBLE), 6) AS reciprocity
        FROM t, r"""

  /** Component-size histogram — the readout over graph_components'
    * labels ("one giant component or a shattered graph?"): sizes from
    * one count per label, then the tiny size→frequency fold. Shares
    * the verified CC chain; shuffle ∝ |V| then ∝ distinct sizes. */
  def graphComponentSizes(spark: SparkSession, dir: String): DataFrame =
    graft.api.GraftOps.connectedComponentsSym(
        persistedSymEdges(spark, dir).select("src", "dst"), CcIters)
      .groupBy("comp").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_components"))
      .orderBy("sz")

  private lazy val componentSizesOracle: String =
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS MATERIALIZED (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
          l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS comp FROM edges),
          ${ccUnrolledCtes(CcIters)}
        SELECT sz, count(*)::BIGINT AS n_components FROM (
          SELECT comp, count(*)::BIGINT AS sz FROM l$CcIters GROUP BY 1)
        GROUP BY 1 ORDER BY sz"""

  /** Rich-club coefficient φ(k) over the symmetric supplier↔part
    * graph — "how densely do the hubs talk to EACH OTHER": for each
    * degree threshold k, φ(k) = 2·E_k / (N_k·(N_k−1)) where N_k
    * counts nodes of degree > k and E_k the edges between them
    * (Colizza et al. 2006). Computed with NO per-k scan: one
    * histogram over each edge's MIN endpoint degree (an edge survives
    * threshold k iff min(d_u, d_v) > k) and one over node degrees;
    * the log-spaced k-spine (k = 2^0..2^11, covering the degree
    * range at any SF) joins both tiny histograms by a conditional
    * sum. All integer until the single φ division per row.
    * Scale: one |E| join against the |V| degree table (the edge
    * checkpoint already carries the src degree — only the dst side
    * joins), then everything is degree-distribution-sized. */
  val RichClubLogMax = 11 // k spine = 2^0 .. 2^11, spans both SFs' degree ranges
  def graphRichClub(spark: SparkSession, dir: String): DataFrame = {
    val e = persistedSymEdges(spark, dir)
    val deg = e.select(col("src"), col("d")).distinct()
    val mHist = e
      .join(deg.select(col("src").as("dst"), col("d").as("d2")), "dst")
      .select(least(col("d"), col("d2")).as("m"))
      .groupBy("m").agg(count(lit(1)).as("ne2"))
    val nHist = deg.groupBy("d").agg(count(lit(1)).as("nn"))
    val spine = spark.range(0, RichClubLogMax + 1)
      .select(expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))").as("k"))
    val nk = spine.crossJoin(broadcast(nHist))
      .groupBy("k").agg(sum(when(col("d") > col("k"), col("nn")).otherwise(0L)).as("n_k"))
    val ek = spine.crossJoin(broadcast(mHist))
      .groupBy("k").agg(sum(when(col("m") > col("k"), col("ne2")).otherwise(0L)).as("e2_k"))
    nk.join(ek, "k")
      .select(col("k"), col("n_k"), expr("e2_k div 2").as("e_k"),
        expr("""CASE WHEN n_k < 2 THEN 0.0
                ELSE round(CAST(e2_k AS DOUBLE) / (CAST(n_k AS DOUBLE) * (n_k - 1)), 6) END""")
          .as("phi"))
      .orderBy("k")
  }

  private lazy val richClubOracle: String =
    s"""WITH li AS (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
          deg AS (SELECT src, count(*)::BIGINT AS d FROM edges GROUP BY 1),
          m AS (SELECT least(a.d, b.d) AS m
                FROM edges e JOIN deg a ON e.src = a.src JOIN deg b ON e.dst = b.src),
          mh AS (SELECT m, count(*)::BIGINT AS ne2 FROM m GROUP BY 1),
          nh AS (SELECT d, count(*)::BIGINT AS nn FROM deg GROUP BY 1),
          ks AS (SELECT (1::BIGINT << j) AS k
                 FROM (SELECT unnest(generate_series(0, $RichClubLogMax)) AS j)),
          nk AS (SELECT ks.k, sum(CASE WHEN nh.d > ks.k THEN nh.nn ELSE 0 END)::BIGINT AS n_k
                 FROM ks, nh GROUP BY 1),
          ek AS (SELECT ks.k, sum(CASE WHEN mh.m > ks.k THEN mh.ne2 ELSE 0 END)::BIGINT AS e2_k
                 FROM ks, mh GROUP BY 1)
        SELECT CAST(nk.k AS BIGINT) AS k, nk.n_k, CAST(ek.e2_k // 2 AS BIGINT) AS e_k,
               CASE WHEN nk.n_k < 2 THEN 0.0
                    ELSE round(CAST(ek.e2_k AS DOUBLE) / (CAST(nk.n_k AS DOUBLE) * (nk.n_k - 1)), 6) END AS phi
        FROM nk JOIN ek ON nk.k = ek.k ORDER BY k"""

  /** Average-neighbor-degree curve k_nn(k) (Pastor-Satorras et al.) —
    * the assortativity CURVE behind graph_assortativity's scalar: for
    * each degree k, the mean degree of the neighbors of degree-k
    * nodes. One division total per row: k_nn(k) =
    * Σ_{v: deg v = k} Σ_{u∈N(v)} deg(u) / (k·n_k) — every v of
    * degree k contributes exactly k neighbor terms, so the
    * denominator is exact integers and the numerator one |E| join
    * against the degree table (the edge checkpoint already carries
    * the src degree; only the dst side joins). Rising curve =
    * assortative, falling = hubs prefer leaves. */
  def graphKnnCurve(spark: SparkSession, dir: String): DataFrame = {
    val e = persistedSymEdges(spark, dir)
    val deg = e.select(col("src"), col("d")).distinct()
    val nk = deg.groupBy("d").agg(count(lit(1)).as("n_k"))
    e.join(deg.select(col("src").as("dst"), col("d").as("d2")), "dst")
      .groupBy(col("d").as("k"))
      .agg(sum(col("d2")).as("sum_nbr_deg"))
      .join(nk.select(col("d").as("k"), col("n_k")), "k")
      .select(col("k"), col("n_k"), col("sum_nbr_deg"),
        round(col("sum_nbr_deg").cast("double") /
          (col("k").cast("double") * col("n_k").cast("double")), 6).as("knn"))
      .orderBy("k")
  }

  private lazy val knnCurveOracle: String =
    s"""WITH li AS (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
          deg AS (SELECT src, count(*)::BIGINT AS d FROM edges GROUP BY 1),
          nk AS (SELECT d, count(*)::BIGINT AS n_k FROM deg GROUP BY 1),
          nbr AS (SELECT a.d AS k, CAST(sum(b.d) AS BIGINT) AS sum_nbr_deg
                  FROM edges e JOIN deg a ON e.src = a.src JOIN deg b ON e.dst = b.src
                  GROUP BY 1)
        SELECT n.k, nk.n_k, n.sum_nbr_deg,
               round(CAST(n.sum_nbr_deg AS DOUBLE) /
                     (CAST(n.k AS DOUBLE) * CAST(nk.n_k AS DOUBLE)), 6) AS knn
        FROM nbr n JOIN nk ON n.k = nk.d ORDER BY n.k"""

  /** Log₂-binned degree histogram of the symmetric supplier↔part
    * graph — the power-law diagnostic read before choosing hub
    * mitigations (salting thresholds, caps). The bin index is the
    * BINARY LENGTH of the integer degree minus one (length(bin(d))−1
    * ≡ ⌊log₂ d⌋ with NO libm call — exact at every power-of-two
    * boundary where a float log would flip). One degree aggregate +
    * one tiny groupBy. */
  def graphDegreeHist(spark: SparkSession, dir: String): DataFrame = {
    val fwd = liPairs(spark, dir).select(col("l_suppkey").as("src"),
      (col("l_partkey") + PartOffset).as("dst"))
    val sym = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
    sym.groupBy("src").agg(count(lit(1)).as("d"))
      .withColumn("bin", (length(expr("bin(d)")) - 1).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_nodes"), min(col("d")).as("min_deg"), max(col("d")).as("max_deg"))
      .withColumn("bin_lo", expr("CAST(pow(2, bin) AS BIGINT)"))
      .select(col("bin"), col("bin_lo"), col("n_nodes"), col("min_deg"), col("max_deg"))
      .orderBy("bin")
  }

  private lazy val degreeHistOracle: String =
    s"""WITH li AS (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
          deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
          binned AS (SELECT d, length(bin(d)) - 1 AS bin FROM deg)
        SELECT CAST(bin AS BIGINT) AS bin,
               CAST(pow(2, bin) AS BIGINT) AS bin_lo,
               count(*) AS n_nodes, min(d) AS min_deg, max(d) AS max_deg
        FROM binned GROUP BY bin ORDER BY bin"""

  /** Adamic–Adar link prediction between suppliers over shared parts
    * (GraftOps.adamicAdar): the weighted sibling of graph_jaccard —
    * shared RARE parts score higher than shared hub parts. Same capped
    * wedge plan; the score sums exact integer nano-weights so the
    * top-N cut is decided on exact integers. */
  def graphAdamicAdar(spark: SparkSession, dir: String): DataFrame =
    graft.api.GraftOps.adamicAdar(
      liPairs(spark, dir), "l_partkey", "l_suppkey", JaccardTopN, JaccardPartCap)

  private lazy val adamicAdarOracle: String =
    s"""WITH li0 AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
          li AS MATERIALIZED (SELECT s, p FROM (
                SELECT s, p, row_number() OVER (PARTITION BY p
                  ORDER BY md5(CAST(p AS VARCHAR) || '_' || CAST(s AS VARCHAR)), s) AS rk
                FROM li0) WHERE rk <= $JaccardPartCap),
          w AS MATERIALIZED (SELECT p, CAST(floor(1000000000.0 / ln(count(*))) AS BIGINT) AS wm
               FROM li GROUP BY 1),
          pairs AS (SELECT x.s AS a, y.s AS b, count(*) AS common,
                           sum(w.wm)::BIGINT AS aa_nano
                    FROM li x JOIN li y ON x.p = y.p AND x.s < y.s
                    JOIN w ON w.p = x.p
                    GROUP BY 1, 2)
        SELECT a, b, common, aa_nano, round(aa_nano / 1e9, 6) AS adamic_adar
        FROM pairs ORDER BY aa_nano DESC, a, b LIMIT $JaccardTopN"""

  private lazy val jaccardOracle: String =
    s"""WITH li0 AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
          li AS MATERIALIZED (SELECT s, p FROM (
                SELECT s, p, row_number() OVER (PARTITION BY p
                  ORDER BY md5(CAST(p AS VARCHAR) || '_' || CAST(s AS VARCHAR)), s) AS rk
                FROM li0) WHERE rk <= $JaccardPartCap),
          deg AS MATERIALIZED (SELECT s, count(*) AS d FROM li GROUP BY 1),
          pairs AS (SELECT x.s AS a, y.s AS b, count(*) AS common
                    FROM li x JOIN li y ON x.p = y.p AND x.s < y.s GROUP BY 1, 2),
          j AS (SELECT a, b, common,
                       round(common / (da.d + db.d - common), 6) AS jaccard
                FROM pairs JOIN deg da ON pairs.a = da.s JOIN deg db ON pairs.b = db.s)
        SELECT a, b, common, jaccard FROM j
        ORDER BY jaccard DESC, a, b LIMIT $JaccardTopN"""

  /** Wedge-sampled triangle estimate on the co-purchase graph
    * (GraftOps.triangleCountWedge, p = 1%): the DOULION complement —
    * unbiased over WEDGES, so hub skew doesn't inflate variance. */
  val WedgeSampleP = 0.01
  def graphTrianglesWedge(spark: SparkSession, dir: String): DataFrame =
    graft.api.GraftOps.triangleCountWedge(coPurchaseEdges(spark, dir), "a", "b", WedgeSampleP)

  /** Oracle mirrors the DEGREE-ORDERED orientation exactly (row-value
    * (d, id) comparison — the sample is orientation-dependent, unlike
    * the exact count), then replays the md5 e2-EDGE sample: the wedge's
    * higher-ordered edge is hashed, thinning the join's build side
    * before pairs form — identical rule to triangleCountWedge. */
  private lazy val wedgeOracle: String = {
    val cut = (WedgeSampleP * 10000).toInt
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          und AS MATERIALIZED (SELECT DISTINCT x.pk AS a, y.pk AS b
                    FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
          deg AS MATERIALIZED (SELECT n, count(*) AS d FROM (
                    SELECT a AS n FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
          orx AS MATERIALIZED (
            SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS src,
                   CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS dst,
                   CASE WHEN (da.d, u.a) < (db.d, u.b) THEN db.d ELSE da.d END AS dd
            FROM und u JOIN deg da ON u.a = da.n JOIN deg db ON u.b = db.n),
          tot AS (SELECT coalesce(sum(od * (od - 1) // 2), 0)::BIGINT AS n_wedges FROM (
                    SELECT src, count(*) AS od FROM orx GROUP BY 1)),
          e2s AS MATERIALIZED (SELECT src, dst, dd FROM orx
            WHERE ('0x' || substr(md5('w_' || CAST(src AS VARCHAR) || '_' ||
                     CAST(dst AS VARCHAR)), 1, 8))::BIGINT % 10000 < $cut),
          samp AS MATERIALIZED (
            SELECT e1.dst AS u, e2.dst AS w
            FROM orx e1 JOIN e2s e2 ON e1.src = e2.src
              AND (e1.dd, e1.dst) < (e2.dd, e2.dst)),
          closed AS (SELECT count(*) AS n_closed FROM samp
                     WHERE EXISTS (SELECT 1 FROM orx o WHERE o.src = samp.u AND o.dst = samp.w)),
          ns AS (SELECT count(*) AS n_sampled_wedges FROM samp)
        SELECT round(closed.n_closed / $WedgeSampleP)::BIGINT AS n_triangles_est,
               closed.n_closed AS n_closed_in_sample,
               ns.n_sampled_wedges, tot.n_wedges
        FROM closed, ns, tot"""
  }

  /** Deterministic random-walk corpus (the DeepWalk/node2vec sampling
    * stage, Perozzi et al. 2014): one WalkLen-step walk per node over
    * the symmetric supplier↔part graph. The "random" choice at (walk,
    * step, node) is the md5 hash of that triple mod the node's degree —
    * fully reproducible across engines and restarts (the property a
    * training pipeline needs for resumable corpus generation), indexing
    * into the node's dst-sorted neighbor list.
    *
    * Scale: neighbor indexing is a row_number window partitioned by src
    * — partition-local on the src-partitioned edge checkpoint, paid once; each
    * step is TWO |walks|-sized equi-joins (degree lookup, then (src,
    * idx) edge lookup) — never an explode over neighborhoods, so hub
    * nodes cost the same as leaves. Per-step state = |walks| rows. */
  val WalkLen = 8
  def graphWalks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = persistedSymEdges(spark, dir) // (src, dst, d)
    val w = Window.partitionBy(col("src")).orderBy(col("dst"))
    val idxEdges = edges
      .withColumn("idx", row_number().over(w).cast("long") - 1)
      .memoized() // consumed WalkLen times + the degree projection
    val deg = idxEdges.select(col("src"), col("d")).distinct()
    var cur = deg.select(col("src").as("walk_id"), col("src").as("node"))
    var acc = cur.withColumn("step", lit(0L))
    for (s <- 1 to WalkLen) {
      val withPick = cur.join(deg, cur("node") === deg("src"))
        .select(col("walk_id"), col("node"),
          (graft.functions.TextFns.hash32(concat_ws("_",
            col("walk_id"), lit(s), col("node"))) % col("d")).as("pick"))
      val stepped = withPick.join(idxEdges,
          withPick("node") === idxEdges("src") && withPick("pick") === idxEdges("idx"))
        .select(col("walk_id"), col("dst").as("node"))
      cur = stepped
      acc = acc.unionAll(stepped.withColumn("step", lit(s.toLong)))
    }
    acc.select(col("walk_id"), col("step"), col("node")).orderBy("walk_id", "step")
  }

  /** Unrolled-step walk oracle: same md5 pick rule, same dst-sorted
    * neighbor index. */
  private lazy val walksOracle: String = {
    val stepCtes = (1 to WalkLen).map { s =>
      s"""w$s AS MATERIALIZED (
            SELECT w.walk_id, e.dst AS node
            FROM w${s - 1} w
            JOIN deg g ON w.node = g.src
            JOIN ie e ON e.src = w.node
             AND e.idx = ('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) || '_$s' || '_' ||
                   CAST(w.node AS VARCHAR)), 1, 8))::BIGINT % g.d)"""
    }.mkString(",\n          ")
    val unions = (0 to WalkLen).map(s =>
      s"SELECT walk_id, $s::BIGINT AS step, node FROM w$s").mkString("\n          UNION ALL ")
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
          edges AS MATERIALIZED (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
          deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY 1),
          ie AS MATERIALIZED (SELECT src, dst,
                 row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx FROM edges),
          w0 AS MATERIALIZED (SELECT src AS walk_id, src AS node FROM deg),
          $stepCtes
        SELECT * FROM ($unions) ORDER BY walk_id, step"""
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("graph_walks", graphWalks, Some(walksOracle)),
    QueryDef("pagerank", pagerank, Some(oracle)),
    QueryDef("pagerank_topk", pagerankTopk, Some(
      s"""WITH pr AS ($oracle)
          SELECT v, rank FROM pr ORDER BY rank DESC, v LIMIT 20""")),
    QueryDef("pagerank_directed", pagerankDirected, Some(directedOracle)),
    QueryDef("pagerank_weighted", pagerankWeighted, Some(weightedOracle)),
    QueryDef("pagerank_incremental", pagerankIncremental, Some(incrementalOracle)),
    QueryDef("graph_degree", graphDegree, Some(
      s"""WITH li AS (SELECT DISTINCT l_suppkey AS s, l_partkey + $PartOffset AS p FROM lineitem),
           edges AS (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
           deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY 1)
          SELECT degree, count(*) AS n_nodes FROM deg GROUP BY 1 ORDER BY degree""")),
    QueryDef("graph_hits", graphHits, Some(hitsOracle)),
    QueryDef("graph_lpa", graphLpa, Some(lpaOracle)),
    QueryDef("graph_louvain", graphLouvain, Some(louvainOracle)),
    QueryDef("graph_louvain_q", graphLouvainQ, Some(louvainQOracle)),
    QueryDef("graph_louvain_refined", graphLouvainRefined, Some(louvainRefinedOracle)),
    QueryDef("graph_louvain_incremental", graphLouvainIncremental, Some(louvainIncrementalOracle)),
    QueryDef("graph_modularity", graphModularity, Some(modularityOracle)),
    QueryDef("graph_bfs", graphBfs, Some(bfsOracle)),
    QueryDef("graph_anf", graphAnf, Some(anfOracle)),
    QueryDef("graph_anf_diameter", graphAnfDiameter, Some(
      s"""WITH curve AS ($anfOracle)
          SELECT min(hop) AS eff_diameter, max(nf_total) AS nf_total
          FROM curve, (SELECT nf_est AS nf_total FROM curve WHERE hop = $BfsRounds)
          WHERE nf_est >= $EffDiamAlpha * nf_total""")),
    QueryDef("graph_sssp", graphSssp, Some(ssspOracle)),
    QueryDef("graph_mst", graphMst, Some(mstOracle)),
    QueryDef("graph_diameter", graphDiameter, Some(diameterOracle)),
    QueryDef("graph_components_incremental", graphComponentsIncremental,
      Some(ccIncrementalOracle)),
    QueryDef("graph_kcore", graphKCore, Some(kcoreOracle)),
    QueryDef("graph_coreness", graphCoreness, Some(corenessOracle)),
    QueryDef("graph_assortativity", graphAssortativity, Some(assortativityOracle)),
    QueryDef("graph_butterflies", graphButterflies, Some(butterfliesOracle)),
    QueryDef("graph_jaccard", graphJaccard, Some(jaccardOracle)),
    QueryDef("graph_adamic_adar", graphAdamicAdar, Some(adamicAdarOracle)),
    QueryDef("graph_reciprocity", graphReciprocity, Some(reciprocityOracle)),
    QueryDef("graph_degree_hist", graphDegreeHist, Some(degreeHistOracle)),
    QueryDef("graph_rich_club", graphRichClub, Some(richClubOracle)),
    QueryDef("graph_knn_curve", graphKnnCurve, Some(knnCurveOracle)),
    QueryDef("graph_scc", graphScc, Some(sccOracle)),
    QueryDef("graph_closeness", graphCloseness, Some(closenessOracle)),
    QueryDef("graph_harmonic", graphHarmonic, Some(harmonicOracle)),
    QueryDef("graph_eccentricity", graphEccentricity, Some(eccentricityOracle)),
    QueryDef("graph_betweenness", graphBetweenness, Some(betweennessOracle)),
    QueryDef("graph_scc_condensation", graphSccCondensation, Some(sccCondensationOracle)),
    QueryDef("graph_topo_levels", graphTopoLevels, Some(topoOracle)),
    QueryDef("graph_components", graphComponents, Some(ccOracle)),
    QueryDef("graph_component_sizes", graphComponentSizes, Some(componentSizesOracle)),
    QueryDef("graph_components_logn", graphComponentsLogN, Some(ccOracle)),
    QueryDef("graph_components_auto", graphComponentsAuto, Some(ccOracle)),
    QueryDef("graph_triangles", graphTriangles, Some(
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
           edges AS (SELECT DISTINCT x.pk AS a, y.pk AS b
                     FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
           tri AS (SELECT count(*) AS n_triangles
                   FROM edges e1 JOIN edges e2 ON e1.b = e2.a
                   WHERE EXISTS (SELECT 1 FROM edges e3 WHERE e3.a = e1.a AND e3.b = e2.b))
          SELECT tri.n_triangles, (SELECT count(*) FROM edges) AS n_edges FROM tri""")),
    QueryDef("graph_triangles_wedge", graphTrianglesWedge, Some(wedgeOracle)),
    QueryDef("graph_clustering_coeff", graphClusteringCoeff, Some(clusteringOracle)),
    QueryDef("graph_triangles_approx", graphTrianglesApprox, Some {
      val cut = (TriSampleP * 10000).toInt
      val p3 = TriSampleP * TriSampleP * TriSampleP
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
           all_e AS (SELECT DISTINCT x.pk AS a, y.pk AS b
                     FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk),
           edges AS MATERIALIZED (SELECT a, b FROM all_e
                     WHERE ('0x' || substr(md5(CAST(a AS VARCHAR) || '_' || CAST(b AS VARCHAR)), 1, 8))::BIGINT
                           % 10000 < $cut),
           tri AS (SELECT count(*) AS n
                   FROM edges e1 JOIN edges e2 ON e1.b = e2.a
                   WHERE EXISTS (SELECT 1 FROM edges e3 WHERE e3.a = e1.a AND e3.b = e2.b))
          SELECT CAST(round(tri.n / $p3) AS BIGINT) AS n_triangles_est,
                 tri.n AS n_in_sample,
                 (SELECT count(*) FROM edges) AS n_sampled_edges
          FROM tri"""
    }),
  )
}
