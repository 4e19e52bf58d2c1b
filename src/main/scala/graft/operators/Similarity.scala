package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.api.Memo
import graft.api.Memo.MemoOps
import graft.sources.Tables

/** Similarity search over the `embeddings` table (array<float>[64]).
  *
  * - `sim_cosine_topk`: brute-force exact top-k — the baseline. The dot
  *   product is a codegen'd `aggregate(zip_with(...))` fold (no UDF);
  *   query vectors are broadcast so the big side streams with zero
  *   shuffle until the per-query top-k.
  * - `sim_ann_lsh`: random-hyperplane LSH (signs of deterministic
  *   pseudo-random hyperplanes → sign-bit bucket, L tables). Candidates
  *   only within the query's buckets — the 100 TB path: bucket join
  *   instead of a full cross product. Oracle-exact (DuckDB replays the
  *   inlined hyperplanes); ApiSpec additionally measures recall against
  *   the exact baseline.
  */
object Similarity {
  val NumQueries = 10
  val TopK = 5

  // trained spherical k-means centroids memoized per (session, dir):
  // ml_kmeans and sim_ann_ivf_kmeans share one Lloyd training instead
  // of re-running it (the Graph.pagerank memo pattern)
  private def trainedCents(spark: SparkSession, dir: String): DataFrame =
    Memo.keyed(spark, dir, "similarity.kmeans")(
      graft.api.GraftOps.kmeansCosine(
        Tables.embeddings(spark, dir), "vec_id", "embedding", KmK, KmIters)
        .memoized())
  // multi-table LSH: L tables of b sign-bits each; a candidate needs to
  // collide in ANY table, so top-1 recall ≈ 1-(1-p^b)^L with p the
  // per-plane agreement probability — 8×6 puts useful recall at the
  // cos ≈ 0.4–0.5 neighbors this corpus actually has
  val NumTables = 8
  val BitsPerTable = 6

  private def emb(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
  }

  /** The corpus side of the LSH tiers: ONE scan of `(vec_id, <v>)`,
    * its [[NumTables]] sign-bit buckets exploded to one
    * (vec_id, bj, bv, __p) row per table, `__p` being the row's buckets
    * in the tables before bj ([[graft.api.GraftOps.bandPrefix]]). */
  private[operators] def corpusBuckets(e0: DataFrame, v: String = "v",
                                       dims: Int = 64): DataFrame =
    e0.select(col("vec_id"), array((0 until NumTables).map(t =>
        expr(s"lsh_bucket($v, $BitsPerTable, $dims, $t)")): _*).as("__b"))
      .select(col("vec_id"), col("__b"), posexplode(col("__b")).as(Seq("bj", "bv")))
      .select(col("vec_id"), col("bj"), col("bv"),
        graft.api.GraftOps.bandPrefix("__b").as("__p"))

  /** The query side of the ANN tiers: per (qid, table) the base bucket
    * plus `nprobe` flipped buckets (`lsh_probes`; nprobe = 0 is the base
    * bucket alone), one (qid, bj, bv, __q) row each, from ONE projection
    * of `(qid, v)`. `__q` holds the query's probe sets of the tables
    * before bj. */
  private def probeRows(q: DataFrame, dims: Int, nprobe: Int): DataFrame =
    q.select(col("qid"), array((0 until NumTables).map(t =>
        expr(s"lsh_probes(v, $BitsPerTable, $dims, $t, $nprobe)")): _*).as("__ps"))
      .select(col("qid"), col("__ps"), posexplode(col("__ps")).as(Seq("bj", "probes")))
      .select(col("qid"), col("bj"), explode(col("probes")).as("bv"),
        graft.api.GraftOps.bandPrefix("__ps").as("__q"))

  /** (qid, vec_id) candidates colliding in any table: one equi-join of
    * the corpus buckets against the broadcast query probes on (bj, bv),
    * whatever the table count. A row is kept only at the pair's FIRST
    * matching table (`bands_disjoint`: no earlier table whose probe set
    * holds the corpus bucket), so each candidate appears once with no
    * distinct: a query's probe set of one table holds distinct buckets,
    * so one corpus row meets at most one probe row per table. */
  private def candidateIds(corpus: DataFrame, queries: DataFrame): DataFrame =
    corpus.join(broadcast(queries), Seq("bj", "bv"))
      .filter(col("vec_id") =!= col("qid") && expr("bands_disjoint(__p, __q)"))
      .select(col("qid"), col("vec_id"))

  /** Exact cosine top-k for the first NumQueries vector ids. */
  def cosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.embeddings(spark, dir)
    graft.api.GraftOps.cosineTopK(all, "vec_id", "embedding",
        queries = all.filter(col("vec_id") < NumQueries), k = TopK)
      .orderBy("qid", "rnk")
  }

  /** Exact maximum-inner-product top-k for the first NumQueries ids —
    * the recommender-score ranking cosine can't answer (see
    * [[graft.api.GraftOps.mipsTopK]] for the semantics and the
    * norm-augmentation ANN path). The corpus ships UNIT vectors
    * (measured ‖x‖ ∈ [1−1e-7, 1+1e-7]), under which MIPS degenerates
    * to cosine — so the registered entry restores the structure MIPS
    * exists for: a deterministic per-ITEM popularity norm
    * w = 1 + (vec_id mod 7)/10 scales each item's components before
    * the dot (queries stay unscaled — scaling a query never reorders
    * its own ranking). Round12Spec proves the reweighted ranking
    * genuinely diverges from cosine's. */
  def simMips(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.embeddings(spark, dir)
    val items = raw.select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(x AS DOUBLE) * (1.0 + CAST(vec_id % 7 AS DOUBLE) / 10.0))")
      .as("embedding"))
    graft.api.GraftOps.mipsTopK(items, "vec_id", "embedding",
        queries = raw.filter(col("vec_id") < NumQueries), k = TopK)
      .orderBy("qid", "rnk")
  }

  /** ANN for MAXIMUM INNER PRODUCT via the norm-augmentation reduction
    * (Bachrach et al. RecSys'14; Shrivastava & Li NeurIPS'14) — the
    * scale path [[simMips]]'s scaladoc promises, registered (r13):
    * every ITEM appends sqrt(M² − ‖x‖²) (M = [[MipsAugBound]], a
    * documented constant ≥ max ‖x‖ — the popularity weight caps item
    * norms at 1.6·(1+1e-7) on the unit-norm corpus) and every QUERY
    * appends 0, so ip(q′,x′) = ip(q,x) while ‖x′‖ = M is constant —
    * for a fixed query the augmented-space COSINE ordering IS the
    * MIPS ordering, and the exact sign-bit LSH tier applies
    * unchanged over the 65-dim augmented vectors. The augmentation
    * COMPRESSES angles (the documented Simple-LSH weakness: the
    * appended component is large for low-norm items), so the query
    * side probes the full Hamming-1 shell per table — the
    * [[annLshMultiprobeWide]] lever, still zero extra corpus hash /
    * shuffle — and M is the TIGHT bound 1.61 (max ‖x‖ =
    * 1.6·(1+1e-7) on the unit-norm corpus), which keeps the appended
    * component as small as correctness allows. Candidates collide in
    * ANY probed bucket of any of the [[NumTables]] tables; the
    * re-rank is the EXACT raw dot product on the original scaled
    * item vectors, so every surfaced (qid, neighbor, ip) row agrees
    * with [[simMips]]. Recall@5 vs the exact MIPS ground truth is
    * REGISTERED as [[simRecallReportMips]].
    * Scale: identical to sim_ann_lsh_multiprobe — the corpus is
    * hashed once per table (shuffle ∝ tables × docs, never docs²),
    * only the |Q|-row query side fans out 1+6 probes per table
    * (still broadcast), ranking through the bounded-heap aggregate.
    * sqrt is IEEE-correctly-rounded on both engines and dot products
    * evaluate in fixed index order, so the full augmentation +
    * bucketing + probe + re-rank chain replays in DuckDB
    * bit-for-bit. */
  val MipsAugBound = 1.61
  val MipsAugDim = 65
  def annMips(spark: SparkSession, dir: String): DataFrame = {
    val e0 = emb(spark, dir)
    val items = Tables.embeddings(spark, dir).select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(x AS DOUBLE) * (1.0 + CAST(vec_id % 7 AS DOUBLE) / 10.0))")
      .as("v"))
    val itemsAug = items.withColumn("av",
      expr(s"concat(v, array(sqrt($MipsAugBound * $MipsAugBound - dot_product(v, v))))"))
    val qAug = e0.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        expr("concat(v, array(CAST(0.0 AS DOUBLE)))").as("aqv"))
    val qp = probeRows(qAug.select(col("qid"), col("aqv").as("v")),
      MipsAugDim, MultiProbeWide)
    val ids = candidateIds(corpusBuckets(itemsAug, "av", MipsAugDim), qp)
    val scored = ids
      .join(broadcast(qAug.select(col("qid"), col("qv"))), Seq("qid"))
      .join(items, Seq("vec_id"))
      .select(col("qid"), expr("dot_product(qv, v)").as("ip"), col("vec_id"))
    graft.api.GraftOps.topKPerGroupAgg(scored, part = "qid",
        ordCol = "ip", payloadCol = "vec_id", k = TopK)
      .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"),
        round(col("ip"), 6).as("ip"))
      .orderBy("qid", "rnk")
  }

  /** MMR-diversified top-k retrieval (Carbonell & Goldstein 1998) —
    * the re-ranking every RAG/search pipeline runs between ANN
    * recall and the user: from the exact cosine top-[[MmrPool]]
    * candidate pool, greedily pick [[TopK]] results maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked, so
    * near-duplicate neighbors stop crowding the list. Every greedy
    * round is an UNROLLED dataframe stage (anti-join remaining →
    * max-sim join against the chosen set → per-query argmax with the
    * (score desc, neighbor) tie-break); relevance and pairwise sims
    * are 6-dp-rounded BEFORE scoring and the score is one shared
    * fixed-order expression text, so the whole greedy trajectory
    * replays bit-for-bit in DuckDB.
    * Scale: the pool is |queries|×[[MmrPool]] and the pair table
    * |queries|×[[MmrPool]]² — both bounded by the QUERY batch, never
    * the corpus; the only corpus-sized work is the candidate
    * generation it shares with sim_cosine_topk (at 100 TB you'd feed
    * the pool from the ANN tiers instead — same re-rank shape). */
  val MmrPool = 20
  val MmrScore = "round(0.7 * rel - 0.3 * ms, 6)"
  def simMmr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Tables.embeddings(spark, dir)
    val pool = graft.api.GraftOps.cosineTopK(all, "vec_id", "embedding",
        all.filter(col("vec_id") < NumQueries), MmrPool)
      .select(col("qid"), col("neighbor"), col("cos").as("rel"))
      .coalesce(1).memoized() // |queries|x20 rows, every round reads it
    val vecs = all.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val pv = pool.join(vecs, col("neighbor") === col("vec_id"))
      .select(col("qid"), col("neighbor"), col("v"))
    val pairs = pv.as("a").join(pv.as("b"),
        col("a.qid") === col("b.qid") && col("a.neighbor") =!= col("b.neighbor"))
      .select(col("a.qid").as("qid"), col("a.neighbor").as("x"),
        col("b.neighbor").as("y"),
        round(expr("cosine_sim(a.v, b.v)"), 6).as("sim"))
      .coalesce(1).memoized() // |queries|x20^2 rows, reused every round
    val pairsR = pairs.select(col("qid").as("pq"), col("x").as("px"),
      col("y").as("py"), col("sim"))
    val w1 = Window.partitionBy("qid").orderBy(desc("rel"), asc("neighbor"))
    var out = pool.withColumn("r", row_number().over(w1)).filter(col("r") === 1)
      .select(col("qid"), col("neighbor"), lit(1L).as("rnk"),
        col("rel").as("score"))
      .coalesce(1).memoized()
    for (k <- 2 to TopK) {
      // fresh aliases per use: renames mint new attribute ids, keeping
      // the repeated chosen-set references unambiguous to the analyzer
      val chosenAnti = out.select(col("qid").as("aq"), col("neighbor").as("ay"))
      val chosenSim = out.select(col("qid").as("cq"), col("neighbor").as("cy"))
      val remaining = pool.join(chosenAnti,
        col("qid") === col("aq") && col("neighbor") === col("ay"), "left_anti")
      val ms = remaining
        .join(pairsR, col("qid") === col("pq") && col("neighbor") === col("px"))
        .join(chosenSim, col("pq") === col("cq") && col("py") === col("cy"))
        .groupBy("qid", "neighbor")
        .agg(first(col("rel")).as("rel"), max(col("sim")).as("ms"))
      val wk = Window.partitionBy("qid").orderBy(desc("score"), asc("neighbor"))
      val sel = ms.withColumn("score", expr(MmrScore))
        .withColumn("r", row_number().over(wk)).filter(col("r") === 1)
        .select(col("qid"), col("neighbor"), lit(k.toLong).as("rnk"), col("score"))
        // truncate: round k+1's plan references this round's pick (and the
        // final union references every round) — without the cut each round
        // would re-execute all earlier rounds' join/window chains
        .coalesce(1).memoized()
      out = out.unionAll(sel)
    }
    out.orderBy("qid", "rnk")
  }

  private val mmrOracle: String = {
    val rounds = (2 to TopK).map { k =>
      val prev = (1 until k).map(i => s"SELECT qid, neighbor FROM sel$i").mkString(" UNION ALL ")
      s"""ch$k AS ($prev),
          sc$k AS (SELECT p.qid, p.neighbor, p.rel AS rel, max(pr.sim) AS ms
                FROM pool p
                JOIN pairs pr ON pr.qid = p.qid AND pr.x = p.neighbor
                JOIN ch$k c ON c.qid = pr.qid AND c.neighbor = pr.y
                WHERE NOT EXISTS (SELECT 1 FROM ch$k cc
                                  WHERE cc.qid = p.qid AND cc.neighbor = p.neighbor)
                GROUP BY 1, 2, 3),
          sel$k AS (SELECT qid, neighbor, $k AS rnk, score FROM (
                SELECT qid, neighbor, $MmrScore AS score,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY $MmrScore DESC, neighbor) AS r
                FROM sc$k) WHERE r = 1)"""
    }.mkString(",\n          ")
    val union = (1 to TopK).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
          c AS (SELECT q.qid, e.vec_id AS neighbor,
                       list_dot_product(q.qv, e.v) /
                         (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
                FROM q, e WHERE e.vec_id <> q.qid),
          pool AS MATERIALIZED (SELECT qid, neighbor, round(cos, 6) AS rel FROM (
                SELECT qid, neighbor, cos,
                       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor) AS rnk
                FROM c) WHERE rnk <= $MmrPool),
          pv AS (SELECT p.qid, p.neighbor, e.v FROM pool p JOIN e ON p.neighbor = e.vec_id),
          pairs AS MATERIALIZED (SELECT a.qid, a.neighbor AS x, b.neighbor AS y,
                       round(list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
                FROM pv a JOIN pv b ON a.qid = b.qid AND a.neighbor <> b.neighbor),
          sel1 AS (SELECT qid, neighbor, 1 AS rnk, rel AS score FROM (
                SELECT qid, neighbor, rel,
                       row_number() OVER (PARTITION BY qid ORDER BY rel DESC, neighbor) AS r
                FROM pool) WHERE r = 1),
          $rounds
        SELECT qid, CAST(rnk AS BIGINT) AS rnk, neighbor, score
        FROM ($union) ORDER BY qid, rnk"""
  }

  /** k-NN CLASSIFICATION over the embedding corpus — the label column's
    * first consumer: a deterministic 1-in-[[KnnTestMod]] id split holds
    * out test vectors, each classified by majority vote over its
    * [[KnnClassK]] nearest train neighbors (exact cosine — the
    * ground-truth tier, like sim_cosine_topk; the ANN tiers are the
    * scale path for the same candidate generation). Vote argmax uses
    * the (count DESC, label ASC) tie-break so prediction is total-order
    * deterministic and DuckDB replays votes and verdicts exactly.
    *
    * Scale: test queries broadcast (they are the small side by
    * construction); candidate scoring rides the corpus scan, ranking
    * through the bounded-heap aggregate ≤ k rows per query per task;
    * the vote/argmax tables are |Q|·|labels|-sized.
    *
    * On THIS corpus the labels are geometry-free (measured same-label
    * vs cross-label mean cosine 0.0016 vs 0.0003, 1-NN accuracy ≈
    * chance), so the registered query's accuracy is the honest ~10%
    * noise floor; KnnClassifySpec proves the classifier on planted
    * clusters, and the oracle value-checks votes and verdicts. */
  val KnnClassK = 5
  val KnnTestMod = 10
  def mlKnnClassify(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    knnClassifyOn(Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"),
        col("label")))
  }

  /** The classifier core over any (vec_id, v, label) frame — spec
    * entry point for planted-cluster data. */
  def knnClassifyOn(e: DataFrame): DataFrame = {
    val lab = e.select(col("vec_id"), col("label"))
    val test = e.filter(col("vec_id") % KnnTestMod === 0)
    val train = e.filter(col("vec_id") % KnnTestMod =!= 0)
    val scored = train
      .crossJoin(broadcast(test.select(col("vec_id").as("qid"), col("v").as("qv"))))
      .select(col("qid"), expr("cosine_sim(qv, v)").as("cos"), col("vec_id"))
    val top = graft.api.GraftOps.topKPerGroupAgg(scored, part = "qid",
      ordCol = "cos", payloadCol = "vec_id", k = KnnClassK)
    val pred = top.join(lab, Seq("vec_id"))
      .groupBy("qid", "label").agg(count(lit(1)).as("c"))
      .groupBy("qid")
      .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
      .select(col("qid"), (-col("m.nl")).as("pred_label"))
    pred
      .join(lab.select(col("vec_id").as("qid"), col("label").as("true_label")), Seq("qid"))
      .select(col("qid"), col("pred_label"), col("true_label"),
        (col("pred_label") === col("true_label")).as("correct"))
      .orderBy("qid")
  }

  private lazy val knnClassifyOracle: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
          test AS (SELECT vec_id AS qid, v AS qv, label AS true_label FROM e
                   WHERE vec_id % $KnnTestMod = 0),
          train AS (SELECT vec_id, v, label FROM e WHERE vec_id % $KnnTestMod <> 0),
          scored AS (SELECT t.qid, tr.vec_id, tr.label,
                            ${cosSql("t.qv", "tr.v")} AS cos
                     FROM test t, train tr),
          r AS (SELECT qid, vec_id, label,
                       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
                FROM scored),
          votes AS (SELECT qid, label, count(*) AS c FROM r
                    WHERE rk <= $KnnClassK GROUP BY 1, 2),
          pred AS (SELECT qid, label AS pred_label FROM (
                     SELECT qid, label,
                            row_number() OVER (PARTITION BY qid ORDER BY c DESC, label) AS rn
                     FROM votes) WHERE rn = 1)
        SELECT p.qid, p.pred_label, t.true_label,
               p.pred_label = t.true_label AS correct
        FROM pred p JOIN test t USING (qid) ORDER BY p.qid"""

  /** ANN via multi-table LSH: candidates collide with the query in ANY
    * of the NumTables sign-bit buckets (native `lsh_bucket` expression,
    * one seed per table), then exact cosine + top-k over the candidate
    * union. Shuffle volume ∝ tables × docs, never docs². It is the
    * multiprobe tier with no flipped probes: `lsh_probes` at nprobe = 0
    * is the `lsh_bucket` base bucket. */
  def annLsh(spark: SparkSession, dir: String): DataFrame =
    annLshMultiprobeOf(0)(spark, dir)

  /** Multiprobe LSH ANN (Lv et al., VLDB'07): [[annLsh]]'s tables and
    * corpus hashing unchanged, but each QUERY additionally probes, per
    * table, the [[MultiProbe]] buckets reached by flipping its
    * lowest-margin sign bits (the native `lsh_probes` expression) —
    * the buckets a just-missed neighbor most likely fell into. Recall
    * rises at ZERO extra tables: the corpus side is hashed and
    * shuffled exactly once per table as before, and only the
    * NumQueries-sized query side fans out 1+MultiProbe rows per
    * table (still broadcast). The candidate set grows ≈(1+MultiProbe)×
    * — the at-scale trade VLDB'07 demonstrates: probes are cheaper
    * than tables because tables cost corpus-sized memory/shuffle.
    * AnnVariantsSpec measures the recall win vs [[annLsh]] at the
    * identical table budget. */
  val MultiProbe = 2
  /** All-bit probe budget: flipping EVERY single bit per table (6 extra
    * probes at BitsPerTable = 6) captures the entire Hamming-1 shell —
    * the per-table hit probability rises from p^b (+2 guided flips) to
    * p^b + b·p^(b−1)(1−p), which at the corpus's cos ≈ 0.45 neighbor
    * band puts 8-table recall ≥ 0.9 at still-zero extra corpus shuffle
    * (the corpus is hashed once per table; only the |Q|-row query side
    * fans out 7 rows per table, still broadcast). */
  val MultiProbeWide = BitsPerTable
  def annLshMultiprobe(spark: SparkSession, dir: String): DataFrame =
    annLshMultiprobeOf(MultiProbe)(spark, dir)
  def annLshMultiprobeWide(spark: SparkSession, dir: String): DataFrame =
    annLshMultiprobeOf(MultiProbeWide)(spark, dir)
  private def annLshMultiprobeOf(nprobe: Int)(spark: SparkSession, dir: String): DataFrame = {
    val e0 = emb(spark, dir)
    val q0 = e0.filter(col("vec_id") < NumQueries)
    // candidates as bare id pairs (the vectors are functionally
    // determined by the ids), the vectors joined back once; the final
    // ranking runs through the bounded-heap aggregate: ≤ k rows per
    // query leave each scan task (row_number-over-qid would sort the
    // whole candidate set on |Q| tasks)
    val ids = candidateIds(corpusBuckets(e0),
      probeRows(q0.select(col("vec_id").as("qid"), col("v")), 64, nprobe))
    val scored = ids
      .join(broadcast(q0.select(col("vec_id").as("qid"), col("v").as("qv"))), Seq("qid"))
      .join(e0, Seq("vec_id"))
      .select(col("qid"), expr("cosine_sim(qv, v)").as("cos"), col("vec_id"))
    graft.api.GraftOps.topKPerGroupAgg(scored, part = "qid",
        ordCol = "cos", payloadCol = "vec_id", k = TopK)
      .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rnk")
  }

  /** DuckDB mirror of annLshMultiprobe: the annLshOracle chain with
    * per-(query, table) margins ranked |dot| asc (ties by bit index)
    * picking the MultiProbe flipped buckets — the identical flip
    * choices, since both engines accumulate the dot element-
    * sequentially. */
  private lazy val annLshMultiprobeOracle: String = {
    val planeRows = (0 until NumTables).flatMap { t =>
      val ps = graft.functions.LshBucket.planes(BitsPerTable, 64, t)
      (0 until BitsPerTable).map { j =>
        s"($t, $j, [${ps(j).map(w => if (w > 0) "1.0" else "-1.0").mkString(",")}]::DOUBLE[])"
      }
    }.mkString(",\n            ")
    s"""WITH planes(t, j, w) AS (VALUES
            $planeRows),
          e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          proj AS (SELECT e.vec_id, p.t, p.j,
                          list_dot_product(e.v, p.w) AS dot
                   FROM e, planes p),
          buck AS MATERIALIZED (
            SELECT vec_id, t,
                   sum(CASE WHEN dot > 0 THEN 1 << j ELSE 0 END) AS bv
            FROM proj GROUP BY 1, 2),
          qflip AS (SELECT vec_id, t, j FROM (
                      SELECT vec_id, t, j,
                             row_number() OVER (PARTITION BY vec_id, t
                               ORDER BY abs(dot), j) AS rn
                      FROM proj WHERE vec_id < $NumQueries)
                    WHERE rn <= $MultiProbe),
          qprobe AS (SELECT vec_id, t, bv FROM buck WHERE vec_id < $NumQueries
                     UNION
                     SELECT f.vec_id, f.t, xor(b.bv, CAST(1 << f.j AS BIGINT)) AS bv
                     FROM qflip f JOIN buck b ON f.vec_id = b.vec_id AND f.t = b.t),
          cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id
                   FROM qprobe q JOIN buck c ON q.t = c.t AND q.bv = c.bv
                   WHERE c.vec_id <> q.vec_id),
          scored AS (SELECT c.qid, c.vec_id,
                            ${cosSql("eq.v", "ec.v")} AS cos
                     FROM cand c JOIN e eq ON c.qid = eq.vec_id JOIN e ec ON c.vec_id = ec.vec_id),
          r AS (SELECT qid, vec_id, cos,
                       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
                FROM scored)
        SELECT qid, rnk, vec_id AS neighbor, round(cos, 6) AS cos
        FROM r WHERE rnk <= $TopK ORDER BY qid, rnk"""
  }

  /** k-NN GRAPH over the whole corpus (every vector is a query) — the
    * backbone structure for diversity sampling, graph-based dedup
    * clustering, and NN-descent-style refinement in a training-data
    * pipeline. Candidates come from the same 8×6 sign-LSH tables as
    * sim_ann_lsh, but enumerated as a bucket SELF-join through the
    * shared skew-safe bucketKnnPairs core (hot buckets would otherwise
    * put a quadratic enumeration on one reducer — the same failure mode
    * as minhash banding, same salted fix available); final per-node
    * ranking through the bounded-heap aggregate, ≤ k rows per node per
    * task. Shuffle ∝ tables×N + candidate pairs — never N². */
  val KnnK = 3
  def simKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    val e0 = emb(spark, dir)
    val pairs = graft.api.GraftOps.bucketKnnPairs(corpusBuckets(e0), "vec_id",
      prefix = Some("__p"))
    val scored = pairs
      .join(e0.select(col("vec_id").as("a"), col("v").as("qv")), Seq("a"))
      .join(e0.select(col("vec_id").as("b"), col("v")), Seq("b"))
      .select(col("a").as("qid"), expr("cosine_sim(qv, v)").as("cos"), col("b"))
    graft.api.GraftOps.topKPerGroupAgg(scored, part = "qid",
        ordCol = "cos", payloadCol = "b", k = KnnK)
      .select(col("qid"), col("rnk"), col("b").as("neighbor"),
        round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rnk")
  }

  /** One NN-DESCENT refinement round over [[simKnnGraph]] (Dong et al.
    * WWW'11): a node's improved neighbor candidates are the
    * neighbors-of-its-neighbors in the SYMMETRIZED current graph —
    * two vectors close to a common third are likely close to each
    * other — so candidates come from a self-join of the (pivot,
    * member) adjacency on the pivot, unioned with the current edges,
    * then exact-cosine re-ranked top-[[KnnK]]. LSH recall gaps close
    * without new tables: the graph itself generates the candidates.
    *
    * Scale: the pivot adjacency is CAPPED at [[NdCap]] members per
    * pivot (the deterministic analog of NN-descent's ρK sampling) —
    * without the cap a hub with R reverse-neighbors contributes R²
    * pairs to one reducer; with it, join fan-out is ≤ NdCap² per
    * pivot, shuffle ∝ candidates. Ranking through the bounded heap as
    * everywhere. KnnGraphSpec asserts recall vs brute force improves
    * on the LSH-only graph. */
  val NdCap = 8
  def simNnDescent(spark: SparkSession, dir: String): DataFrame = {
    val e0 = emb(spark, dir)
    val knn0 = simKnnGraph(spark, dir).select(col("qid"), col("neighbor"))
    val nb = knn0.select(col("qid").as("b"), col("neighbor").as("x"))
      .unionAll(knn0.select(col("neighbor").as("b"), col("qid").as("x")))
      .distinct()
    val nbc = graft.api.GraftOps.topKPerGroupAgg(
        nb.withColumn("negx", -col("x")), part = "b",
        ordCol = "negx", payloadCol = "x", k = NdCap)
      .select(col("b"), col("x"))
    val cand = nbc.as("i").join(nbc.as("j"), Seq("b"))
      .select(col("i.x").as("qid"), col("j.x").as("vec_id"))
      .filter(col("qid") =!= col("vec_id"))
      .unionAll(knn0.select(col("qid"), col("neighbor").as("vec_id")))
      .distinct()
    val scored = cand
      .join(e0.select(col("vec_id").as("qid"), col("v").as("qv")), Seq("qid"))
      .join(e0, Seq("vec_id"))
      .select(col("qid"), expr("cosine_sim(qv, v)").as("cos"), col("vec_id"))
    graft.api.GraftOps.topKPerGroupAgg(scored, part = "qid",
        ordCol = "cos", payloadCol = "vec_id", k = KnnK)
      .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"),
        round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rnk")
  }

  /** DuckDB mirror of simNnDescent: the knnGraphOracle chain, then the
    * capped symmetrized adjacency, pivot self-join, union with current
    * edges, exact re-rank. */
  private lazy val nnDescentOracle: String = {
    val planeRows = (0 until NumTables).flatMap { t =>
      val ps = graft.functions.LshBucket.planes(BitsPerTable, 64, t)
      (0 until BitsPerTable).map { j =>
        s"($t, $j, [${ps(j).map(w => if (w > 0) "1.0" else "-1.0").mkString(",")}]::DOUBLE[])"
      }
    }.mkString(",\n            ")
    s"""WITH planes(t, j, w) AS (VALUES
            $planeRows),
          e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          proj AS (SELECT e.vec_id, p.t,
                          CASE WHEN list_dot_product(e.v, p.w) > 0 THEN 1 << p.j ELSE 0 END AS bit
                   FROM e, planes p),
          buck AS MATERIALIZED (SELECT vec_id, t, sum(bit) AS bv FROM proj GROUP BY 1, 2),
          cand0 AS (SELECT DISTINCT ba.vec_id AS qid, bb.vec_id
                    FROM buck ba JOIN buck bb ON ba.t = bb.t AND ba.bv = bb.bv
                    WHERE bb.vec_id <> ba.vec_id),
          scored0 AS (SELECT c.qid, c.vec_id,
                             ${cosSql("eq.v", "ec.v")} AS cos
                      FROM cand0 c JOIN e eq ON c.qid = eq.vec_id JOIN e ec ON c.vec_id = ec.vec_id),
          knn0 AS MATERIALIZED (SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
                FROM scored0) WHERE rnk <= $KnnK),
          nb AS (SELECT DISTINCT b, x FROM (
                SELECT qid AS b, vec_id AS x FROM knn0
                UNION ALL SELECT vec_id, qid FROM knn0)),
          nbc AS MATERIALIZED (SELECT b, x FROM (
                SELECT b, x, row_number() OVER (PARTITION BY b ORDER BY x) AS rn
                FROM nb) WHERE rn <= $NdCap),
          cand AS (SELECT DISTINCT qid, vec_id FROM (
                SELECT i.x AS qid, j.x AS vec_id FROM nbc i JOIN nbc j ON i.b = j.b
                WHERE i.x <> j.x
                UNION ALL SELECT qid, vec_id FROM knn0)),
          scored AS (SELECT c.qid, c.vec_id,
                            ${cosSql("eq.v", "ec.v")} AS cos
                     FROM cand c JOIN e eq ON c.qid = eq.vec_id JOIN e ec ON c.vec_id = ec.vec_id),
          r AS (SELECT qid, vec_id, cos,
                       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
                FROM scored)
        SELECT qid, rnk, vec_id AS neighbor, round(cos, 6) AS cos
        FROM r WHERE rnk <= $KnnK ORDER BY qid, rnk"""
  }

  /** ANN via IVF (inverted-file index, training-free): every 50th vector
    * is a "centroid"; vectors are assigned to their nearest centroid,
    * and each query probes only its own NProbe nearest centroid cells.
    *
    * Scale shape: the centroid table is collected into ONE array column
    * and broadcast, so cell assignment is a per-row `array_max(
    * transform(...))` over that array — zero shuffle, zero row
    * expansion; the corpus never leaves its scan tasks until the
    * (tiny) probed-cell candidate ranking. Candidate count ∝
    * corpus/|centroids| · NProbe, not the corpus; the final top-k runs
    * through the bounded-heap `top_k_pairs` aggregate. */
  val CentroidEvery = 50
  val NProbe = 2
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // one row holding all (cid, cv) centroids — |centroids| ≈ N/50 at
    // test SF (√N at a real deployment); order-insensitive because every
    // consumer reduces it with a deterministic struct comparator
    val centArr = e.filter(col("vec_id") % CentroidEvery === 0)
      .agg(collect_list(struct(col("vec_id").as("cid"), col("v").as("cv"))).as("cs"))
    ivfSearch(e, centArr)
  }

  /** The IVF probe/search shared by the every-Nth-centroid and the
    * k-means-trained variants: map-side cell assignment over the
    * broadcast centroid array, NProbe query probes, heap-ranked top-k. */
  private def ivfSearch(e: DataFrame, centArr: DataFrame): DataFrame = {
    // cell assignment: per-row argmax over the broadcast centroid array
    // (GraftOps.nearestCid — highest similarity, ties → lowest cid)
    val assigned = e.crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("v"),
        graft.api.GraftOps.nearestCid("cs", "cosine_sim(v, c.cv)").as("cid"))
    // queries probe their NProbe nearest cells: sort the same broadcast
    // array by (-csim, cid) and keep the first NProbe entries
    val probes = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
      .crossJoin(broadcast(centArr))
      .select(col("qid"), col("qv"), explode(expr(
        s"slice(array_sort(transform(cs, c -> struct(-cosine_sim(qv, c.cv) AS negsim, c.cid AS cid))), 1, $NProbe)")).as("p"))
      .select(col("qid"), col("qv"), col("p.cid").as("cid"))
    val scored = assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), expr("cosine_sim(qv, v)").as("cos"), col("vec_id"))
    graft.api.GraftOps.topKPerGroupAgg(scored, part = "qid",
        ordCol = "cos", payloadCol = "vec_id", k = TopK)
      .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rnk")
  }

  /** Spherical k-means over the embeddings (GraftOps.kmeansCosine:
    * deterministic hash seeds, broadcast-argmax assignment, native
    * vec_sum centroid update). Output: per-cluster membership count and
    * the first centroid component — enough to pin every iteration's
    * float path against the unrolled DuckDB oracle. */
  val KmK = 8
  val KmIters = 3
  def mlKmeans(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = trainedCents(spark, dir)
    val centArr = cents.agg(collect_list(struct(col("cid"), col("cv"))).as("cs"))
    val assigned = e.crossJoin(broadcast(centArr))
      .select(col("vec_id"),
        graft.api.GraftOps.nearestCid("cs", "cosine_sim(v, c.cv)").as("cid"))
    val counts = assigned.groupBy("cid").agg(count(lit(1)).as("__n"))
    cents.join(counts, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("__n"), lit(0L)).as("n_members"),
        round(element_at(col("cv"), 1), 6).as("c0"))
      .orderBy("cid")
  }

  /** Mini-batch (streaming) spherical k-means over the embeddings
    * (GraftOps.kmeansMiniBatch): 4 deterministic hash batches folded
    * into running (centroid, count) state in ONE pass over the corpus —
    * the online sibling of ml_kmeans for feeds that can't afford full
    * Lloyd sweeps. The identical per-batch step drives the Structured
    * Streaming foreachBatch front-end; StreamKMeansSpec proves the
    * streamed centroids equal this batch mirror bit-for-bit. */
  val KmbBatches = 4
  def mlKmeansMiniBatch(spark: SparkSession, dir: String): DataFrame =
    graft.api.GraftOps.kmeansMiniBatch(
      Tables.embeddings(spark, dir), "vec_id", "embedding", KmK, KmbBatches)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    * k-means-cluster the embeddings, then drop any vector with a
    * sufficiently-cosine-similar LOWER-id neighbor in the SAME cluster
    * (keep-the-first, matching the dedup tier's min-id keeper rule).
    * Composes the memoized spherical k-means (trainedCents — identical
    * float path to ml_kmeans) with a within-cluster pair scan, so the
    * full training + assignment + verdict replays in DuckDB.
    *
    * Scale: this IS the published at-scale design — clustering first
    * so pair enumeration is within-cluster only (k scales with N to
    * hold the per-cluster pair budget; the cluster id is the shuffle
    * key, one equi-join). The threshold comparison happens on cosines
    * ROUNDED to 6dp so a last-ulp delta can't flip a keep verdict. */
  val SemThreshold = 0.45
  def curSemdedup(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cents = trainedCents(spark, dir)
    val centArr = cents.agg(collect_list(struct(col("cid"), col("cv"))).as("cs"))
    val assigned = e.crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("v"),
        graft.api.GraftOps.nearestCid("cs", "cosine_sim(v, c.cv)").as("cid"))
      .memoized() // consumed 3x: both pair sides + the output spine
    val a = assigned.select(col("cid"), col("vec_id").as("a"), col("v").as("va"))
    val b = assigned.select(col("cid"), col("vec_id").as("b"), col("v").as("vb"))
    val drops = a.join(b, Seq("cid"))
      .filter(col("a") < col("b"))
      .filter(expr("round(cosine_sim(va, vb), 6)") >= SemThreshold)
      .select(col("b").as("vec_id")).distinct()
      .withColumn("__drop", lit(true))
    assigned.join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("__drop").isNull.as("is_keep"))
      .orderBy("vec_id")
  }

  /** Unrolled mini-batch rounds as DuckDB CTEs: same hash batches, same
    * running-mean fold with 9 dp per-round rounding, seeds from the full
    * corpus by the kmeansCosine hash rule. */
  private lazy val kmbOracle: String = {
    val rounds = (1 to KmbBatches).map { t =>
      s"""a$t AS MATERIALIZED (SELECT vec_id, v, cid FROM (
                SELECT e.vec_id, e.v, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
                FROM (SELECT * FROM e WHERE b = ${t - 1}) e, c${t - 1} c) WHERE rn = 1),
          m$t AS MATERIALIZED (SELECT cid, pos, sum(val) AS sv, count(*) AS n
                FROM (SELECT cid, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM a$t)
                GROUP BY cid, pos),
          c$t AS MATERIALIZED (
                SELECT u.cid,
                       list(CASE WHEN m.n IS NULL THEN u.val
                            ELSE round((u.val * u.cnt + m.sv) / (u.cnt + m.n), 9) END
                            ORDER BY u.pos) AS cv,
                       u.cnt + coalesce(max(m.n), 0) AS cnt
                FROM (SELECT cid, cnt, unnest(cv) AS val, generate_subscripts(cv, 1) AS pos
                      FROM c${t - 1}) u
                LEFT JOIN m$t m ON u.cid = m.cid AND u.pos = m.pos
                GROUP BY u.cid, u.cnt)"""
    }.mkString(",\n          ")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v,
                ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT % $KmbBatches AS b
              FROM embeddings),
          c0 AS MATERIALIZED (SELECT vec_id AS cid, v AS cv, 0::BIGINT AS cnt FROM e
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $KmK),
          $rounds
        SELECT cid, cnt AS n_seen, round(cv[1], 6) AS c0 FROM c$KmbBatches ORDER BY cid"""
  }

  /** IVF search over the k-means-trained cells (same probe/search as
    * `sim_ann_ivf`; the centroids now come from Lloyd iterations, so
    * cells follow the data distribution instead of the every-Nth
    * seeding rule). */
  def annIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    ivfSearch(e, trainedCents(spark, dir)
      .agg(collect_list(struct(col("cid"), col("cv"))).as("cs")))
  }

  /** Product-quantization ANN (asymmetric distance computation) — the
    * memory-compression scale path: each 64-dim vector is stored as
    * PqM=4 codes (its nearest L2 codebook centroid per 16-dim subspace,
    * codebooks from deterministic [[graft.api.GraftOps.kmeansL2]]), so
    * a 100 TB float corpus shrinks to ~N×4 bytes of codes + 4 tiny
    * broadcast codebooks. Query scoring never touches the original
    * vectors: per-query lookup tables (10×8 rows per subspace) joined
    * broadcast onto the code table, summed in fixed subspace order, and
    * ranked through the map-side `top_k_pairs` heap. Ranking key is
    * Σ_m [2·(q_m·c) − (c·c)] — argmin Σ‖q_m−c‖² with the per-query
    * constant Σ q_m·q_m dropped; higher = nearer.
    *
    * Production two-stage shape: the ADC scores build a top-PqShortlist
    * candidate set per query (quantization error makes raw ADC ranks
    * coarse), then ONLY those R·|Q| rows join their true vectors back
    * for an exact re-rank to TopK — the re-rank cost is independent of
    * corpus size. PqSpec measures shortlist recall vs brute force. */
  val PqM = 4
  val PqSub = 16
  val PqK = 16
  val PqIters = 2
  val PqShortlist = 50
  def annPq(spark: SparkSession, dir: String): DataFrame =
    annPqCore(spark, dir, PqShortlist, permuted = false)

  def annPq(spark: SparkSession, dir: String, shortlistK: Int): DataFrame =
    annPqCore(spark, dir, shortlistK, permuted = false)

  /** Deterministic md5-ordered permutation of the embedding dimensions
    * — the cheap, oracle-replayable slice of OPQ (Ge et al., CVPR'13):
    * plain PQ puts ADJACENT dims in the same codebook, so structured
    * vectors concentrate variance in a few subspaces; a fixed random
    * permutation spreads it evenly (the learned rotation is the part
    * SQL can't replay). Dot products are permutation-invariant, so the
    * exact re-rank semantics are untouched. */
  lazy val PqPerm: Seq[Int] = {
    def h(i: Int): String = java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (1 to PqM * PqSub).sortBy(i => (h(i), i))
  }
  private lazy val permVecSql: String =
    s"transform(array(${PqPerm.mkString(", ")}), i -> CAST(element_at(embedding, i) AS DOUBLE))"

  /** PQ over the permuted dimensions (sim_ann_pq_perm). */
  def annPqPerm(spark: SparkSession, dir: String): DataFrame =
    annPqCore(spark, dir, PqShortlist, permuted = true)

  def annPqPerm(spark: SparkSession, dir: String, shortlistK: Int): DataFrame =
    annPqCore(spark, dir, shortlistK, permuted = true)

  /** OPQ: PQ over a LEARNED orthogonal rotation (Ge et al., CVPR'13,
    * the non-parametric alternation) — the full version of what
    * `sim_ann_pq_perm`'s fixed permutation approximates. Training
    * alternates, starting FROM the permutation (refine, don't restart):
    *   1. rotate the corpus (native `mat_vec` — the d×d model rides a
    *      codegen reference object, never a join), train the per-
    *      subspace codebooks on the rotated vectors, encode, and
    *      reconstruct x̂ (concat of chosen codewords);
    *   2. update R = argmin_R ‖R·X − X̂‖_F (orthogonal Procrustes):
    *      the data term M = Σ_rows x̂·xᵀ is ONE d²-wide `vec_sum`
    *      aggregate (map-side partial, model-sized result — 32 KB at
    *      d = 64), and the polar factor of M (the Procrustes optimum)
    *      is computed driver-side, exactly like collecting k-means
    *      centroids.
    * Scale: per pass the corpus is touched by one rotate map + the
    * Lloyd trainings + one flat aggregate — no new shuffle shape; the
    * learned model is d² doubles regardless of corpus size. Rotation
    * preserves dot products, so the exact re-rank semantics are
    * untouched; only shortlist QUALITY changes.
    *
    * VALUE-ORACLE DESIGN (what flipped this tier from rows-only to
    * oracle-green): the Procrustes solve is NOT a LAPACK SVD but a
    * deterministic Newton–Schulz polar iteration ([[polarNS]]) —
    * R₀ = M/‖M‖_F, R ← R(3I − RᵀR)/2 — whose every float op is a
    * sequential IEEE multiply/add in a fixed order, with M snapped to
    * a 1e-6 grid (absorbing distributed-sum order variance, the
    * kmeans-9dp discipline) and R snapped to a 1e-12 grid per sweep
    * (the spam-SGD ProbGrid discipline). DuckDB replays the identical
    * arithmetic with list_dot_product/list_sum (measured bit-identical
    * to sequential loops), so the whole 2-pass alternation — Lloyd
    * codebooks, encode, reconstruction, M, polar sweeps, final PQ
    * pipeline — is one self-contained SQL oracle. PqSpec additionally
    * certifies the iteration against LAPACK (‖R_NS − R_SVD‖_∞ ≤ 1e-6
    * on random and ill-scaled matrices) plus orthogonality to 1e-9,
    * determinism, exact-degeneracy, and the recall floors. */
  val OpqIters = 2

  /** Newton–Schulz sweeps for the polar factor. ‖M/‖M‖_F‖₂ ≤ 1 < √3
    * guarantees convergence; small singular values grow ×1.5 per sweep
    * until they saturate at 1, so 72 sweeps cover σ/‖M‖_F ≥ ~1e-11.
    * The corpus M is near-rank-deficient (measured σmin/F ≈ 1e-9 at
    * sf0.001 — reconstructed x̂ spans slightly fewer directions than
    * d), which is exactly why the sweep count is this high; directions
    * at or below the grid floor get seeded by the deterministic 1e-12
    * quantization residue and saturate a few sweeps later, giving a
    * deterministic orthogonal completion where LAPACK's was arbitrary.
    * Sweeps past convergence are fixpoints under the grid (saturated
    * directions are quadratically contractive), so the fixed unroll is
    * oracle-exact. */
  val NsIters = 72
  val MGrid = 1e6   // Σ x̂xᵀ entries: absorbs vec_sum order variance
  val RGrid = 1e12  // per-sweep rotation grid: pins both engines

  private def grid(x: Double, g: Double): Double = math.floor(x * g + 0.5) / g

  /** Last pass's quantized M — spec-only conditioning probe. */
  private[graft] var lastM: Array[Array[Double]] = _

  /** Orthogonal polar factor of (grid-quantized) M by Newton–Schulz.
    * Loop orders are load-bearing: every sum runs k = 0..d−1
    * ascending, matching the oracle's list_dot_product over lists
    * built in the same order — bit-identical trajectories. */
  private[graft] def polarNS(m: Array[Array[Double]]): Array[Array[Double]] = {
    val d = m.length
    var fro = 0.0
    for (i <- 0 until d; j <- 0 until d) fro += m(i)(j) * m(i)(j)
    val f = math.sqrt(fro)
    var r = Array.tabulate(d, d)((i, j) => grid(m(i)(j) / f, RGrid))
    for (_ <- 1 to NsIters) {
      val rc = r
      val a = Array.tabulate(d, d) { (i, j) =>
        var s = 0.0; var k = 0
        while (k < d) { s += rc(k)(i) * rc(k)(j); k += 1 }; s
      }
      val ra = Array.tabulate(d, d) { (i, j) =>
        var s = 0.0; var k = 0
        while (k < d) { s += rc(i)(k) * a(k)(j); k += 1 }; s
      }
      r = Array.tabulate(d, d)((i, j) => grid((3 * rc(i)(j) - ra(i)(j)) / 2, RGrid))
    }
    r
  }
  private def opqRotationFn(spark: SparkSession, dir: String): String =
    Memo.keyed(spark, dir, "similarity.opqRotation") {
      val r = learnOpqRotation(spark, dir)
      val name = "graft_opq_rotate_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      graft.functions.MatVec.registerRotation(spark, name, r)
      name
    }

  private[graft] def learnOpqRotation(spark: SparkSession, dir: String): Array[Array[Double]] = {
    graft.functions.VectorExpressions.register(spark)
    val d = PqM * PqSub
    // init = the PqPerm permutation matrix: start from the variance-
    // spreading layout pq_perm already proved out and refine it
    var r = Array.tabulate(d, d)((i, j) => if (PqPerm(i) - 1 == j) 1.0 else 0.0)
    val x = emb(spark, dir)
    for (pass <- 1 to OpqIters) {
      // one rotation function PER PASS: every lazy plan built this pass
      // binds its own matrix by name, so nothing needs to be eagerly
      // materialized before the next pass re-learns R. The rotated
      // corpus is never checkpointed — each consumer (Lloyd trainings,
      // encode, M-aggregate) fuses the d×d mat-vec into its own scan,
      // a recompute-over-materialize trade that holds at 100 TB where
      // a corpus-sized checkpoint would not.
      val rotFn = s"graft_opq_tmp_p$pass"
      graft.functions.MatVec.registerRotation(spark, rotFn, r)
      val rot = x.select(col("vec_id"), expr(s"$rotFn(v)").as("v"))
      // r17: all PqM subspace codebooks from ONE grouped Lloyd loop
      // per OPQ pass (identical per-subspace math; see kmeansGrouped)
      val allBooks = graft.api.GraftOps.kmeansGrouped(
          rot.select(col("vec_id"),
            explode(expr(s"transform(sequence(0, ${PqM - 1}), m -> " +
              s"struct(m AS m, slice(v, m * $PqSub + 1, $PqSub) AS x))")).as("s"))
            .select(col("s.m").as("__m"), col("vec_id"), col("s.x").as("x")),
          Seq("__m"), "vec_id", "x", PqK, PqIters)
        .memoized()
      val books = (0 until PqM).map(m =>
        allBooks.filter(col("__m") === m).select("cid", "cv"))
      var enc = rot
      for (m <- 0 until PqM) {
        val ca = books(m).agg(collect_list(struct(col("cid"), col("cv"))).as(s"cs$m"))
        enc = enc.crossJoin(broadcast(ca))
          .withColumn(s"k$m", graft.api.GraftOps.nearestCid(s"cs$m",
            s"2 * dot_product(slice(v, ${m * PqSub + 1}, $PqSub), c.cv) " +
              "- dot_product(c.cv, c.cv)"))
          .drop(s"cs$m")
      }
      var rec = enc.select(col("vec_id") +: (0 until PqM).map(m => col(s"k$m")): _*)
      for (m <- 0 until PqM)
        rec = rec.join(broadcast(books(m)
          .select(col("cid").as(s"k$m"), col("cv").as(s"cv$m"))), Seq(s"k$m"))
      val xhat = (0 until PqM).map(m => s"cv$m").mkString("concat(", ", ", ")")
      val mFlat = rec
        .join(x.select(col("vec_id"), col("v").as("xraw")), "vec_id")
        .select(expr(s"flatten(transform($xhat, a -> transform(xraw, b -> a * b)))").as("op"))
        .agg(expr("vec_sum(op)").as("m")).head().getSeq[Double](0).toArray
      // mFlat is row-major M = Σ x̂xᵀ; snap to the 1e-6 grid (the
      // distributed vec_sum's partition order varies run to run and
      // engine to engine — the grid is where both engines re-agree),
      // then the deterministic Newton–Schulz sweep replaces the old
      // LAPACK SVD: same Procrustes optimum (PqSpec: ≤1e-6 from the
      // SVD answer), fully DuckDB-replayable.
      val mq = Array.tabulate(d, d)((i, j) => grid(mFlat(i * d + j), MGrid))
      lastM = mq
      r = polarNS(mq)
    }
    r
  }

  /** Greedy k-CENTER diversity sampling (Gonzalez 2-approximation —
    * the "maximally spread subset" selector behind coverage-first
    * data curation): seed = smallest vec_id, then [[KCenterK]]−1
    * rounds each add the point FARTHEST (cosine distance, 6-dp
    * rounded before the argmax so ties are total-ordered by id) from
    * the chosen set. Each round is ONE scan-wide aggregate over the
    * broadcast center list — the centers are model-sized, the corpus
    * never shuffles; k rounds = k scans (at 100 TB you cache the
    * min-distance column and update it incrementally — same plan
    * shape). The oracle unrolls all rounds. Output: each center with
    * its selection round and the distance that won it, plus the final
    * coverage radius semantics via the last round's distance. */
  val KCenterK = 8
  def simKCenter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir).memoized()
    // seed: smallest id (1-row scalar read parameterizing the loop —
    // the documented plan-construction action pattern)
    var centers = List(e.agg(min(col("vec_id"))).head().getLong(0))
    var picks = List((centers.head, 1, 0.0))
    for (r <- 2 to KCenterK) {
      val minDist = e.filter(!col("vec_id").isInCollection(centers))
        .crossJoin(broadcast(e.filter(col("vec_id").isInCollection(centers))
          .agg(collect_list(struct(col("vec_id").as("cid"), col("v").as("cv"))).as("cs"))))
        .select(col("vec_id"), expr(
          "round(array_min(transform(cs, c -> 1.0 - cosine_sim(v, c.cv))), 6)").as("d"))
      val next = minDist
        .orderBy(col("d").desc, col("vec_id")).limit(1).head()
      centers = centers :+ next.getLong(0)
      picks = picks :+ ((next.getLong(0), r, next.getDouble(1)))
    }
    picks.toDF("vec_id", "round", "dist_at_pick").orderBy("round")
  }

  /** Unrolled greedy selection: round r's argmax over the min distance
    * to the previously chosen set (all prior rounds' picks). */
  private lazy val kcenterOracle: String = {
    val rounds = (2 to KCenterK).map { r =>
      val prev = (1 until r).map(i => s"SELECT vec_id, v FROM k$i").mkString(" UNION ALL ")
      s"""kd$r AS (SELECT e.vec_id, e.v,
                round(min(1.0 - ${cosSql("e.v", "c.v")}), 6) AS d
                FROM e, ($prev) c
                WHERE e.vec_id NOT IN (SELECT vec_id FROM ($prev))
                GROUP BY e.vec_id, e.v),
          k$r AS MATERIALIZED (SELECT vec_id, v, d FROM kd$r
                ORDER BY d DESC, vec_id LIMIT 1)"""
    }.mkString(",\n          ")
    val out = (1 to KCenterK).map { r =>
      if (r == 1) s"SELECT vec_id, 1 AS round, 0.0 AS dist_at_pick FROM k1"
      else s"SELECT vec_id, $r AS round, d AS dist_at_pick FROM k$r"
    }.mkString("\n          UNION ALL ")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          k1 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
          $rounds
        $out ORDER BY round"""
  }

  /** Leading principal component by FIXED-ROUND power iteration on the
    * grid-quantized Gram matrix — uncentered PCA, the OPQ discipline
    * applied to spectral analysis: G = Σ x·xᵀ is ONE d²-wide `vec_sum`
    * aggregate (model-sized — the corpus never leaves its scan),
    * snapped to the 1e-6 grid where both engines re-agree; then
    * [[PcaIters]] deterministic power steps (ascending-k dots, L2
    * normalize, 1e-12 grid per iterate — [[polarNS]]'s rules) yield
    * the component, and the per-vector score is one dot against the
    * inlined component literals. The 24-step iterate IS the spec
    * (convergence is the spec's claim, not the oracle's); PcaSpec
    * certifies ≥0.99 cosine to the long-run eigenvector and the
    * Rayleigh quotient's monotone growth. */
  val PcaIters = 24
  private[graft] def pcaComponent(spark: SparkSession, dir: String): Array[Double] = {
    graft.functions.VectorExpressions.register(spark)
    Memo.keyed(spark, dir, "similarity.pca") {
      val d = Ed
      val gFlat = emb(spark, dir)
        .select(expr("flatten(transform(v, a -> transform(v, b -> a * b)))").as("op"))
        .agg(expr("vec_sum(op)").as("g")).head().getSeq[Double](0).toArray
      val g = Array.tabulate(d, d)((i, j) => grid(gFlat(i * d + j), MGrid))
      powerIterate(g, PcaIters)
    }
  }

  /** Fixed-round power iteration with per-step grid snap — shared with
    * the spec's long-run reference. */
  private[graft] def powerIterate(g: Array[Array[Double]], iters: Int): Array[Double] = {
    val d = g.length
    var p = Array.fill(d)(grid(1.0 / math.sqrt(d.toDouble), RGrid))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d) { i =>
        var s = 0.0; var k = 0
        while (k < d) { s += g(i)(k) * p(k); k += 1 }; s
      }
      var n2 = 0.0
      var k = 0
      while (k < d) { n2 += w(k) * w(k); k += 1 }
      val n = math.sqrt(n2)
      p = Array.tabulate(d)(i => grid(w(i) / n, RGrid))
    }
    p
  }

  /** Per-vector first-principal-component scores. */
  def mlPca(spark: SparkSession, dir: String): DataFrame = {
    val comp = pcaComponent(spark, dir)
    val compSql = comp.map(_.toString).mkString("array(", ", ", ")")
    emb(spark, dir)
      .select(col("vec_id"),
        round(expr(s"dot_product(v, $compSql)"), 6).as("pc1"))
      .orderBy("vec_id")
  }

  /** Full replay: Gram on the 1e-6 grid, unrolled 24 power steps on
    * the 1e-12 grid, projection join. */
  private lazy val pcaOracle: String = {
    val steps = (1 to PcaIters).map { t =>
      s"""pw$t AS MATERIALIZED (SELECT list_transform(g, row -> list_dot_product(row, p)) AS w, g
              FROM pp${t - 1}),
          pp$t AS MATERIALIZED (SELECT g, list_transform(w, x ->
                floor(x / sqrt(list_dot_product(w, w)) * $RGridLit + 0.5) / $RGridLit) AS p
              FROM pw$t)"""
    }.mkString(",\n          ")
    s"""WITH raw AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          gc AS (SELECT ii.i AS ii, jj.j AS jj,
                        floor(sum(w.v[ii.i] * w.v[jj.j]) * $MGridLit + 0.5) / $MGridLit AS val
                 FROM raw w, unnest(range(1, ${Ed + 1})) AS ii(i),
                      unnest(range(1, ${Ed + 1})) AS jj(j)
                 GROUP BY 1, 2),
          pp0 AS MATERIALIZED (SELECT g,
                list_transform(range(1, ${Ed + 1}), i ->
                  floor(1.0 / sqrt(${Ed}.0) * $RGridLit + 0.5) / $RGridLit) AS p
              FROM (SELECT list(row ORDER BY ii) AS g FROM (
                      SELECT ii, list(val ORDER BY jj) AS row FROM gc GROUP BY ii))),
          $steps
        SELECT r.vec_id, round(list_dot_product(r.v, pp$PcaIters.p), 6) AS pc1
        FROM raw r, pp$PcaIters ORDER BY r.vec_id"""
  }

  /** PQ + learned rotation (sim_ann_opq). */
  def annOpq(spark: SparkSession, dir: String): DataFrame =
    annPqCore(spark, dir, PqShortlist, permuted = false,
      rotFn = Some(opqRotationFn(spark, dir)))

  def annOpq(spark: SparkSession, dir: String, shortlistK: Int): DataFrame =
    annPqCore(spark, dir, shortlistK, permuted = false,
      rotFn = Some(opqRotationFn(spark, dir)))

  private def annPqCore(spark: SparkSession, dir: String, shortlistK: Int,
                        permuted: Boolean, rotFn: Option[String] = None): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val e = rotFn match {
      case Some(fn) => Tables.embeddings(spark, dir)
        .select(col("vec_id"), expr(s"$fn(embedding)").as("v"))
      case None if permuted => Tables.embeddings(spark, dir)
        .select(col("vec_id"), expr(permVecSql).as("v"))
      case None => emb(spark, dir)
    }
    // per-subspace codebooks; checkpointed — each feeds encode AND luts.
    // r17: ONE grouped Lloyd loop trains all PqM subspaces together
    // (kmeansGrouped — identical per-subspace seeds/assignment/update,
    // (1+iters) jobs total instead of PqM×(1+iters))
    val books: Seq[DataFrame] = {
      val vecSql = rotFn match {
        case Some(fn) => s"$fn(embedding)"
        case None if permuted => permVecSql
        case None => "embedding"
      }
      val slices = Tables.embeddings(spark, dir).select(col("vec_id"),
          explode(expr(s"transform(sequence(0, ${PqM - 1}), m -> " +
            s"struct(m AS m, slice($vecSql, m * $PqSub + 1, $PqSub) AS x))")).as("s"))
        .select(col("s.m").as("__m"), col("vec_id"), col("s.x").as("x"))
      val all = graft.api.GraftOps
        .kmeansGrouped(slices, Seq("__m"), "vec_id", "x", PqK, PqIters)
        .memoized()
      (0 until PqM).map(m => all.filter(col("__m") === m).select("cid", "cv"))
    }
    // encode: per-row argmax over each broadcast codebook — zero
    // shuffle, zero expansion (the kmeans assignment shape, ×PqM)
    var enc = e
    for (m <- 0 until PqM) {
      val ca = books(m).agg(collect_list(struct(col("cid"), col("cv"))).as(s"cs$m"))
      enc = enc.crossJoin(broadcast(ca))
        .withColumn(s"k$m", graft.api.GraftOps.nearestCid(s"cs$m",
          s"2 * dot_product(slice(v, ${m * PqSub + 1}, $PqSub), c.cv) " +
            "- dot_product(c.cv, c.cv)"))
        .drop(s"cs$m")
    }
    val codes = enc.select(col("vec_id") +: (0 until PqM).map(m => col(s"k$m")): _*)
    val q = e.filter(col("vec_id") < NumQueries)
    val luts = (0 until PqM).map { m =>
      q.crossJoin(broadcast(books(m)))
        .select(col("vec_id").as("qid"), col("cid").as(s"k$m"),
          expr(s"2 * dot_product(slice(v, ${m * PqSub + 1}, $PqSub), cv) " +
            "- dot_product(cv, cv)").as(s"t$m"))
    }
    var scored = codes.join(broadcast(luts(0)), Seq("k0"))
    for (m <- 1 until PqM)
      scored = scored.join(broadcast(luts(m)), Seq("qid", s"k$m"))
    val s = scored.filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (0 until PqM).map(m => col(s"t$m")).reduce(_ + _).as("score"))
    val shortlist = graft.api.GraftOps
      .topKPerGroupAgg(s, "qid", "score", "vec_id", shortlistK)
      .select(col("qid"), col("vec_id"))
    // exact re-rank of the shortlist only: R·|Q| narrow joins back to
    // the true vectors, same surrogate key (2·q·x − x·x ≡ argmin L2)
    val exact = shortlist
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv")), "qid")
      .join(e, "vec_id")
      .select(col("qid"), col("vec_id"),
        expr("2 * dot_product(qv, v) - dot_product(v, v)").as("score"))
    graft.api.GraftOps.topKPerGroupAgg(exact, "qid", "score", "vec_id", TopK)
      .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"),
        round(col("score"), 6).as("score"))
      .orderBy("qid", "rnk")
  }

  /** IVF-PQ with residual quantization (the IVFADC structure of Jégou
    * et al., TPAMI'11) — the full composed ANN: a coarse L2 quantizer
    * (kmeansL2, IvfPqCoarseK cells) partitions the corpus; each vector
    * stores only its cell id + PqM one-byte codes of its RESIDUAL
    * (v − cell centroid) against shared per-subspace codebooks trained
    * on the residuals (residuals are far more isotropic than raw
    * vectors — the same code budget quantizes them with much less
    * error). Queries probe NProbe cells; scoring is asymmetric-distance
    * over the residual LUTs PLUS the per-(query, cell) −‖q−c‖² term, so
    * ADC scores from DIFFERENT probed cells are comparable:
    *   −‖q−(c+r̂)‖² = (2·q·c − c·c − q·q) + Σ_m [2·(q−c)_m·cb_m − cb_m·cb_m].
    * Top-PqShortlist ADC candidates re-rank exactly against their true
    * vectors (R·|Q| rows, corpus-independent). Every stage is the
    * proven deterministic scaffolding: hash seeds, broadcast argmax
    * encode (zero shuffle/expansion), heap-aggregate ranking. */
  val IvfPqCoarseK = 4
  def annIvfPq(spark: SparkSession, dir: String): DataFrame =
    annIvfPqCore(spark, dir, perCell = false)

  /** IVF-PQ with PER-CELL residual codebooks: every coarse cell trains
    * its own PqM subspace codebooks on ITS residuals only (Jégou's
    * IVFADC refinement over the shared-codebook shortcut — local
    * codebooks fit each cell's residual geometry, buying accuracy for
    * the same code budget). The cell ids (= coarse seed vec_ids) are
    * read with one IvfPqCoarseK-row plan-construction action; the
    * oracle addresses cells by cid RANK via scalar subqueries so its
    * SQL stays static while the ids are data-dependent. */
  def annIvfPqPerCell(spark: SparkSession, dir: String): DataFrame =
    annIvfPqCore(spark, dir, perCell = true)

  /** IVF-PQ in an OPQ-rotated space: the learned rotation is applied to
    * corpus AND queries before the coarse quantizer, so cells, residual
    * codebooks and ADC all operate on the rotated vectors (rotation
    * preserves L2, so the exact re-rank semantics are untouched).
    * Measurement path for the r7 "rotation+IVF" candidate — see PqSpec's
    * recall comparison for whether the composition earns its cost. */
  private[graft] def annOpqIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfPqCore(spark, dir, perCell = false,
      rotFn = Some(opqRotationFn(spark, dir)))

  private def annIvfPqCore(spark: SparkSession, dir: String,
                           perCell: Boolean,
                           rotFn: Option[String] = None): DataFrame = {
    val raw = rotFn match {
      case Some(fn) =>
        graft.functions.VectorExpressions.register(spark)
        Tables.embeddings(spark, dir)
          .select(col("vec_id"), expr(s"$fn(embedding)").as("embedding"))
      case None => Tables.embeddings(spark, dir)
    }
    val e = rotFn match {
      case Some(_) => raw.select(col("vec_id"), col("embedding").as("v"))
      case None    => emb(spark, dir)
    }
    val coarse = graft.api.GraftOps.kmeansL2(
        raw, "vec_id", "embedding", IvfPqCoarseK, PqIters)
      .memoized()
    val ca = coarse.agg(collect_list(struct(col("cid"), col("cv"))).as("cs"))
    val asg = e.crossJoin(broadcast(ca))
      .select(col("vec_id"), col("v"), graft.api.GraftOps.nearestCid("cs",
        "2 * dot_product(v, c.cv) - dot_product(c.cv, c.cv)").as("cid"))
    // residuals: one broadcast join + in-row subtract; feeds codebook
    // training AND the encode passes
    val resid = asg.join(broadcast(coarse), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        expr("zip_with(v, cv, (a, b) -> a - b)").as("rv"))
      .memoized()
    val encScore = (m: Int) =>
      s"2 * dot_product(slice(rv, ${m * PqSub + 1}, $PqSub), c.cv) " +
        "- dot_product(c.cv, c.cv)"
    var enc = resid
    // shared: one codebook per subspace; per-cell: one per (cell,
    // subspace), tagged with its cell in a `ccell` column
    // r17: residual subspace slices exploded once; ONE grouped Lloyd
    // loop trains every codebook — grouped by subspace (shared books)
    // or by (subspace, cell) (per-cell books). Per-group semantics are
    // exactly the old per-slice kmeansL2 calls (same seeds per group —
    // a cell's id set is the same for every subspace — same assignment
    // argmax, same 9-dp update), but (1+PqIters) checkpoint jobs total
    // replace PqM×(1+PqIters) (shared) / PqM×cells×(1+PqIters)
    // (per-cell), and the per-cell driver-side cell-id readback is gone.
    val residSlices = resid.select(col("cid").as("ccell"), col("vec_id"),
        explode(expr(s"transform(sequence(0, ${PqM - 1}), m -> " +
          s"struct(m AS m, slice(rv, m * $PqSub + 1, $PqSub) AS x))")).as("s"))
      .select(col("s.m").as("__grp_m"), col("ccell"), col("vec_id"), col("s.x").as("x"))
    val books: Seq[DataFrame] =
      if (!perCell) {
        val all = graft.api.GraftOps.kmeansGrouped(
            residSlices, Seq("__grp_m"), "vec_id", "x", PqK, PqIters)
          .memoized()
        (0 until PqM).map(m => all.filter(col("__grp_m") === m).select("cid", "cv"))
      } else {
        val all = graft.api.GraftOps.kmeansGrouped(
            residSlices, Seq("__grp_m", "ccell"), "vec_id", "x", PqK, PqIters)
          .memoized()
        (0 until PqM).map(m =>
          all.filter(col("__grp_m") === m).select("cid", "cv", "ccell"))
      }
    for (m <- 0 until PqM) {
      enc =
        if (!perCell) {
          val cb = books(m).agg(collect_list(struct(col("cid"), col("cv"))).as(s"cs$m"))
          enc.crossJoin(broadcast(cb))
            .withColumn(s"k$m", graft.api.GraftOps.nearestCid(s"cs$m", encScore(m)))
            .drop(s"cs$m")
        } else {
          // per-cell: rows meet only THEIR cell's codebook — a
          // broadcast equi-join on the cell instead of a cross join
          val cb = books(m).groupBy(col("ccell"))
            .agg(collect_list(struct(col("cid"), col("cv"))).as(s"cs$m"))
          enc.join(broadcast(cb), col("cid") === col("ccell"))
            .withColumn(s"k$m", graft.api.GraftOps.nearestCid(s"cs$m", encScore(m)))
            .drop("ccell", s"cs$m")
        }
    }
    val codes = enc.select(col("vec_id") +: col("cid") +:
      (0 until PqM).map(m => col(s"k$m")): _*)
    // probes carry the cross-cell comparability term and the residual
    // query vector; consumed by PqM LUT builds + the candidate join
    val probes = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
      .crossJoin(broadcast(ca))
      .select(col("qid"), col("qv"), explode(expr(
        s"slice(array_sort(transform(cs, c -> struct(" +
          s"-(2 * dot_product(qv, c.cv) - dot_product(c.cv, c.cv)) AS negs, " +
          s"c.cid AS cid, c.cv AS cv))), 1, $NProbe)")).as("p"))
      .select(col("qid"), col("p.cid").as("cid"),
        expr("2 * dot_product(qv, p.cv) - dot_product(p.cv, p.cv) " +
          "- dot_product(qv, qv)").as("qcterm"),
        expr("zip_with(qv, p.cv, (a, b) -> a - b)").as("rq"))
      .memoized()
    val luts = (0 until PqM).map { m =>
      val withBook =
        if (!perCell) probes.crossJoin(broadcast(books(m)
          .select(col("cid").as(s"k$m"), col("cv").as("bcv"))))
        else probes.join(broadcast(books(m)
            .select(col("ccell"), col("cid").as(s"k$m"), col("cv").as("bcv"))),
          col("cid") === col("ccell")).drop("ccell")
      withBook.select(col("qid"), col("cid"), col(s"k$m"),
        expr(s"2 * dot_product(slice(rq, ${m * PqSub + 1}, $PqSub), bcv) " +
          "- dot_product(bcv, bcv)").as(s"t$m"))
    }
    var scored = codes
      .join(broadcast(probes.select(col("qid"), col("cid"), col("qcterm"))), Seq("cid"))
    for (m <- 0 until PqM)
      scored = scored.join(broadcast(luts(m)), Seq("qid", "cid", s"k$m"))
    val s = scored.filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (col("qcterm") +: (0 until PqM).map(m => col(s"t$m"))).reduce(_ + _).as("score"))
    val shortlist = graft.api.GraftOps
      .topKPerGroupAgg(s, "qid", "score", "vec_id", PqShortlist)
      .select(col("qid"), col("vec_id"))
    val exact = shortlist
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv")), "qid")
      .join(e, "vec_id")
      .select(col("qid"), col("vec_id"),
        expr("2 * dot_product(qv, v) - dot_product(v, v)").as("score"))
    graft.api.GraftOps.topKPerGroupAgg(exact, "qid", "score", "vec_id", TopK)
      .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"),
        round(col("score"), 6).as("score"))
      .orderBy("qid", "rnk")
  }

  /** Scalar quantization (SQ8) ANN: per-DIMENSION affine int8 codes —
    * the remaining standard memory tier next to PQ (FAISS's SQ8): one
    * byte per dimension, code_i = round((x_i − lo_i)·255/(hi_i − lo_i))
    * against per-dim corpus bounds, decode x̂_i = lo_i + c_i·Δ_i/255.
    * Where PQ buys 16–64× compression with codebook training, SQ8 buys
    * a flat 4–8× (float→byte) with NO training — two scan-speed
    * aggregates for the bounds — and, unlike PQ's Lloyd floats, every
    * stage is plain deterministic arithmetic, so the FULL pipeline
    * (bounds → codes → reconstruction → ADC shortlist → exact re-rank)
    * value-verifies against DuckDB bit-for-bit.
    * Scale: bounds = one map-side min/max agg (d rows out); codes =
    * a broadcast-join projection (the 1-byte-per-dim table is the
    * at-scale artifact, 4–8× less scan IO than floats); scoring is the
    * same broadcast-query scan as the exact baseline but over the
    * decoded bytes; shortlist via the bounded-heap aggregate; exact
    * re-rank touches R·|Q| true vectors only. */
  def annSq8(spark: SparkSession, dir: String): DataFrame =
    annSq8(spark, dir, PqShortlist)

  def annSq8(spark: SparkSession, dir: String, shortlistK: Int): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val e = emb(spark, dir)
    // per-dim corpus bounds as one broadcastable row of two d-arrays
    val bounds = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .agg(expr("array_sort(collect_list(struct(pos, lo, hi)))").as("t"))
      .select(expr("transform(t, s -> s.lo)").as("lo"),
        expr("transform(t, s -> s.hi)").as("hi"))
    // int codes 0..255 (constant dims pin to 0 — decode returns lo)
    val codes = e.crossJoin(broadcast(bounds))
      .select(col("vec_id"), expr(
        s"""transform(v, (x, i) -> CASE WHEN hi[i] = lo[i] THEN 0
              ELSE CAST(least(CAST($Sq8Levels AS DOUBLE), greatest(0.0D,
                round((x - lo[i]) * CAST($Sq8Levels AS DOUBLE) / (hi[i] - lo[i]))))
                AS INT) END)""").as("code"))
    val rec = codes.crossJoin(broadcast(bounds))
      .select(col("vec_id"), expr(
        s"""transform(code, (c, i) ->
              lo[i] + CAST(c AS DOUBLE) * (hi[i] - lo[i]) / CAST($Sq8Levels AS DOUBLE))""")
        .as("xh"))
    val scored = rec.join(broadcast(
        e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("qid"), col("v").as("qv"))),
        col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        expr("2 * dot_product(qv, xh) - dot_product(xh, xh)").as("score"))
    val shortlist = graft.api.GraftOps
      .topKPerGroupAgg(scored, "qid", "score", "vec_id", shortlistK)
      .select(col("qid"), col("vec_id"))
    val exact = shortlist
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv")), "qid")
      .join(e, "vec_id")
      .select(col("qid"), col("vec_id"),
        expr("2 * dot_product(qv, v) - dot_product(v, v)").as("score"))
    graft.api.GraftOps.topKPerGroupAgg(exact, "qid", "score", "vec_id", TopK)
      .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"),
        round(col("score"), 6).as("score"))
      .orderBy("qid", "rnk")
  }
  val Sq8Levels = 255

  /** Binary (sign-bit) quantization ANN — the 1-bit-per-dimension
    * memory tier below SQ8 (the Hamming-preselect half of RaBitQ-style
    * binary indexes, and FAISS's IndexBinaryFlat rerank pattern): each
    * dimension binarizes against its corpus MIDRANGE (lo+hi)/2 —
    * midrange, not mean, because min/max are order-free exact where a
    * float mean's summation order is not — packing 64 dims into two
    * 32-bit words of a BIGINT pair. Candidate scan = bit_count(xor)
    * per word pair: 16 bytes and two popcounts per corpus vector vs
    * 256 bytes and 64 multiplies for floats — the 100 TB scan tier —
    * then the usual exact re-rank touches only shortlist·|Q| true
    * vectors. Every stage is integer or single-op-double arithmetic,
    * so the FULL pipeline (midranges → signatures → Hamming shortlist
    * → exact re-rank) value-verifies against DuckDB bit-for-bit.
    * Shortlist ties break on (hamming ASC, vec_id ASC) in both
    * engines. */
  def annBinary(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val e = emb(spark, dir)
    val mids = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(((min(col("x")) + max(col("x"))) / 2.0).as("mid"))
      .agg(expr("array_sort(collect_list(struct(pos, mid)))").as("t"))
      .select(expr("transform(t, s -> s.mid)").as("mid"))
    val sigs = e.crossJoin(broadcast(mids))
      .select(col("vec_id"),
        expr("""aggregate(transform(v, (x, i) ->
                  IF(i < 32 AND x > mid[i], shiftleft(CAST(1 AS BIGINT), i),
                     CAST(0 AS BIGINT))),
                CAST(0 AS BIGINT), (a, b) -> a + b)""").as("w0"),
        expr("""aggregate(transform(v, (x, i) ->
                  IF(i >= 32 AND x > mid[i], shiftleft(CAST(1 AS BIGINT), i - 32),
                     CAST(0 AS BIGINT))),
                CAST(0 AS BIGINT), (a, b) -> a + b)""").as("w1"))
      .memoized() // probed by |Q| queries AND the query side itself
    val scored = sigs.join(broadcast(
        sigs.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("qid"), col("w0").as("qw0"), col("w1").as("qw1"))),
        col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (-(expr("bit_count(w0 ^ qw0) + bit_count(w1 ^ qw1)")).cast("long")).as("score"))
    val shortlist = graft.api.GraftOps
      .topKPerGroupAgg(scored, "qid", "score", "vec_id", PqShortlist)
      .select(col("qid"), col("vec_id"))
    val exact = shortlist
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv")), "qid")
      .join(e, "vec_id")
      .select(col("qid"), col("vec_id"),
        expr("2 * dot_product(qv, v) - dot_product(v, v)").as("score"))
    graft.api.GraftOps.topKPerGroupAgg(exact, "qid", "score", "vec_id", TopK)
      .select(col("qid"), col("rnk"), col("vec_id").as("neighbor"),
        round(col("score"), 6).as("score"))
      .orderBy("qid", "rnk")
  }

  /** Radius (range) search: every corpus vector within cosine ≥ Radius
    * of each query — the fixed-threshold complement of top-k (recall
    * jobs want "all sufficiently-similar", not "best k"). Same broadcast
    * query-side scan shape as top-k; the per-query WINDOW disappears,
    * so this is a pure map-side filter over the corpus — at 100 TB it
    * runs at scan speed with zero shuffle before the final collect. */
  val Radius = 0.25
  def cosineRadius(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos", round(expr("cosine_sim(qv, v)"), 6))
      .filter(col("cos") >= Radius)
      .select(col("qid"), col("vec_id").as("neighbor"), col("cos"))
      .orderBy("qid", "neighbor")
  }

  /** DuckDB mirror of annLsh: the md5-derived ±1 hyperplanes (one seed
    * per table) inlined as literal DOUBLE[] rows — the bucket collisions,
    * candidate union and final ranking are verified bit-for-bit, same
    * technique as Dedup.embLshOracle. */
  /** Recall@K of the LSH ANN tier against the exact brute-force
    * ground truth, as an OPERATOR (eval-as-query — the number a
    * retrieval pipeline monitors in production, not just a spec
    * assertion): per-query overlap of the two verified top-K sets
    * plus a mean row (qid = −1). Both sides are the registered
    * operators' own plans; the oracle recomputes BOTH from scratch
    * and intersects, so the recall itself is value-verified. */
  def simRecallReport(spark: SparkSession, dir: String): DataFrame =
    recallReportOf(annLsh(spark, dir))(spark, dir)

  /** sim_recall_report for the MULTIPROBE tier — the same value-
    * verified eval-as-query over [[annLshMultiprobe]], registering the
    * recall LIFT (0.44 → mean ≈ 0.6+ at the identical table budget)
    * as a first-class monitored number, not just a spec assertion. */
  def simRecallReportMultiprobe(spark: SparkSession, dir: String): DataFrame =
    recallReportOf(annLshMultiprobe(spark, dir))(spark, dir)

  /** sim_recall_report for the WIDE (all-single-bit-flip) multiprobe
    * tier — the registered, value-verified proof that the recall target
    * (≥ 0.85 at sf0.1) is reachable at the SAME 8-table budget by
    * probing the full Hamming-1 shell: candidate cost grows ~7× on the
    * query side only (still broadcast), corpus hash/shuffle unchanged.
    * Round12Spec asserts the mean-recall floor. */
  def simRecallReportWide(spark: SparkSession, dir: String): DataFrame =
    recallReportOf(annLshMultiprobeWide(spark, dir))(spark, dir)

  /** sim_recall_report for the MIPS-ANN tier — recall@K of
    * [[annMips]] against its own exact ground truth [[simMips]] (NOT
    * the cosine top-K: MIPS and cosine rank differently on this
    * corpus by construction), the same value-verified eval-as-query
    * discipline as the cosine recall reports. */
  def simRecallReportMips(spark: SparkSession, dir: String): DataFrame =
    recallReportAgainst(simMips(spark, dir), annMips(spark, dir))

  /** NDCG@K of the LSH ANN ranking vs the exact top-K — recall's
    * position-sensitive sibling (a hit at rank 1 is worth more than a
    * hit at rank 5): relevance of a returned neighbor = K+1 − its
    * EXACT rank (0 if outside the exact top-K), discounted by
    * 1/log₂(i+1) at its returned position. Everything is EXACT
    * integer arithmetic until the final division: the log discounts
    * are micro-quantized Scala constants inlined as literals in both
    * engines (a live log₂ call would be a cross-libm ulp risk, and a
    * float DCG sum would be order-sensitive), so DCG/IDCG are integer
    * sums and ndcg is one int/int division rounded at the edge. Mean
    * row (qid = −1) averages micro-quantized per-query ndcg as
    * integers — order-free. */
  val NdcgWeightsMicro: Seq[Long] = (1 to TopK).map(i =>
    math.floor(1e6 / (math.log(i + 1) / math.log(2)) + 0.5).toLong)
  val NdcgIdealMicro: Long =
    NdcgWeightsMicro.zipWithIndex.map { case (w, i) => (TopK - i) * w }.sum

  def simNdcgReport(spark: SparkSession, dir: String): DataFrame = {
    val exact = cosineTopk(spark, dir)
      .select(col("qid"), col("neighbor"), col("rnk").as("erank"))
      .memoized()
    val wArr = array(NdcgWeightsMicro.map(lit): _*)
    val dcg = annLsh(spark, dir)
      .select(col("qid"), col("neighbor"), col("rnk"))
      .join(exact, Seq("qid", "neighbor"), "left")
      .select(col("qid"),
        (when(col("erank").isNotNull, lit(TopK + 1L) - col("erank")).otherwise(lit(0L)) *
          element_at(wArr, col("rnk").cast("int"))).as("g"))
      .groupBy("qid").agg(sum(col("g")).as("dcg_micro"))
    // anchor per-query rows on the EXACT top-K query set (left join +
    // coalesce 0): a query whose buckets produced zero ANN candidates
    // contributes ndcg = 0 to the monitored mean instead of silently
    // vanishing — the recallReportOf discipline
    val perQ = exact.select(col("qid")).distinct()
      .join(dcg, Seq("qid"), "left")
      .select(col("qid"),
        round(coalesce(col("dcg_micro"), lit(0L)) / lit(NdcgIdealMicro.toDouble), 6).as("ndcg"))
      .memoized() // per-query rows AND the mean
    val mean = perQ
      .agg(sum(floor(col("ndcg") * 1e6 + 0.5).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(lit(-1L).as("qid"),
        round(col("s") / col("n") / 1e6, 6).as("ndcg"))
    perQ.unionAll(mean).orderBy("qid")
  }

  private lazy val ndcgOracle: String = {
    val planeRows = (0 until NumTables).flatMap { t =>
      val ps = graft.functions.LshBucket.planes(BitsPerTable, 64, t)
      (0 until BitsPerTable).map { j =>
        s"($t, $j, [${ps(j).map(w => if (w > 0) "1.0" else "-1.0").mkString(",")}]::DOUBLE[])"
      }
    }.mkString(",\n            ")
    val wList = NdcgWeightsMicro.mkString("[", ", ", "]")
    s"""WITH planes(t, j, w) AS (VALUES
            $planeRows),
          e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          xq AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
          xc AS (SELECT xq.qid, e.vec_id AS neighbor,
                        ${cosSql("xq.qv", "e.v")} AS cos
                 FROM xq, e WHERE e.vec_id <> xq.qid),
          xr AS MATERIALIZED (SELECT qid, neighbor, rnk AS erank FROM (
                SELECT qid, neighbor, row_number() OVER (PARTITION BY qid
                  ORDER BY cos DESC, neighbor) AS rnk FROM xc) WHERE rnk <= $TopK),
          proj AS (SELECT e.vec_id, p.t,
                          CASE WHEN list_dot_product(e.v, p.w) > 0 THEN 1 << p.j ELSE 0 END AS bit
                   FROM e, planes p),
          buck AS (SELECT vec_id, t, sum(bit) AS bv FROM proj GROUP BY 1, 2),
          cand AS (SELECT DISTINCT bq.vec_id AS qid, bc.vec_id
                   FROM buck bq JOIN buck bc ON bq.t = bc.t AND bq.bv = bc.bv
                   WHERE bq.vec_id < $NumQueries AND bc.vec_id <> bq.vec_id),
          scored AS (SELECT c.qid, c.vec_id,
                            ${cosSql("eq.v", "ec.v")} AS cos
                     FROM cand c JOIN e eq ON c.qid = eq.vec_id JOIN e ec ON c.vec_id = ec.vec_id),
          ar AS MATERIALIZED (SELECT qid, vec_id AS neighbor, rnk FROM (
                SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                  ORDER BY cos DESC, vec_id) AS rnk FROM scored) WHERE rnk <= $TopK),
          dcg AS (SELECT a.qid,
                   sum((CASE WHEN x.erank IS NOT NULL
                             THEN ${TopK + 1} - x.erank ELSE 0 END) *
                       ($wList::BIGINT[])[a.rnk]) AS dcg_micro
            FROM ar a LEFT JOIN xr x ON a.qid = x.qid AND a.neighbor = x.neighbor
            GROUP BY 1),
          perq AS MATERIALIZED (
            SELECT q.qid, round(coalesce(d.dcg_micro, 0)
                         / CAST($NdcgIdealMicro AS DOUBLE), 6) AS ndcg
            FROM (SELECT DISTINCT qid FROM xr) q
            LEFT JOIN dcg d ON q.qid = d.qid),
          allr AS (SELECT qid, ndcg FROM perq
                   UNION ALL
                   SELECT -1, round(sum(CAST(floor(ndcg * 1e6 + 0.5) AS BIGINT))
                                    / count(*) / 1e6, 6) FROM perq)
        SELECT qid, ndcg FROM allr ORDER BY qid"""
  }

  private def recallReportOf(annDf: DataFrame)(spark: SparkSession, dir: String): DataFrame =
    recallReportAgainst(cosineTopk(spark, dir), annDf)

  /** Recall@K of any ANN top-K against any exact top-K — the shared
    * eval core (cosine tiers pass [[cosineTopk]]; the MIPS tier its
    * own ground truth [[simMips]]). */
  private def recallReportAgainst(exactDf: DataFrame, annDf: DataFrame): DataFrame = {
    val exact = exactDf.select(col("qid"), col("neighbor"))
      .memoized()
    val ann = annDf.select(col("qid"), col("neighbor"))
    val hits = exact.join(ann, Seq("qid", "neighbor"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    val perQ = exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_exact"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .memoized() // consumed by the per-query rows AND the mean
    val mean = perQ.agg(sum(col("n_exact")).as("n_exact"), sum(col("n_hit")).as("n_hit"))
      .select(lit(-1L).as("qid"), col("n_exact"), col("n_hit"))
    perQ.unionAll(mean)
      .withColumn("recall", round(col("n_hit") / col("n_exact"), 6))
      .orderBy("qid")
  }

  private lazy val recallReportOracle: String = {
    val planeRows = (0 until NumTables).flatMap { t =>
      val ps = graft.functions.LshBucket.planes(BitsPerTable, 64, t)
      (0 until BitsPerTable).map { j =>
        s"($t, $j, [${ps(j).map(w => if (w > 0) "1.0" else "-1.0").mkString(",")}]::DOUBLE[])"
      }
    }.mkString(",\n            ")
    s"""WITH planes(t, j, w) AS (VALUES
            $planeRows),
          e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          xq AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
          xc AS (SELECT xq.qid, e.vec_id AS neighbor,
                        list_dot_product(xq.qv, e.v) /
                          (sqrt(list_dot_product(xq.qv, xq.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
                 FROM xq, e WHERE e.vec_id <> xq.qid),
          xr AS MATERIALIZED (SELECT qid, neighbor FROM (
                SELECT qid, neighbor, row_number() OVER (PARTITION BY qid
                  ORDER BY cos DESC, neighbor) AS rnk FROM xc) WHERE rnk <= $TopK),
          proj AS (SELECT e.vec_id, p.t,
                          CASE WHEN list_dot_product(e.v, p.w) > 0 THEN 1 << p.j ELSE 0 END AS bit
                   FROM e, planes p),
          buck AS (SELECT vec_id, t, sum(bit) AS bv FROM proj GROUP BY 1, 2),
          cand AS (SELECT DISTINCT bq.vec_id AS qid, bc.vec_id
                   FROM buck bq JOIN buck bc ON bq.t = bc.t AND bq.bv = bc.bv
                   WHERE bq.vec_id < $NumQueries AND bc.vec_id <> bq.vec_id),
          scored AS (SELECT c.qid, c.vec_id,
                            list_dot_product(eq.v, ec.v) /
                              (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))) AS cos
                     FROM cand c JOIN e eq ON c.qid = eq.vec_id JOIN e ec ON c.vec_id = ec.vec_id),
          ar AS MATERIALIZED (SELECT qid, vec_id AS neighbor FROM (
                SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                  ORDER BY cos DESC, vec_id) AS rnk FROM scored) WHERE rnk <= $TopK),
          hits AS (SELECT x.qid, count(*) AS n_hit
                   FROM xr x JOIN ar a ON x.qid = a.qid AND x.neighbor = a.neighbor
                   GROUP BY 1),
          perq AS MATERIALIZED (
            SELECT x.qid, count(*) AS n_exact, coalesce(any_value(h.n_hit), 0) AS n_hit
            FROM xr x LEFT JOIN hits h ON x.qid = h.qid GROUP BY 1),
          allr AS (SELECT qid, n_exact, n_hit FROM perq
                   UNION ALL
                   SELECT -1, sum(n_exact), sum(n_hit) FROM perq)
        SELECT qid, n_exact::BIGINT AS n_exact, n_hit::BIGINT AS n_hit,
               round(n_hit / CAST(n_exact AS DOUBLE), 6) AS recall
        FROM allr ORDER BY qid"""
  }

  /** recallReportOracle with the MULTIPROBE candidate chain swapped in
    * (proj keeps the raw dots, qflip ranks margins, qprobe XORs the
    * flips — identical to annLshMultiprobeOracle's candidate CTEs). */
  private lazy val recallReportMultiprobeOracle: String =
    recallReportMultiprobeOracleOf(MultiProbe)
  private lazy val recallReportWideOracle: String =
    recallReportMultiprobeOracleOf(MultiProbeWide)
  private def recallReportMultiprobeOracleOf(nprobe: Int): String = {
    val planeRows = (0 until NumTables).flatMap { t =>
      val ps = graft.functions.LshBucket.planes(BitsPerTable, 64, t)
      (0 until BitsPerTable).map { j =>
        s"($t, $j, [${ps(j).map(w => if (w > 0) "1.0" else "-1.0").mkString(",")}]::DOUBLE[])"
      }
    }.mkString(",\n            ")
    s"""WITH planes(t, j, w) AS (VALUES
            $planeRows),
          e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          xq AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
          xc AS (SELECT xq.qid, e.vec_id AS neighbor,
                        ${cosSql("xq.qv", "e.v")} AS cos
                 FROM xq, e WHERE e.vec_id <> xq.qid),
          xr AS MATERIALIZED (SELECT qid, neighbor FROM (
                SELECT qid, neighbor, row_number() OVER (PARTITION BY qid
                  ORDER BY cos DESC, neighbor) AS rnk FROM xc) WHERE rnk <= $TopK),
          proj AS (SELECT e.vec_id, p.t, p.j,
                          list_dot_product(e.v, p.w) AS dot
                   FROM e, planes p),
          buck AS MATERIALIZED (
            SELECT vec_id, t,
                   sum(CASE WHEN dot > 0 THEN 1 << j ELSE 0 END) AS bv
            FROM proj GROUP BY 1, 2),
          qflip AS (SELECT vec_id, t, j FROM (
                      SELECT vec_id, t, j,
                             row_number() OVER (PARTITION BY vec_id, t
                               ORDER BY abs(dot), j) AS rn
                      FROM proj WHERE vec_id < $NumQueries)
                    WHERE rn <= $nprobe),
          qprobe AS (SELECT vec_id, t, bv FROM buck WHERE vec_id < $NumQueries
                     UNION
                     SELECT f.vec_id, f.t, xor(b.bv, CAST(1 << f.j AS BIGINT)) AS bv
                     FROM qflip f JOIN buck b ON f.vec_id = b.vec_id AND f.t = b.t),
          cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id
                   FROM qprobe q JOIN buck c ON q.t = c.t AND q.bv = c.bv
                   WHERE c.vec_id <> q.vec_id),
          scored AS (SELECT c.qid, c.vec_id,
                            ${cosSql("eq.v", "ec.v")} AS cos
                     FROM cand c JOIN e eq ON c.qid = eq.vec_id JOIN e ec ON c.vec_id = ec.vec_id),
          ar AS MATERIALIZED (SELECT qid, vec_id AS neighbor FROM (
                SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                  ORDER BY cos DESC, vec_id) AS rnk FROM scored) WHERE rnk <= $TopK),
          hits AS (SELECT x.qid, count(*) AS n_hit
                   FROM xr x JOIN ar a ON x.qid = a.qid AND x.neighbor = a.neighbor
                   GROUP BY 1),
          perq AS MATERIALIZED (
            SELECT x.qid, count(*) AS n_exact, coalesce(any_value(h.n_hit), 0) AS n_hit
            FROM xr x LEFT JOIN hits h ON x.qid = h.qid GROUP BY 1),
          allr AS (SELECT qid, n_exact, n_hit FROM perq
                   UNION ALL
                   SELECT -1, sum(n_exact), sum(n_hit) FROM perq)
        SELECT qid, n_exact::BIGINT AS n_exact, n_hit::BIGINT AS n_hit,
               round(n_hit / CAST(n_exact AS DOUBLE), 6) AS recall
        FROM allr ORDER BY qid"""
  }

  private lazy val annLshOracle: String = {
    val planeRows = (0 until NumTables).flatMap { t =>
      val ps = graft.functions.LshBucket.planes(BitsPerTable, 64, t)
      (0 until BitsPerTable).map { j =>
        s"($t, $j, [${ps(j).map(w => if (w > 0) "1.0" else "-1.0").mkString(",")}]::DOUBLE[])"
      }
    }.mkString(",\n            ")
    s"""WITH planes(t, j, w) AS (VALUES
            $planeRows),
          e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          proj AS (SELECT e.vec_id, p.t,
                          CASE WHEN list_dot_product(e.v, p.w) > 0 THEN 1 << p.j ELSE 0 END AS bit
                   FROM e, planes p),
          buck AS (SELECT vec_id, t, sum(bit) AS bv FROM proj GROUP BY 1, 2),
          cand AS (SELECT DISTINCT bq.vec_id AS qid, bc.vec_id
                   FROM buck bq JOIN buck bc ON bq.t = bc.t AND bq.bv = bc.bv
                   WHERE bq.vec_id < $NumQueries AND bc.vec_id <> bq.vec_id),
          scored AS (SELECT c.qid, c.vec_id,
                            list_dot_product(eq.v, ec.v) /
                              (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ec.v, ec.v))) AS cos
                     FROM cand c JOIN e eq ON c.qid = eq.vec_id JOIN e ec ON c.vec_id = ec.vec_id),
          r AS (SELECT qid, vec_id, cos,
                       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
                FROM scored)
        SELECT qid, rnk, vec_id AS neighbor, round(cos, 6) AS cos
        FROM r WHERE rnk <= $TopK ORDER BY qid, rnk"""
  }

  /** DuckDB mirror of annMips: the scaled item vectors (the sim_mips
    * popularity weights), the norm augmentation (sqrt is correctly
    * rounded on both engines), the md5-derived ±1 hyperplanes over the
    * 65-dim augmented space, and the exact-ip re-rank — the whole
    * reduction replays bit-for-bit. Ends with `ar` (qid, vec_id, ip,
    * rnk); `q`/`ei` stay available for the recall oracle's exact
    * tier. */
  private lazy val mipsAnnCtes: String = {
    val planeRows = (0 until NumTables).flatMap { t =>
      val ps = graft.functions.LshBucket.planes(BitsPerTable, MipsAugDim, t)
      (0 until BitsPerTable).map { j =>
        s"($t, $j, [${ps(j).map(w => if (w > 0) "1.0" else "-1.0").mkString(",")}]::DOUBLE[])"
      }
    }.mkString(",\n            ")
    s"""planes(t, j, w) AS (VALUES
            $planeRows),
          ei AS MATERIALIZED (SELECT vec_id,
                 list_transform(embedding::DOUBLE[],
                   x -> x * (1.0 + CAST(vec_id % 7 AS DOUBLE) / 10.0)) AS v
               FROM embeddings),
          ea AS MATERIALIZED (SELECT vec_id,
                 list_concat(v, [sqrt($MipsAugBound * $MipsAugBound - list_dot_product(v, v))]) AS av
               FROM ei),
          q AS MATERIALIZED (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
                 list_concat(embedding::DOUBLE[], [0.0]) AS aqv
               FROM embeddings WHERE vec_id < $NumQueries),
          bucki AS MATERIALIZED (SELECT e.vec_id, p.t,
                 sum(CASE WHEN list_dot_product(e.av, p.w) > 0 THEN 1 << p.j ELSE 0 END) AS bv
               FROM ea e, planes p GROUP BY 1, 2),
          buckq AS (SELECT q.qid, p.t,
                 sum(CASE WHEN list_dot_product(q.aqv, p.w) > 0 THEN 1 << p.j ELSE 0 END) AS bv
               FROM q, planes p GROUP BY 1, 2),
          qprobe AS (SELECT qid, t, bv FROM buckq
                     UNION
                     SELECT b.qid, b.t, xor(b.bv, CAST(1 << u.j AS BIGINT)) AS bv
                     FROM buckq b,
                          unnest(generate_series(0, ${BitsPerTable - 1})) u(j)),
          cand AS (SELECT DISTINCT bq.qid, bc.vec_id
                   FROM qprobe bq JOIN bucki bc ON bq.t = bc.t AND bq.bv = bc.bv
                   WHERE bc.vec_id <> bq.qid),
          ascored AS (SELECT c.qid, c.vec_id,
                   list_dot_product(q.qv, e.v) AS ip
                 FROM cand c JOIN q ON c.qid = q.qid JOIN ei e ON c.vec_id = e.vec_id),
          ar AS (SELECT qid, vec_id, ip,
                 row_number() OVER (PARTITION BY qid ORDER BY ip DESC, vec_id) AS rnk
               FROM ascored)"""
  }

  private lazy val annMipsOracle: String =
    s"""WITH $mipsAnnCtes
        SELECT qid, rnk, vec_id AS neighbor, round(ip, 6) AS ip
        FROM ar WHERE rnk <= $TopK ORDER BY qid, rnk"""

  private lazy val recallReportMipsOracle: String =
    s"""WITH $mipsAnnCtes,
          xc AS (SELECT q.qid, e.vec_id AS neighbor,
                        list_dot_product(q.qv, e.v) AS ip
                 FROM q, ei e WHERE e.vec_id <> q.qid),
          xr AS MATERIALIZED (SELECT qid, neighbor FROM (
                SELECT qid, neighbor, row_number() OVER (PARTITION BY qid
                  ORDER BY ip DESC, neighbor) AS rnk FROM xc) WHERE rnk <= $TopK),
          art AS MATERIALIZED (SELECT qid, vec_id AS neighbor FROM ar
                               WHERE rnk <= $TopK),
          hits AS (SELECT x.qid, count(*) AS n_hit
                   FROM xr x JOIN art a ON x.qid = a.qid AND x.neighbor = a.neighbor
                   GROUP BY 1),
          perq AS MATERIALIZED (
            SELECT x.qid, count(*) AS n_exact, coalesce(any_value(h.n_hit), 0) AS n_hit
            FROM xr x LEFT JOIN hits h ON x.qid = h.qid GROUP BY 1),
          allr AS (SELECT qid, n_exact, n_hit FROM perq
                   UNION ALL
                   SELECT -1, sum(n_exact), sum(n_hit) FROM perq)
        SELECT qid, n_exact::BIGINT AS n_exact, n_hit::BIGINT AS n_hit,
               round(n_hit / CAST(n_exact AS DOUBLE), 6) AS recall
        FROM allr ORDER BY qid"""

  /** DuckDB mirror of simKnnGraph: same inlined hyperplanes, bucket
    * SELF-join over all nodes, per-node top-KnnK. */
  private lazy val knnGraphOracle: String = {
    val planeRows = (0 until NumTables).flatMap { t =>
      val ps = graft.functions.LshBucket.planes(BitsPerTable, 64, t)
      (0 until BitsPerTable).map { j =>
        s"($t, $j, [${ps(j).map(w => if (w > 0) "1.0" else "-1.0").mkString(",")}]::DOUBLE[])"
      }
    }.mkString(",\n            ")
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
          scored AS (SELECT c.qid, c.vec_id,
                            ${cosSql("eq.v", "ec.v")} AS cos
                     FROM cand c JOIN e eq ON c.qid = eq.vec_id JOIN e ec ON c.vec_id = ec.vec_id),
          r AS (SELECT qid, vec_id, cos,
                       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
                FROM scored)
        SELECT qid, rnk, vec_id AS neighbor, round(cos, 6) AS cos
        FROM r WHERE rnk <= $KnnK ORDER BY qid, rnk"""
  }

  /** DuckDB mirror of annIvf: same every-Nth centroid rule, nearest-cell
    * assignment, NProbe query probes and final ranking — the window form
    * is fine HERE (oracle runs at test SF only; the Spark side is the
    * at-scale shape). */
  private lazy val annIvfOracle: String = {
    val cosSql = (a: String, b: String) =>
      s"""list_dot_product($a, $b) /
             (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"""
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % $CentroidEvery = 0),
          asg AS (SELECT vec_id, cid FROM (
                    SELECT e.vec_id, c.cid,
                           row_number() OVER (PARTITION BY e.vec_id ORDER BY
                             ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
                    FROM e, cents c) WHERE rn = 1),
          probes AS (SELECT qid, cid FROM (
                    SELECT q.vec_id AS qid, c.cid,
                           row_number() OVER (PARTITION BY q.vec_id ORDER BY
                             ${cosSql("q.v", "c.cv")} DESC, c.cid) AS rn
                    FROM e q, cents c WHERE q.vec_id < $NumQueries) WHERE rn <= $NProbe),
          scored AS (SELECT p.qid, a.vec_id,
                            ${cosSql("eq.v", "ec.v")} AS cos
                     FROM probes p JOIN asg a ON p.cid = a.cid
                     JOIN e eq ON p.qid = eq.vec_id JOIN e ec ON a.vec_id = ec.vec_id
                     WHERE a.vec_id <> p.qid),
          r AS (SELECT qid, vec_id, cos,
                       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
                FROM scored)
        SELECT qid, rnk, vec_id AS neighbor, round(cos, 6) AS cos
        FROM r WHERE rnk <= $TopK ORDER BY qid, rnk"""
  }

  private def cosSql(a: String, b: String): String =
    s"""list_dot_product($a, $b) /
           (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"""

  /** Unrolled Lloyd iterations c0..c{KmIters} as DuckDB CTE text —
    * shared prefix of the ml_kmeans and sim_ann_ivf_kmeans oracles.
    * Every stage is MATERIALIZED (each c{t} is referenced twice; DuckDB
    * default CTE inlining would re-evaluate exponentially). The 9 dp
    * per-round centroid rounding matches kmeansCosine exactly, pinning
    * both engines to the same float path. */
  private lazy val kmeansCtes: String = {
    val iterCtes = (1 to KmIters).map { t =>
      s"""a$t AS MATERIALIZED (SELECT vec_id, v, cid FROM (
                SELECT e.vec_id, e.v, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
                FROM e, c${t - 1} c) WHERE rn = 1),
          m$t AS MATERIALIZED (SELECT cid, pos, round(sum(val) / count(*), 9) AS mn
                FROM (SELECT cid, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM a$t)
                GROUP BY cid, pos),
          n$t AS MATERIALIZED (SELECT cid, list(mn ORDER BY pos) AS cv FROM m$t GROUP BY cid),
          c$t AS MATERIALIZED (SELECT p.cid, coalesce(n.cv, p.cv) AS cv
                FROM c${t - 1} p LEFT JOIN n$t n USING (cid))"""
    }.mkString(",\n          ")
    s"""e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          c0 AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM e
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $KmK),
          $iterCtes"""
  }

  private lazy val mlKmeansOracle: String =
    s"""WITH $kmeansCtes,
          af AS MATERIALIZED (SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
                FROM e, c$KmIters c) WHERE rn = 1)
        SELECT c.cid, count(a.vec_id) AS n_members, round(c.cv[1], 6) AS c0
        FROM c$KmIters c LEFT JOIN af a USING (cid)
        GROUP BY c.cid, c.cv ORDER BY cid"""

  /** Simplified silhouette score per k-means cluster (the centroid
    * form: a(i) = cosine distance to OWN centroid, b(i) = to the
    * second-nearest; s = (b−a)/max(a,b)) — the cluster-quality score
    * for the embedding tier, exactly as graph_modularity scores the
    * community tier. Assignment ties break (distance ASC, cid ASC) on
    * BOTH engines — the oracle ranks by the same derived distance, not
    * by raw cosine, so a 1−x precision collapse can't flip the order.
    * One corpus scan over the broadcast centroid array; per-cluster
    * mean is the only aggregation. */
  def mlSilhouette(spark: SparkSession, dir: String): DataFrame =
    silhouetteOn(emb(spark, dir), trainedCents(spark, dir))

  /** The silhouette core over any (vec_id, v) frame and (cid, cv)
    * centroid table — spec entry point for planted clusters. */
  def silhouetteOn(e: DataFrame, cents: DataFrame): DataFrame = {
    val centArr = cents.agg(collect_list(struct(col("cid"), col("cv"))).as("cs"))
    e.crossJoin(broadcast(centArr))
      .select(col("vec_id"), expr(
        "array_sort(transform(cs, c -> struct(1.0 - cosine_sim(v, c.cv) AS d, c.cid AS cid)))").as("ds"))
      .select(col("vec_id"),
        col("ds").getItem(0).getField("cid").as("cid"),
        col("ds").getItem(0).getField("d").as("d1"),
        col("ds").getItem(1).getField("d").as("d2"))
      .withColumn("s", when(greatest(col("d1"), col("d2")) === 0.0, lit(0.0))
        .otherwise((col("d2") - col("d1")) / greatest(col("d1"), col("d2"))))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"), round(avg(col("s")), 6).as("silhouette"))
      .orderBy("cid")
  }

  private lazy val silhouetteOracle: String =
    s"""WITH $kmeansCtes,
          sldd AS (SELECT e.vec_id, c.cid, 1.0 - ${cosSql("e.v", "c.cv")} AS d
                 FROM e, c$KmIters c),
          slrk AS (SELECT vec_id, cid, d,
                        row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                 FROM sldd),
          sla1 AS (SELECT vec_id, cid, d AS d1 FROM slrk WHERE rn = 1),
          sla2 AS (SELECT vec_id, d AS d2 FROM slrk WHERE rn = 2),
          sls AS (SELECT sla1.vec_id, sla1.cid,
                       CASE WHEN greatest(d1, d2) = 0 THEN 0.0
                            ELSE (d2 - d1) / greatest(d1, d2) END AS s
                FROM sla1 JOIN sla2 USING (vec_id))
        SELECT cid, count(*) AS n_members, round(avg(s), 6) AS silhouette
        FROM sls GROUP BY 1 ORDER BY cid"""

  /** SemDeDup oracle: the shared Lloyd replay, final assignment, then
    * the within-cluster lower-id-neighbor verdict. */
  private lazy val curSemdedupOracle: String =
    s"""WITH $kmeansCtes,
          af AS MATERIALIZED (SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
                FROM e, c$KmIters c) WHERE rn = 1),
          av AS MATERIALIZED (SELECT af.vec_id, af.cid, e.v
                FROM af JOIN e USING (vec_id)),
          drops AS (SELECT DISTINCT b.vec_id
                    FROM av a JOIN av b ON a.cid = b.cid AND a.vec_id < b.vec_id
                    WHERE round(${cosSql("a.v", "b.v")}, 6) >= $SemThreshold)
        SELECT av.vec_id, av.cid, (d.vec_id IS NULL) AS is_keep
        FROM av LEFT JOIN drops d ON av.vec_id = d.vec_id
        ORDER BY av.vec_id"""

  private lazy val annIvfKmeansOracle: String =
    s"""WITH $kmeansCtes,
          asg AS (SELECT vec_id, cid FROM (
                    SELECT e.vec_id, c.cid,
                           row_number() OVER (PARTITION BY e.vec_id ORDER BY
                             ${cosSql("e.v", "c.cv")} DESC, c.cid) AS rn
                    FROM e, c$KmIters c) WHERE rn = 1),
          probes AS (SELECT qid, cid FROM (
                    SELECT q.vec_id AS qid, c.cid,
                           row_number() OVER (PARTITION BY q.vec_id ORDER BY
                             ${cosSql("q.v", "c.cv")} DESC, c.cid) AS rn
                    FROM e q, c$KmIters c WHERE q.vec_id < $NumQueries) WHERE rn <= $NProbe),
          scored AS (SELECT p.qid, a.vec_id,
                            ${cosSql("eq.v", "ec.v")} AS cos
                     FROM probes p JOIN asg a ON p.cid = a.cid
                     JOIN e eq ON p.qid = eq.vec_id JOIN e ec ON a.vec_id = ec.vec_id
                     WHERE a.vec_id <> p.qid),
          r AS (SELECT qid, vec_id, cos,
                       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
                FROM scored)
        SELECT qid, rnk, vec_id AS neighbor, round(cos, 6) AS cos
        FROM r WHERE rnk <= $TopK ORDER BY qid, rnk"""

  private def subSql(v: String, m: Int): String =
    s"list_slice($v, ${m * PqSub + 1}, ${m * PqSub + PqSub})"
  private def l2ScoreSql(x: String, c: String): String =
    s"2 * list_dot_product($x, $c) - list_dot_product($c, $c)"

  /** Per-subspace unrolled L2 Lloyd + encode + query LUTs as DuckDB CTE
    * text — the Lloyd chain itself comes from the SHARED l2LloydCtes
    * generator (one definition of seeds/assign/9dp-means/carryover for
    * both the PQ and IVF-PQ oracles), this wraps it with the subspace
    * slice, the encode pass and the per-query LUT. */
  private def pqCtesWith(eDef: String): String = {
    val blocks = (0 until PqM).map { m =>
      val cFin = s"s${m}c$PqIters"
      s"""e$m AS MATERIALIZED (SELECT vec_id, ${subSql("v", m)} AS x FROM e),
          ${l2LloydCtes(s"s$m", s"e$m", PqK, PqIters)},
          code$m AS MATERIALIZED (SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         ${l2ScoreSql("e.x", "c.cv")} DESC, c.cid) AS rn
                FROM e$m e, $cFin c) WHERE rn = 1),
          lut$m AS MATERIALIZED (SELECT q.vec_id AS qid, c.cid,
                ${l2ScoreSql("q.x", "c.cv")} AS t
                FROM e$m q, $cFin c WHERE q.vec_id < $NumQueries)"""
    }.mkString(",\n          ")
    s"""e AS MATERIALIZED ($eDef),
          $blocks"""
  }

  private lazy val pqCtes: String =
    pqCtesWith("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")

  /** Unrolled L2 Lloyd CTE chain over a (vec_id, x DOUBLE[]) CTE `src`:
    * emits ${p}c0..${p}c$iters with exactly the kmeansL2 semantics
    * (hash-ordered seeds, argmax of 2x·c − c·c, 9 dp per-round means,
    * empty-cluster carryover). Same MATERIALIZED discipline as
    * kmeansCtes — every level is referenced at least twice. */
  private def l2LloydCtes(p: String, src: String, k: Int, iters: Int): String = {
    val head =
      s"""${p}c0 AS MATERIALIZED (SELECT vec_id AS cid, x AS cv FROM $src
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k)"""
    val its = (1 to iters).map { t =>
      s"""${p}a$t AS MATERIALIZED (SELECT vec_id, x, cid FROM (
                SELECT e.vec_id, e.x, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         ${l2ScoreSql("e.x", "c.cv")} DESC, c.cid) AS rn
                FROM $src e, ${p}c${t - 1} c) WHERE rn = 1),
          ${p}m$t AS MATERIALIZED (SELECT cid, pos, round(sum(val) / count(*), 9) AS mn
                FROM (SELECT cid, unnest(x) AS val, generate_subscripts(x, 1) AS pos FROM ${p}a$t)
                GROUP BY cid, pos),
          ${p}n$t AS MATERIALIZED (SELECT cid, list(mn ORDER BY pos) AS cv FROM ${p}m$t GROUP BY cid),
          ${p}c$t AS MATERIALIZED (SELECT p.cid, coalesce(n.cv, p.cv) AS cv
                FROM ${p}c${t - 1} p LEFT JOIN ${p}n$t n USING (cid))"""
    }.mkString(",\n          ")
    s"$head,\n          $its"
  }

  /** Shared head of both IVF-PQ oracles: coarse Lloyd, assignment,
    * residual build, probes with the −‖q−c‖² cross-cell term, per-probe
    * query residuals. Emits e0, ec, the qz Lloyd chain, asg, res,
    * probes, rq. */
  private lazy val ivfPqHeadCtes: String =
    ivfPqHeadCtesWith("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")

  private def ivfPqHeadCtesWith(eDef: String): String = {
    val cFin = s"qzc$PqIters"
    s"""e0 AS MATERIALIZED ($eDef),
          ec AS MATERIALIZED (SELECT vec_id, v AS x FROM e0),
          ${l2LloydCtes("qz", "ec", IvfPqCoarseK, PqIters)},
          asg AS MATERIALIZED (SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         ${l2ScoreSql("e.v", "c.cv")} DESC, c.cid) AS rn
                FROM e0 e, $cFin c) WHERE rn = 1),
          res AS MATERIALIZED (SELECT x.vec_id, x.cid, list(x.val - y.mn ORDER BY x.pos) AS rv
                FROM (SELECT a.vec_id, a.cid, unnest(e.v) AS val, generate_subscripts(e.v, 1) AS pos
                      FROM asg a JOIN e0 e ON a.vec_id = e.vec_id) x
                JOIN (SELECT cid, unnest(cv) AS mn, generate_subscripts(cv, 1) AS pos FROM $cFin) y
                  ON x.cid = y.cid AND x.pos = y.pos
                GROUP BY x.vec_id, x.cid),
          probes AS MATERIALIZED (SELECT qid, cid, qcterm FROM (
                SELECT q.vec_id AS qid, c.cid,
                       ${l2ScoreSql("q.v", "c.cv")} - list_dot_product(q.v, q.v) AS qcterm,
                       row_number() OVER (PARTITION BY q.vec_id ORDER BY
                         ${l2ScoreSql("q.v", "c.cv")} DESC, c.cid) AS rn
                FROM e0 q, $cFin c WHERE q.vec_id < $NumQueries) WHERE rn <= $NProbe),
          rq AS MATERIALIZED (SELECT p.qid, p.cid, list(x.val - y.mn ORDER BY x.pos) AS rv
                FROM probes p
                JOIN (SELECT vec_id, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM e0) x
                  ON x.vec_id = p.qid
                JOIN (SELECT cid, unnest(cv) AS mn, generate_subscripts(cv, 1) AS pos FROM $cFin) y
                  ON y.cid = p.cid AND y.pos = x.pos
                GROUP BY p.qid, p.cid)"""
  }

  /** Shared tail: ADC scoring over code/lut CTEs (one pair per
    * subspace, names fixed), shortlist, exact re-rank, final ranks. */
  private lazy val ivfPqTailCtes: String =
    s"""scored AS (SELECT p.qid, r.vec_id,
                            p.qcterm + l0.t + l1.t + l2.t + l3.t AS score
                     FROM res r JOIN probes p ON r.cid = p.cid
                     JOIN code0 c0 ON c0.vec_id = r.vec_id
                     JOIN code1 c1 ON c1.vec_id = r.vec_id
                     JOIN code2 c2 ON c2.vec_id = r.vec_id
                     JOIN code3 c3 ON c3.vec_id = r.vec_id
                     JOIN lut0 l0 ON l0.qid = p.qid AND l0.cid = p.cid AND l0.code = c0.cid
                     JOIN lut1 l1 ON l1.qid = p.qid AND l1.cid = p.cid AND l1.code = c1.cid
                     JOIN lut2 l2 ON l2.qid = p.qid AND l2.cid = p.cid AND l2.code = c2.cid
                     JOIN lut3 l3 ON l3.qid = p.qid AND l3.cid = p.cid AND l3.code = c3.cid
                     WHERE r.vec_id <> p.qid),
          short AS (SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
                FROM scored) WHERE rnk <= $PqShortlist),
          ex AS (SELECT s.qid, s.vec_id,
                        2 * list_dot_product(eq.v, ex2.v) - list_dot_product(ex2.v, ex2.v) AS score
                 FROM short s JOIN e0 eq ON s.qid = eq.vec_id
                 JOIN e0 ex2 ON s.vec_id = ex2.vec_id),
          r AS (SELECT qid, vec_id, score,
                       row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
                FROM ex)
        SELECT qid, rnk, vec_id AS neighbor, round(score, 6) AS score
        FROM r WHERE rnk <= $TopK ORDER BY qid, rnk"""

  /** DuckDB mirror of annIvfPq: coarse Lloyd, residual build, residual
    * codebook Lloyds, encode, probes with the −‖q−c‖² cross-cell term,
    * residual LUTs, ADC shortlist, exact re-rank — every float in the
    * same order as the Spark plan. */
  private def ivfPqOracleWith(head: String): String = {
    val residBlocks = (0 until PqM).map { m =>
      s"""rs$m AS MATERIALIZED (SELECT vec_id, ${subSql("rv", m)} AS x FROM res),
          ${l2LloydCtes(s"b$m", s"rs$m", PqK, PqIters)},
          code$m AS MATERIALIZED (SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         ${l2ScoreSql("e.x", "c.cv")} DESC, c.cid) AS rn
                FROM rs$m e, b${m}c$PqIters c) WHERE rn = 1),
          lut$m AS MATERIALIZED (SELECT r.qid, r.cid, c.cid AS code,
                2 * list_dot_product(${subSql("r.rv", m)}, c.cv)
                  - list_dot_product(c.cv, c.cv) AS t
                FROM rq r, b${m}c$PqIters c)"""
    }.mkString(",\n          ")
    s"""WITH $head,
          $residBlocks,
          $ivfPqTailCtes"""
  }

  private lazy val annIvfPqOracle: String = ivfPqOracleWith(ivfPqHeadCtes)

  /** IVF-PQ over the OPQ-rotated space: the full training replay
    * (opqTrainingCtes) feeds `rotfin` into the standard IVF-PQ oracle
    * head — cells, residuals, codebooks, ADC and the exact re-rank all
    * operate on the rotated corpus, exactly like the Spark plan. */
  private lazy val annOpqIvfOracle: String = ivfPqOracleWith(
    s"""$opqTrainingCtes,
          ${ivfPqHeadCtesWith("SELECT vec_id, v FROM rotfin")}""")

  /** DuckDB mirror of annIvfPqPerCell: same head and tail, but one
    * Lloyd chain per (cell, subspace). Cells are addressed by cid RANK
    * (`cellr`) via scalar subqueries, so the SQL text is static even
    * though cell ids are data-dependent seed vec_ids; code/lut CTEs
    * union the per-cell pieces back into the shared-tail names. */
  private lazy val annIvfPqPerCellOracle: String = {
    val cells = 1 to IvfPqCoarseK
    val cellSel = (c: Int) => s"(SELECT cid FROM cellr WHERE cr = $c)"
    val lloydBlocks = (for { c <- cells; m <- 0 until PqM } yield
      s"""pc${c}s$m AS MATERIALIZED (SELECT vec_id, ${subSql("rv", m)} AS x FROM res
                WHERE cid = ${cellSel(c)}),
          ${l2LloydCtes(s"pc${c}b$m", s"pc${c}s$m", PqK, PqIters)}"""
      ).mkString(",\n          ")
    val codeLut = (0 until PqM).map { m =>
      val codeUnion = cells.map { c =>
        s"""SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         ${l2ScoreSql("e.x", "c.cv")} DESC, c.cid) AS rn
                FROM pc${c}s$m e, pc${c}b${m}c$PqIters c) WHERE rn = 1"""
      }.mkString("\n                UNION ALL ")
      val lutUnion = cells.map { c =>
        s"""SELECT r.qid, r.cid, c.cid AS code,
                2 * list_dot_product(${subSql("r.rv", m)}, c.cv)
                  - list_dot_product(c.cv, c.cv) AS t
                FROM rq r, pc${c}b${m}c$PqIters c WHERE r.cid = ${cellSel(c)}"""
      }.mkString("\n                UNION ALL ")
      s"""code$m AS MATERIALIZED ($codeUnion),
          lut$m AS MATERIALIZED ($lutUnion)"""
    }.mkString(",\n          ")
    s"""WITH $ivfPqHeadCtes,
          cellr AS MATERIALIZED (SELECT cid, row_number() OVER (ORDER BY cid) AS cr
                FROM qzc$PqIters),
          $lloydBlocks,
          $codeLut,
          $ivfPqTailCtes"""
  }

  /** DuckDB mirror of annBinary: midranges, sign-bit word packing
    * (sum of distinct powers of two = the bitwise OR, order-free),
    * popcount-of-xor Hamming shortlist, exact re-rank. */
  private lazy val annBinaryOracle: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          u AS MATERIALIZED (SELECT vec_id, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM e),
          m AS MATERIALIZED (SELECT pos, (min(val) + max(val)) / 2.0 AS mid FROM u GROUP BY pos),
          sig AS MATERIALIZED (SELECT u.vec_id,
                CAST(sum(CASE WHEN u.pos <= 32 AND u.val > m.mid
                    THEN CAST(1 AS BIGINT) << (u.pos - 1) ELSE 0 END) AS BIGINT) AS w0,
                CAST(sum(CASE WHEN u.pos > 32 AND u.val > m.mid
                    THEN CAST(1 AS BIGINT) << (u.pos - 33) ELSE 0 END) AS BIGINT) AS w1
              FROM u JOIN m USING (pos) GROUP BY u.vec_id),
          q AS (SELECT vec_id AS qid, w0 AS qw0, w1 AS qw1 FROM sig
                WHERE vec_id < $NumQueries),
          scored AS (SELECT q.qid, s.vec_id,
                -(bit_count(xor(s.w0, q.qw0)) + bit_count(xor(s.w1, q.qw1))) AS hscore
              FROM q, sig s WHERE s.vec_id <> q.qid),
          short AS (SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid ORDER BY hscore DESC, vec_id) AS rnk
                FROM scored) WHERE rnk <= $PqShortlist),
          ex AS (SELECT s.qid, s.vec_id,
                        2 * list_dot_product(eq.v, ec.v) - list_dot_product(ec.v, ec.v) AS score
                 FROM short s JOIN e eq ON s.qid = eq.vec_id
                 JOIN e ec ON s.vec_id = ec.vec_id),
          r AS (SELECT qid, vec_id, score,
                       row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
                FROM ex)
        SELECT qid, rnk, vec_id AS neighbor, round(score, 6) AS score
        FROM r WHERE rnk <= $TopK ORDER BY qid, rnk"""

  /** DuckDB mirror of annSq8: per-dim bounds, affine codes, decode,
    * ADC shortlist, exact re-rank — positional joins replay the
    * per-dimension arithmetic in the identical operation order. */
  private lazy val annSq8Oracle: String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          u AS MATERIALIZED (SELECT vec_id, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM e),
          b AS MATERIALIZED (SELECT pos, min(val) AS lo, max(val) AS hi FROM u GROUP BY pos),
          rec AS MATERIALIZED (SELECT u.vec_id, list(
                b.lo + CAST(CASE WHEN b.hi = b.lo THEN 0
                    ELSE CAST(least(CAST($Sq8Levels AS DOUBLE), greatest(0.0,
                      round((u.val - b.lo) * CAST($Sq8Levels AS DOUBLE) / (b.hi - b.lo))))
                      AS INT) END AS DOUBLE) * (b.hi - b.lo) / CAST($Sq8Levels AS DOUBLE)
                ORDER BY u.pos) AS xh
              FROM u JOIN b USING (pos) GROUP BY u.vec_id),
          q AS MATERIALIZED (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
          scored AS (SELECT q.qid, r.vec_id,
                            2 * list_dot_product(q.qv, r.xh) - list_dot_product(r.xh, r.xh) AS score
                     FROM q, rec r WHERE r.vec_id <> q.qid),
          short AS (SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
                FROM scored) WHERE rnk <= $PqShortlist),
          ex AS (SELECT s.qid, s.vec_id,
                        2 * list_dot_product(eq.v, ec.v) - list_dot_product(ec.v, ec.v) AS score
                 FROM short s JOIN e eq ON s.qid = eq.vec_id
                 JOIN e ec ON s.vec_id = ec.vec_id),
          r AS (SELECT qid, vec_id, score,
                       row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
                FROM ex)
        SELECT qid, rnk, vec_id AS neighbor, round(score, 6) AS score
        FROM r WHERE rnk <= $TopK ORDER BY qid, rnk"""

  private lazy val annPqOracle: String = pqOracleWith(pqCtes)

  /** Same pipeline over md5-permuted dimensions — only the e CTE
    * changes (list_select with the literal permutation). */
  private lazy val annPqPermOracle: String = pqOracleWith(pqCtesWith(
    s"SELECT vec_id, list_select(embedding::DOUBLE[], [${PqPerm.mkString(", ")}]) AS v FROM embeddings"))

  // ----- OPQ value oracle: full 2-pass training replay ---------------

  private val Ed = PqM * PqSub // embedding dimensionality (64)
  private val RGridLit = "1000000000000.0" // = RGrid, spelled for SQL
  private val MGridLit = "1000000.0"       // = MGrid

  /** Unrolled Newton–Schulz polar sweep over a single-row matrix CTE
    * `mCte` (column `m`, LIST<LIST<DOUBLE>>, already M-grid-snapped).
    * Emits ${p}f, ${p}r0..${p}r$NsIters; the result matrix is column
    * `r` of `${p}r$NsIters`. Every dot is a list_dot_product over
    * lists built in ascending-k order — bit-identical to [[polarNS]]'s
    * sequential loops (measured: DuckDB list ops sum left-to-right).
    * Every level MATERIALIZED: DuckDB would otherwise inline the
    * 2×NsIters-deep chain into one expression. */
  private def nsCtes(p: String, mCte: String): String = {
    val its = (1 to NsIters).map { it =>
      s"""${p}a$it AS MATERIALIZED (SELECT r,
              list_transform(tr, ci -> list_transform(tr, cj -> list_dot_product(ci, cj))) AS a
              FROM (SELECT r, list_transform(range(1, ${Ed + 1}), i ->
                      list_transform(r, row -> row[i])) AS tr
                    FROM ${p}r${it - 1})),
          ${p}r$it AS MATERIALIZED (SELECT list_transform(range(1, ${Ed + 1}), i ->
                list_transform(range(1, ${Ed + 1}), j ->
                  floor((3 * r[i][j] - list_dot_product(r[i],
                    list_transform(a, row -> row[j]))) / 2 * $RGridLit + 0.5) / $RGridLit)) AS r
              FROM ${p}a$it)"""
    }.mkString(",\n          ")
    s"""${p}f AS MATERIALIZED (SELECT sqrt(list_sum(list_transform(flatten(m), v -> v * v))) AS f
              FROM $mCte),
          ${p}r0 AS MATERIALIZED (SELECT list_transform(m, row -> list_transform(row, v ->
                floor(v / f * $RGridLit + 0.5) / $RGridLit)) AS r
              FROM $mCte, ${p}f),
          $its"""
  }

  /** One OPQ training pass in CTEs: subspace Lloyds + encode on the
    * pass's rotated corpus `eDef`, reconstruction x̂, and the
    * M-grid-snapped data term M = Σ x̂·x_rawᵀ (single-row matrix CTE
    * `${p}m`). `raw` must be in scope. */
  private def opqPassCtes(p: String, eDef: String): String = {
    val blocks = (0 until PqM).map { m =>
      s"""${p}x$m AS MATERIALIZED (SELECT vec_id, ${subSql("v", m)} AS x FROM ${p}e),
          ${l2LloydCtes(s"${p}s$m", s"${p}x$m", PqK, PqIters)},
          ${p}code$m AS MATERIALIZED (SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         ${l2ScoreSql("e.x", "c.cv")} DESC, c.cid) AS rn
                FROM ${p}x$m e, ${p}s${m}c$PqIters c) WHERE rn = 1)"""
    }.mkString(",\n          ")
    val codeJoins = s"${p}code0 c0 " + (1 until PqM)
      .map(m => s"JOIN ${p}code$m c$m USING (vec_id)").mkString(" ")
    val bookJoins = (0 until PqM)
      .map(m => s"JOIN ${p}s${m}c$PqIters b$m ON b$m.cid = c$m.cid").mkString(" ")
    val concat = (0 until PqM).map(m => s"b$m.cv").mkString(" || ")
    s"""${p}e AS MATERIALIZED ($eDef),
          $blocks,
          ${p}rec AS MATERIALIZED (SELECT c0.vec_id, $concat AS xhat
                FROM $codeJoins $bookJoins),
          ${p}mc AS MATERIALIZED (SELECT ii.i AS ii, jj.j AS jj,
                floor(sum(h.xhat[ii.i] * w.v[jj.j]) * $MGridLit + 0.5) / $MGridLit AS val
                FROM ${p}rec h JOIN raw w USING (vec_id),
                     unnest(range(1, ${Ed + 1})) AS ii(i),
                     unnest(range(1, ${Ed + 1})) AS jj(j)
                GROUP BY 1, 2),
          ${p}m AS MATERIALIZED (SELECT list(row ORDER BY ii) AS m FROM (
                SELECT ii, list(val ORDER BY jj) AS row FROM ${p}mc GROUP BY ii))"""
  }

  /** The whole [[learnOpqRotation]] replay: pass 1 from the PqPerm
    * permutation, polar sweep → R₁, pass 2 on the R₁-rotated corpus,
    * polar sweep → R₂, and `rotfin` = the R₂-rotated corpus that the
    * final PQ/IVF-PQ pipeline consumes. */
  private lazy val opqTrainingCtes: String =
    s"""raw AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          ${opqPassCtes("p1", s"SELECT vec_id, list_select(v, [${PqPerm.mkString(", ")}]) AS v FROM raw")},
          ${nsCtes("q1", "p1m")},
          rot1 AS MATERIALIZED (SELECT w.vec_id,
                list_transform(n.r, row -> list_dot_product(row, w.v)) AS v
                FROM raw w, q1r$NsIters n),
          ${opqPassCtes("p2", "SELECT vec_id, v FROM rot1")},
          ${nsCtes("q2", "p2m")},
          rotfin AS MATERIALIZED (SELECT w.vec_id,
                list_transform(n.r, row -> list_dot_product(row, w.v)) AS v
                FROM raw w, q2r$NsIters n)"""

  private lazy val annOpqOracle: String =
    pqOracleWith(s"$opqTrainingCtes,\n          ${pqCtesWith("SELECT vec_id, v FROM rotfin")}")

  private def pqOracleWith(ctes: String): String =
    s"""WITH $ctes,
          scored AS (SELECT l0.qid, c0.vec_id, l0.t + l1.t + l2.t + l3.t AS score
                     FROM code0 c0
                     JOIN code1 c1 USING (vec_id) JOIN code2 c2 USING (vec_id)
                     JOIN code3 c3 USING (vec_id)
                     JOIN lut0 l0 ON l0.cid = c0.cid
                     JOIN lut1 l1 ON l1.qid = l0.qid AND l1.cid = c1.cid
                     JOIN lut2 l2 ON l2.qid = l0.qid AND l2.cid = c2.cid
                     JOIN lut3 l3 ON l3.qid = l0.qid AND l3.cid = c3.cid
                     WHERE c0.vec_id <> l0.qid),
          short AS (SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
                FROM scored) WHERE rnk <= $PqShortlist),
          ex AS (SELECT s.qid, s.vec_id,
                        2 * list_dot_product(eq.v, ec.v) - list_dot_product(ec.v, ec.v) AS score
                 FROM short s JOIN e eq ON s.qid = eq.vec_id
                 JOIN e ec ON s.vec_id = ec.vec_id),
          r AS (SELECT qid, vec_id, score,
                       row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rnk
                FROM ex)
        SELECT qid, rnk, vec_id AS neighbor, round(score, 6) AS score
        FROM r WHERE rnk <= $TopK ORDER BY qid, rnk"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("sim_radius", cosineRadius, Some(
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
            c AS (SELECT q.qid, e.vec_id AS neighbor,
                         round(list_dot_product(q.qv, e.v) /
                           (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
                  FROM q, e WHERE e.vec_id <> q.qid)
          SELECT qid, neighbor, cos FROM c WHERE cos >= $Radius
          ORDER BY qid, neighbor""")),
    QueryDef("sim_cosine_topk", cosineTopk, Some(
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NumQueries),
            c AS (SELECT q.qid, e.vec_id AS neighbor,
                         list_dot_product(q.qv, e.v) /
                           (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
                  FROM q, e WHERE e.vec_id <> q.qid),
            r AS (SELECT qid, neighbor, cos,
                         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor) AS rnk
                  FROM c)
          SELECT qid, rnk, neighbor, round(cos, 6) AS cos
          FROM r WHERE rnk <= $TopK ORDER BY qid, rnk""")),
    QueryDef("sim_mmr", simMmr, Some(mmrOracle)),
    QueryDef("sim_mips", simMips, Some(
      s"""WITH e AS (SELECT vec_id,
                 list_transform(embedding::DOUBLE[],
                   x -> x * (1.0 + CAST(vec_id % 7 AS DOUBLE) / 10.0)) AS v
               FROM embeddings),
            q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                  FROM embeddings WHERE vec_id < $NumQueries),
            c AS (SELECT q.qid, e.vec_id AS neighbor,
                         list_dot_product(q.qv, e.v) AS ip
                  FROM q, e WHERE e.vec_id <> q.qid),
            r AS (SELECT qid, neighbor, ip,
                         row_number() OVER (PARTITION BY qid ORDER BY ip DESC, neighbor) AS rnk
                  FROM c)
          SELECT qid, rnk, neighbor, round(ip, 6) AS ip
          FROM r WHERE rnk <= $TopK ORDER BY qid, rnk""")),
    QueryDef("sim_ann_lsh", annLsh, Some(annLshOracle)),
    QueryDef("sim_ann_mips", annMips, Some(annMipsOracle)),
    QueryDef("sim_recall_report_mips", simRecallReportMips,
      Some(recallReportMipsOracle)),
    QueryDef("sim_ann_lsh_multiprobe", annLshMultiprobe, Some(annLshMultiprobeOracle)),
    QueryDef("sim_recall_report", simRecallReport, Some(recallReportOracle)),
    QueryDef("sim_recall_report_multiprobe", simRecallReportMultiprobe,
      Some(recallReportMultiprobeOracle)),
    QueryDef("sim_recall_report_wide", simRecallReportWide,
      Some(recallReportWideOracle)),
    QueryDef("sim_ndcg_report", simNdcgReport, Some(ndcgOracle)),
    QueryDef("sim_ann_ivf", annIvf, Some(annIvfOracle)),
    QueryDef("ml_kmeans", mlKmeans, Some(mlKmeansOracle)),
    QueryDef("ml_knn_classify", mlKnnClassify, Some(knnClassifyOracle)),
    QueryDef("ml_silhouette", mlSilhouette, Some(silhouetteOracle)),
    QueryDef("ml_pca", mlPca, Some(pcaOracle)),
    QueryDef("sim_kcenter", simKCenter, Some(kcenterOracle)),
    QueryDef("ml_kmeans_minibatch", mlKmeansMiniBatch, Some(kmbOracle)),
    QueryDef("sim_ann_ivf_kmeans", annIvfKmeans, Some(annIvfKmeansOracle)),
    QueryDef("cur_semdedup", curSemdedup, Some(curSemdedupOracle)),
    QueryDef("sim_knn_graph", simKnnGraph, Some(knnGraphOracle)),
    QueryDef("sim_nn_descent", simNnDescent, Some(nnDescentOracle)),
    QueryDef("sim_ann_sq8", (s: SparkSession, d: String) => annSq8(s, d), Some(annSq8Oracle)),
    QueryDef("sim_ann_binary", annBinary, Some(annBinaryOracle)),
    QueryDef("sim_ann_pq", (s: SparkSession, d: String) => annPq(s, d), Some(annPqOracle)),
    QueryDef("sim_ann_pq_perm", annPqPerm, Some(annPqPermOracle)),
    QueryDef("sim_ann_ivfpq", annIvfPq, Some(annIvfPqOracle)),
    QueryDef("sim_ann_ivfpq_percell", annIvfPqPerCell, Some(annIvfPqPerCellOracle)),
    // VALUE-ORACLE since r9: the Procrustes solve is a grid-quantized
    // Newton-Schulz polar sweep (see polarNS), so the entire 2-pass
    // OPQ training + final pipeline replays in DuckDB — the same
    // technique that flipped the SGD tier green in r8
    QueryDef("sim_ann_opq", (s: SparkSession, d: String) => annOpq(s, d),
      Some(annOpqOracle)),
    // IVF-PQ run in the OPQ-rotated space — registered on a MEASURED
    // recall win at equal probe budget (0.46 vs 0.40 recall@5 at
    // sf0.01, PqSpec's comparison test); value-verified like
    // sim_ann_opq (shared training replay, IVF-PQ oracle tail)
    QueryDef("sim_ann_opq_ivf", (s: SparkSession, d: String) => annOpqIvf(s, d),
      Some(annOpqIvfOracle)),
  )
}
