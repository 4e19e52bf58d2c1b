package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.api.Memo.MemoOps
import graft.sources.Tables

/** Term-weighting / ranked retrieval over `documents` — the scoring layer
  * the reference's inverted index (a3/BuildInvertedIndexCompressed.java)
  * exists to serve; the reference stops at boolean retrieval
  * (a3/BooleanRetrievalCompressed.java), we add the standard ranked forms.
  *
  * Spark-first shape: one tokenize, one (term, doc) groupBy for tf, a
  * window (or second small groupBy) for df, then pure column arithmetic —
  * shuffle volume ∝ postings (|distinct (term,doc)|), never corpus bytes.
  * Ranking happens on values ROUNDED to 6dp with full tie-breaks so float
  * last-ulp differences can't flip a rank across engines.
  *
  * Scale: tf+df is the inverted-index build (map-side partial agg); the
  * per-doc top-k window partitions by doc_id so no state concentrates.
  * BM25 needs corpus-level N and avgdl — two scalars, broadcast joined,
  * never collected to the driver.
  */
object TextRank {
  val TopTerms = 5
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20
  /** Query for BM25 ranking (same vocabulary as boolean retrieval). */
  val QueryTerms: Seq[String] = Seq("spark", "join", "fast")

  private def postings(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .filter(col("term") =!= "")

  /** TF-IDF: top-5 terms per document by tf·ln(N/df)
    * (generic core: [[graft.api.GraftOps.tfidfTopTerms]]). */
  def textTfidf(spark: SparkSession, dir: String): DataFrame =
    graft.api.GraftOps
      .tfidfTopTerms(Tables.documents(spark, dir), "doc_id", "text", TopTerms)
      .orderBy("doc_id", "rnk")

  /** BM25 (k1=1.2, b=0.75): top-20 docs for a fixed term query
    * (generic core: [[graft.api.GraftOps.bm25Rank]]). */
  def textBm25(spark: SparkSession, dir: String): DataFrame =
    graft.api.GraftOps
      .bm25Rank(Tables.documents(spark, dir), "doc_id", "text", QueryTerms,
        Bm25TopK, Bm25K1, Bm25B)

  /** Dunning log-likelihood-ratio collocations over corpus bigrams (the
    * significance-test complement to PMI, which over-weights rare
    * pairs). Contingency counts come from three groupBys over the same
    * bigram relation (map-side partial aggs; shuffle ∝ distinct
    * bigrams); N is a 1-row broadcast. LLR is pure per-row arithmetic
    * on integer counts — no float accumulation across rows. */
  val LlrMinPair = 5L
  def textLlr(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("k11"))
      .memoized() // consumed 4x (rows/cols/total/base)
    val r = big.groupBy("w1").agg(sum(col("k11")).as("r1"))
    val c = big.groupBy("w2").agg(sum(col("k11")).as("c1"))
    val n = big.agg(sum(col("k11")).as("nn"))
    def xx(e: String) = s"CASE WHEN $e > 0 THEN ($e) * ln($e) ELSE 0.0 END"
    big.filter(col("k11") >= LlrMinPair)
      .join(r, "w1").join(c, "w2").crossJoin(broadcast(n))
      .withColumn("llr", round(expr(
        s"2.0 * (${xx("k11")} + ${xx("r1 - k11")} + ${xx("c1 - k11")} + ${xx("nn - r1 - c1 + k11")}" +
        s" - ${xx("r1")} - ${xx("nn - r1")} - ${xx("c1")} - ${xx("nn - c1")} + ${xx("nn")})"), 6))
      .select(col("w1"), col("w2"), col("k11"), col("llr"))
      .orderBy("w1", "w2")
  }

  /** Pearson chi-square collocations over the same bigram contingency
    * table as text_llr — the third association statistic next to PMI
    * (over-weights rare pairs) and LLR (Dunning's fix): χ² =
    * N·(k11·k22 − k12·k21)² / (r1·c1·(N−r1)·(N−c1)). The determinant
    * is EXACT int64 (both engines multiply integers; < 2⁵³ until
    * k11·N outgrows it, at which point LLR's log form is the
    * numerically-sane tier anyway); one double expression with a
    * fixed left-to-right operand order and a 6-dp round closes it.
    * Scale: identical to text_llr — three groupBys over the bigram
    * relation (map-side partial aggs, shuffle ∝ distinct bigram
    * types), N as a broadcast 1-row agg, per-row arithmetic after. */
  def textChi2(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("k11"))
      .memoized() // consumed 4x (rows/cols/total/base)
    val r = big.groupBy("w1").agg(sum(col("k11")).as("r1"))
    val c = big.groupBy("w2").agg(sum(col("k11")).as("c1"))
    val n = big.agg(sum(col("k11")).as("nn"))
    big.filter(col("k11") >= LlrMinPair)
      .join(r, "w1").join(c, "w2").crossJoin(broadcast(n))
      .withColumn("det",
        col("k11") * (col("nn") - col("r1") - col("c1") + col("k11"))
          - (col("r1") - col("k11")) * (col("c1") - col("k11")))
      .withColumn("chi2", expr(
        """CASE WHEN r1 = nn OR c1 = nn THEN 0.0
           ELSE round(CAST(nn AS DOUBLE) * det * det /
                      (CAST(r1 AS DOUBLE) * c1 * (nn - r1) * (nn - c1)), 6) END"""))
      .select(col("w1"), col("w2"), col("k11"), col("chi2"))
      .orderBy("w1", "w2")
  }

  private val chi2Oracle: String =
    s"""WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
         p AS (SELECT u.b.w1 AS w1, u.b.w2 AS w2
               FROM d, unnest([{'w1': toks[i], 'w2': toks[i+1]}
                               for i in generate_series(1, len(toks) - 1)]) AS u(b)
               WHERE len(toks) >= 2),
         big AS MATERIALIZED (SELECT w1, w2, count(*)::BIGINT AS k11 FROM p GROUP BY 1, 2),
         r AS (SELECT w1, CAST(sum(k11) AS BIGINT) AS r1 FROM big GROUP BY 1),
         c AS (SELECT w2, CAST(sum(k11) AS BIGINT) AS c1 FROM big GROUP BY 1),
         n AS (SELECT CAST(sum(k11) AS BIGINT) AS nn FROM big),
         dt AS (SELECT b.w1, b.w2, b.k11, r.r1, c.c1, n.nn,
                       b.k11 * (n.nn - r.r1 - c.c1 + b.k11)
                         - (r.r1 - b.k11) * (c.c1 - b.k11) AS det
                FROM big b JOIN r ON b.w1 = r.w1 JOIN c ON b.w2 = c.w2, n
                WHERE b.k11 >= $LlrMinPair)
        SELECT w1, w2, k11,
               CASE WHEN r1 = nn OR c1 = nn THEN 0.0
                    ELSE round(CAST(nn AS DOUBLE) * det * det /
                               (CAST(r1 AS DOUBLE) * c1 * (nn - r1) * (nn - c1)), 6) END AS chi2
        FROM dt ORDER BY w1, w2"""

  private val termList = QueryTerms.map(t => s"'$t'").mkString(", ")

  /** Bigram language-model scoring with add-one smoothing: the corpus
    * trains P(w2|w1) = (c(w1,w2)+1)/(c(w1,·)+V); each doc reports its
    * bigram count, how many of its bigrams are rare (P < RareP), and
    * its minimum log-probability. Aggregates are count/min only —
    * order-independent, so float summation order can't perturb the
    * oracle (a sum-of-logs perplexity would be ulp-order-sensitive).
    * Scale: model = two groupBys over the bigram relation (shuffle ∝
    * bigram types, not corpus); scoring joins docs' bigrams against
    * the (broadcastable) model. */
  val RareP = 0.005
  def textLmScore(spark: SparkSession, dir: String): DataFrame = {
    val docBig = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val pair = docBig.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = pair.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val vocab = docBig.select(col("w2")).unionAll(docBig.select(col("w1").as("w2")))
      .agg(countDistinct(col("w2")).as("v"))
    docBig
      .join(pair, Seq("w1", "w2")).join(uni, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("p", (col("c12") + 1) / (col("c1") + col("v")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("p") < RareP, 1L).otherwise(0L)).as("n_rare"),
        round(min(log(col("p"))), 6).as("min_lp"))
      .orderBy("doc_id")
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the corpus word co-occurrence graph. Edges = adjacent token pairs
    * (window 2), undirected, weighted by exact integer co-occurrence
    * counts; TrIters fixed damped iterations
    * S(v) = (1-d) + d·Σ_u w_uv/W_u·S(u); ranking happens on scores
    * ROUNDED to 6dp with a term tie-break so a last-ulp float difference
    * can't flip a rank across engines (the tfidf discipline). Retires
    * the carried "corpus keyphrase" item — the synthetic text does carry
    * enough adjacency structure for a co-occurrence graph even without
    * realistic stopwords.
    *
    * Scale: the token explode + bigram groupBy is the only corpus-sized
    * shuffle (∝ distinct bigram types after the partial agg, not corpus
    * bytes); the iteration runs on the |vocab|-sized node table — terms,
    * not documents — which for real corpora is millions of rows against
    * billions of docs, so per-iteration joins are dim-table sized. Same
    * no-broadcast-hint posture as pagerank: AQE broadcasts the rank
    * table while it fits. */
  val TrIters = 20
  val TrDamping = 0.85
  val TrTopK = 15
  def textTextrank(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("toks"))
      .select(expr("filter(toks, t -> t <> '')").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= col("w2")) // self-loops carry no ranking signal
    // undirected: symmetrize, then one groupBy for the weighted edge list
    val edges = big.unionAll(big.select(col("w2").as("w1"), col("w1").as("w2")))
      .groupBy(col("w1").as("src"), col("w2").as("dst"))
      .agg(count(lit(1)).as("w"))
      .memoized() // consumed TrIters+1 times; truncate the explode lineage
    val outW = edges.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    val e = edges.join(outW, "src")
      .select(col("src"), col("dst"), (col("w") / col("wout")).as("frac"))
      .memoized()
    val nodes = edges.select(col("src").as("term")).distinct().memoized()
    var score = nodes.select(col("term"), lit(1.0).as("s"))
    for (_ <- 1 to TrIters) {
      val contrib = e.join(score, e("src") === score("term"))
        .groupBy(col("dst").as("term"))
        .agg(sum(col("frac") * col("s")).as("c"))
      score = nodes.join(contrib, Seq("term"), "left")
        .select(col("term"),
          (lit(1 - TrDamping) + lit(TrDamping) * coalesce(col("c"), lit(0.0))).as("s"))
    }
    // top-k FIRST via orderBy+limit (TakeOrderedAndProject — distributed
    // partial top-k, no single-partition vocab sort); the row_number
    // window then ranks only the TrTopK survivors
    val top = score.withColumn("score", round(col("s"), 6))
      .select(col("term"), col("score"))
      .orderBy(col("score").desc, col("term"))
      .limit(TrTopK)
    top.withColumn("rnk", row_number().over(
        Window.orderBy(col("score").desc, col("term"))).cast("long"))
      .select(col("rnk"), col("term"), col("score"))
      .orderBy("rnk")
  }

  /** Unrolled-iteration DuckDB oracle generated from the same constants. */
  private val textrankOracle: String = {
    val iterCtes = (1 to TrIters).map { k =>
      s"""c$k AS MATERIALIZED (SELECT e.dst AS term, sum(e.frac * s.s) AS c
                  FROM s${k - 1} s JOIN e ON s.term = e.src GROUP BY 1),
          s$k AS MATERIALIZED (SELECT n.term, ${1 - TrDamping} + $TrDamping * coalesce(c.c, 0) AS s
                  FROM nodes n LEFT JOIN c$k c ON n.term = c.term)"""
    }.mkString(",\n          ")
    s"""WITH d AS (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
          big AS (SELECT u.b.w1 AS w1, u.b.w2 AS w2
                  FROM d, unnest([{'w1': toks[i], 'w2': toks[i+1]}
                                  for i in generate_series(1, len(toks) - 1)]) AS u(b)
                  WHERE len(toks) >= 2),
          sym AS (SELECT w1, w2 FROM big WHERE w1 <> w2
                  UNION ALL SELECT w2, w1 FROM big WHERE w1 <> w2),
          edges AS MATERIALIZED (SELECT w1 AS src, w2 AS dst, count(*) AS w FROM sym GROUP BY 1, 2),
          outw AS (SELECT src, sum(w) AS wout FROM edges GROUP BY 1),
          e AS MATERIALIZED (SELECT edges.src, edges.dst, edges.w / CAST(outw.wout AS DOUBLE) AS frac
                 FROM edges JOIN outw ON edges.src = outw.src),
          nodes AS MATERIALIZED (SELECT DISTINCT src AS term FROM edges),
          s0 AS MATERIALIZED (SELECT term, 1.0 AS s FROM nodes),
          $iterCtes,
          fin AS (SELECT term, round(s, 6) AS score FROM s$TrIters),
          r AS (SELECT CAST(row_number() OVER (ORDER BY score DESC, term) AS BIGINT) AS rnk,
                       term, score FROM fin)
        SELECT rnk, term, score FROM r WHERE rnk <= $TrTopK ORDER BY rnk"""
  }

  /** RAKE keyphrase extraction (Rose et al. 2010): candidate phrases =
    * maximal token runs between stopword delimiters; word score =
    * deg(w)/freq(w) over the phrase relation (deg = Σ phrase length
    * over occurrences containing w); phrase score = Σ word scores,
    * top-K distinct phrases. The corpus's stopword inventory is tiny
    * ("a"/"the") so phrases run long — semantically degenerate for
    * keyphrases but algorithmically exact, and the multiword complement
    * of text_textrank's single-word ranking.
    *
    * Determinism: segmentation is a per-doc running stopword count
    * (window over token positions — partitions by doc, never corpus);
    * all counts are integers; the ONE float reduction (phrase-score
    * sum) is rounded to 4dp before ranking (wider guard band than the
    * usual 6 — these sums run ~50 terms long) with a phrase tie-break.
    * Scale: token explode + (doc, seg) groupBys — inverted-index-shaped
    * shuffles ∝ tokens; wstat is vocab-sized; top-k via orderBy+limit
    * (TakeOrderedAndProject). */
  val RakeStop: Seq[String] = Seq("a", "the")
  val RakeTopK = 15
  def textRake(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(expr("filter(split(text, ' '), t -> t <> '')")).as(Seq("pos", "t")))
    val seg = tok.withColumn("seg",
      sum(when(col("t").isin(RakeStop: _*), 1).otherwise(0))
        .over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val words = seg.filter(!col("t").isin(RakeStop: _*))
      .memoized() // consumed 3x: phrase build, wstat, occurrence score
    val phr = words.groupBy(col("doc_id"), col("seg"))
      .agg(expr("array_join(transform(array_sort(collect_list(struct(pos, t))), x -> x.t), ' ')").as("phrase"),
        count(lit(1)).as("plen"))
    val wstat = words.join(phr, Seq("doc_id", "seg"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
    val occ = words.join(wstat, Seq("t"))
      .groupBy(col("doc_id"), col("seg"))
      .agg(sum(col("deg") / col("freq")).as("sc"))
    val ps = phr.join(occ, Seq("doc_id", "seg"))
      .groupBy(col("phrase"))
      .agg(max(round(col("sc"), 4)).as("score"))
    val top = ps.orderBy(col("score").desc, col("phrase")).limit(RakeTopK)
    top.withColumn("rnk", row_number().over(
        Window.orderBy(col("score").desc, col("phrase"))).cast("long"))
      .select(col("rnk"), col("phrase"), col("score"))
      .orderBy("rnk")
  }

  private lazy val rakeOracle: String = {
    val stopList = RakeStop.map(s => s"'$s'").mkString(", ")
    s"""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
          tok AS (SELECT doc_id, unnest(toks) AS t, generate_subscripts(toks, 1) AS pos FROM d),
          seg AS (SELECT doc_id, t, pos,
                         sum(CASE WHEN t IN ($stopList) THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY pos) AS seg
                  FROM tok),
          words AS MATERIALIZED (SELECT doc_id, seg, t, pos FROM seg WHERE t NOT IN ($stopList)),
          phr AS MATERIALIZED (SELECT doc_id, seg, string_agg(t, ' ' ORDER BY pos) AS phrase,
                        count(*) AS plen
                 FROM words GROUP BY 1, 2),
          wstat AS MATERIALIZED (SELECT w.t, count(*) AS freq, sum(p.plen) AS deg
                   FROM words w JOIN phr p USING (doc_id, seg) GROUP BY 1),
          occ AS (SELECT w.doc_id, w.seg, sum(s.deg / CAST(s.freq AS DOUBLE)) AS sc
                  FROM words w JOIN wstat s ON w.t = s.t GROUP BY 1, 2),
          ps AS (SELECT p.phrase, max(round(o.sc, 4)) AS score
                 FROM phr p JOIN occ o USING (doc_id, seg) GROUP BY 1),
          r AS (SELECT CAST(row_number() OVER (ORDER BY score DESC, phrase) AS BIGINT) AS rnk,
                       phrase, score FROM ps)
        SELECT rnk, phrase, score FROM r WHERE rnk <= $RakeTopK ORDER BY rnk"""
  }

  private def xxSql(e: String) = s"CASE WHEN $e > 0 THEN ($e) * ln($e) ELSE 0.0 END"

  /** Interpolated Kneser–Ney bigram model (Kneser & Ney 1995; Chen &
    * Goodman 1998's interpolated form, fixed discount D=0.75) — the LM
    * smoothing that actually ships in n-gram toolkits (KenLM/SRILM),
    * next to text_lm_score's add-one baseline:
    *
    *   P_KN(w2|w1) = max(c(w1,w2)−D, 0)/c(w1·)
    *                 + D·N1+(w1·)/c(w1·) · N1+(·w2)/|bigram types|
    *
    * Every input is an exact integer count (pair counts, history
    * totals, distinct-successor / distinct-predecessor fan-outs, the
    * global bigram-type count); the probability is ONE double
    * expression in identical operand order on both engines — the
    * ml_linear_reg discipline, no quantization grid needed.
    *
    * Scale: three groupBys over the bigram relation (shuffle ∝ bigram
    * TYPES after map-side partial agg, not corpus bytes); the type
    * count is a 1-row broadcast. The model table is vocab²-bounded —
    * dim-table sized against any corpus. */
  val KnDiscount = 0.75
  val KnMinPair = 2

  /** (per-doc bigram instances, joined KN model) — model columns
    * (w1, w2, c12, c1, n1f, n1b, bt); shared by the model report and
    * the per-doc perplexity scorer. */
  private def knModel(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docBig = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .memoized() // feeds the model aggs AND the scorer join
    val pair = docBig.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .memoized() // consumed 4x (hist, fanouts, type count, base)
    val hist = pair.groupBy("w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val back = pair.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val types = pair.agg(count(lit(1)).as("bt"))
    val model = pair.join(hist, "w1").join(back, "w2").crossJoin(broadcast(types))
    (docBig, model)
  }

  def textKneserNey(spark: SparkSession, dir: String): DataFrame = {
    val (_, model) = knModel(spark, dir)
    model.filter(col("c12") >= KnMinPair)
      .withColumn("pkn", round(
        greatest(col("c12") - KnDiscount, lit(0.0)) / col("c1") +
          lit(KnDiscount) * col("n1f") / col("c1") * (col("n1b") / col("bt")), 6))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("pkn"))
      .orderBy("w1", "w2")
  }

  /** Per-doc KN-LM quality scoring (the CCNet/Gopher perplexity-filter
    * shape with the corpus' own bigram model): average interpolated-KN
    * log-probability per doc, the ONE libm call (ln) floored onto a
    * 1e-9 integer grid so the per-doc aggregation is an exact
    * order-free integer sum (the js_divergence discipline). Docs with
    * no bigrams anchor at 0 and are never kept. Scale: the model is
    * vocab²-bounded (broadcastable); scoring is one join + groupBy
    * over the corpus bigram relation. */
  val KnKeepLp = -6.0
  def curPerplexityKn(spark: SparkSession, dir: String): DataFrame = {
    val (docBig, model) = knModel(spark, dir)
    val scored = docBig.join(model, Seq("w1", "w2"))
      .select(col("doc_id"),
        floor(log(
          greatest(col("c12") - KnDiscount, lit(0.0)) / col("c1") +
            lit(KnDiscount) * col("n1f") / col("c1") * (col("n1b") / col("bt"))) * 1e9)
          .cast("long").as("lpn"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lpn")).as("s"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(coalesce(col("s") / col("n_bigrams") / 1e9, lit(0.0)), 6).as("avg_lp"),
        coalesce(col("s") / col("n_bigrams") / 1e9 >= KnKeepLp, lit(false)).as("kept"))
      .orderBy("doc_id")
  }

  // lazy: knCtes/pknSql are declared further down the file
  /** Composable form for pipelines: kept doc_ids of an arbitrary docs
    * frame under the corpus-trained KN model (the reference-LM
    * discipline — the model always trains on the FULL corpus, the
    * gate applies to the pipeline's current pool ⊆ corpus). */
  def knKeep(spark: SparkSession, dir: String, docs: DataFrame): DataFrame = {
    val (_, model) = knModel(spark, dir)
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .join(model, Seq("w1", "w2"))
      .select(col("doc_id"),
        floor(log(
          greatest(col("c12") - KnDiscount, lit(0.0)) / col("c1") +
            lit(KnDiscount) * col("n1f") / col("c1") * (col("n1b") / col("bt"))) * 1e9)
          .cast("long").as("lpn"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nb"), sum(col("lpn")).as("s"))
      .filter(col("s") / col("nb") / 1e9 >= KnKeepLp)
      .select("doc_id")
  }

  /** kn-prefixed CTE chain scoring `$rel` under the corpus-trained KN
    * model; final CTE `knkeep(doc_id)` = rows passing the gate. The
    * prefixes keep it composable into the multi-stage pipeline oracles
    * without colliding with their CTE names. */
  def knScoreCtesFrom(rel: String): String =
    s"""knd AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          kndbd AS MATERIALIZED (SELECT u.b.w1 AS w1, u.b.w2 AS w2
                 FROM knd, unnest([{'w1': toks[i], 'w2': toks[i+1]}
                                 for i in generate_series(1, len(toks) - 1)]) AS u(b)
                 WHERE len(toks) >= 2),
          knpair AS MATERIALIZED (SELECT w1, w2, count(*) AS c12 FROM kndbd GROUP BY 1, 2),
          knhist AS (SELECT w1, sum(c12) AS c1, count(*) AS n1f FROM knpair GROUP BY 1),
          knback AS (SELECT w2, count(*) AS n1b FROM knpair GROUP BY 1),
          knt AS (SELECT count(*) AS bt FROM knpair),
          knrb AS (SELECT r.doc_id, u.b.w1 AS w1, u.b.w2 AS w2
                 FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM $rel) r,
                      unnest([{'w1': toks[i], 'w2': toks[i+1]}
                              for i in generate_series(1, len(toks) - 1)]) AS u(b)
                 WHERE len(toks) >= 2),
          knsc AS (SELECT knrb.doc_id,
                        CAST(floor(ln(greatest(knpair.c12 - $KnDiscount, 0.0) / knhist.c1 +
                     $KnDiscount * knhist.n1f / knhist.c1 * (knback.n1b / CAST(knt.bt AS DOUBLE)))
                          * 1000000000.0) AS BIGINT) AS lpn
                 FROM knrb JOIN knpair ON knrb.w1 = knpair.w1 AND knrb.w2 = knpair.w2
                      JOIN knhist ON knpair.w1 = knhist.w1
                      JOIN knback ON knpair.w2 = knback.w2, knt),
          knkeep AS MATERIALIZED (
            SELECT doc_id FROM (SELECT doc_id, count(*) AS nb, sum(lpn) AS s
                                FROM knsc GROUP BY 1)
            WHERE s / nb / 1e9 >= $KnKeepLp)"""

  private lazy val perplexityKnOracle: String =
    s"""WITH $knCtes,
          sc AS (SELECT dbd.doc_id,
                        CAST(floor(ln($pknSql) * 1000000000.0) AS BIGINT) AS lpn
                 FROM dbd JOIN pair ON dbd.w1 = pair.w1 AND dbd.w2 = pair.w2
                      JOIN hist ON pair.w1 = hist.w1
                      JOIN back ON pair.w2 = back.w2, t),
          agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(lpn) AS s
                  FROM sc GROUP BY 1)
        SELECT d2.doc_id,
               coalesce(agg.n_bigrams, 0)::BIGINT AS n_bigrams,
               round(coalesce(agg.s / agg.n_bigrams / 1e9, 0.0), 6) AS avg_lp,
               coalesce(agg.s / agg.n_bigrams / 1e9 >= $KnKeepLp, FALSE) AS kept
        FROM (SELECT doc_id FROM documents) d2 LEFT JOIN agg USING (doc_id)
        ORDER BY d2.doc_id"""

  /** Shared CTE chain for the KN model — also consumed by the per-doc
    * perplexity scorer. `dbd` keeps doc_id on each bigram instance. */
  private val knCtes: String =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          dbd AS MATERIALIZED (SELECT doc_id, u.b.w1 AS w1, u.b.w2 AS w2
                 FROM d, unnest([{'w1': toks[i], 'w2': toks[i+1]}
                                 for i in generate_series(1, len(toks) - 1)]) AS u(b)
                 WHERE len(toks) >= 2),
          pair AS MATERIALIZED (SELECT w1, w2, count(*) AS c12 FROM dbd GROUP BY 1, 2),
          hist AS (SELECT w1, sum(c12) AS c1, count(*) AS n1f FROM pair GROUP BY 1),
          back AS (SELECT w2, count(*) AS n1b FROM pair GROUP BY 1),
          t AS (SELECT count(*) AS bt FROM pair)"""

  /** The interpolated-KN probability as one shared expression over the
    * model columns (identical operand order on both engines). */
  private val pknSql: String =
    s"""greatest(pair.c12 - $KnDiscount, 0.0) / hist.c1 +
                     $KnDiscount * hist.n1f / hist.c1 * (back.n1b / CAST(t.bt AS DOUBLE))"""

  private val kneserNeyOracle: String =
    s"""WITH $knCtes
        SELECT pair.w1, pair.w2, pair.c12, hist.c1::BIGINT AS c1,
               round($pknSql, 6) AS pkn
        FROM pair JOIN hist ON pair.w1 = hist.w1
                  JOIN back ON pair.w2 = back.w2, t
        WHERE pair.c12 >= $KnMinPair
        ORDER BY pair.w1, pair.w2"""

  /** Document-pair cosine similarity THROUGH THE INVERTED INDEX — the
    * classic sparse-vector IR computation (pairwise similarity search
    * by postings self-join, Elsayed et al. 2008 style): candidate
    * pairs are docs sharing ≥1 indexed TRIGRAM SHINGLE (the unit the
    * dedup family uses — this closed-vocabulary corpus saturates
    * unigrams, making every word a stopword), the dot product
    * accumulates tf·tf per shared shingle, and cosine divides by the
    * premultiplied norms. Everything before the two sqrt/divide ops
    * is EXACT integer arithmetic (raw shingle-tf vectors — no
    * log-idf, whose libm call would be a cross-engine ulp hazard), so
    * the doubles are bit-deterministic.
    *
    * Scale: the postings self-join shuffles Σ df² pairs per term —
    * the hot-term quadratic everyone hits; terms with df >
    * [[DocCosDfCap]] are EXCLUDED from the candidate/dot stage (the
    * graph_jaccard hub-cap discipline: high-df terms are stopwords
    * carrying ~no discrimination, and the cap is replayed by the
    * oracle so the answer is still exact-by-definition). Norms use
    * the FULL vectors. Top-[[DocCosTopK]] by (cos, a, b). */
  val DocCosDfCap = 64L
  val DocCosMin = 0.5
  val DocCosTopK = 200
  def textDocCosine(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(toks) >= 3 THEN transform(sequence(1, size(toks) - 2), " +
          "i -> array_join(slice(toks, i, 3), ' ')) ELSE array() END")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      .memoized() // feeds df, norms AND both join sides
    val norms = tf.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("n2"))
    val rare = tf.join(
      tf.groupBy("t").agg(count(lit(1)).as("df")).filter(col("df") <= DocCosDfCap)
        .select("t"), Seq("t"))
    val dots = rare.as("x").join(rare.as("y"),
        col("x.t") === col("y.t") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(sum(col("x.tf") * col("y.tf")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("a"), col("n2").as("na")), Seq("a"))
      .join(norms.select(col("doc_id").as("b"), col("n2").as("nb")), Seq("b"))
      .withColumn("cos", round(col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6))
      .filter(col("cos") >= DocCosMin)
      .select(col("a"), col("b"), col("cos"))
      .orderBy(col("cos").desc, col("a"), col("b"))
      .limit(DocCosTopK)
  }

  private lazy val docCosineOracle: String =
    s"""WITH tf AS MATERIALIZED (
            SELECT doc_id, t, count(*) AS tf
            FROM (SELECT doc_id,
                         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                 for i in generate_series(1, len(toks) - 2)]) AS t
                  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
                  WHERE len(toks) >= 3)
            GROUP BY 1, 2),
          norms AS (SELECT doc_id, sum(tf * tf) AS n2 FROM tf GROUP BY 1),
          rare AS MATERIALIZED (
            SELECT tf.* FROM tf
            JOIN (SELECT t FROM tf GROUP BY t HAVING count(*) <= $DocCosDfCap) r USING (t)),
          dots AS (SELECT x.doc_id AS a, y.doc_id AS b, sum(x.tf * y.tf) AS dot
                   FROM rare x JOIN rare y ON x.t = y.t AND x.doc_id < y.doc_id
                   GROUP BY 1, 2),
          sc AS (SELECT d.a, d.b,
                        round(d.dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 6) AS cos
                 FROM dots d JOIN norms na ON d.a = na.doc_id
                 JOIN norms nb ON d.b = nb.doc_id)
        SELECT a, b, cos FROM sc WHERE cos >= $DocCosMin
        ORDER BY cos DESC, a, b LIMIT $DocCosTopK"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("text_doc_cosine", textDocCosine, Some(docCosineOracle)),
    QueryDef("text_kneser_ney", textKneserNey, Some(kneserNeyOracle)),
    QueryDef("cur_perplexity_kn", curPerplexityKn, Some(perplexityKnOracle)),
    QueryDef("text_textrank", textTextrank, Some(textrankOracle)),
    QueryDef("text_rake", textRake, Some(rakeOracle)),
    QueryDef("text_lm_score", textLmScore, Some(
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           db AS (SELECT doc_id, u.b.w1 AS w1, u.b.w2 AS w2
                  FROM d, unnest([{'w1': toks[i], 'w2': toks[i+1]}
                                  for i in generate_series(1, len(toks) - 1)]) AS u(b)
                  WHERE len(toks) >= 2),
           pair AS MATERIALIZED (SELECT w1, w2, count(*) AS c12 FROM db GROUP BY 1, 2),
           uni AS (SELECT w1, sum(c12) AS c1 FROM pair GROUP BY 1),
           v AS (SELECT count(DISTINCT w2) AS v
                 FROM (SELECT w2 FROM db UNION ALL SELECT w1 FROM db)),
           s AS (SELECT db.doc_id,
                        (pair.c12 + 1) / (CAST(uni.c1 AS DOUBLE) + v.v) AS p
                 FROM db JOIN pair ON db.w1 = pair.w1 AND db.w2 = pair.w2
                 JOIN uni ON db.w1 = uni.w1, v)
          SELECT doc_id, count(*) AS n_bigrams,
                 CAST(sum(CASE WHEN p < $RareP THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
                 round(min(ln(p)), 6) AS min_lp
          FROM s GROUP BY 1 ORDER BY doc_id""")),
    QueryDef("text_llr", textLlr, Some(
      s"""WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
           p AS (SELECT u.b.w1 AS w1, u.b.w2 AS w2
                 FROM d, unnest([{'w1': toks[i], 'w2': toks[i+1]}
                                 for i in generate_series(1, len(toks) - 1)]) AS u(b)
                 WHERE len(toks) >= 2),
           big AS MATERIALIZED (SELECT w1, w2, count(*) AS k11 FROM p GROUP BY 1, 2),
           r AS (SELECT w1, sum(k11) AS r1 FROM big GROUP BY 1),
           c AS (SELECT w2, sum(k11) AS c1 FROM big GROUP BY 1),
           n AS (SELECT sum(k11) AS nn FROM big)
          SELECT b.w1, b.w2, b.k11,
                 round(2.0 * (${xxSql("k11")} + ${xxSql("r1 - k11")} + ${xxSql("c1 - k11")}
                       + ${xxSql("nn - r1 - c1 + k11")} - ${xxSql("r1")} - ${xxSql("nn - r1")}
                       - ${xxSql("c1")} - ${xxSql("nn - c1")} + ${xxSql("nn")}), 6) AS llr
          FROM big b JOIN r ON b.w1 = r.w1 JOIN c ON b.w2 = c.w2, n
          WHERE b.k11 >= $LlrMinPair
          ORDER BY b.w1, b.w2""")),
    QueryDef("text_chi2", textChi2, Some(chi2Oracle)),
    QueryDef("text_tfidf", textTfidf, Some(
      s"""WITH post AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
           tf AS (SELECT term, doc_id, count(*) AS tf FROM post WHERE term <> '' GROUP BY 1, 2),
           d AS (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf),
           n AS (SELECT count(*) AS n_docs FROM documents),
           s AS (SELECT doc_id, term, tf, df,
                        round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
                 FROM d, n),
           r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS BIGINT) AS rnk FROM s)
          SELECT doc_id, rnk, term, tf, df, tfidf FROM r
          WHERE rnk <= $TopTerms ORDER BY doc_id, rnk""")),
    QueryDef("text_bm25", textBm25, Some(
      s"""WITH docs AS (SELECT doc_id,
                        CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS dl
                        FROM documents),
           stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docs),
           post AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
           tf AS (SELECT doc_id, term, count(*) AS tf FROM post
                  WHERE term IN ($termList) GROUP BY 1, 2),
           df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           c AS (SELECT tf.doc_id,
                        ln(1.0 + (CAST(s.n_docs AS DOUBLE) - df.df + 0.5) / (CAST(df.df AS DOUBLE) + 0.5))
                          * tf.tf * (CAST($Bm25K1 AS DOUBLE) + 1) /
                          (tf.tf + CAST($Bm25K1 AS DOUBLE) *
                           (1.0 - CAST($Bm25B AS DOUBLE) + CAST($Bm25B AS DOUBLE) * CAST(d.dl AS DOUBLE) / s.avgdl)) AS contrib
                 FROM tf JOIN df ON tf.term = df.term
                 JOIN docs d ON tf.doc_id = d.doc_id, stats s)
          SELECT doc_id, round(sum(contrib), 6) AS bm25, count(*) AS n_terms
          FROM c GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK""")),
  )
}
