package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.api.Memo
import graft.sources.Tables
import graft.api.GraftOps.TruncateOps

/** BPE tokenizer TRAINING and application (Sennrich et al. 2016) — the
  * tokenizer-construction step of a training-data pipeline, run where
  * it runs in production: on the WORD-FREQUENCY DICTIONARY, never the
  * corpus. One corpus scan builds (word, freq); every merge round then
  * operates on the dictionary's symbol rows (|vocab| × avg word length
  * — millions of rows at 100 TB, not trillions), and applying the
  * learned merges to the corpus is a dictionary LOOKUP joined back to
  * the token stream.
  *
  * Each round: count adjacent symbol pairs weighted by word frequency
  * (one lead() window + one groupBy), pick the argmax pair with a
  * (weight DESC, a, b) total order, and merge its occurrences
  * GREEDY-LEFTMOST — runs of overlapping matches resolve by
  * odd-rank-within-island (gaps-and-islands), exactly reproducible in
  * SQL window functions, so the ENTIRE training unrolls into a DuckDB
  * oracle (the SGD/CC discipline applied to tokenizer training).
  * Fixed [[BpeMerges]] rounds keep the unroll exact.
  */
object Bpe {
  val BpeMerges = 16
  val Eow = "</w>"

  private def dict(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** (merges, finalSymbols) memoized per (session, dir): train and
    * apply share one training run, like the PageRank/kmeans memos. */
  def trained(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    Memo.keyed(spark, dir, "bpe.trained")(trainOn(dict(spark, dir), BpeMerges))

  /** Training core over any (w, freq) dictionary — spec entry point.
    * `rounds` must stay below the pair-exhaustion point of the
    * dictionary (production BPE stops at a vocab budget for the same
    * reason); an exhausted round would pick nothing and empty the
    * symbol state. */
  def trainOn(d: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
      var rows = d
        .select(col("w"), col("freq"),
          posexplode(concat(
            expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
            array(lit(Eow)))).as(Seq("p0", "sym")))
        .select(col("w"), col("freq"), (col("p0") + 1).as("pos"), col("sym"))
        .truncated()
      var merges: DataFrame = null
      val wW = Window.partitionBy("w").orderBy("pos")
      for (r <- 1 to rounds) {
        val withNext = rows.withColumn("nxt", lead(col("sym"), 1).over(wW))
        val best = withNext.filter(col("nxt").isNotNull)
          .groupBy(col("sym").as("a"), col("nxt").as("b"))
          .agg(sum(col("freq")).as("wt"))
          .orderBy(col("wt").desc, col("a"), col("b")).limit(1)
          .select(lit(r.toLong).as("step"), col("a"), col("b"), col("wt"))
          .truncated()
        merges = if (merges == null) best else merges.unionAll(best)
        val marked = withNext
          .crossJoin(broadcast(best.select(col("a").as("__a"), col("b").as("__b"))))
          .withColumn("m", col("sym") === col("__a") && col("nxt") === col("__b"))
          .withColumn("mrn", sum(when(col("m"), 1L).otherwise(0L))
            .over(wW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("grp", col("pos") - col("mrn"))
          .withColumn("kept", col("m") &&
            row_number().over(Window.partitionBy("w", "grp", "m").orderBy("pos")) % 2 === 1)
          .withColumn("consumed", lag(col("kept"), 1).over(wW))
        rows = marked.filter(!coalesce(col("consumed"), lit(false)))
          .select(col("w"), col("freq"),
            when(col("kept"), concat(col("sym"), col("nxt"))).otherwise(col("sym")).as("sym"),
            col("pos"))
          .withColumn("pos", row_number().over(wW).cast("long"))
          .truncated()
      }
      (merges.truncated(), rows)
  }

  /** The learned merge table: (step, a, b, wt) in training order. */
  def train(spark: SparkSession, dir: String): DataFrame =
    trained(spark, dir)._1.orderBy("step")

  /** Corpus tokenization under the trained merges: per doc, word count
    * and BPE token count — a dictionary-lookup join, the apply path a
    * 100 TB corpus actually takes. */
  def apply_(spark: SparkSession, dir: String): DataFrame = {
    val wtoks = trained(spark, dir)._2
      .groupBy("w").agg(count(lit(1)).as("n_tok"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(wtoks, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Tokenizer-efficiency report (r12): per SOURCE, the numbers a
    * tokenizer eval actually reads — docs, words, BPE tokens, and
    * CHARS PER TOKEN (the bytes-per-token compression every vocab
    * comparison ranks by; higher = the learned merges fit that
    * source's distribution better). Rides the same memoized training
    * + dictionary-lookup join as `text_bpe_apply`; exact integer
    * totals, one final division. */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val wtoks = trained(spark, dir)._2
      .groupBy("w").agg(count(lit(1)).as("n_tok"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(wtoks, Seq("w"))
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_bpe_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_bpe_tokens"),
        round(col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"), 6)
          .as("chars_per_token"))
      .orderBy("source")
  }

  /** Unrolled training rounds ending in bs$BpeMerges (final symbol
    * rows) — shared by both oracles. */
  private lazy val bpeCtes: String = {
    val iterCtes = (1 to BpeMerges).map { r =>
      s"""bn$r AS (SELECT w, freq, pos, sym,
                        lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
                 FROM bs${r - 1}),
          bb$r AS (SELECT sym AS a, nxt AS b, CAST(sum(freq) AS BIGINT) AS wt FROM bn$r
                   WHERE nxt IS NOT NULL GROUP BY 1, 2
                   ORDER BY wt DESC, a, b LIMIT 1),
          bm$r AS (SELECT n.*, (n.sym = b.a AND n.nxt = b.b) AS m FROM bn$r n, bb$r b),
          bi$r AS (SELECT *, pos - sum(CASE WHEN m THEN 1 ELSE 0 END)
                        OVER (PARTITION BY w ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
                   FROM bm$r),
          bk$r AS (SELECT *, m AND (row_number()
                        OVER (PARTITION BY w, grp, m ORDER BY pos) % 2 = 1) AS kept
                   FROM bi$r),
          bd$r AS (SELECT *, lag(kept) OVER (PARTITION BY w ORDER BY pos) AS consumed
                   FROM bk$r),
          bs$r AS MATERIALIZED (
            SELECT w, freq,
                   row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
                   CASE WHEN kept THEN sym || nxt ELSE sym END AS sym
            FROM bd$r WHERE NOT coalesce(consumed, false))"""
    }.mkString(",\n          ")
    s"""bdict AS MATERIALIZED (
            SELECT w, count(*) AS freq FROM (
              SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            WHERE w <> '' GROUP BY 1),
          bs0 AS MATERIALIZED (
            SELECT w, freq, s.pos AS pos, s.sym AS sym FROM (
              SELECT w, freq,
                     unnest([{'pos': i, 'sym':
                         CASE WHEN i <= len(w) THEN substr(w, CAST(i AS INT), 1)
                              ELSE '$Eow' END}
                       for i in generate_series(1, len(w) + 1)]) AS s
              FROM bdict)),
          $iterCtes"""
  }

  private lazy val trainOracle: String = {
    val steps = (1 to BpeMerges)
      .map(r => s"SELECT CAST($r AS BIGINT) AS step, a, b, wt FROM bb$r")
      .mkString("\n          UNION ALL ")
    s"""WITH $bpeCtes
        $steps ORDER BY step"""
  }

  private lazy val applyOracle: String =
    s"""WITH $bpeCtes,
          wtoks AS (SELECT w, count(*) AS n_tok FROM bs$BpeMerges GROUP BY 1)
        SELECT doc_id, count(*) AS n_words,
               CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) d
        JOIN wtoks USING (w)
        WHERE w <> ''
        GROUP BY doc_id ORDER BY doc_id"""

  private lazy val statsOracle: String =
    s"""WITH $bpeCtes,
          wtoks AS (SELECT w, count(*) AS n_tok FROM bs$BpeMerges GROUP BY 1)
        SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_words,
               CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens,
               round(CAST(sum(len(w)) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE), 6)
                 AS chars_per_token
        FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents) d
        JOIN wtoks USING (w)
        WHERE w <> ''
        GROUP BY source ORDER BY source"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("text_bpe_train", train, Some(trainOracle)),
    QueryDef("text_bpe_apply", apply_, Some(applyOracle)),
    QueryDef("text_bpe_stats", stats, Some(statsOracle)),
  )
}
