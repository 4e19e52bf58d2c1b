package graft

import graft.api.Memo.MemoOps

/** Candidate-vs-output witness for the soak's output-bound claims
  * (r14 verdict item 4): the sf3 envelope attributed the superlinear
  * entries (`dedup_recall_report`, `mm_pipeline`, `ml_dbscan`) to
  * family-quadratic TRUE-PAIR output on the planted dup corpus — an
  * argument, not a measurement. This harness logs, per entry and per
  * scale dir, the number of candidate pairs the LSH stage actually
  * enumerated next to the number of pairs that survive the exact
  * filter. Output-bound means candidates ≈ emitted (the excess —
  * bucket collisions the filter rejects — stays ∝ N); a join-fan-out
  * bug shows up as excess growing ∝ N².
  *
  * The candidate counts come from the PRODUCTION plans' own candidate
  * stages (GraftOps.embeddingCandidatePairs is the registered
  * operators' plan minus the final filter; dedup_minhash's output IS
  * its candidate set), so the witness can't drift from what the bench
  * measures.
  *
  * Usage: runMain graft.Witness <sfDir> [entry...]
  *   entries default to all three; prints one JSON line per entry.
  */
object Witness {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val wanted =
      if (args.length > 1) args.drop(1).toSet
      else Set("ml_dbscan", "mm_pipeline", "dedup_recall_report")
    // decade dirs need wider shuffles than one partition per core: the
    // pre-distinct candidate stream at sf10 is billions of rows, and
    // 32 reduce partitions put ~100M-row hash aggregates on one task
    val spark = SparkEntry.localSession()
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))

    def emit(entry: String, n: Long, candidates: Long, emitted: Long,
             extra: String = ""): Unit = {
      // Locale.ROOT: "%.3f" under a comma-decimal locale would print
      // 638,123 and break the JSON (r15 advice)
      def ratio(x: Long): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(x.toDouble / n))
      println(s"""{"witness":"$entry","dir":"$dir","n":$n,""" +
        s""""candidates":$candidates,"emitted":$emitted,""" +
        s""""excess":${candidates - emitted},""" +
        s""""cand_per_n":${ratio(candidates)},""" +
        s""""excess_per_n":${ratio(candidates - emitted)}$extra}""")
    }

    // one aggregation over the UNFILTERED candidate frame: candidate
    // count and survivor count in a single pass, nothing materialized
    // (an early version localCheckpoint'ed the full pair set — at sf10
    // that spilled tens of GB for numbers one agg computes in-flight)
    def candVsEmitted(cand: org.apache.spark.sql.DataFrame,
                      threshold: Double): (Long, Long) = {
      import org.apache.spark.sql.functions.{count, lit, sum, when, col}
      val r = cand.agg(count(lit(1)).as("nc"),
        sum(when(col("cos") >= threshold, 1L).otherwise(0L)).as("ne")).head()
      (r.getLong(0), r.getLong(1))
    }

    if (wanted("ml_dbscan")) {
      // the registered plan: corpus-adaptive sign-bit LSH over the
      // embeddings, exact cosine >= DbEps only within buckets
      val emb = sources.Tables.embeddings(spark, dir)
      val n = emb.count()
      val bits = functions.EmbLsh.suggestedBits(n, operators.Dbscan.DbBudgetLog2)
      val (nc, ne) = candVsEmitted(api.GraftOps.embeddingCandidatePairs(
        emb, "vec_id", "embedding",
        functions.EmbLsh.Tables, bits, functions.EmbLsh.Dims,
        functions.EmbLsh.SaltHotBucket, functions.EmbLsh.SaltWays),
        operators.Dbscan.DbEps)
      emit("ml_dbscan", n, nc, ne)
      SparkEntry.releaseMemos(spark)
    }

    if (wanted("mm_pipeline")) {
      // the registered plan: PPM feature vectors -> corpus-adaptive
      // LSH -> exact cosine >= MmThreshold within buckets
      val mm = operators.Multimodal
      val vecs = mm.featureVectors(spark, dir).memoized()
      val n = vecs.count()
      // bits from the DOCUMENTS count, exactly as mmPipeline derives
      // them (Multimodal.mmPipeline) — if featureVectors ever filtered
      // rows, deriving from vecs here would silently witness a
      // different plan than the bench runs (r15 advice)
      val bits = mm.mmSuggestedBits(sources.Tables.documents(spark, dir).count())
      val (nc, ne) = candVsEmitted(api.GraftOps.embeddingCandidatePairs(
        vecs, "doc_id", "fv",
        mm.MmTables, bits, mm.FeatureDims,
        functions.EmbLsh.SaltHotBucket, functions.EmbLsh.SaltWays),
        mm.MmThreshold)
      emit("mm_pipeline", n, nc, ne)
      SparkEntry.releaseMemos(spark)
    }

    if (wanted("dedup_recall_report")) {
      // the report joins the LSH candidate set (dedup_minhash's own
      // output) against the exact n-gram-Jaccard arm; its cost at
      // scale is the DECLARED ground-truth arm. Candidates here = the
      // exact arm's shared-shingle join output (threshold 0 keeps
      // every intersecting pair — the volume that could fan out);
      // emitted = the jaccard >= threshold true pairs. The registered
      // exact arm runs on Dedup.recallExactSample (hash sample past
      // the RecallSampleCap) — the witness measures the SAME sampled
      // relation so it tracks the plan the bench/soak runs.
      // r17 (advice): every per-n ratio on these lines uses the
      // SAMPLE size as n (the relation the counts were computed on —
      // the full-corpus n shrank cand_per_n artificially exactly at
      // soak SFs, where superlinear fan-out is what this witness
      // exists to catch); corpus_n rides along for context. The LSH
      // arm is restricted to pairs with BOTH endpoints in the sample
      // so its excess subtracts like from like (the full-corpus
      // candidate count rides along as lsh_candidates_full).
      import org.apache.spark.sql.functions.col
      val sample = operators.Dedup.recallExactSample(spark, dir).memoized()
      val corpusN = sources.Tables.documents(spark, dir).count()
      val sampleN = sample.count()
      val allPairs = api.GraftOps.ngramJaccardPairs(
        sample, "doc_id", "text", n = 3, threshold = 0.0).count()
      val truePairs = api.GraftOps.ngramJaccardPairs(
        sample, "doc_id", "text", n = 3,
        threshold = operators.Dedup.JaccardThreshold).count()
      emit("dedup_recall_report", sampleN, allPairs, truePairs,
        s""","corpus_n":$corpusN""")
      val ids = sample.select(col("doc_id"))
      val lshAll = operators.Dedup.dedupMinhash(spark, dir)
      val lshFull = lshAll.count()
      val lshInSample = lshAll
        .join(ids.select(col("doc_id").as("a")), Seq("a"))
        .join(ids.select(col("doc_id").as("b")), Seq("b"))
        .count()
      emit("dedup_recall_report_lsh_arm", sampleN, lshInSample, truePairs,
        s""","corpus_n":$corpusN,"lsh_candidates_full":$lshFull""")
      SparkEntry.releaseMemos(spark)
    }

    spark.stop()
  }
}
