package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan auditor: dumps the formatted physical plan of selected queries
  * so scan pushdown (`PushedFilters`), column pruning (`ReadSchema`),
  * join strategy, and whole-stage codegen coverage can be inspected.
  * A `stage:<name>` argument prints an INTERNAL pipeline stage instead:
  * the registered queries checkpoint-collapse such stages to
  * LogicalRDD leaves before their final plan forms, so a plan-shape
  * change in a shared core shows only here. Stages: emb_pairs.
  * Usage: runMain graft.Explain <sfDir> [queryName | stage:name ...]
  */
object Explain {
  private val stages: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the shared candidate+cosine stage of ml_dbscan / dedup_embedding /
    // cur_semdedup / mm_pipeline — NOT truncated here, so the full
    // pair-generation plan prints
    "emb_pairs" -> ((spark, sfDir) => api.GraftOps.embeddingCandidatePairs(
      sources.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      hotThreshold = functions.EmbLsh.SaltHotBucket,
      salt = functions.EmbLsh.SaltWays)))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // args containing '=' are session conf overrides (e.g. force a
    // scale-dispatched plan variant for inspection:
    // spark.graft.triangleBloom=true); the rest are query or stage names
    val (confArgs, nameArgs) = args.drop(1).toSeq.partition(_.contains("="))
    val names = if (nameArgs.nonEmpty) nameArgs else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkEntry.localSession()
    // plan-only session: skip the LSH hot-bucket probe's eager job so
    // explain stays lazy (constructs the probe's cold outcome — the
    // plain self-join plan; see GraftOps.bucketPairs)
    spark.conf.set("spark.graft.lshProbe", "false")
    confArgs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    names.foreach { n =>
      println(s"\n================ $n ================")
      val plan =
        if (n.startsWith("stage:")) stages(n.stripPrefix("stage:")) else SparkEntry.queries(n)
      plan(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
