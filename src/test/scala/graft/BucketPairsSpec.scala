package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.GraftOps

/** The LSH pair core (GraftOps.bucketPairs): the `bucket_pairs` kernel's
  * raw-score pre-filter never changes the rounded-threshold answer, the
  * unfiltered candidate stage equals the plain (bj, bv) self-join, a
  * pair colliding in several tables is emitted once without a distinct,
  * the hot-bucket probe is skipped when no bucket can be hot, and
  * banding scans the corpus once whatever the table count. */
class BucketPairsSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private val sf001 = "/root/testdata/sf0.01"

  /** 2-dim unit vectors at angle acos(c) from (1, 0): each pair with id 0
    * has raw cosine ≈ c (a few ulps from the literal). */
  private def fan(cs: Seq[Double]): DataFrame =
    ((0L, Seq(1.0, 0.0)) +: cs.zipWithIndex.map { case (c, i) =>
      (i + 1L, Seq(c, math.sqrt(1 - c * c)))
    }).toDF("vec_id", "embedding")

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("bucket_pairs keeps a pair just under the threshold that rounds onto it, drops the rest") {
    // threshold 0.5: 0.4999997 rounds to 0.5 (kept), 0.4999994 rounds to
    // 0.499999 (dropped by the exact filter), 0.4999985 is below the
    // kernel's threshold − 1e-6 floor (dropped in the kernel)
    val df = fan(Seq(0.4999997, 0.4999994, 0.4999985, 0.9))
    // 0 bits: every vector in one bucket per table, so all pairs meet
    def near(hot: Long) = pairSet(GraftOps.embeddingNearDupPairs(df, "vec_id", "embedding",
      threshold = 0.5, tables = 2, bits = 0, dims = 2, hotThreshold = hot, salt = 2))
    val cold = near(Long.MaxValue)
    assert(cold.contains((0L, 1L, 0.5)), s"rounds-to-threshold pair dropped: $cold")
    assert(!cold.exists(p => p._1 == 0L && (p._2 == 2L || p._2 == 3L)),
      s"below-threshold pair kept: $cold")
    assert(cold.contains((0L, 4L, 0.9)))
    // hot path (every bucket over the threshold): the salted join's
    // raw-score pre-filter gives the same answer
    assert(near(1L) == cold)
    // and both equal the exact rounded filter over all pairs
    val exact = pairSet(GraftOps.embeddingCandidatePairs(df, "vec_id", "embedding",
      tables = 2, bits = 0, dims = 2)).filter(_._3 >= 0.5)
    assert(cold == exact)
  }

  test("bucket_pairs enumerates each a < b pair once, skips null ids, keys by id order") {
    graft.functions.VectorExpressions.register(spark)
    val df = Seq((0, Option(3L)), (0, Option(1L)), (0, None), (0, Option(2L)), (1, Option(9L)))
      .toDF("bv", "id")
    val got = df.groupBy("bv").agg(collect_list(struct(col("id"))).as("m"))
      .select(call_function("bucket_pairs", col("m")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  /** The reference the pair core must reproduce: per table, explode the
    * sign-bit buckets and self-join on (bj, bv) with a < b, cosine
    * rounded to 6 places, distinct across tables. */
  private def referencePairs(emb: DataFrame, tables: Int, bits: Int, dims: Int): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val e = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val cand = e.select(col("vec_id"), col("v"), posexplode(array((0 until tables).map(t =>
      expr(s"lsh_bucket(v, $bits, $dims, $t)")): _*)).as(Seq("bj", "bv")))
    cand.select(col("vec_id").as("a"), col("v").as("va"), col("bj"), col("bv"))
      .join(cand.select(col("vec_id").as("b"), col("v").as("vb"), col("bj"), col("bv")),
        Seq("bj", "bv"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), round(expr("cosine_sim(va, vb)"), 6).as("cos"))
      .distinct()
  }

  test("unfiltered embeddingCandidatePairs equals the (bj, bv) self-join, cold and hot") {
    val emb = sources.Tables.embeddings(spark, sf001)
    val ref = pairSet(referencePairs(emb, tables = 4, bits = 4, dims = 64))
    assert(ref.nonEmpty)
    def cand(hot: Long) = pairSet(GraftOps.embeddingCandidatePairs(emb, "vec_id", "embedding",
      tables = 4, bits = 4, dims = 64, hotThreshold = hot, salt = 4))
    assert(cand(Long.MaxValue) == ref)
    // 500 vectors over 16 buckets per table: a threshold of 30 rows
    // splits the buckets between the kernel and the salted join
    assert(cand(30L) == ref)
  }

  test("pairs colliding in several tables come out once, cold and hot, with no pair aggregate") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // 0 bits: every vector shares the one bucket of each of 3 tables, so
    // every pair collides in all of them
    val df = fan(Seq(0.1, 0.5, 0.9, 0.99))
    val all = (0L to 4L).combinations(2).map(p => (p(0), p(1))).toSet
    val emb = sources.Tables.embeddings(spark, sf001)
    def once(pairs: DataFrame, expected: Set[(Long, Long)]): Unit = {
      val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val repeated = got.groupBy(identity).collect { case (p, ps) if ps.size > 1 => p }
      assert(repeated.isEmpty, s"pairs emitted more than once: ${repeated.take(5)}")
      assert(got.toSet == expected)
      // the executed plan carries no aggregate keyed on a or b: the
      // uniqueness comes from the pair core, not from a distinct
      val keys = new AdaptiveSparkPlanHelper {}.collect(pairs.queryExecution.executedPlan) {
        case agg: BaseAggregateExec => agg.groupingExpressions.flatMap(_.references.map(_.name))
      }.flatten
      assert(!keys.exists(k => k == "a" || k == "b"), s"aggregate keys: $keys")
    }
    // emb at 2 bits: 4 buckets per table, so most pairs meet in several
    // of the 4 tables; a hot threshold of 30 rows splits the buckets
    // between the kernel and the salted join
    val ref = pairSet(referencePairs(emb, tables = 4, bits = 2, dims = 64))
      .map(p => (p._1, p._2))
    for (hot <- Seq(Long.MaxValue, 1L)) once(GraftOps.embeddingNearDupPairs(df, "vec_id",
      "embedding", threshold = -1.0, tables = 3, bits = 0, dims = 2, hotThreshold = hot,
      salt = 2), all)
    for (hot <- Seq(Long.MaxValue, 30L)) once(GraftOps.embeddingCandidatePairs(emb, "vec_id",
      "embedding", tables = 4, bits = 2, dims = 64, hotThreshold = hot, salt = 4), ref)
    SparkEntry.releaseMemos(spark)
  }

  /** Jobs started while `build` runs. A marker job before and after
    * fences the count: listener events arrive in order, so once the
    * closing marker's start is seen every earlier start has been too. */
  private def jobsDuring(build: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new AtomicInteger(0)
    @volatile var latch = new CountDownLatch(1)
    val marker = "bucket-pairs-spec-marker"
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          latch.countDown()
        else seen.incrementAndGet()
    }
    def fence(): Unit = {
      latch = new CountDownLatch(1)
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      assert(latch.await(60, TimeUnit.SECONDS), "marker job start never delivered")
    }
    sc.addSparkListener(l)
    try {
      fence()
      seen.set(0)
      build
      fence()
      seen.get
    } finally sc.removeSparkListener(l)
  }

  test("no hot-bucket probe job runs when the corpus has at most hotThreshold rows") {
    val emb = sources.Tables.embeddings(spark, sf001) // 500 vectors
    def construct(hot: Long): Unit =
      GraftOps.embeddingNearDupPairs(emb, "vec_id", "embedding", threshold = 0.45,
        tables = 4, bits = 4, dims = 64, hotThreshold = hot, salt = 4)
    // plan-only mode never probes: its jobs are the banding checkpoint's
    spark.conf.set("spark.graft.lshProbe", "false")
    val planOnly = try jobsDuring(construct(4096L))
      finally spark.conf.unset("spark.graft.lshProbe")
    // N = 500 ≤ 4096: no bucket can be hot, so no probe either
    assert(jobsDuring(construct(4096L)) == planOnly)
    // N > hotThreshold: the probe must run
    assert(jobsDuring(construct(100L)) > planOnly)
    SparkEntry.releaseMemos(spark)
  }

  private def scans(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collectLeaves().size

  test("banding scans the corpus once, whatever the table count") {
    val emb = sources.Tables.embeddings(spark, sf001)
    // the pair stage reads its banded relation once for 2 or 16 tables
    val few = scans(GraftOps.embeddingCandidatePairs(emb, "vec_id", "embedding", tables = 2))
    val many = scans(GraftOps.embeddingCandidatePairs(emb, "vec_id", "embedding", tables = 16))
    assert(few == many && many == 1, s"leaves: 2 tables $few, 16 tables $many")
    assert(scans(operators.Dedup.dedupEmbedding(spark, sf001)) == 1)
    // sim_ann_lsh: corpus buckets, query buckets, and the two scoring
    // lookups — a constant, below its table count
    val ann = scans(operators.Similarity.annLsh(spark, sf001))
    assert(ann <= 4 && ann < operators.Similarity.NumTables, s"sim_ann_lsh leaves: $ann")
    SparkEntry.releaseMemos(spark)
  }
}
