package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.Try
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.functions.BloomMightContain
import graft.api.Memo
import graft.operators._
import graft.sources.IoRoundtrip

/** The one memo registry (graft.api.Memo): `Memo.keyed` entries are
  * dropped by SparkEntry.releaseMemos, so the next call pays the real
  * build again; `Memo.layout` entries live for the session, so a
  * release never rewrites an on-disk layout. Both are observed as
  * Spark jobs, counted with a listener. A release also destroys the
  * broadcasts and drops the temp functions graft registered. */
class MemoRegistrySpec extends SparkSpec {

  private val MaxPagerankBuildJobs = 17

  /** Jobs started while `build` runs. A marker job after it fences the
    * count: listener events arrive in order, so once the marker's start
    * is seen every job `build` started has been seen too. */
  private def jobsDuring(build: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = "memo-registry-spec-marker"
    val seen = new AtomicInteger(0)
    val fenced = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          fenced.countDown()
        else seen.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      build
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      assert(fenced.await(60, TimeUnit.SECONDS), "marker job start never delivered")
      seen.get
    } finally sc.removeSparkListener(l)
  }

  // one memo producer from each module whose memos a release drops
  // (the edge checkpoint first: pagerank's rebuild would rebuild it too)
  private val released: Seq[(String, () => Any)] = Seq(
    "persistedSymEdges" -> (() => Graph.persistedSymEdges(spark, sf)),
    "Graph" -> (() => Graph.pagerank(spark, sf)),
    "Classify" -> (() => Classify.train(spark, sf)),
    "Similarity" -> (() => Similarity.mlKmeans(spark, sf)),
    "Bpe" -> (() => Bpe.trained(spark, sf)),
    "SuffixArray" -> (() => SuffixArray.suffixRanks(spark, sf)),
    "CurationQuality" -> (() => CurationQuality.qualityFilter(spark, sf)))

  test("releaseMemos makes every released memo producer run its jobs again") {
    released.foreach { case (_, produce) => produce() }
    // a memo hit may still run jobs of its own (ml_kmeans's
    // construction does), so a rebuild shows as MORE jobs than the hit
    val hitJobs = released.map { case (_, produce) => jobsDuring(produce()) }
    SparkEntry.releaseMemos(spark)
    assert(Memo.trackedCount == 0)
    released.zip(hitJobs).foreach { case ((m, produce), hit) =>
      val jobs = jobsDuring(produce())
      assert(jobs > hit, s"$m served a released memo: $jobs jobs vs $hit on a hit")
    }
    SparkEntry.releaseMemos(spark)
  }

  test("session-lived layouts run no write job after a release") {
    val layouts: Seq[(String, () => Any)] = Seq(
      "io_format_roundtrip" -> (() => IoRoundtrip.roundtrip(spark, sf)))
    layouts.foreach { case (_, build) => build() }
    SparkEntry.releaseMemos(spark)
    layouts.foreach { case (name, build) =>
      assert(jobsDuring(build()) == 0, s"$name rewrote its layout after a release")
    }
  }

  test("pagerank from a released state: no edge table, no cached frame, bounded jobs") {
    SparkEntry.releaseMemos(spark)
    spark.catalog.clearCache() // frames other specs in this JVM cached
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    // the marker job of jobsDuring also fences the plans: both listeners
    // read the same shared event queue
    val jobs = try jobsDuring(Graph.pagerank(spark, sf))
      finally spark.listenerManager.unregister(ql)
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("graft_edges_b")))
    assert(!plans.isEmpty)
    plans.forEach(p => assert(!p.contains("InMemoryTableScan"), s"cached frame in\n$p"))
    // measured on local[4] at sf0.001: 17 jobs; the bucketed edge
    // table write and the cached node/base tables it replaced took 29
    assert(jobs <= MaxPagerankBuildJobs, s"$jobs construction jobs")
    // the other rank loops leave no CacheManager entry either
    Seq[(String, () => DataFrame)](
      "pagerank_directed" -> (() => Graph.pagerankDirected(spark, sf)),
      "pagerank_weighted" -> (() => Graph.pagerankWeighted(spark, sf)),
      "text_textrank" -> (() => TextRank.textTextrank(spark, sf))).foreach { case (q, run) =>
      run().collect()
      assert(spark.sharedState.cacheManager.isEmpty, s"$q cached a frame")
    }
    SparkEntry.releaseMemos(spark)
  }

  test("rank queries leave no cache entry, persistent RDD, memo or table behind a release") {
    val queries = Seq("pagerank", "pagerank_directed", "pagerank_weighted",
      "pagerank_incremental", "text_textrank")
    SparkEntry.releaseMemos(spark)
    spark.catalog.clearCache() // frames other specs in this JVM cached
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val tablesBefore = spark.catalog.listTables().collect().map(_.name).toSet
    for (run <- 1 to 2) {
      queries.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
      SparkEntry.releaseMemos(spark)
      assert(spark.sharedState.cacheManager.isEmpty, s"run $run: a CacheManager entry")
      val rdds = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
      assert(rdds.isEmpty, s"run $run: persistent RDDs $rdds outlived the release")
      assert(Memo.trackedCount == 0, s"run $run: ${Memo.trackedCount} tracked entries")
      // the only table these queries may write is the documented
      // session-lived pagerank base layout
      val tables = spark.catalog.listTables().collect().map(_.name).toSet -- tablesBefore
      assert(tables.forall(_.startsWith("graft_pr_base_b")), s"run $run: tables $tables")
    }
  }

  test("releaseMemos drops the triangle Bloom probe's function and destroys its broadcast") {
    def bloomFunctions: Int = spark.sessionState.functionRegistry.listFunction()
      .count(_.funcName.startsWith("graft_tri_bloom_"))
    // the probe's broadcasts, read off the plan (not off the registry)
    def bloomBroadcasts(df: DataFrame): Seq[Broadcast[_]] =
      df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
        case b: BloomMightContain => b.bf
      }))
    def live(bcs: Seq[Broadcast[_]]): Int = bcs.count(b => Try(b.value).isSuccess)
    SparkEntry.releaseMemos(spark)
    val functionsBefore = bloomFunctions
    spark.conf.set("spark.graft.triangleBloom", "true")
    try {
      val made = (1 to 2).flatMap { _ =>
        val df = Graph.graphTriangles(spark, sf)
        df.collect()
        val bcs = bloomBroadcasts(df)
        assert(bcs.nonEmpty && live(bcs) == bcs.size, "the forced Bloom probe never engaged")
        assert(bloomFunctions > functionsBefore)
        SparkEntry.releaseMemos(spark)
        assert(bloomFunctions == functionsBefore)
        bcs
      }
      assert(live(made) == 0, s"${live(made)} of ${made.size} Bloom broadcasts outlived a release")
    } finally spark.conf.unset("spark.graft.triangleBloom")
  }
}
