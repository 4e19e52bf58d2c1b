package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.api.Memo
import graft.operators._
import graft.sources.IoRoundtrip

/** The one memo registry (graft.api.Memo): `Memo.keyed` entries are
  * dropped by SparkEntry.releaseMemos, so the next call pays the real
  * build again; `Memo.layout` entries live for the session, so a
  * release never rewrites an on-disk layout. Both are observed as
  * Spark jobs, counted with a listener. */
class MemoRegistrySpec extends SparkSpec {

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
  private val released: Seq[(String, () => Any)] = Seq(
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
      "persistedSymEdges" -> (() => Graph.persistedSymEdges(spark, sf)),
      "io_format_roundtrip" -> (() => IoRoundtrip.roundtrip(spark, sf)))
    layouts.foreach { case (_, build) => build() }
    SparkEntry.releaseMemos(spark)
    layouts.foreach { case (name, build) =>
      assert(jobsDuring(build()) == 0, s"$name rewrote its layout after a release")
    }
  }
}
