package graft

import graft.operators.Dedup

/** The LSH-bucketed embedding dedup (the registered production entry)
  * is judged against the brute-force O(N²) ground truth: every pair it
  * reports must exist in the exact result with the identical cosine,
  * and recall must clear the 1-(1-p^bits)^tables design target. */
class EmbeddingDedupSpec extends SparkSpec {
  private val sf001 = "/root/testdata/sf0.01"

  test("bucketed pairs are a subset of the exact pairs with identical cosines") {
    val bucketed = Dedup.dedupEmbedding(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Dedup.dedupEmbeddingExact(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(bucketed.subsetOf(exact),
      s"false positives: ${(bucketed -- exact).take(5)}")
    // 16 tables × 4 bits ⇒ expected recall ≈ 0.95 at cos ≈ 0.45; planes
    // are deterministic (md5-derived), so the measured value is stable
    assert(exact.nonEmpty)
    val recall = bucketed.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${bucketed.size}/${exact.size})")
  }

  test("bucketed path never materializes the cross product") {
    // the analyzed plan must contain no cartesian/cross join — candidate
    // generation groups each (bj, bv) bucket once and the native
    // bucket_pairs kernel enumerates its a < b pairs
    val plan = Dedup.dedupEmbedding(spark, sf001)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Cross"), s"cross join in plan:\n${plan.take(1500)}")
  }
}
