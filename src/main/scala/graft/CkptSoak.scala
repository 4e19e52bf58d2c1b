package graft
import org.apache.spark.sql.functions._

/** Durability-path prover at scale (r13 verdict item 7): runs iterative
  * queries once on the default localCheckpoint truncation and once with
  * spark.graft.reliableCheckpoint=true + a real checkpoint dir, asserts
  * the results hash-identical (order-independent xxhash64 sum + count),
  * and reports the DFS-write overhead. CheckpointToggleSpec proves
  * bit-identity at toy scale; this measures it where the checkpoint
  * writes actually cost something.
  *
  * Usage: runMain graft.CkptSoak <sfDir> <ckptDir> <query> [query...]
  */
object CkptSoak {
  def main(args: Array[String]): Unit = {
    val (sfDir, ckptDir) = (args(0), args(1))
    val names = args.drop(2)
    val spark = SparkEntry.localSession()
    spark.sparkContext.setCheckpointDir(ckptDir)
    def fingerprint(name: String): (Double, Long, Long) = {
      SparkEntry.releaseMemos(spark)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      // MULTISET fingerprint, order-independent and overflow-free:
      // group by the row hash, then xor over xxhash64(h, count). A
      // plain xor of row hashes is multiplicity-blind — a divergence
      // that shifts row multiplicities in even pairs (one row
      // duplicated twice while another drops twice) leaves both the
      // xor and the total count unchanged (r14 advice). Hashing
      // (h, per-h count) makes any multiplicity change move the
      // fingerprint; the extra shuffle is |distinct rows| on a soak
      // harness — noise. (SUM of hashes would trip ANSI 64-bit
      // overflow at sf1 row counts, hence xor.)
      val r = df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
        .groupBy("h").agg(count(lit(1)).as("c"))
        .agg(expr("bit_xor(xxhash64(h, c))").as("s"), sum(col("c")).as("n")).head()
      ((System.nanoTime() - t0) / 1e9, r.getLong(0), r.getLong(1))
    }
    names.foreach { name =>
      spark.conf.unset(graft.api.GraftOps.ReliableCheckpointKey)
      val (tLocal, hLocal, nLocal) = fingerprint(name)
      spark.conf.set(graft.api.GraftOps.ReliableCheckpointKey, "true")
      val (tRel, hRel, nRel) = fingerprint(name)
      val ok = hLocal == hRel && nLocal == nRel
      println(f"CKPT $name local=$tLocal%.1fs reliable=$tRel%.1fs overhead=${tRel / tLocal}%.2fx rows=$nLocal hash_equal=$ok")
      assert(ok, s"$name diverged: local ($hLocal, $nLocal) vs reliable ($hRel, $nRel)")
    }
    spark.conf.unset(graft.api.GraftOps.ReliableCheckpointKey)
    spark.stop()
  }
}
