package graft

/** Control-bracketed re-qualification harness for a single bench entry
  * (the BASELINE.md protocol: treat deltas under ~1.3x as noise and
  * re-measure n>=3 under clean controls before calling a regression).
  * Each pass runs the skew-SMJ control probe (Bench.controlOnly, pin
  * 1.95 s) immediately before the timed query, so every measurement
  * carries its own time-local load adjustment. Released memos
  * (SparkEntry.releaseMemos) are dropped before every pass — a timed
  * pass pays full cost; session-lived layouts are written once.
  *
  * Usage: runMain graft.Requalify <query> [nPasses=3]
  */
object Requalify {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val n = if (args.length > 1) args(1).toInt else 3
    val spark = SparkEntry.localSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fn = SparkEntry.queries(name)
    val controlPin = 1.95
    (1 to n).foreach { i =>
      SparkEntry.releaseMemos(spark)
      val ctl = Bench.controlOnly(spark)
      val t0 = System.nanoTime()
      fn(spark, dir).collect()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"RQ $name pass$i query=$t%.2fs control=$ctl%.2fs (${ctl / controlPin}%.2fx pin)")
    }
    spark.stop()
  }
}
