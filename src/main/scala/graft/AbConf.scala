package graft

/** A/B harness for a boolean conf-gated lever on one registered query:
  * times n control-bracketed passes with the conf unset (arm A) and n
  * with it "true" (arm B), memos released before every pass so each
  * arm pays full compute (the Requalify discipline). Dir comes from
  * SPARK_GRAFT_SF_DIR so the same invocation drives sf0.1 or a scale
  * soak dir. Row counts are asserted equal across arms — an A/B that
  * changes the answer is a bug, not a measurement.
  *
  * Usage: runMain graft.AbConf <query> <confKey> [nPasses=2]
  */
object AbConf {
  def main(args: Array[String]): Unit = {
    val (name, confKey) = (args(0), args(1))
    val n = if (args.length > 2) args(2).toInt else 2
    val spark = SparkEntry.localSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fn = SparkEntry.queries(name)
    val controlPin = 1.95
    var rowsA = -1L; var rowsB = -1L
    def arm(label: String, on: Boolean): Unit = (1 to n).foreach { i =>
      if (on) spark.conf.set(confKey, "true") else spark.conf.unset(confKey)
      SparkEntry.releaseMemos(spark)
      val ctl = Bench.controlOnly(spark)
      val t0 = System.nanoTime()
      val rows = fn(spark, dir).count()
      val t = (System.nanoTime() - t0) / 1e9
      if (on) rowsB = rows else rowsA = rows
      println(f"AB $name $confKey=$label pass$i query=$t%.2fs rows=$rows control=$ctl%.2fs (${ctl / controlPin}%.2fx pin)")
    }
    arm("off", on = false)
    arm("on", on = true)
    assert(rowsA == rowsB, s"arms disagree: off=$rowsA on=$rowsB")
    spark.stop()
  }
}
