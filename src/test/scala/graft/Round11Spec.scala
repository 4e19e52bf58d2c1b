package graft

import org.apache.spark.sql.functions._
import graft.operators.SuffixArray

/** Round-11 semantic specs. */
class Round11Spec extends SparkSpec {

  test("dedup_substring_incremental: pairs are TRUE literal overlaps at the reported positions") {
    val dir = "/root/testdata/sf0.01"
    val texts = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = SuffixArray.dedupSubstringIncremental(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (da, pa, db, pb, lcp) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))
      assert(da % SuffixArray.SampleMod == 0 && db % SuffixArray.SampleMod == SuffixArray.DeltaResidue,
        s"pair ($da, $db) crosses the wrong slices")
      val sa = texts(da).substring(pa.toInt - 1)
      val sb = texts(db).substring(pb.toInt - 1)
      val common = sa.zip(sb).takeWhile { case (x, y) => x == y }.length
      assert(lcp >= SuffixArray.MinRep && common >= lcp,
        s"($da@$pa, $db@$pb): claimed lcp $lcp but true common prefix $common")
      assert(sa.startsWith(r.getString(5)), "snippet is not the shared prefix")
    }
  }

  test("ml_random_forest: trees differ (bagging+subspace bite), OOB honest, ensemble ≤ mean tree") {
    val dir = "/root/testdata/sf0.01"
    val rows = graft.operators.MlTrees.mlRandomForest(spark, dir).collect()
    assert(rows.length == graft.operators.MlTrees.RfTrees + 1)
    val trees = rows.filter(_.getLong(0) >= 0)
    // feature dropout: each tree's winning feature is never its dropped one
    trees.foreach { r =>
      val b = r.getLong(0)
      val dropped = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"drop_$b".getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16) % 3
      val droppedName = Seq("qty", "disc", "tax")(dropped.toInt)
      assert(r.getString(1) != droppedName, s"tree $b used its dropped feature")
      // ~60% subsample
      val frac = r.getLong(3).toDouble / 60000 // sf0.01 lineitem rows
      assert(frac > 0.55 && frac < 0.65, s"tree $b bag fraction $frac")
    }
    // the independent hashes produce non-identical trees
    assert(trees.map(r => (r.getString(1), r.getLong(2))).distinct.length >= 2,
      "all trees picked the identical stump — bagging/subspace not biting")
    val ens = rows.find(_.getLong(0) == -1L).get.getAs[Double]("oob_mse")
    val meanTree = trees.map(_.getAs[Double]("oob_mse")).sum / trees.length
    info(f"OOB mse: ensemble $ens%.1f vs mean single tree $meanTree%.1f")

    // Jensen's variance-reduction guarantee holds only when comparing
    // on the SAME rows — restrict to rows out-of-bag for EVERY tree
    // (≈0.4^B of the corpus), where mse(avg of preds) ≤ mean of
    // per-tree mses mathematically (up to the ±0.5-cent leaf
    // quantization of the averaged prediction)
    val stump = trees.map(r =>
      r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(4), r.getLong(5))).toMap
    val base = graft.sources.Tables.lineitem(spark, dir).select(
      col("l_orderkey").cast("long").as("ok"), col("l_linenumber").cast("long").as("ln"),
      col("l_quantity").cast("long").as("qty"),
      floor(col("l_discount") * 100 + 0.5).cast("long").as("disc"),
      floor(col("l_tax") * 100 + 0.5).cast("long").as("tax"),
      floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("y")).collect()
    def inbag(ok: Long, ln: Long, b: Long): Boolean = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${ok}_${ln}_$b".getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16) % graft.operators.MlTrees.RfBagMod <
        graft.operators.MlTrees.RfBagKeep
    }
    val allOob = base.filter(r =>
      (0L until graft.operators.MlTrees.RfTrees.toLong)
        .forall(b => !inbag(r.getLong(0), r.getLong(1), b)))
    assert(allOob.length > 100, s"only ${allOob.length} all-OOB rows")
    def pred(b: Long, r: org.apache.spark.sql.Row): Long = {
      val (f, t, ll, lr) = stump(b)
      val fv = f match { case "qty" => r.getLong(2); case "disc" => r.getLong(3); case _ => r.getLong(4) }
      if (fv <= t) ll else lr
    }
    val bs = 0L until graft.operators.MlTrees.RfTrees.toLong
    val ensMse = allOob.map { r =>
      val p = math.floor(bs.map(pred(_, r)).sum.toDouble / bs.length + 0.5).toLong
      val d = r.getLong(5) - p; d.toDouble * d
    }.sum / allOob.length
    val treeMses = bs.map(b => allOob.map { r =>
      val d = r.getLong(5) - pred(b, r); d.toDouble * d
    }.sum / allOob.length)
    info(f"same-row (all-OOB) mse: ensemble $ensMse%.1f vs mean tree ${treeMses.sum / bs.length}%.1f")
    assert(ensMse <= treeMses.sum / bs.length * 1.0001,
      s"Jensen violated on the all-OOB subset: $ensMse vs $treeMses")
  }

  test("q56_holt: on a perfect linear ramp the level tracks x exactly and the trend IS the slope") {
    // ℓ=x_old, b=first-difference init on a line makes every step
    // exact: ℓ+b = next x ⇒ ℓ' = x, b' = slope — a closed-form truth
    // the recurrence must reproduce bit-for-bit
    val ss = spark; import ss.implicits._
    val ramp = (0 until 30).map(t => ("up", t.toLong, 10.0 + 3.25 * t)) ++
      (0 until 30).map(t => ("down", t.toLong, 500.0 - 1.5 * t))
    val out = graft.operators.Forecast
      .holtSmooth(ramp.toDF("event_type", "day", "x"), "event_type", "day")
      .collect()
    assert(out.length == 2 * (30 - graft.operators.Forecast.HoltK + 1))
    out.foreach { r =>
      val (x, level, trend, f1) = (r.getAs[Double]("x"), r.getAs[Double]("level"),
        r.getAs[Double]("trend"), r.getAs[Double]("forecast1"))
      val slope = if (r.getString(0) == "up") 3.25 else -1.5
      assert(math.abs(level - x) < 1e-6, s"level $level drifted from x $x")
      assert(math.abs(trend - slope) < 1e-6, s"trend $trend off slope $slope")
      assert(math.abs(f1 - (x + slope)) < 1e-6, "forecast1 is not level + trend")
    }
  }

  test("cur_quality_classifier: the student learns its weak teacher, scores are graded") {
    val dir = "/root/testdata/sf0.01"
    val rows = graft.operators.CurationQuality.qualityClassifier(spark, dir).collect()
    val base = rows.count(_.getBoolean(1)).toDouble / rows.length
    val agree = rows.count(r => r.getBoolean(1) == r.getBoolean(3)).toDouble / rows.length
    info(f"base low-rate $base%.3f, student/teacher agreement $agree%.3f")
    // must beat always-majority by a wide margin (the pure-token model
    // CAN'T: the low label is U-shaped in doc length — the quantized
    // heuristic-bucket features are what make it linearly learnable)
    assert(agree > math.max(base, 1 - base) + 0.2,
      s"agreement $agree does not beat the majority baseline ${math.max(base, 1 - base)}")
    // graded probabilities, not a binary rule copy
    val ps = rows.map(_.getDouble(2)).distinct
    assert(ps.length > 50 && ps.min < 0.3 && ps.max > 0.7,
      s"scores not graded: ${ps.length} distinct in [${ps.min}, ${ps.max}]")
  }

  test("attribution conservation: q58 linear credits sum to the purchase count; q57 counts too") {
    val dir = "/root/testdata/sf0.01"
    val purchases = graft.sources.Tables.events(spark, dir)
      .filter(col("event_type") === "purchase").count()
    val q57 = graft.operators.EventAnalytics.q57Attribution(spark, dir).collect()
    assert(q57.map(_.getAs[Long]("n_purchases")).sum == purchases,
      "last-touch attribution lost or double-counted purchases")
    val q58 = graft.operators.EventAnalytics.q58AttributionLinear(spark, dir).collect()
    val totalCredit = q58.map(_.getAs[Double]("credit")).sum
    // each purchase's credit splits exactly across its touches — the
    // remainder micro-units go to the earliest touches, so conservation
    // is EXACT for every fan-out n (not only n dividing the scale); the
    // only slack is the 4-dp edge rounding of the three output rows
    assert(math.abs(totalCredit - purchases) < 0.001,
      s"linear credits $totalCredit do not conserve the $purchases purchases")
  }

  test("dedup_substring_incremental reuses the persisted base layout (no rebuild)") {
    val dir = "/root/testdata/sf0.01"
    SparkEntry.releaseMemos(spark)
    // build once via the full-corpus operator…
    SuffixArray.textSuffixArray(spark, dir).count()
    val built = SuffixArray.suffixRanks(spark, dir)
    // …then the incremental arm must read the SAME memoized table —
    // delta ingestion pays delta-sized work only
    assert(SuffixArray.suffixRanks(spark, dir) eq built,
      "suffixRanks rebuilt instead of reusing the session memo")
    val n = SuffixArray.dedupSubstringIncremental(spark, dir).count()
    assert(SuffixArray.suffixRanks(spark, dir) eq built)
    assert(n > 0)
  }
}
