package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.api.Memo
import graft.sources.Tables

/** Physical-layout operators: the 100 TB join strategy made concrete.
  *
  * `q32_bucketed_join` pays the lineitem⋈orders shuffle ONCE at write
  * time (bucketBy on the order key) and joins shuffle-free ever after —
  * the layout every repeated fact⋈fact join should run on at scale.
  * BucketedJoinSpec asserts the join subtree plans with zero Exchange;
  * the oracle verifies the result against the plain-parquet join. */
object ScaleOps {
  val NBuckets = 8

  // layout paths/table names carry an md5 of the FULL dir string, not
  // dir.hashCode: the memos are keyed by the full string, so two dirs
  // with colliding hashCodes in one session would silently overwrite
  // each other's on-disk layout while both memo entries stayed live
  private[operators] def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  // the in-memory catalog forgets tables across JVMs but the warehouse
  // directory persists — clear both or a rerun hits LOCATION_ALREADY_EXISTS
  private[operators] def dropStale(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(wh, name.toLowerCase)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  // bucketed managed tables are written once per (session, dir) — the
  // point is that the QUERY runs shuffle-free; the write is load-time
  private def bucketedTables(spark: SparkSession, dir: String): (String, String) =
    Memo.layout(spark, dir, "scale.bucketed") {
      val suffix = dirKey(dir)
      val (lt, ot) = (s"graft_lineitem_b$suffix", s"graft_orders_b$suffix")
      dropStale(spark, lt); dropStale(spark, ot)
      Tables.writeBucketed(
        Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice", "l_discount"),
        lt, "l_orderkey", NBuckets)
      Tables.writeBucketed(
        Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"),
        ot, "o_orderkey", NBuckets)
      (lt, ot)
    }

  /** The co-bucketed join itself (pre-aggregation) — exposed so the
    * spec can assert its physical plan contains no Exchange. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (lt, ot) = bucketedTables(spark, dir)
    spark.table(lt).join(spark.table(ot),
      col("l_orderkey") === col("o_orderkey"))
  }

  /** Revenue by order priority over the bucketed layout. The only
    * Exchange in the whole plan is the final tiny groupBy on priority;
    * the fact⋈fact join moves zero bytes. */
  def q32BucketedJoin(spark: SparkSession, dir: String): DataFrame =
    bucketedJoin(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy("priority")

  /** Day-partitioned copy of `events`, written once per (session, dir)
    * — the directory layout (day=N/...) every time-series table should
    * carry at 100 TB, because a day-bounded query then opens one
    * directory instead of scanning the year. */
  // path AND min day cached together: deriving the slice literal later
  // would full-scan every partition of the layout whose whole point is
  // opening one directory
  def partitionedEvents(spark: SparkSession, dir: String): (String, Long) =
    Memo.layout(spark, dir, "scale.eventsByDay") {
      val path = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        s"graft_events_byday${dirKey(dir)}").toString
      val byDay = Tables.events(spark, dir)
        .withColumn("day", expr("ts_us div 86400000000"))
      byDay.write.mode("overwrite").partitionBy("day").parquet(path)
      val minDay = byDay.agg(min(col("day"))).head().getLong(0)
      (path, minDay)
    }
  def partitionedEventsPath(spark: SparkSession, dir: String): String =
    partitionedEvents(spark, dir)._1

  /** One-day slice over the partitioned layout: the literal day filter
    * becomes a PARTITION filter (directory pruning — zero data files
    * from other days are even opened), which PartitionPruningSpec
    * asserts on the scan node. Result parity with a full-scan filter
    * over the raw table is the oracle's job. */
  def q34PartitionPruning(spark: SparkSession, dir: String): DataFrame = {
    // min(day) + 3 is always populated in the driver's testdata; the
    // min comes from the cached layout metadata, so the query itself
    // touches ONE partition directory and nothing else
    val (path, minDay) = partitionedEvents(spark, dir)
    val ev = spark.read.parquet(path)
    val day = minDay + 3
    ev.filter(col("day") === day)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("event_type")
  }

  /** Calendar dim over the day-partitioned layout's distinct days
    * (day, dow = day mod 7), written once per (session, dir) as a
    * parquet FILE source — dynamic partition pruning needs a real
    * build-side relation (a local relation's filter constant-folds
    * away before the pruning rule sees it) whose key column carries
    * the layout's EXACT inferred partition type (a cast on the
    * partition side defeats the rule). */
  def calendarDimPath(spark: SparkSession, dir: String): String =
    Memo.layout(spark, dir, "scale.calendarDim") {
      val (path, _) = partitionedEvents(spark, dir)
      val dimPath = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        s"graft_events_cal${dirKey(dir)}").toString
      spark.read.parquet(path).select(col("day")).distinct()
        .withColumn("dow", pmod(col("day").cast("long"), lit(7L)).cast("int"))
        .write.mode("overwrite").parquet(dimPath)
      dimPath
    }

  /** DYNAMIC partition pruning — q34's sibling where the day slice
    * arrives via a dim-table JOIN instead of a literal: the calendar
    * dim filters to one day-of-week, and Spark's DPP rule turns the
    * broadcast build side into a runtime partition filter
    * (DynamicPruningExpression on the scan — PlanSpec asserts it), so
    * the fact scan opens ~1/7 of the directories even though no
    * literal day predicate exists in the query text. This is the
    * second half of the 100 TB pruning story: static literals prune
    * at plan time (q34), dim-driven slices prune at RUN time with
    * zero extra cost when the dim is already broadcast. The dow
    * literal derives from cached layout metadata exactly like q34's
    * day literal; the oracle replays day % 7 = (min(day)+3) % 7. */
  def q61DppJoin(spark: SparkSession, dir: String): DataFrame = {
    val (path, minDay) = partitionedEvents(spark, dir)
    val dim = spark.read.parquet(calendarDimPath(spark, dir))
      .filter(col("dow") === lit(((minDay + 3) % 7).toInt))
    spark.read.parquet(path)
      .join(broadcast(dim.select("day")), Seq("day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("event_type")
  }

  /** Incremental view maintenance: a 90% "base" aggregate state plus a
    * 10% delta batch merged via GraftOps.mergeAggState — the oracle
    * recomputes the full aggregate from scratch, proving merge(state,
    * delta) ≡ recompute. Money is carried as integer cents so the
    * merged partial sums are EXACTLY order-independent (double partial
    * sums could differ in the last ulp from a full-scan sum). */
  def q33IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    def aggOf(df: DataFrame): DataFrame =
      df.groupBy("priority")
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("total_cents"))
    val state = aggOf(o.filter(col("o_orderkey") % 10 =!= 0))
    val delta = aggOf(o.filter(col("o_orderkey") % 10 === 0))
    graft.api.GraftOps.mergeAggState(state, delta, Seq("priority"))
      .orderBy("priority")
  }

  /** Bit-interleave (Morton / Z-order) of two 16-bit keys — pure
    * integer Column arithmetic, fully codegen'd. Sorting by the
    * interleave clusters BOTH dimensions at once, so a 2-D box
    * predicate skips most parquet row groups on min/max stats — the
    * multi-dimensional complement of single-key sorting. */
  def morton16(a: Column, b: Column): Column = {
    def spread(x0: Column): Column = {
      // 16-bit domain: keys fit at the test SFs; at real scale you
      // z-order BUCKET ids (key div bucketWidth), not raw keys — the
      // mask keeps the sort key well-defined either way
      var x = x0.cast("long").bitwiseAND(lit(0xFFFFL))
      x = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      x = (x.bitwiseOR(shiftleft(x, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      x = (x.bitwiseOR(shiftleft(x, 2))).bitwiseAND(lit(0x3333333333333333L))
      x = (x.bitwiseOR(shiftleft(x, 1))).bitwiseAND(lit(0x5555555555555555L))
      x
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Z-ordered copy of lineitem (clustered on morton16(l_partkey,
    * l_suppkey), 16 z-range files), written once per (session, dir)
    * with the key bounds cached alongside — deriving the box literals
    * later would full-scan the layout whose whole point is skipping.
    * ZOrderSpec measures the row-group skip against an unclustered
    * copy of the same rows. */
  def zorderedLineitem(spark: SparkSession, dir: String): (String, Long, Long) =
    Memo.layout(spark, dir, "scale.zorder") {
      val path = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        s"graft_lineitem_z${dirKey(dir)}").toString
      val li = Tables.lineitem(spark, dir)
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"),
          col("l_discount"))
      li.withColumn("z", morton16(col("l_partkey"), col("l_suppkey")))
        .repartitionByRange(16, col("z"))
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite").parquet(path)
      val b = li.agg(min(col("l_partkey")), max(col("l_partkey")),
        min(col("l_suppkey")), max(col("l_suppkey"))).head()
      (path, b.getLong(1) - b.getLong(0), b.getLong(3) - b.getLong(2))
    }

  /** 2-D box aggregate over the z-ordered layout: both range
    * predicates reach the parquet scan as literals (bounds read once
    * at layout-write time, the q34 plan-construction pattern), so
    * row-group min/max stats on the z-clustered files skip everything
    * outside the box — a scan cost ∝ box volume, not table size. The
    * oracle runs the identical box on the raw table (the layout is
    * semantics-free). */
  def q41ZorderBox(spark: SparkSession, dir: String): DataFrame = {
    val (path, pkSpan, skSpan) = zorderedLineitem(spark, dir)
    // a mid-table box covering ~1/8 of each dimension — populated at
    // every SF because the bounds scale with the key ranges
    val (pkLo, pkHi) = (1 + pkSpan / 2, 1 + pkSpan / 2 + (pkSpan / 8).max(1))
    val (skLo, skHi) = (1 + skSpan / 2, 1 + skSpan / 2 + (skSpan / 8).max(1))
    spark.read.parquet(path)
      .filter(col("l_partkey").between(pkLo, pkHi) &&
        col("l_suppkey").between(skLo, skHi))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  /** 3-way bit interleave (Morton) of three BUCKET ids (16 bits each →
    * 48-bit z-value) — the n-D generalization of [[morton16]], same
    * pure codegen'd integer arithmetic (the masks are the standard
    * 3-way spreads, good to 21 bits/key). The contract at scale:
    * mixed-type keys first bucketize to a bounded integer grid — ints
    * divide by a width, dates/timestamps become days-since-min,
    * strings would take a hash prefix — then the interleave clusters
    * all three dimensions at once. */
  def morton3(a: Column, b: Column, c: Column): Column = {
    def spread(x0: Column): Column = {
      var x = x0.cast("long").bitwiseAND(lit(0xFFFFL))
      x = (x.bitwiseOR(shiftleft(x, 32))).bitwiseAND(lit(0x1F00000000FFFFL))
      x = (x.bitwiseOR(shiftleft(x, 16))).bitwiseAND(lit(0x1F0000FF0000FFL))
      x = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x100F00F00F00F00FL))
      x = (x.bitwiseOR(shiftleft(x, 4))).bitwiseAND(lit(0x10C30C30C30C30C3L))
      x = (x.bitwiseOR(shiftleft(x, 2))).bitwiseAND(lit(0x1249249249249249L))
      x
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1)).bitwiseOR(shiftleft(spread(c), 2))
  }

  /** Lineitem clustered on morton3(bucket(l_partkey), bucket(l_suppkey),
    * days(l_shipdate)) — three MIXED-TYPE keys: two int ids divided
    * into ≤2¹⁶ buckets and a timestamp bucketized to days since the
    * table min. Written once per (session, dir); returns
    * (path, pkSpan, skSpan, minShipDate, daySpan) — bounds cached at
    * write time so deriving box literals later costs no scan. */
  def z3orderedLineitem(spark: SparkSession, dir: String): (String, Long, Long, String, Long) =
    Memo.layout(spark, dir, "scale.z3order") {
      val path = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        s"graft_lineitem_z3${dirKey(dir)}").toString
      val li = Tables.lineitem(spark, dir)
        .select(col("l_partkey"), col("l_suppkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
      val b = li.agg(
        min(col("l_partkey")), max(col("l_partkey")),
        min(col("l_suppkey")), max(col("l_suppkey")),
        min(to_date(col("l_shipdate"))), max(to_date(col("l_shipdate")))).head()
      val (pkLo, pkSpan) = (b.getLong(0), b.getLong(1) - b.getLong(0))
      val (skLo, skSpan) = (b.getLong(2), b.getLong(3) - b.getLong(2))
      val d0 = b.getDate(4).toLocalDate
      val daySpan = java.time.temporal.ChronoUnit.DAYS.between(d0, b.getDate(5).toLocalDate)
      // ALIGN each dimension to FULL occupancy of the common 16-bit
      // grid: bucket = (key − lo) · 2¹⁶/(span+1). Without alignment the
      // widest key monopolizes the interleave's high bits and the sort
      // degenerates to single-key clustering on it (measured: a raw
      // 12-bit day span drowned an 8-bit partkey — every file spanned
      // the full partkey range, zero skip on that dimension). The
      // double rounding can shift a bucket boundary by one at extreme
      // spans — layout-quality-only; the box filters never see buckets.
      def bucket(c: Column, lo: Long, span: Long): Column =
        floor((c.cast("long") - lit(lo)) * lit(65536.0 / (span + 1.0))).cast("long")
      val dayCol = datediff(to_date(col("l_shipdate")), lit(java.sql.Date.valueOf(d0)))
      // 32 z-range files (vs 16 for the 2-D layout): three interleaved
      // dimensions need finer file granularity for the same per-dim
      // skip ratio — each file covers a smaller z-range, so a 3-D box
      // touches proportionally fewer files
      li.withColumn("z", morton3(
          bucket(col("l_partkey"), pkLo, pkSpan),
          bucket(col("l_suppkey"), skLo, skSpan),
          bucket(dayCol, 0L, daySpan)))
        .repartitionByRange(32, col("z"))
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite").parquet(path)
      (path, pkSpan, skSpan, d0.toString, daySpan)
    }

  /** 3-D box aggregate over the z3 layout: part range × supplier range
    * × ship-date window, every predicate on a RAW column (so all three
    * reach the parquet scan as pushed filters and the row-group
    * min/max stats on the z3-clustered files skip everything outside
    * the box). The oracle runs the identical box on the raw table —
    * the layout is semantics-free; ZOrderSpec proves the skip, with
    * AQE partition coalescing explicitly enabled. */
  def q42Zorder3Box(spark: SparkSession, dir: String): DataFrame = {
    val (path, pkSpan, skSpan, d0s, daySpan) = z3orderedLineitem(spark, dir)
    val (pkLo, pkHi) = (1 + pkSpan / 2, 1 + pkSpan / 2 + (pkSpan / 8).max(1))
    val (skLo, skHi) = (1 + skSpan / 2, 1 + skSpan / 2 + (skSpan / 8).max(1))
    val (dLo, dHi) = (daySpan / 2, daySpan / 2 + (daySpan / 8).max(1))
    val d0 = java.time.LocalDate.parse(d0s)
    // half-open timestamp bounds on the raw column (a to_date() wrapper
    // would block parquet filter pushdown)
    val tsLo = lit(d0.plusDays(dLo).toString + " 00:00:00").cast("timestamp")
    val tsHiX = lit(d0.plusDays(dHi + 1).toString + " 00:00:00").cast("timestamp")
    spark.read.parquet(path)
      .filter(col("l_partkey").between(pkLo, pkHi) &&
        col("l_suppkey").between(skLo, skHi) &&
        col("l_shipdate") >= tsLo && col("l_shipdate") < tsHiX)
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  private val zorder3OracleSql: String =
    """WITH b AS (SELECT max(l_partkey) - min(l_partkey) AS pks,
                         max(l_suppkey) - min(l_suppkey) AS sks,
                         min(l_shipdate::DATE) AS d0,
                         date_diff('day', min(l_shipdate::DATE), max(l_shipdate::DATE)) AS ds
                  FROM lineitem)
       SELECT count(*) AS n_items,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       FROM lineitem, b
       WHERE l_partkey BETWEEN 1 + pks // 2 AND 1 + pks // 2 + greatest(pks // 8, 1)
         AND l_suppkey BETWEEN 1 + sks // 2 AND 1 + sks // 2 + greatest(sks // 8, 1)
         AND l_shipdate >= (d0 + (ds // 2)::INTEGER)::TIMESTAMP
         AND l_shipdate < (d0 + (ds // 2 + greatest(ds // 8, 1) + 1)::INTEGER)::TIMESTAMP"""

  /** The oracle needs the same literals: derive them with the same
    * integer arithmetic in SQL (spans from the raw table). */
  private val zorderOracleSql: String =
    """WITH b AS (SELECT max(l_partkey) - min(l_partkey) AS pks,
                         max(l_suppkey) - min(l_suppkey) AS sks FROM lineitem)
       SELECT count(*) AS n_items,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       FROM lineitem, b
       WHERE l_partkey BETWEEN 1 + pks // 2 AND 1 + pks // 2 + greatest(pks // 8, 1)
         AND l_suppkey BETWEEN 1 + sks // 2 AND 1 + sks // 2 + greatest(sks // 8, 1)"""

  /** Runtime bloom-filter join reduction — the shuffle reducer Spark
    * injects when one join side carries a selective filter: the dim
    * side's join keys aggregate into a bloom filter at optimization
    * time and the FACT side applies `might_contain` BEFORE its
    * shuffle, so rows that cannot join never cross the wire. At 100 TB
    * that is the difference between shuffling the whole fact table and
    * shuffling the ~2% that joins a filtered dim. Toy-scale scans sit
    * far under the 10 GB application-side threshold that gates the
    * rewrite, so the query runs on a CLONED session (own SQLConf, same
    * SparkContext) with the gate lowered — cluster-side plan shape,
    * observable locally; nothing leaks into the shared session.
    * PlanSpec asserts the might_contain filter lands on the fact side.
    * The oracle is the plain join — the bloom filter is
    * semantics-free. */
  def q40RuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1024")
    // injection targets SHUFFLE joins (a broadcast join ships the dim,
    // not the fact, so there is nothing to reduce): disable broadcast
    // on the clone to reproduce the at-scale join shape the filter
    // exists for — at 100 TB this join shuffles regardless
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
        col("l_linestatus"))
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus").as("status"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy("status")
  }

  /** q59: transitive reachability via WITH RECURSIVE — Spark 4's
    * recursive CTEs (SPARK-24497) exercised end-to-end on the
    * per-customer order chains (the sccEdges `chain` construction:
    * runs of ≤ [[Graph.SccChainLen]] next-order edges — ACYCLIC with
    * depth < run length, so UNION ALL recursion provably terminates).
    * Output: reachable-pair count per path depth. ONE SQL text drives
    * BOTH engines (the reg2Formula discipline) — only the integer-
    * division token (`div` vs `//`) and the table name are
    * substituted, so the recursion logic cannot drift.
    *
    * Scale: Spark executes the recursion as iterative frontier
    * unions — each step shuffles only the previous depth's frontier
    * against the chain edges, the same per-round bound as the
    * hand-written BFS loop, now declared in pure SQL. */
  /** The recursion row guard DERIVED from the data instead of a flat
    * constant: acyclic ≤ SccChainLen-deep chains emit at most
    * |orders|·(SccChainLen−1)/2 reach rows (each order sits in one
    * ≤ SccChainLen-node chain; pairs within a chain of m nodes =
    * m(m−1)/2 ≤ m·(SccChainLen−1)/2), so |orders|·SccChainLen is a
    * provable ceiling with ~2× slack — linear in the input, which is
    * exactly the shape a guard needs: a genuine runaway (a cycle bug,
    * an unbounded frontier) is superlinear and still trips it, while
    * legitimate growth at any SF never does. Floored at Spark's 1M
    * default so tiny inputs keep the stock protection. */
  def q59RecursionGuard(nOrders: Long): Long =
    math.max(1000000L, nOrders * Graph.SccChainLen)

  def q59RecursiveReach(spark: SparkSession, dir: String): DataFrame = {
    // Spark's recursion ROW guard defaults to 1M — a safety net against
    // unbounded recursion, not a capacity limit. This recursion is
    // PROVABLY bounded yet exceeds 1M at sf1+, so raise the guard on a
    // CLONED session (the q40 pattern: own SQLConf, same SparkContext,
    // nothing leaks into the caller's session) to the data-derived
    // ceiling above — one count() at plan-construction time (the q34
    // pattern), never a per-row action.
    val s = spark.newSession()
    val nOrders = Tables.orders(s, dir).count()
    s.conf.set("spark.sql.cteRecursionRowLimit",
      q59RecursionGuard(nOrders).toString)
    val view = "graft_rec_orders"
    Tables.orders(s, dir).createOrReplaceTempView(view)
    s.sql(recursiveReachSql(view, "div"))
  }

  /** One text, two engines: `rel` = orders relation name, `idiv` =
    * the engine's integer-division operator. */
  private def recursiveReachSql(rel: String, idiv: String): String =
    s"""WITH RECURSIVE reach(src, dst, depth) AS (
            SELECT src, dst, CAST(1 AS BIGINT) AS depth FROM (
              SELECT k AS src,
                     lead(k) OVER (PARTITION BY c, grp ORDER BY k) AS dst
              FROM (SELECT k, c, ((rn - 1) $idiv ${Graph.SccChainLen}) AS grp
                    FROM (SELECT o_orderkey AS k, o_custkey AS c,
                                 row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderkey) AS rn
                          FROM $rel)))
            WHERE dst IS NOT NULL
          UNION ALL
            SELECT r.src, e.dst, r.depth + 1
            FROM reach r JOIN (
              SELECT src, dst FROM (
                SELECT k AS src,
                       lead(k) OVER (PARTITION BY c, grp ORDER BY k) AS dst
                FROM (SELECT k, c, ((rn - 1) $idiv ${Graph.SccChainLen}) AS grp
                      FROM (SELECT o_orderkey AS k, o_custkey AS c,
                                   row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderkey) AS rn
                            FROM $rel)))
              WHERE dst IS NOT NULL) e ON r.dst = e.src)
        SELECT depth, count(*) AS n_pairs
        FROM reach GROUP BY depth ORDER BY depth"""

  /** q62: interval OVERLAP self-join — the temporal complement of
    * q22's point-in-range: pairs of events of the SAME user whose
    * activity intervals [ts, ts + cents·100 ms] overlap (concurrent
    * activity), with the total overlap in exact integer microseconds.
    *
    * Scale: the naive form is a per-user quadratic θ-join. Here each
    * interval explodes into its covered [[OverlapBucketUs]] time
    * buckets (≤ 3 — max duration < 2 bucket widths) and pairs meet in
    * an EQUI-join on (user, bucket) — shuffle ∝ rows·buckets on
    * integer keys, the classic distributed interval-join layout.
    * CANONICAL-BUCKET dedup: a qualifying pair is counted only in the
    * bucket containing max(s₁, s₂) — the overlap's start — so each
    * pair contributes exactly once with NO distinct/dedup pass. The
    * oracle replays the quadratic definition directly; equality
    * proves the chunking exact. */
  val OverlapBucketUs = 3600000000L // 1 h; max interval ≈ 1.6 h ⇒ ≤ 3 buckets
  def q62IntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val iv = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts_us").as("s"),
        (col("ts_us") +
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)") * lit(100000L)).as("e"))
      // scale contract, checked IN the plan: every interval must span
      // < 2 bucket widths (so ≤ 3 covered buckets) — the bound that
      // keeps the explode fan-out ∝ rows, not data values. A generator
      // change that lengthens intervals fails LOUDLY here instead of
      // silently inflating the equi-join (or tripping sequence()'s
      // element cap far past the contract).
      .withColumn("e", expr(
        s"CASE WHEN e - s < ${2 * OverlapBucketUs}L THEN e ELSE " +
          "raise_error('q62: interval spans >= 2 bucket widths; " +
          "the <= 3-bucket explode contract is violated') END"))
    val ex = iv.withColumn("bkt",
      explode(expr(s"sequence(s div $OverlapBucketUs, e div $OverlapBucketUs)")))
    val a = ex.select(col("user_id"), col("bkt"), col("event_id").as("id_a"),
      col("s").as("s_a"), col("e").as("e_a"))
    val b = ex.select(col("user_id"), col("bkt"), col("event_id").as("id_b"),
      col("s").as("s_b"), col("e").as("e_b"))
    a.join(b, Seq("user_id", "bkt"))
      .filter(col("id_a") < col("id_b") &&
        col("s_a") < col("e_b") && col("s_b") < col("e_a") &&
        col("bkt") === expr(s"greatest(s_a, s_b) div $OverlapBucketUs"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(least(col("e_a"), col("e_b")) - greatest(col("s_a"), col("s_b")))
          .as("overlap_us"))
      .orderBy("user_id")
  }

  /** Small-file compaction PLANNER — the housekeeping pass every
    * long-lived 100 TB table needs (the Delta/Iceberg OPTIMIZE
    * shape): treat each (event_type, day) micro-partition as one
    * "file" with its row count, and coalesce consecutive files
    * (day order, within type) into target bins of
    * [[CompactTargetRows]] rows by the cumulative-sum rule
    * bin = ⌊rows_before / target⌋ — exactly the deterministic
    * order-preserving bin-packing OPTIMIZE performs, as one window
    * over the file manifest. Output: per (type, bin) file count, row
    * total, covered day range — the rewrite work list.
    * Scale: the corpus-sized work is ONE map-side-combined count per
    * micro-partition; the manifest relation (types × days) is
    * metadata-sized, and the cumsum window partitions by type over
    * that manifest — never over rows. All integer arithmetic. */
  val CompactTargetRows = 1000L
  def ioCompactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val files = Tables.events(spark, dir)
      .withColumn("day", expr("ts_us div 86400000000"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_rows"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    files
      .withColumn("before", coalesce(sum(col("n_rows")).over(w), lit(0L)))
      .withColumn("bin", expr(s"before div $CompactTargetRows"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
        min(col("day")).as("first_day"), max(col("day")).as("last_day"))
      .orderBy("event_type", "bin")
  }

  private val compactionOracle: String =
    s"""WITH f AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                          count(*)::BIGINT AS n_rows
                   FROM events GROUP BY 1, 2),
          c AS (SELECT event_type, day, n_rows,
                       coalesce(sum(n_rows) OVER (PARTITION BY event_type ORDER BY day
                                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                                0) AS before
                FROM f)
        SELECT event_type, CAST(before // $CompactTargetRows AS BIGINT) AS bin,
               count(*) AS n_files, CAST(sum(n_rows) AS BIGINT) AS n_rows,
               min(day) AS first_day, max(day) AS last_day
        FROM c GROUP BY 1, 2 ORDER BY event_type, bin"""

  /** ANALYZE-TABLE-style column statistics as a query — the numbers a
    * cost-based optimizer (and every data-quality monitor) wants:
    * per column of `orders`, the row/null counts, a KMV
    * distinct-value estimate (the q43 bounded sketch — ≤ k longs per
    * column cross the wire), min/max, and mean value length. Every
    * column is first normalized to a canonical STRING repr with
    * cross-engine-identical formatting (integers as digits, money as
    * exact cents, timestamps as epoch micros — never float/date
    * formatting, which diverges between engines); min/max compare the
    * TYPED value and only then cast to the repr.
    * Scale: ONE pass over the table computes all 6 columns × 5
    * statistics as parallel aggregates (map-side combined; the KMV
    * state is k longs per column), then a 6-row unpivot. */
  val StatsKmvK = 256
  private val statsCols: Seq[(String, String, String)] = Seq(
    // (column name, Spark typed expr, Spark repr expr) — DuckDB mirrors derive below
    ("o_orderkey", "o_orderkey", "CAST(o_orderkey AS STRING)"),
    ("o_custkey", "o_custkey", "CAST(o_custkey AS STRING)"),
    ("o_orderstatus", "o_orderstatus", "o_orderstatus"),
    ("o_totalprice", "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)",
      "CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS STRING)"),
    ("o_orderdate", "unix_micros(o_orderdate)",
      "CAST(unix_micros(o_orderdate) AS STRING)"),
    ("o_orderpriority", "o_orderpriority", "o_orderpriority"))
  def ioStatsReport(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val base = Tables.orders(spark, dir).selectExpr(
      statsCols.zipWithIndex.flatMap { case ((_, typed, repr), i) =>
        Seq(s"$typed AS t$i", s"$repr AS r$i") }: _*)
    val aggs = statsCols.indices.flatMap { i =>
      Seq(
        expr(s"count(r$i)").as(s"nn$i"),
        expr(s"kmin_distinct(array(CAST(conv(substring(md5(r$i), 1, 8), 16, 10) AS BIGINT) + 1), $StatsKmvK)").as(s"sk$i"),
        expr(s"CAST(min(t$i) AS STRING)").as(s"mn$i"),
        expr(s"CAST(max(t$i) AS STRING)").as(s"mx$i"),
        expr(s"sum(length(r$i))").as(s"ln$i"))
    }
    val s = base.agg(count(lit(1)).as("n"), aggs: _*)
    val c = (StatsKmvK - 1).toLong * 4294967296L
    val stackArgs = statsCols.zipWithIndex.map { case ((name, _, _), i) =>
      s"'$name', n - nn$i, " +
        s"CASE WHEN size(sk$i) < $StatsKmvK THEN CAST(size(sk$i) AS DOUBLE) " +
        s"ELSE round($c / CAST(element_at(sk$i, $StatsKmvK) AS DOUBLE), 4) END, " +
        s"mn$i, mx$i, round(CAST(ln$i AS DOUBLE) / nn$i, 4)"
    }.mkString(", ")
    s.selectExpr("n", s"stack(${statsCols.size}, $stackArgs) AS " +
        "(col_name, n_nulls, ndv, min_repr, max_repr, avg_len)")
      .select(col("col_name"), col("n"), col("n_nulls"), col("ndv"),
        col("min_repr"), col("max_repr"), col("avg_len"))
      .orderBy("col_name")
  }

  private val statsOracle: String = {
    val k = StatsKmvK
    val c = (k - 1).toLong * 4294967296L
    val duck = Map( // (typed, repr) mirrors of statsCols in DuckDB SQL
      "o_orderkey" -> ("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
      "o_custkey" -> ("o_custkey", "CAST(o_custkey AS VARCHAR)"),
      "o_orderstatus" -> ("o_orderstatus", "o_orderstatus"),
      "o_totalprice" -> ("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)",
        "CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)"),
      "o_orderdate" -> ("epoch_us(o_orderdate)", "CAST(epoch_us(o_orderdate) AS VARCHAR)"),
      "o_orderpriority" -> ("o_orderpriority", "o_orderpriority"))
    val parts = statsCols.map(_._1).map { name =>
      val (typed, repr) = duck(name)
      s"""SELECT '$name' AS col_name,
                 (SELECT count(*) FROM orders)::BIGINT AS n,
                 (SELECT count(*) - count($repr) FROM orders)::BIGINT AS n_nulls,
                 (SELECT CASE WHEN m < $k THEN m::DOUBLE ELSE round($c / xk::DOUBLE, 4) END
                  FROM (SELECT count(*) AS m, max(x) AS xk FROM (
                          SELECT x, row_number() OVER (ORDER BY x) AS rk FROM (
                            SELECT DISTINCT ('0x' || substr(md5($repr), 1, 8))::BIGINT + 1 AS x
                            FROM orders)) WHERE rk <= $k)) AS ndv,
                 (SELECT CAST(min($typed) AS VARCHAR) FROM orders) AS min_repr,
                 (SELECT CAST(max($typed) AS VARCHAR) FROM orders) AS max_repr,
                 (SELECT round(CAST(sum(length($repr)) AS DOUBLE) / count($repr), 4)
                  FROM orders) AS avg_len"""
    }
    parts.mkString("\nUNION ALL ") + "\nORDER BY col_name"
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("io_stats_report", ioStatsReport, Some(statsOracle)),
    QueryDef("io_compaction_plan", ioCompactionPlan, Some(compactionOracle)),
    QueryDef("q62_interval_overlap", q62IntervalOverlap, Some(
      """WITH iv AS (SELECT event_id, user_id, epoch_us(ts) AS s,
               epoch_us(ts) + CAST(floor(value * 100 + 0.5) AS BIGINT) * 100000 AS e
             FROM events)
         SELECT a.user_id, count(*) AS n_pairs,
                CAST(sum(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT) AS overlap_us
         FROM iv a JOIN iv b ON a.user_id = b.user_id AND a.event_id < b.event_id
           AND a.s < b.e AND b.s < a.e
         GROUP BY 1 ORDER BY 1""")),
    QueryDef("q59_recursive_reach", q59RecursiveReach,
      Some(recursiveReachSql("orders", "//"))),
    QueryDef("q32_bucketed_join", q32BucketedJoin, Some(
      """SELECT o.o_orderpriority AS priority, count(*) AS n_items,
                round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY 1 ORDER BY 1""")),
    QueryDef("q33_incremental_agg", q33IncrementalAgg, Some(
      """SELECT o_orderpriority AS priority, count(*) AS cnt,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders GROUP BY 1 ORDER BY 1""")),
    QueryDef("q34_partition_pruning", q34PartitionPruning, Some(
      """WITH ev AS (SELECT event_type, value, epoch_us(ts) // 86400000000 AS day FROM events)
         SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM ev WHERE day = (SELECT min(day) + 3 FROM ev)
         GROUP BY 1 ORDER BY 1""")),
    QueryDef("q61_dpp_join", q61DppJoin, Some(
      """WITH ev AS (SELECT event_type, value, epoch_us(ts) // 86400000000 AS day FROM events)
         SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM ev WHERE day % 7 = (SELECT (min(day) + 3) % 7 FROM ev)
         GROUP BY 1 ORDER BY 1""")),
    QueryDef("q41_zorder_box", q41ZorderBox, Some(zorderOracleSql)),
    QueryDef("q42_zorder3_box", q42Zorder3Box, Some(zorder3OracleSql)),
    QueryDef("q40_runtime_filter", q40RuntimeFilter, Some(
      """SELECT l.l_linestatus AS status, count(*) AS n_items,
                round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE o.o_orderpriority = '1-URGENT'
         GROUP BY 1 ORDER BY 1""")),
  )
}
