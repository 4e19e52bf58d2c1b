package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {
  /** The inventory grouped into memo-coherent FAMILIES (declaration
    * order — memo producers precede their consumers within a family;
    * memos are never shared ACROSS family boundaries, so a long-lived
    * session may release all materialized memo state between families
    * without changing any result — see [[releaseMemos]]). */
  def families: Seq[(String, Seq[QueryDef])] = Seq(
    "relational" -> (Relational.defs ++ Relational2.defs ++ ScaleOps.defs),
    "text" -> (TextAnalytics.defs ++ TextRank.defs ++ Bpe.defs),
    "dedup" -> (Dedup.defs ++ SuffixArray.defs),
    "similarity" -> (Similarity.defs ++ TextProfile.defs),
    "ml" -> (Classify.defs ++ MlTrees.defs ++ Dbscan.defs ++ Multimodal.defs),
    "graph" -> (Graph.defs ++ Truss.defs),
    "curation" -> (Curation.defs ++ CurationQuality.defs ++ Repetition.defs ++ Mixing.defs),
    "events" -> (EventAnalytics.defs ++ Forecast.defs ++ QuantileSketch.defs),
    "io" -> graft.sources.IoRoundtrip.defs,
    "streaming" -> graft.streaming.EventStreams.defs)

  /** All implemented operators, one QueryDef per SURVEY.md §2 row. */
  def all: Seq[QueryDef] = families.flatMap(_._2)

  /** Drop every released memo ([[graft.api.Memo.keyed]]) AND free its
    * executor block storage. Memoized localCheckpoint-backed frames
    * otherwise keep their blocks until the ContextCleaner notices the
    * dropped references — across a 305-query sweep at sf1 that
    * unbounded accumulation OOM'd an 8 g driver (SOAK_r13.md item 3).
    * Called by Verify and Bench between families and SAFE in any
    * long-lived session embedding the library: release walks only the
    * [[graft.api.Memo]] registry of graft-created entries, so a host
    * application's own persisted RDDs and cached tables on the same
    * SparkContext are untouched. Session-lived layouts
    * ([[graft.api.Memo.layout]]) survive it. */
  def releaseMemos(spark: SparkSession): Unit = graft.api.Memo.releaseAll(spark)

  /** Width of every harness session: SPARK_GRAFT_CPUS, else every
    * processor the JVM sees. */
  private def harnessCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** The one session every main and the test suite run in: local[cores]
    * with one shuffle partition per core, UTC, UI off, WARN logging,
    * and naive parquet timestamps read as plain TIMESTAMP (UTC
    * instants) whichever table is read first — analysis fixes that
    * type, so a session without it plans different queries. */
  def localSession(cores: Int = harnessCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One-time persisted-layout builders for incremental entries whose
    * layout producer is the ENTRY ITSELF: (query name, layout label,
    * builder). In the default 2-pass bench min-of-2 already delivers
    * the warm-path pin (pass 1 pays the build, pass 2 reads the
    * table), but a single-pass scale soak (SPARK_GRAFT_PASSES=1)
    * charges the one-shot build to the incremental entry — r16's sf10
    * soak read graph_louvain_incremental 144 s adj vs 139 s cold
    * louvain, an "inversion" that was PURE layout accounting (the
    * entry's 8+4-round cold base build billed to the 2-round warm
    * path). Bench runs these untimed-but-REPORTED (a `layouts` map in
    * the JSON) under SPARK_GRAFT_PREBUILD=1. Only entries that
    * exclusively own their layout belong here — shared layouts (the
    * minhash signature tables, the suffix ranks memo) are charged to
    * their documented producer entries, which run earlier in
    * declaration order. */
  def layoutPrebuilds: Seq[(String, String, (SparkSession, String) => Unit)] = Seq(
    ("pagerank_incremental", "layout_pr_base",
      (s, d) => { Graph.persistedPagerankBase(s, d).count(); () }),
    ("graph_louvain_incremental", "layout_louvain_base",
      (s, d) => { Graph.persistedLouvainBase(s, d).count(); () }))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q5AggPricing(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** For each rows-only query (no value oracle BY DESIGN — SGD float
    * paths, sketch registers), DuckDB SQL recomputing the EXPECTED row
    * count independently (one row, one BIGINT `expected_rows`). */
  def rowsOracleSql: Map[String, String] =
    all.flatMap(q => q.rowsOracle.map(q.name -> _)).toMap
}
