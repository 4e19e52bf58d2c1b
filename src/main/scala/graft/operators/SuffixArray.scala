package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.api.Memo
import graft.sources.Tables
import graft.api.GraftOps.TruncateOps

/** Distributed suffix-array construction by prefix doubling (the
  * Manber–Myers discipline in its sort-based distributed form — Flick
  * & Aluru SC'15) and the exact repeated-substring detector built on
  * it: the machinery behind exact substring-level training-data dedup
  * (Lee et al. 2022, "Deduplicating Training Data Makes Language
  * Models Better"), where set-based MinHash/Jaccard dilutes away long
  * literal copies inside otherwise-different documents
  * (dedup_substring_winnow is the sketch tier; THIS is the exact
  * tier).
  *
  * Scale design — the part that matters:
  *  - NO global single-partition window anywhere. Each doubling round
  *    re-ranks (r, r[i+2ᵏ]) pairs with a range-repartitioned local
  *    row_number plus per-partition offsets (the distributed
  *    zipWithIndex), then a min-over-key window: rank(key) =
  *    #strictly-smaller + 1 falls out independent of where the range
  *    partitioner cut ties, so the result is partitioning-invariant.
  *  - r[i+2ᵏ] is ONE lead() window per doc — positions are dense, so
  *    the shifted rank needs no self-join.
  *  - O(log maxlen) rounds, each a constant number of |suffix|-sized
  *    shuffles; rounds stop EARLY once every rank is unique (max rank
  *    = n ⇒ later rounds are provable no-ops), so cost tracks the
  *    corpus' actual repeat depth, not the worst case.
  *  - The oracle is INDEPENDENT, not a replay: DuckDB sorts the
  *    suffix strings directly (binary collation ≡ the char-code
  *    ranks on this ASCII corpus) — construction and specification
  *    meet only at the answer.
  *
  * The doubling depth bounds comparisons at 2^Rounds = 1024 chars;
  * suffixes equal beyond that would tie-break by (doc_id, pos) while
  * the oracle compares full strings — SuffixArraySpec asserts every
  * doc is shorter than the bound, so the arms agree. A 1/SampleMod
  * deterministic doc sample bounds the suffix count (the documented
  * corpus-sampling knob; full-corpus SA at 100 TB shards by hashed
  * doc ranges and builds per-shard arrays the same way). */
object SuffixArray {
  val SampleMod = 10
  val Rounds = 10
  val LcpCap = 64
  val MinRep = 20
  val RepTopK = 200
  /** Base-rank prefix length: the first doubling state covers this
    * many chars in one string rank instead of log2(BaseLen) rounds.
    * Must divide into the 2^Rounds depth (power of two ≤ LcpCap). */
  val BaseLen = 16

  /** Order-preserving rank of the key columns — GraftOps.globalRank
    * (the distributed-sample-sort rank; see its scaladoc for the
    * materialize-before-fork correctness note). */
  private def rankByKey(df: DataFrame, keys: Seq[String]): DataFrame =
    graft.api.GraftOps.globalRank(df, keys, "__r")

  /** (doc_id, pos, suf64, sa_rank): the suffix array of the sampled
    * corpus — sa_rank is the 1-based lexicographic position, ties
    * (none at this depth; spec-checked) broken by (doc_id, pos). */
  def suffixRanks(spark: SparkSession, dir: String): DataFrame =
    Memo.keyed(spark, dir, "suffixArray.ranks") {
      val chars = Tables.documents(spark, dir)
        .filter(col("doc_id") % SampleMod === 0)
        .select(col("doc_id"), col("text"), posexplode(split(col("text"), "")))
        // Spark's split(_, "") can emit a trailing "" element; a
        // phantom past-the-end suffix would not exist in the oracle
        .filter(col("col") =!= "")
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          expr(s"substring(text, pos + 1, $LcpCap)").as("suf"))
      // r17 (guide §2.4 — remove shuffles outright): the base rank
      // orders suffixes by their first BaseLen chars in ONE sample-sort
      // rank over the BaseLen-char prefix string, replacing the 1-char
      // ascii base + the first log2(BaseLen) doubling rounds (4 rounds
      // = 4 × (window + distributed rank + checkpoint + distinct-agg)
      // at sf0.1). Binary string order ≡ char-code order on this ASCII
      // corpus (the SA oracle's own collation argument), a shorter
      // prefix sorts before its extensions exactly as rank-0 padding
      // did, and equal prefixes share a rank — so the equivalence
      // classes and their order after the base step are IDENTICAL to
      // four 1-char doublings, and every later round is unchanged.
      var sfx = rankByKey(
          chars.withColumn("pfx", substring(col("suf"), 1, BaseLen)), Seq("pfx"))
        .select(col("doc_id"), col("pos"), col("suf"), col("__r").as("r"))
        .truncated()
      val n = sfx.count()
      var d = BaseLen.toLong
      // all ranks unique ⇒ the order is final; remaining rounds are
      // no-ops (1-row agg on the already-materialized checkpoint).
      // max(r)=n would NOT suffice: [1,1,3] has max=n with a tie.
      // Checked after the base rank too — repeat-poor corpora finish
      // without a single doubling round.
      var done = sfx.agg(countDistinct(col("r"))).head().getLong(0) == n
      // same 2^Rounds = 1024-char comparison depth as the 1-char base
      while (d < (1L << Rounds) && !done) {
        val byDoc = Window.partitionBy("doc_id").orderBy("pos")
        val keyed = sfx.withColumn("r2",
          coalesce(lead(col("r"), d.toInt).over(byDoc), lit(0L)))
        sfx = rankByKey(keyed, Seq("r", "r2"))
          .select(col("doc_id"), col("pos"), col("suf"), col("__r").as("r"))
          .truncated()
        done = sfx.agg(countDistinct(col("r"))).head().getLong(0) == n
        d *= 2
      }
      // final tie-break to a total order (unique by construction here)
      rankByKey(sfx, Seq("r", "doc_id", "pos"))
        .select(col("doc_id"), col("pos"), col("suf"), col("__r").as("sa_rank"))
        .truncated()
    }

  def textSuffixArray(spark: SparkSession, dir: String): DataFrame =
    suffixRanks(spark, dir)
      .select(col("doc_id"), col("pos"), col("sa_rank"))
      .orderBy("doc_id", "pos")

  private val sfxCte: String =
    s"""d AS (SELECT doc_id, text FROM documents WHERE doc_id % $SampleMod = 0),
          sfx AS (SELECT doc_id, u.i AS pos, substr(text, u.i) AS suf
                  FROM d, unnest(generate_series(1, length(text))) u(i)),
          r AS MATERIALIZED (SELECT doc_id, pos, suf,
                 row_number() OVER (ORDER BY suf, doc_id, pos) AS sa_rank
               FROM sfx)"""

  private val saOracle: String =
    s"""WITH $sfxCte
        SELECT doc_id, pos, sa_rank FROM r ORDER BY doc_id, pos"""

  /** Exact repeated substrings ≥ MinRep chars: LCP between rank-
    * adjacent suffixes (every maximal repeat surfaces as an adjacent
    * pair in suffix order), computed by a monotone bounded prefix
    * compare — reported with both occurrences and the shared snippet.
    * Adjacency is a self-join on sa_rank+1 (distributed), never a
    * global window. */
  def dedupSubstringSa(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val sa = suffixRanks(spark, dir)
    val a = sa.select(col("sa_rank").as("rk"), col("doc_id").as("doc_a"),
      col("pos").as("pos_a"), col("suf").as("sufa"))
    val b = sa.select((col("sa_rank") - 1).as("rk"), col("doc_id").as("doc_b"),
      col("pos").as("pos_b"), col("suf").as("sufb"))
    a.join(b, "rk")
      // native byte-scan LCP (functions/StringExpressions.scala): stops
      // at the first mismatch or at the end of the shorter suffix, so a
      // short identical TAIL cannot count past either string (the
      // phantom-repeat hazard of the old substring-compare formula);
      // both inputs are already LcpCap-char slices so the cap is
      // structural. O(lcp) bytes per pair vs O(cap²) chars — the r17
      // lever for the sf10 candidate stream (SOAK_r17.md).
      .withColumn("lcp", expr("common_prefix_length(sufa, sufb)").cast("long"))
      .filter(col("lcp") >= MinRep)
      .withColumn("snippet", expr("substring(sufa, 1, CAST(least(lcp, 40) AS INT))"))
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        col("lcp"), col("snippet"))
      .orderBy(col("lcp").desc, col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"))
      .limit(RepTopK)
  }

  private val repOracle: String =
    s"""WITH $sfxCte,
          adj AS (SELECT a.doc_id AS doc_a, a.pos AS pos_a,
                         b.doc_id AS doc_b, b.pos AS pos_b,
                         substr(a.suf, 1, $LcpCap) AS sufa,
                         substr(b.suf, 1, $LcpCap) AS sufb
                  FROM r a JOIN r b ON b.sa_rank = a.sa_rank + 1),
          l AS (SELECT doc_a, pos_a, doc_b, pos_b, sufa,
                       CAST(len(list_filter(generate_series(1, $LcpCap),
                         j -> j <= least(length(sufa), length(sufb))
                              AND substr(sufa, 1, j) = substr(sufb, 1, j))) AS BIGINT) AS lcp
                FROM adj)
        SELECT doc_a, pos_a, doc_b, pos_b, lcp,
               substr(sufa, 1, CAST(least(lcp, 40) AS INT)) AS snippet
        FROM l WHERE lcp >= $MinRep
        ORDER BY lcp DESC, doc_a, pos_a, doc_b, pos_b LIMIT $RepTopK"""

  /** INCREMENTAL exact substring dedup — the dedup_minhash_incremental
    * discipline for the suffix tier: a DELTA batch of new documents
    * (the disjoint doc_id % SampleMod == DeltaResidue slice) is
    * checked for ≥ MinRep-char literal overlap against the ALREADY-
    * BUILT corpus suffix layout (the memoized [[suffixRanks]] table —
    * its expensive explode + doubling ranks are NOT redone; only
    * delta-sized suffix generation plus the match join run).
    *
    * The join is a MinRep-char PREFIX equi-join: any base/delta suffix
    * pair with LCP ≥ MinRep must agree on its first MinRep chars, so
    * prefix equality is a complete, shuffle-bounded candidate filter —
    * the banded-join shape (shuffle ∝ matches + |delta|, never
    * |base|×|delta|), with exact LCP computed only within buckets.
    * At 100 TB the base side is the persisted shard layout and each
    * arriving delta batch pays only its own size. The oracle
    * recomputes the identical pairs INDEPENDENTLY from the raw texts
    * (no suffix array at all) — construction and specification meet
    * only at the answer, like the SA oracle itself. */
  val DeltaResidue = 1
  def dedupSubstringIncremental(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    // each join leg carries (key pfx = first MinRep chars) + (tail =
    // the remaining LcpCap−MinRep) — NOT the full suffix: the prefix
    // would ride the shuffle twice (as key and inside suf), and at
    // sf10 the exchange is candidate-sized. Post-join, prefix equality
    // is the join key's guarantee, so lcp = MinRep + lcp(tails) and
    // the old `lcp >= MinRep` filter is structural.
    val tailLen = LcpCap - MinRep
    val base = suffixRanks(spark, dir)
      .select(col("doc_id").as("doc_a"), col("pos").as("pos_a"),
        substring(col("suf"), 1, MinRep).as("pfx"),
        substring(col("suf"), MinRep + 1, tailLen).as("tail_a"))
      .filter(length(col("pfx")) === MinRep)
    val delta = Tables.documents(spark, dir)
      .filter(col("doc_id") % SampleMod === DeltaResidue)
      .select(col("doc_id"), col("text"), posexplode(split(col("text"), "")))
      .filter(col("col") =!= "")
      .select(col("doc_id").as("doc_b"), (col("pos") + 1).cast("long").as("pos_b"),
        expr(s"substring(text, pos + 1, $MinRep)").as("pfx"),
        expr(s"substring(text, pos + 1 + $MinRep, $tailLen)").as("tail_b"))
      .filter(length(col("pfx")) === MinRep) // shorter tails can't reach MinRep
    delta.join(base, "pfx")
      // native byte-scan LCP on the tails (see dedupSubstringSa)
      .withColumn("lcp",
        (lit(MinRep) + expr("common_prefix_length(tail_a, tail_b)")).cast("long"))
      .withColumn("snippet",
        concat(col("pfx"), expr(s"substring(tail_a, 1, CAST(least(lcp, 40) AS INT) - $MinRep)")))
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        col("lcp"), col("snippet"))
      .orderBy(col("lcp").desc, col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"))
      .limit(RepTopK)
  }

  private val incOracle: String =
    s"""WITH bd AS (SELECT doc_id, text FROM documents WHERE doc_id % $SampleMod = 0),
          dd AS (SELECT doc_id, text FROM documents WHERE doc_id % $SampleMod = $DeltaResidue),
          bs AS MATERIALIZED (SELECT doc_id AS doc_a, u.i AS pos_a,
                 substr(text, u.i, $LcpCap) AS sufa
               FROM bd, unnest(generate_series(1, length(text))) u(i)),
          ds AS MATERIALIZED (SELECT doc_id AS doc_b, u.i AS pos_b,
                 substr(text, u.i, $LcpCap) AS sufb
               FROM dd, unnest(generate_series(1, length(text))) u(i)
               WHERE length(substr(text, u.i, $MinRep)) = $MinRep),
          j AS (SELECT doc_a, pos_a, doc_b, pos_b, sufa, sufb
                FROM ds JOIN bs ON substr(sufb, 1, $MinRep) = substr(sufa, 1, $MinRep)),
          l AS (SELECT doc_a, pos_a, doc_b, pos_b, sufa,
                       CAST(len(list_filter(generate_series(1, $LcpCap),
                         j -> j <= least(length(sufa), length(sufb))
                              AND substr(sufa, 1, j) = substr(sufb, 1, j))) AS BIGINT) AS lcp
                FROM j)
        SELECT doc_a, pos_a, doc_b, pos_b, lcp,
               substr(sufa, 1, CAST(least(lcp, 40) AS INT)) AS snippet
        FROM l WHERE lcp >= $MinRep
        ORDER BY lcp DESC, doc_a, pos_a, doc_b, pos_b LIMIT $RepTopK"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("text_suffix_array", textSuffixArray, Some(saOracle)),
    QueryDef("dedup_substring_sa", dedupSubstringSa, Some(repOracle)),
    QueryDef("dedup_substring_incremental", dedupSubstringIncremental, Some(incOracle)),
  )
}
