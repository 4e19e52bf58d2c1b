package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.EmbLsh
import graft.api.Memo.MemoOps
import graft.functions.HashingScheme._

/** Column-parameterized operator cores: the user-facing library surface.
  *
  * Every operator works on ANY DataFrame — callers name the id/text/
  * vector columns. `graft.operators.*` binds these to the driver's test
  * tables; a user of the engine imports `graft.api.implicits._` and
  * chains them on their own data:
  *
  * {{{
  * import graft.api.implicits._
  * corpus.dedupMinhashCandidates("doc_id", "text")
  * corpus.sessionize("user_id", "ts_us", gapUs = 30 * 60 * 1000000L)
  * vectors.cosineTopK("vec_id", "embedding", queries, k = 5)
  * }}}
  */
object GraftOps {

  /** Config key: when "true", iterative cores truncate lineage with
    * RELIABLE `checkpoint()` (to the SparkContext's checkpoint dir,
    * which the caller must have set) instead of `localCheckpoint()`. */
  val ReliableCheckpointKey = "spark.graft.reliableCheckpoint"

  /** Edge-weight mass (= |E| on unit-weight graphs, each undirected
    * edge counted ONCE — the m of the modularity formula) above which
    * the Louvain local-move loop defaults to delta iteration. The r12
    * bracket (delta 1.76x slower at the bench graph) predates the r14
    * codegen fix and no longer reproduces: the r15 AbConf sweep
    * (n=3 per arm, control-bracketed, memos released per pass)
    * measures delta FASTER at every bench graph size — 0.62x on the
    * sf0.1 graph (18.4 vs 29.7 s), 0.92x at 2x, 0.87x at 4x, and the
    * r14 sf1 reading already had it 15-20% faster.
    *
    * r16 FIX: the r15 value (1e6) was calibrated against the
    * SYMMETRIZED row count ("1.2M edges at sf0.1") but the dispatch
    * compares the un-doubled m — the sf0.1 L1 level is m = 590,973,
    * so the r15 bench silently ran the FULL arm (its 29.74 s raw =
    * the OFF arm's clean minimum; the r15 verdict flagged exactly
    * this). 5e5 puts every AbConf-measured size on the winning arm in
    * the m-convention the predicate actually uses; LouvainArmSpec
    * asserts the sf0.1 dispatch fires and Bench now records the arm.
    * Tiny (sub-bench, unmeasured) graphs stay on the simpler
    * full-sweep plan; override either way with
    * spark.graft.louvainDelta=true/false. */
  val LouvainDeltaAutoEdges: Double = 5e5

  /** Per-level Louvain dispatch witness (r15 verdict item 2): every
    * louvainLevel run appends (m, deltaOn) here so Bench can REPORT
    * which arm actually ran at the bench SF. The r15 bench raw
    * (29.74 s) equalled the delta-OFF arm's clean minimum while the
    * ON arm measured 18.4 s, and the bench JSON couldn't say which
    * had dispatched — now it must. Bounded: at most 2 levels per
    * louvain call; cleared by [[clearLouvainDispatches]]. */
  private val louvainDispatchLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(Double, Boolean)]()
  def louvainDispatches: Seq[(Double, Boolean)] = {
    import scala.jdk.CollectionConverters._
    louvainDispatchLog.iterator().asScala.toSeq
  }
  def clearLouvainDispatches(): Unit = louvainDispatchLog.clear()

  /** Lineage truncation for iterative state. Default is
    * `localCheckpoint()`: blocks live on executors — fast, no
    * distributed-FS round trip, and exactly right on local[n].
    * On a 1000-executor cluster an executor loss discards its blocks
    * and, because the lineage was TRUNCATED, they are unrecoverable —
    * the whole job dies. Setting [[ReliableCheckpointKey]]=true (plus
    * `sc.setCheckpointDir` on durable storage) switches every
    * iterative core — PageRank loops, CC/SCC sweeps, MST contraction,
    * coreness peeling, Louvain, BFS, suffix-array prefix doubling,
    * BPE merge rounds, k-truss peeling, topo-level relaxation, GBT
    * boosting, the GD trainer — to reliable `checkpoint()`:
    * each round's state persists to the checkpoint dir and survives
    * any executor failure, at the cost of one DFS write per
    * truncation. Same plans, same results (CheckpointToggleSpec
    * proves bit-identity); purely a durability trade. */
  private[graft] def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption(ReliableCheckpointKey).contains("true"))
      Memo.register(df.checkpoint())
    else df.memoized()

  /** `.truncated()` — chainable [[truncate]]. */
  private[graft] implicit class TruncateOps(private val df: DataFrame) extends AnyVal {
    def truncated(): DataFrame = truncate(df)
  }

  /** (id, shingle) distinct pairs for n-gram shingling of a text column.
    * Docs shorter than n tokens yield no shingles (the CASE guard
    * matters: Spark's sequence(1, 0) is the DESCENDING [1, 0], not
    * empty, and would feed slice() an invalid 0 index). */
  def shingleSet(df: DataFrame, id: String, text: String, n: Int): DataFrame =
    df.select(col(id), split(col(text), " ").as("__toks"))
      .select(col(id), explode(expr(
        s"CASE WHEN size(__toks) >= $n THEN transform(sequence(1, size(__toks) - ${n - 1}), " +
        s"i -> array_join(slice(__toks, i, $n), ' ')) ELSE array() END")).as("sh"))
      .distinct()

  /** Exact dedup groups: content hash → (keep_id = min id, group size). */
  def dedupExact(df: DataFrame, id: String, content: String): DataFrame =
    df.groupBy(md5(col(content)).as("content_hash"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact n-gram Jaccard near-dup pairs at/above a threshold. Quadratic
    * in docs-per-shared-shingle — ground truth for the LSH tiers. */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String,
                        n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // consumed 3× (sizes + both join sides); materialized once
    val sh = shingleSet(df, id, text, n).truncated()
    val sizes = sh.groupBy(id).agg(count(lit(1)).as("sz"))
    sh.select(col(id).as("a"), col("sh"))
      .join(sh.select(col(id).as("b"), col("sh")), Seq("sh"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(id).as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col(id).as("b"), col("sz").as("szb")), "b")
      .withColumn("jaccard",
        round(col("inter") / (col("sza") + col("szb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Asymmetric shingle-containment pairs: containment(a→b) =
    * |S_a ∩ S_b| / |S_a| — the overlap measure Jaccard dilutes away
    * when a small doc is embedded inside a much larger one (quote
    * pages, aggregator wrappers): their Jaccard is tiny but the small
    * doc's containment is ~1. Directed output (a contained-in b), both
    * directions evaluated. Same shared-shingle join shape as
    * [[ngramJaccardPairs]] — the labeled exact ground truth; at scale
    * the candidate set comes from the LSH tiers first. */
  def containmentPairs(df: DataFrame, id: String, text: String,
                       n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sh = shingleSet(df, id, text, n).truncated()
    val sizes = sh.groupBy(id).agg(count(lit(1)).as("sz"))
    sh.select(col(id).as("a"), col("sh"))
      .join(sh.select(col(id).as("b"), col("sh")), Seq("sh"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(id).as("a"), col("sz").as("sza")), "a")
      .withColumn("containment", round(col("inter") / col("sza"), 6))
      .filter(col("containment") >= threshold)
      .select("a", "b", "containment")
  }

  /** MinHash signature per id: NumHashes min-aggregated permutations of
    * the md5-derived shingle hashes, one groupBy pass. */
  def minhashSignatures(df: DataFrame, id: String, text: String, n: Int = 3): DataFrame = {
    val hashed = shingleSet(df, id, text, n)
      .select(col(id), graft.functions.TextFns.hash32(col("sh")).as("h"))
    val mins = (0 until NumHashes).map(i => expr(minhashExpr("h", i)).as(s"mh$i"))
    hashed.groupBy(id).agg(mins.head, mins.tail: _*)
  }

  /** MinHash+LSH near-dup candidate pairs with estimated Jaccard.
    * Shuffle volume is bands×|docs| — the at-scale dedup path.
    *
    * `bands`×`rowsPerBand` tunes the s-curve: candidate probability at
    * Jaccard s is 1-(1-s^rows)^bands, knee ≈ (1/bands)^(1/rows). More
    * bands / fewer rows ⇒ higher recall and more candidates (LshSweepSpec
    * measures the trade-off across configs against the exact ground
    * truth); the defaults are the oracle-verified production scheme. */
  def minhashCandidates(df: DataFrame, id: String, text: String, n: Int = 3,
                        bands: Int = Bands, rowsPerBand: Int = RowsPerBand): DataFrame = {
    val (sigs, cand, _) = bandedSignatures(df, id, text, n, bands, rowsPerBand)
    scoreMinhashPairs(sigs, bucketPairs(cand, id, Long.MaxValue, 1), id)
  }

  /** Skew-safe variant of the band self-join: a single hot bucket (the
    * classic failure — thousands of boilerplate docs sharing a band
    * signature) puts its ENTIRE quadratic pair enumeration on one
    * reducer. Here buckets whose row count exceeds `hotThreshold` take
    * the saltedJoin pattern — the probe side keyed by md5(id) % salt,
    * the build side replicated `salt` ways — so a hot bucket's
    * comparisons spread across `salt` reducers; buckets at or under the
    * threshold take the plain join. The candidate SET is identical to
    * [[minhashCandidates]] (each hot pair is found from its a-side
    * salt; a pair sharing several bands is kept once by the MinHash
    * route's distinct, see [[bucketPairs]]) — LshSweepSpec asserts the
    * equality on a corpus with a planted hot bucket. The bucket-count
    * pass is map-side combinable and rides the same (bj, bv) shuffle
    * the join needs anyway. */
  def minhashCandidatesSalted(df: DataFrame, id: String, text: String, n: Int = 3,
                              bands: Int = Bands, rowsPerBand: Int = RowsPerBand,
                              hotThreshold: Long = 10000, salt: Int = 8): DataFrame = {
    val (sigs, cand, nDocs) = bandedSignatures(df, id, text, n, bands, rowsPerBand)
    scoreMinhashPairs(sigs,
      bucketPairs(cand, id, hotThreshold, salt, rowsPerTable = nDocs), id)
  }

  /** The ONE a<b pair core over a bucketed candidate table
    * (id, bj, bv[, vec][, prefix]) shared by the MinHash / SimHash /
    * same-key / k-NN / embedding LSH tiers.
    *
    * Cold buckets (at or under `hotThreshold` rows; every bucket when
    * `hotThreshold` = Long.MaxValue) are grouped ONCE per (bj, bv) and
    * the native `bucket_pairs` kernel enumerates each bucket's a < b
    * pairs from its member list — no sort-merge self-join over the
    * ordered in-bucket rows. With a `vec` payload (array<double>) each
    * pair carries its exact cosine, computed by the kernel inside the
    * bucket: vectors ride only the banding shuffle and everything
    * pair-sized moves as (a, b, cos). A `threshold` lets the kernel drop
    * pairs whose RAW cosine is below threshold − 1e-6 before any
    * BigDecimal rounding runs; the exact `round(cos, 6) >= threshold`
    * filter then runs on the survivors. With `buckets`, the number of
    * distinct (bj, bv) keys the table can hold (tables × 2^bits for
    * sign-bit LSH), the rows are spread over enough hash partitions
    * that no task's `collect_list` groups reach ObjectHashAggregate's
    * sort fallback, so the grouping holds no Tungsten page.
    *
    * Cross-table duplicates. A pair colliding in several tables meets
    * in several buckets. With a `prefix` column — each row's buckets in
    * tables 0 until bj, array<int> (the embedding and k-NN tiers) — a
    * pair is emitted only at its FIRST colliding table: the kernel and
    * the salted join both skip it when `bands_disjoint` finds an earlier
    * table where the two prefixes agree, before any cosine. The output
    * is then duplicate-free by construction and no aggregate over the
    * pair columns runs. Without one, the pairs are deduplicated by a
    * final `distinct`: the MinHash tiers (their persisted
    * `graft_mh_cand_b*` band layout carries no band array) and the
    * SimHash / same-key tiers (keyed by signature, not by a per-row band
    * array) keep it.
    *
    * Hot buckets must never be collected into one row, so they keep the
    * salted sort-merge join: probe side keyed by md5(id) % salt, build
    * side replicated `salt` ways, one hot bucket's quadratic
    * enumeration spread across `salt` reducers, with the same raw-score
    * pre-filter. Whether any bucket is hot is decided, cheapest first:
    *  - `rowsPerTable` (the banded relation's row count, observed on
    *    the job that materialized it) at or under `hotThreshold`: no
    *    bucket can be hot, no job runs;
    *  - `spark.graft.lshProbe=false` (plan-only consumers such as
    *    Explain): no eager job, all buckets cold — the identical pair
    *    set on every corpus without a hot bucket;
    *  - otherwise one map-side-combined (bj, bv) count job, the probe.
    * The pair SET is identical on every route: hot pairs are found from
    * their a-side salt, and each (bj, bv) bucket is wholly cold or
    * wholly hot, so the first-table rule keeps one row per pair on a
    * mixed route too. */
  private def bucketPairs(cand: DataFrame, id: String,
                          hotThreshold: Long, salt: Int,
                          vec: Option[String] = None,
                          threshold: Option[Double] = None,
                          rowsPerTable: Option[Long] = None,
                          prefix: Option[String] = None,
                          buckets: Option[Long] = None): DataFrame = {
    graft.functions.VectorExpressions.register(cand.sparkSession)
    val floor = threshold.map(_ - graft.functions.BucketPairs.ScoreSlack)
    // ObjectHashAggregate sorts (a page per sorter) once a task holds
    // `fallbackThreshold` groups: aim each task at half that many
    def spread(rows: DataFrame) = buckets.fold(rows) { k =>
      val conf = rows.sparkSession.sessionState.conf
      val perTask = math.max(1, conf.objectAggSortBasedFallbackThreshold / 2)
      rows.repartition(math.max(conf.numShufflePartitions, ((k + perTask - 1) / perTask).toInt),
        col("bj"), col("bv"))
    }
    def cold(rows: DataFrame) = spread(rows
      .filter(col("bv").isNotNull)) // a null key never joined
      .groupBy("bj", "bv")
      .agg(collect_list(struct(col(id) +: (vec ++ prefix).map(col).toSeq: _*)).as("__m"))
      .select(call_function("bucket_pairs", col("__m") +: threshold.map(lit).toSeq: _*))
    def hot(rows: DataFrame) = {
      def side(as: String) = rows.select(col(id).as(as) +: col("bj") +: col("bv") +:
        (vec.map(v => col(v).as(s"${as}_v")) ++ prefix.map(p => col(p).as(s"${as}_p"))).toSeq: _*)
      val aSide = side("a").withColumn("__s",
        (conv(substring(md5(col("a").cast("string")), 1, 8), 16, 10)
          .cast("long") % salt).cast("int"))
      val bSide = side("b").withColumn("__s", explode(array((0 until salt).map(lit): _*)))
      val firstBand = prefix.fold(lit(true))(_ => expr("bands_disjoint(a_p, b_p)"))
      val j = aSide.join(bSide, Seq("bj", "bv", "__s"))
        .filter(col("a") < col("b") && firstBand)
      vec match {
        case None => j.select("a", "b")
        case Some(_) =>
          val scored = j.select(col("a"), col("b"), expr("cosine_sim(a_v, b_v)").as("cos"))
          floor.fold(scored)(f => scored.filter(col("cos") >= f))
      }
    }
    val probeOn = cand.sparkSession.conf
      .getOption("spark.graft.lshProbe").forall(_ != "false")
    def maxBucket = cand.groupBy("bj", "bv").agg(count(lit(1)).as("__n"))
      .agg(coalesce(max(col("__n")), lit(0L)))
      .head.getLong(0)
    val allCold = hotThreshold == Long.MaxValue ||
      rowsPerTable.exists(_ <= hotThreshold) || !probeOn || maxBucket <= hotThreshold
    val pairs =
      if (allCold) cold(cand)
      else {
        // checkpoint only the (bj, bv, __n) COUNTS — bucket-cardinality-
        // sized; the tag join recomputes lazily from the (already
        // checkpointed) banded scan against this small table
        val counts = cand.groupBy("bj", "bv").agg(count(lit(1)).as("__n"))
          .truncated()
        val tagged = cand.join(counts, Seq("bj", "bv"))
        val isCold = col("__n") <= hotThreshold
        cold(tagged.filter(isCold).drop("__n"))
          .unionAll(hot(tagged.filter(!isCold).drop("__n")))
      }
    val out = vec match {
      case None => pairs
      case Some(_) =>
        val rounded = pairs.select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
        threshold.fold(rounded)(t => rounded.filter(col("cos") >= t))
    }
    if (prefix.isDefined) out else out.distinct()
  }

  /** The per-row band prefix `bucketPairs` and `Similarity`'s ANN
    * candidates use to keep a collision only at its first table: from
    * an array of per-table buckets `b` and the row's table `bj`, the
    * buckets of tables 0 until bj. */
  private[graft] def bandPrefix(b: String): Column = expr(s"slice($b, 1, bj)")

  /** [[truncate]] that also returns the frame's row count, observed on
    * the checkpoint job itself (a `Dataset.observe` metric — no extra
    * job); None if the metric did not arrive. */
  private def truncatedCounted(df: DataFrame): (DataFrame, Option[Long]) = {
    val obs = org.apache.spark.sql.Observation()
    val t = truncate(df.observe(obs, count(lit(1)).as("n")))
    (t, observed(obs).map(_.getLong(0)))
  }

  /** The metrics of `obs`, once the job that ran it has reported; None
    * if they did not arrive. */
  private def observed(obs: org.apache.spark.sql.Observation): Option[org.apache.spark.sql.Row] =
    scala.util.Try(scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(30, "s"))).toOption

  /** Shared signature + banding front-end of the MinHash tiers: one
    * checkpointed signature row per doc (consumed by banding and the
    * pair scoring), exploded to (id, band index, band value), plus the
    * doc count observed on the checkpoint job (rows per band table). */
  private def bandedSignatures(df: DataFrame, id: String, text: String, n: Int,
                               bands: Int, rowsPerBand: Int)
      : (DataFrame, DataFrame, Option[Long]) = {
    val (sigs, nDocs) = truncatedCounted(minhashSignatures(df, id, text, n))
    (sigs, bandCandidates(sigs, id, bands, rowsPerBand), nDocs)
  }

  /** The (id, bj, bv) banded-candidate relation from a signature table
    * (id, mh0..mh{NumHashes-1}) — exposed so a persisted signature
    * layout can derive its candidate table from the stored signatures
    * instead of re-hashing the corpus. One scan: every band value is
    * computed in one projection and exploded to its (bj, bv) row. */
  def bandCandidates(sigs: DataFrame, id: String,
                     bands: Int = Bands, rowsPerBand: Int = RowsPerBand): DataFrame = {
    require(bands * rowsPerBand <= NumHashes,
      s"bands×rows must fit the $NumHashes computed permutations")
    val bandVals = (0 until bands).map { j =>
      concat_ws("_", (0 until rowsPerBand).map(r => col(s"mh${j * rowsPerBand + r}")): _*)
    }
    sigs.select(col(id), posexplode(array(bandVals: _*)).as(Seq("bj", "bv")))
  }

  /** Candidate pairs + estimated Jaccard from PRECOMPUTED signature and
    * banded-candidate relations — the persisted-layout path. `sigs`
    * carries (id, mh0..mh{NumHashes-1}), `cand` (id, bj, bv): exactly
    * the relations [[bandedSignatures]] derives, however materialized.
    * When `cand` is a managed table bucketed on (bj, bv) the self-join
    * reads both sides shuffle-free (the q32 discipline); values are
    * identical to [[minhashCandidates]] by construction. */
  def minhashCandidatesFrom(sigs: DataFrame, cand: DataFrame, id: String,
                            hotThreshold: Long = Long.MaxValue,
                            salt: Int = 1): DataFrame =
    scoreMinhashPairs(sigs, bucketPairs(cand, id, hotThreshold, salt), id)

  /** Estimated-Jaccard scoring of an EXTERNALLY-enumerated (a, b) pair
    * relation against a signature table — the incremental-dedup path,
    * where the pair set mixes persisted-layout and freshly-signed
    * candidates and so can't come from the internal enumerator. */
  def scoreCandidatePairs(sigs: DataFrame, pairs: DataFrame, id: String): DataFrame =
    scoreMinhashPairs(sigs, pairs, id)

  /** DIRECTED candidate pairs from a bucketed candidate table
    * (id, bj, bv[, prefix]) — the k-NN-graph form of the shared
    * skew-safe enumerator: every same-bucket ordered pair (a→b, b→a),
    * each a<b pair exploded to both directions in one projection (half
    * the join work of enumerating ordered pairs directly, and no
    * self-union, which would run the pair stage twice; hot buckets
    * spread with the same salted path). With a `prefix` column
    * ([[bandPrefix]]) each pair comes from its first colliding table and
    * no distinct runs; without one, [[bucketPairs]]' distinct removes
    * the cross-table repeats. */
  def bucketKnnPairs(cand: DataFrame, id: String,
                     hotThreshold: Long = Long.MaxValue,
                     salt: Int = 1,
                     prefix: Option[String] = None): DataFrame =
    bucketPairs(cand, id, hotThreshold, salt, prefix = prefix)
      .select(explode(array(struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("__e"))
      .select("__e.a", "__e.b")

  /** Estimated Jaccard for candidate pairs from the full signatures. */
  private def scoreMinhashPairs(sigs: DataFrame, pairs: DataFrame,
                                id: String): DataFrame = {
    val matchSum = (0 until NumHashes)
      .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    pairs.alias("p")
      .join(sigs.alias("sa"), col("p.a") === col(s"sa.$id"))
      .join(sigs.alias("sb"), col("p.b") === col(s"sb.$id"))
      .selectExpr("p.a AS a", "p.b AS b",
        s"round(($matchSum) / CAST($NumHashes AS DOUBLE), 6) AS est_jaccard")
  }

  /** SimHash signature per id: tf-weighted bit votes over token hashes. */
  def simhashSignatures(df: DataFrame, id: String, text: String): DataFrame = {
    val tf = df.select(col(id), explode(split(col(text), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col(id), col("t"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("h", graft.functions.TextFns.hash32(col("t")))
    val votes = (0 until SimHashBits).map(j =>
      sum(when(expr(s"(h div ${1L << j}) % 2 = 1"), col("tf")).otherwise(-col("tf"))).as(s"v$j"))
    val sigExpr = (0 until SimHashBits)
      .map(j => s"CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    tf.groupBy(id).agg(votes.head, votes.tail: _*)
      .selectExpr(id, s"CAST($sigExpr AS BIGINT) AS sig")
  }

  /** SimHash near-dup pairs within a Hamming radius, via byte-banding
    * (radius ≤ 3 over 4 bytes ⇒ some byte equal: exact by pigeonhole).
    *
    * The banded join runs on the DISTINCT-SIGNATURE dictionary, never
    * on per-doc multiplicity (r14): on a dup-heavy corpus whole
    * near-dup families collapse to ONE signature, and doc-keyed
    * banding multiplies every bucket by family size — the sf3 soak
    * measured the doc-keyed form at 1242 s vs 23.9 s at sf1 (52x at
    * 3x data: occupancy ∝ N ⇒ within-bucket join ∝ N², the same
    * fixed-bucket disease as the pre-r14 dedup_embedding). Signature
    * pairs within the radius expand back to doc pairs afterwards, and
    * identical-signature docs pair directly at hamming 0 — the result
    * SET is identical to the doc-keyed form (each doc has exactly one
    * signature), so the oracle is unchanged; only the join cardinality
    * moves from |docs| to |distinct sigs| per band. */
  def simhashCandidates(df: DataFrame, id: String, text: String,
                        maxHamming: Int = 3,
                        hotThreshold: Long = Long.MaxValue,
                        salt: Int = 8): DataFrame = {
    // 4 byte-bands are exhaustive only up to Hamming 3 (pigeonhole);
    // a larger radius would silently drop in-radius pairs
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3] for 4-band exhaustive search, got $maxHamming")
    val sigs = simhashSignatures(df, id, text).truncated()
    val (ds, nSigs) = truncatedCounted(sigs.select(col("sig")).distinct())
    val bands = ds.select(col("sig"), posexplode(array((0 until 4).map(j =>
      expr(s"(sig div ${1L << (8 * j)}) % 256")): _*)).as(Seq("bj", "bv")))
    // candidate SIGNATURE pairs (the shared skew-safe enumerator keyed
    // by signature), Hamming-filtered before any doc expansion
    val sigPairs = bucketPairs(bands, "sig", hotThreshold, salt, rowsPerTable = nSigs)
      .withColumn("hamming", expr("bit_count(a ^ b)"))
      .filter(col("hamming") <= maxHamming)
      .truncated()
    // cross-signature doc pairs (canonical a < b by doc id)
    val cross = sigPairs
      .join(sigs.select(col(id).as("da"), col("sig").as("a")), "a")
      .join(sigs.select(col(id).as("db"), col("sig").as("b")), "b")
      .select(least(col("da"), col("db")).as("a"),
        greatest(col("da"), col("db")).as("b"), col("hamming"))
    // identical-signature docs: hamming 0 by definition, no banding or
    // verification needed — the dup-family fast path (output-bound)
    val same = sameKeyPairs(sigs, id, "sig", hotThreshold, salt)
      .withColumn("hamming", lit(0))
    cross.unionAll(same)
      .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))
  }

  /** All (a < b) id pairs sharing an identical `key` value — the
    * dup-family expansion used by the simhash/phash same-signature
    * fast paths. Routed through the salt-slotted enumerator
    * ([[bucketPairs]] with the key as the single band): a raw
    * self-join on the key puts one giant family's f²/2 pairs in a
    * single reducer — exactly the single-task skew the banded path's
    * salting exists to avoid, reintroduced for the hottest key on
    * dup-heavy corpora (r14 advice). Families at/under `hotThreshold`
    * take slot 0 on both sides (the plain join); larger ones spread
    * their enumeration across `salt` reducers. Output is the pair SET
    * (output-bound by definition — salting bounds per-task skew, not
    * the emitted volume). */
  def sameKeyPairs(df: DataFrame, id: String, key: String,
                   hotThreshold: Long = Long.MaxValue,
                   salt: Int = 8): DataFrame =
    bucketPairs(df.select(col(id), lit(0).as("bj"), col(key).as("bv")),
      id, hotThreshold, salt)

  /** Embedding near-dup pairs at/above a cosine threshold, LSH-bucketed:
    * each vector lands in `tables` sign-bit buckets (native `lsh_bucket`,
    * one md5-derived hyperplane set per table), candidate pairs collide
    * in at least one table, and the exact cosine filter runs only within
    * buckets. Shuffle volume ∝ tables×|docs| plus the (small) candidate
    * set — never the |docs|² cross product. Recall is tunable:
    * 1-(1-p^bits)^tables with p the per-plane agreement probability;
    * raise `bits` as the corpus grows to keep buckets small, raise
    * `tables` to recover recall. The brute-force ground truth
    * (EmbeddingDedupSpec measures recall against it) is the same filter
    * over an `a < b` cross join. */
  def embeddingNearDupPairs(df: DataFrame, id: String, vec: String,
                            threshold: Double,
                            tables: Int = EmbLsh.Tables,
                            bits: Int = EmbLsh.Bits,
                            dims: Int = EmbLsh.Dims,
                            hotThreshold: Long = Long.MaxValue,
                            salt: Int = 8): DataFrame =
    embeddingPairs(df, id, vec, tables, bits, dims, hotThreshold, salt, Some(threshold))

  /** The UNFILTERED candidate stage of [[embeddingNearDupPairs]] —
    * every LSH bucket-collision pair with its exact cosine, BEFORE the
    * threshold filter. Exposed so the scale-witness harness can count
    * candidates-examined vs pairs-emitted (the quantity that separates
    * an output-bound superlinear envelope from a join-fan-out bug);
    * the production operator is the same plan with the threshold
    * handed to the pair core, so the two can never drift. */
  def embeddingCandidatePairs(df: DataFrame, id: String, vec: String,
                              tables: Int = EmbLsh.Tables,
                              bits: Int = EmbLsh.Bits,
                              dims: Int = EmbLsh.Dims,
                              hotThreshold: Long = Long.MaxValue,
                              salt: Int = 8): DataFrame =
    embeddingPairs(df, id, vec, tables, bits, dims, hotThreshold, salt, None)

  private def embeddingPairs(df: DataFrame, id: String, vec: String,
                             tables: Int, bits: Int, dims: Int,
                             hotThreshold: Long, salt: Int,
                             threshold: Option[Double]): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    // CO-LOCATED COSINE (SOAK_r17.md §2, the fix the sf10 soak forced):
    // the vector rides the banding relation instead of being looked up
    // per pair. Pair-sized exchanges must never transport vectors (the
    // per-pair lookup form wrote ~220 GB of sf10 shuffle): the banded
    // table carries (id, v, b0..bT) — ONE materialization, one row per
    // doc — and ONE scan of it explodes to (id, v, bj, bv), a shuffle
    // LINEAR in tables × corpus × vector. The pair core scores every
    // pair inside its bucket, so everything pair-sized moves as
    // (a, b, cos). The checkpoint job also observes the corpus size:
    // the rows per table, which bound every bucket. Each exploded row
    // keeps only its buckets in the tables before its own (`__p`, half
    // the bucket array on average): enough for the pair core to emit a
    // pair at its first colliding table only, with no distinct.
    val buckets = (0 until tables).map(t => expr(s"lsh_bucket(v, $bits, $dims, $t)"))
    val (banded, rowsPerTable) = truncatedCounted(df
      .select(col(id), expr(s"transform($vec, x -> CAST(x AS DOUBLE))").as("v"))
      .select(col(id), col("v"), array(buckets: _*).as("__b")))
    val cand = banded
      .select(col(id), col("v"), col("__b"), posexplode(col("__b")).as(Seq("bj", "bv")))
      .select(col(id), col("v"), col("bj"), col("bv"), bandPrefix("__b").as("__p"))
    // The kernel stage is the costliest of the route and ends in no
    // shuffle of its own, so the pairs are shuffled on `a` once: a
    // consumer that reads them twice then reads that shuffle (a global
    // sort samples its input before sorting it; a symmetrized edge set
    // is a self-union) instead of running every cosine again
    bucketPairs(cand, id, hotThreshold, salt, Some("v"), threshold, rowsPerTable, Some("__p"),
      buckets = Some(tables.toLong << bits))
      .repartition(col("a"))
  }

  /** Winnowing document fingerprints (the MOSS sketch — Schleimer,
    * Wilkerson, Aiken, SIGMOD'03): hash every k-token shingle, slide a
    * w-window over the hash sequence, keep each window's minimum.
    * Guarantee: any token run of length ≥ w+k−1 shared by two docs
    * contributes at least one IDENTICAL selected hash to both sketches,
    * so exact common substrings are detectable from a sketch ~2/(w+1)
    * the size of the shingle set. The whole selection is in-row
    * (codegen'd transform/slice/array_min over the token array) — zero
    * shuffle until the per-doc fingerprint explode. Ties inside a
    * window break to the leftmost position by packing (hash, pos) into
    * one long (hash·2²⁰ + pos); a doc at ≥ 2²⁰ tokens would bleed pos
    * into the hash field and SILENTLY corrupt its fingerprints, so such
    * docs (~100× the longest doc a training pipeline keeps — they're
    * binary-as-text pathologies) are excluded from the sketch instead,
    * identically on both engines. Returns distinct (id, fp). */
  def winnowFingerprints(df: DataFrame, id: String, text: String,
                         k: Int = 4, w: Int = 4): DataFrame = {
    val C = 1L << 20
    df.select(col(id), split(col(text), " ").as("__t"))
      .filter(size(col("__t")) < C)
      .select(col(id), expr(
        s"""CASE WHEN size(__t) >= $k THEN
              transform(sequence(1, size(__t) - ${k - 1}),
                i -> CAST(conv(substring(md5(array_join(slice(__t, i, $k), ' ')), 1, 8), 16, 10) AS BIGINT) * ${C}L + i)
            ELSE array() END""").as("__ks"))
      .select(col(id), explode(expr(
        s"""CASE WHEN size(__ks) >= $w THEN
              array_distinct(transform(sequence(1, size(__ks) - ${w - 1}),
                i -> array_min(slice(__ks, i, $w)) div ${C}L))
            ELSE array() END""")).as("fp"))
  }

  /** Exact common-substring candidate pairs from winnowing sketches —
    * the contamination/substring complement of set-based near-dup: two
    * docs pair when they share ≥ minShared selected fingerprints, i.e.
    * (with the winnowing guarantee) when they share enough literal
    * (w+k−1)-token runs. Hot fingerprints appearing in > maxDf docs
    * (boilerplate/viral phrases) are dropped BEFORE the self-join, so
    * one common phrase can't turn the join quadratic — the same df-cap
    * discipline an inverted index applies to stopwords. Shuffle volume
    * ∝ sketch size (≈ 2·shingles/(w+1)), never docs². */
  def winnowPairs(df: DataFrame, id: String, text: String,
                  k: Int = 4, w: Int = 4,
                  minShared: Long = 2, maxDf: Long = 100): DataFrame = {
    // the sketch feeds the df-cap count AND both join sides
    val fps = winnowFingerprints(df, id, text, k, w).truncated()
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("fp")
    val kept = fps.join(rare, "fp")
    kept.select(col("fp"), col(id).as("a"))
      .join(kept.select(col("fp"), col(id).as("b")), Seq("fp"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Exact cosine top-k of each query vector against the corpus — the
    * at-scale form: query side broadcast, native codegen'd cosine_sim,
    * ranking through the `top_k_pairs` bounded-heap aggregate. Map-side
    * partials shuffle ≤ k rows per query per partition, so the scored
    * N×|Q| stream never leaves its scan tasks (a `row_number() OVER
    * (PARTITION BY qid)` form would shuffle ALL of it onto |Q| tasks
    * and fully sort each — a 10-task full sort at a 100 TB corpus).
    * Ordering matches the heap's contract: cos desc, id asc on ties. */
  def cosineTopK(df: DataFrame, id: String, vec: String,
                 queries: DataFrame, k: Int = 5): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    val e = df.select(col(id), expr(s"transform($vec, x -> CAST(x AS DOUBLE))").as("v"))
    val q = queries.select(col(id).as("qid"),
      expr(s"transform($vec, x -> CAST(x AS DOUBLE))").as("qv"))
    val scored = e.join(broadcast(q), col(id) =!= col("qid"))
      .select(col("qid"), expr("cosine_sim(qv, v)").as("cos"), col(id))
    // the heap aggregate carries its payload as BIGINT — routing a
    // string id through it would CAST to NULL; non-numeric ids take the
    // window form (correct, but sorts each query group in full)
    val ranked = df.schema(id).dataType match {
      case _: org.apache.spark.sql.types.NumericType =>
        topKPerGroupAgg(scored, part = "qid", ordCol = "cos", payloadCol = id, k = k)
      case _ =>
        // same (cos DESC, id ASC) tie-break the heap applies
        val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col(id))
        scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
    }
    ranked.select(col("qid"), col("rnk").cast("long").as("rnk"),
      col(id).as("neighbor"), round(col("cos"), 6).as("cos"))
  }

  /** Maximum-inner-product top-k — the recommender-scoring sibling of
    * [[cosineTopK]]: rank by the RAW dot product, no normalization, so
    * a long vector with aligned direction outranks a unit vector
    * (cosine and MIPS answer different questions; user·item score
    * matrices are MIPS). Same at-scale shape: query side broadcast,
    * native codegen'd `dot_product`, ranking through the bounded-heap
    * aggregate (≤ k rows per query per partition cross the wire). The
    * ANN scale path for MIPS is the norm-augmentation reduction
    * (append sqrt(M²−|x|²); MIPS becomes cosine) feeding the existing
    * LSH/IVF tiers — this operator is the exact ground-truth tier. */
  def mipsTopK(df: DataFrame, id: String, vec: String,
               queries: DataFrame, k: Int = 5): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    val e = df.select(col(id), expr(s"transform($vec, x -> CAST(x AS DOUBLE))").as("v"))
    val q = queries.select(col(id).as("qid"),
      expr(s"transform($vec, x -> CAST(x AS DOUBLE))").as("qv"))
    val scored = e.join(broadcast(q), col(id) =!= col("qid"))
      .select(col("qid"), expr("dot_product(qv, v)").as("ip"), col(id))
    val ranked = df.schema(id).dataType match {
      case _: org.apache.spark.sql.types.NumericType =>
        topKPerGroupAgg(scored, part = "qid", ordCol = "ip", payloadCol = id, k = k)
      case _ =>
        val w = Window.partitionBy(col("qid")).orderBy(col("ip").desc, col(id))
        scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
    }
    ranked.select(col("qid"), col("rnk").cast("long").as("rnk"),
      col(id).as("neighbor"), round(col("ip"), 6).as("ip"))
  }

  /** Spherical (cosine) k-means over an embedding column — Lloyd's
    * iterations with every choice deterministic so a SQL oracle can
    * replay the exact float path:
    *   - seeds: the k vectors with the smallest md5(id) (hash-ordered
    *     TakeOrdered — a bounded heap, no RNG, no driver loop);
    *   - assignment: per-row argmax of struct(cos, -cid) over ONE
    *     broadcast centroid array — zero shuffle, zero row expansion
    *     (the sim_ann_ivf cell-assignment shape);
    *   - update: native `vec_sum` partial aggregation — one length-d
    *     array per cluster per partition crosses the wire, keeping the
    *     iteration scan-bound at 100 TB;
    *   - centroid components rounded to 9 dp each round, pinning both
    *     engines to the same values despite summation-order ulps;
    *   - empty clusters keep their previous centroid.
    * Cosine is scale-invariant, so the un-normalized mean is a valid
    * spherical centroid. Returns (cid = seed id, cv array<double>). */
  def kmeansCosine(df: DataFrame, id: String, vec: String,
                   k: Int = 8, iters: Int = 3): DataFrame =
    kmeansGrouped(df, Seq(), id, vec, k, iters, "cosine_sim(v, c.cv)")

  /** Euclidean assignment score: 2·(x·c) − (c·c), which is argmin
    * ‖x−c‖² with the per-row-constant x·x term dropped — the exact
    * formula a SQL oracle replays with list_dot_product. */
  val L2Score = "2 * dot_product(v, c.cv) - dot_product(c.cv, c.cv)"

  /** The ONE Lloyd loop: trains an independent k-means per distinct
    * value of `grpCols` (no columns = one k-means over the whole
    * input), returning (grpCols..., cid, cv). Only the per-row
    * assignment `score` differs between metrics; per group:
    *   - seeds are the group's k (md5(id), id)-smallest vectors: a
    *     bounded TakeOrdered heap with no group columns, its window
    *     form per group otherwise;
    *   - assignment is the broadcast argmax of `score` over the
    *     group's centroid array ([[nearestCid]]: ties → lowest cid),
    *     joined on the group — a broadcast nested-loop join when there
    *     are no group columns;
    *   - the update is vec_sum/count + 9-dp round, empty clusters
    *     carrying their previous centroid.
    * r17 (guide §1.2 step 1 / §2.4): the PQ tiers trained PqM — and
    * per-cell IVFPQ PqM × cells — SEPARATE loops, each paying
    * (1 + iters) eager checkpoint jobs and its own corpus-slice scans;
    * one grouped loop pays (1 + iters) jobs TOTAL and scans the
    * training relation once per iteration for all groups. */
  def kmeansGrouped(df: DataFrame, grpCols: Seq[String], id: String,
                    vec: String, k: Int = 8, iters: Int = 3,
                    score: String = L2Score): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    val gcols = grpCols.map(col)
    val e = df.select(gcols :+ col(id).as("__kid") :+
      expr(s"transform($vec, x -> CAST(x AS DOUBLE))").as("v"): _*)
    val seedOrder = Seq(md5(col("__kid").cast("string")), col("__kid"))
    // the ungrouped form is not the window over an empty partitionBy:
    // that plans the same TakeOrdered heap, but under AQE, whose
    // checkpoint forgets the single-partition layout round 1's join
    // would otherwise reuse (one more shuffle job per training)
    val seeds =
      if (grpCols.isEmpty) e.orderBy(seedOrder: _*).limit(k)
      else e.withColumn("__rn", row_number().over(
          Window.partitionBy(gcols: _*).orderBy(seedOrder: _*)))
        .filter(col("__rn") <= k)
    var cents = seeds
      .select(gcols :+ col("__kid").as("cid") :+ col("v").as("cv"): _*)
      .truncated()
    for (_ <- 1 to iters) {
      val centArr = cents.groupBy(gcols: _*)
        .agg(collect_list(struct(col("cid"), col("cv"))).as("cs"))
      val assigned = e.join(broadcast(centArr), grpCols)
        .select(gcols :+ col("v") :+ nearestCid("cs", score).as("cid"): _*)
      val updated = assigned.groupBy(gcols :+ col("cid"): _*)
        .agg(expr("vec_sum(v)").as("sv"), count(lit(1)).as("n"))
        .select(gcols :+ col("cid") :+
          expr("transform(sv, x -> round(x / CAST(n AS DOUBLE), 9))").as("cv"): _*)
      // checkpoint per round: k rows per group, and it flattens the
      // iter lineage
      cents = cents.select(gcols :+ col("cid") :+ col("cv").as("__old"): _*)
        .join(updated, grpCols :+ "cid", "left")
        .select(gcols :+ col("cid") :+ coalesce(col("cv"), col("__old")).as("cv"): _*)
        .truncated()
    }
    cents
  }

  /** The broadcast-argmax centroid assignment shared by every k-means /
    * IVF / PQ consumer: per-row argmax of `scoreSql` (which may
    * reference the row's columns and `c.cv`) over the collected
    * centroid-array column `csCol` (struct elements (cid, cv)), ties →
    * lowest cid. ONE definition so the tie-break and struct shape can't
    * drift between the five call sites. Zero shuffle, zero expansion. */
  def nearestCid(csCol: String, scoreSql: String): Column =
    -expr(s"array_max(transform($csCol, c -> struct($scoreSql AS s, -c.cid AS ncid))).ncid")

  /** One mini-batch k-means update step: assign the batch's rows to
    * their nearest (cosine) centroid over ONE broadcast centroid array
    * (zero shuffle, zero expansion), then fold the per-cluster batch
    * sums into the running (centroid, count) state:
    *   cv ← round((cv·cnt + Σ_batch v) / (cnt + n_batch), 9dp)
    * — the running mean over everything seen so far (Bottou/Sculley
    * mini-batch k-means with per-cluster counts as the learning rate).
    * Clusters absent from the batch carry state unchanged. `cents`
    * must have columns (cid, cv array<double>, cnt long). The SAME step
    * drives the registered batch operator and the Structured Streaming
    * foreachBatch front-end (StreamKMeansSpec proves they agree). */
  def miniBatchStep(cents: DataFrame, batch: DataFrame,
                    id: String, vec: String): DataFrame = {
    graft.functions.VectorExpressions.register(cents.sparkSession)
    val centArr = cents.agg(collect_list(struct(col("cid"), col("cv"))).as("cs"))
    val assigned = batch
      .select(col(id), expr(s"transform($vec, x -> CAST(x AS DOUBLE))").as("v"))
      .crossJoin(broadcast(centArr))
      .select(col("v"), nearestCid("cs", "cosine_sim(v, c.cv)").as("cid"))
    val upd = assigned.groupBy("cid")
      .agg(expr("vec_sum(v)").as("sv"), count(lit(1)).as("n"))
    cents.join(upd, Seq("cid"), "left")
      .select(col("cid"),
        when(col("n").isNull, col("cv")).otherwise(expr(
          "zip_with(cv, sv, (c, s) -> round((c * cnt + s) / CAST(cnt + n AS DOUBLE), 9))"))
          .as("cv"),
        (col("cnt") + coalesce(col("n"), lit(0L))).as("cnt"))
  }

  /** Mini-batch (streaming) spherical k-means: the corpus is split into
    * `batches` deterministic hash batches (md5 of the id — reproducible
    * on any cluster layout), seeds are the k hash-smallest vectors of
    * the FULL corpus (the kmeansCosine rule), and each batch applies one
    * [[miniBatchStep]] in batch order. One pass over the data total —
    * the online path when a 100 TB corpus can't afford full Lloyd
    * sweeps, and the exact semantics of the foreachBatch streaming
    * front-end (each micro-batch = one step). Returns
    * (cid, n_seen = rows absorbed, c0 = first centroid component). */
  def kmeansMiniBatch(df: DataFrame, id: String, vec: String,
                      k: Int = 8, batches: Int = 4): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    val e = df.select(col(id).as("__kid"),
        expr(s"transform($vec, x -> CAST(x AS DOUBLE))").as("v"),
        (graft.functions.TextFns.hash32(col(id).cast("string")) % batches).as("__b"))
      .truncated() // consumed once per batch round
    var cents = e.orderBy(md5(col("__kid").cast("string")), col("__kid"))
      .limit(k)
      .select(col("__kid").as("cid"), col("v").as("cv"), lit(0L).as("cnt"))
      .truncated()
    for (b <- 0 until batches) {
      cents = miniBatchStep(cents, e.filter(col("__b") === b), "__kid", "v")
        .truncated() // k rows; flattens the per-batch lineage
    }
    cents.select(col("cid"), col("cnt").as("n_seen"),
        round(element_at(col("cv"), 1), 6).as("c0"))
      .orderBy("cid")
  }

  /** Euclidean (L2) k-means — the [[kmeansCosine]] sibling used by
    * product quantization, where subspace codebooks minimize squared
    * distance: the same loop with the [[L2Score]] assignment. */
  def kmeansL2(df: DataFrame, id: String, vec: String,
               k: Int = 8, iters: Int = 3): DataFrame =
    kmeansGrouped(df, Seq(), id, vec, k, iters)

  /** Per-key sessionization on an epoch-micros column: split on gaps. */
  def sessionize(df: DataFrame, key: String, tsUs: String, gapUs: Long,
                 valueCol: Option[String] = None): DataFrame = {
    val byKey = Window.partitionBy(col(key)).orderBy(col(tsUs))
    val base = df
      .withColumn("__prev", lag(col(tsUs), 1).over(byKey))
      .withColumn("__brk",
        when(col("__prev").isNull || col(tsUs) - col("__prev") > gapUs, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("__brk")).over(byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
    val aggs = Seq(
      count(lit(1)).as("n_events"),
      expr(s"min($tsUs) div 1000").as("start_ms"),
      expr(s"max($tsUs) div 1000").as("end_ms")) ++
      valueCol.map(v => round(sum(col(v)), 2).as("sum_value")).toSeq
    base.groupBy(col(key), col("session_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Top-k rows per group by an ordering column (window row_number). */
  def topKPerGroup(df: DataFrame, part: String, order: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(col(part)).orderBy(order)
    df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Data-profiling: per-column null count, distinct count, min/max
    * (stringified for type uniformity) — schema-driven, works on any
    * DataFrame, the standard first look at an unfamiliar 100 TB table.
    *
    * One single-distinct aggregation pass PER COLUMN, unioned. Packing
    * every countDistinct into one agg would trigger Spark's
    * multi-distinct `Expand` (×2·ncols row blowup over the full table);
    * per-column passes each read exactly one column (columnar pruning
    * keeps total I/O the same as one full-width scan) and run as plain
    * two-stage hash aggregations with map-side partials. For quick
    * looks where ±2% is fine, `profileApprox` does it in one pass. */
  def profile(df: DataFrame): DataFrame = {
    val passes = df.schema.fields.map { sf =>
      val f = sf.name
      df.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col(f).isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col(f)).as("n_distinct"),
          min(col(f)).cast("string").as("min_val"),
          max(col(f)).cast("string").as("max_val"))
        .select(lit(f).as("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_val"), col("max_val"))
    }
    passes.reduce(_ unionAll _)
  }

  /** Single-pass profile with HLL++ `approx_count_distinct` (default
    * rsd 2.3%) for n_distinct — no Expand, no per-column passes: ONE
    * full scan of the table total. The at-scale default when distinct
    * counts only need to be ballpark. */
  def profileApprox(df: DataFrame, rsd: Double = 0.023): DataFrame = {
    val fields = df.schema.fields.map(_.name)
    val aggs = fields.flatMap { f =>
      Seq(
        sum(when(col(f).isNull, 1L).otherwise(0L)).as(s"${f}__nulls"),
        approx_count_distinct(col(f), rsd).as(s"${f}__distinct"),
        min(col(f)).cast("string").as(s"${f}__min"),
        max(col(f)).cast("string").as(s"${f}__max"))
    } :+ count(lit(1)).as("__n")
    val stacked = fields.map(f =>
      s"'$f', ${f}__nulls, ${f}__distinct, ${f}__min, ${f}__max").mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr("__n",
        s"stack(${fields.length}, $stacked) AS (column, n_nulls, n_distinct, min_val, max_val)")
      .select(col("column"), col("__n").as("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_val"), col("max_val"))
  }

  /** Heap-based top-k per group via the `top_k_pairs` TypedImperative-
    * Aggregate: map-side k-bounded heaps combine before the shuffle, so
    * at most k·|groups| rows move per partition — the at-scale form of
    * `topKPerGroup` (whose window sorts every group in full).
    * Output: (part, rnk bigint, payload, ord), rnk 1..k by ord desc. */
  def topKPerGroupAgg(df: DataFrame, part: String, ordCol: String,
                      payloadCol: String, k: Int): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    df.groupBy(part)
      .agg(expr(s"top_k_pairs(CAST($ordCol AS DOUBLE), CAST($payloadCol AS BIGINT), $k)").as("__tk"))
      .select(col(part), posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col(part), (col("__pos") + 1).cast("long").as("rnk"),
        col("__e.payload").as(payloadCol), col("__e.ord").as(ordCol))
  }

  /** TF-IDF: top-k terms per document by tf·ln(N/df), over any
    * (id, text) corpus. Ranking happens on 6dp-ROUNDED scores with a
    * term tie-break so float last-ulp noise can't flip ranks.
    * Scale: tf+df is the inverted-index build (map-side partial agg,
    * shuffle ∝ postings); N is a 1-row broadcast. */
  def tfidfTopTerms(df: DataFrame, id: String, text: String, k: Int = 5): DataFrame = {
    val tf = df.select(col(id), explode(split(col(text), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", id).agg(count(lit(1)).as("tf"))
    val withDf = tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
    val n = df.agg(count(lit(1)).as("n_docs"))
    val scored = withDf.crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 6))
    val w = Window.partitionBy(col(id)).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(id), col("rnk"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** BM25 ranked retrieval of a term query over any (id, text) corpus.
    * Corpus stats (N, avgdl) and the per-TERM df table are scalar/tiny
    * broadcasts; the per-DOCUMENT length table scales with the corpus,
    * so that join carries no hint — AQE broadcasts it while it fits and
    * degrades to a shuffle join on the id beyond that. */
  def bm25Rank(df: DataFrame, id: String, text: String, terms: Seq[String],
               k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val docs = df.select(col(id), split(col(text), " ").as("__toks"))
      .select(col(id), expr("size(filter(__toks, t -> t != ''))").cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = df.select(col(id), explode(split(col(text), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(id, "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .join(docs, id)
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib",
        col("idf") * col("tf") * (lit(k1) + 1) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(id)
      .agg(round(sum(col("contrib")), 6).as("bm25"), count(lit(1)).as("n_terms"))
      .orderBy(col("bm25").desc, col(id))
      .limit(k)
  }

  /** Connected components of an UNDIRECTED edge list by fixed-round
    * min-label propagation (mirrored internally). Returns (v, comp).
    * Rounds must be ≥ graph diameter for true components; a fixed count
    * keeps the result deterministic and cross-engine verifiable. At
    * 100 TB diameters switch to large-star/small-star contraction
    * (same join+min building blocks, O(log n) rounds). */
  def connectedComponents(und: DataFrame, u: String, v: String,
                          iters: Int): DataFrame = {
    val fwd = und.select(col(u).as("src"), col(v).as("dst"))
    // consumed every round (plus the node build): materialize once —
    // without this each round re-runs the upstream edge derivation
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .truncated()
    connectedComponentsSym(edges, iters)
  }

  /** [[connectedComponents]] over an ALREADY-SYMMETRIC (src, dst) edge
    * table — the entry point for a src-partitioned checkpoint (e.g.
    * `Graph.persistedSymEdges`): no symmetrize, no re-materialization;
    * the checkpoint IS the materialization, and its hash partitioning
    * rides through every round's edge-side join with zero Exchange. */
  def connectedComponentsSym(edges: DataFrame, iters: Int): DataFrame = {
    // the node set from dst (= src on a symmetric graph): a distinct
    // over the partitioning column would run both aggregation phases in
    // one task, each holding a full Tungsten page however few rows it
    // has — on a src-partitioned edge checkpoint at sf0.001 that alone
    // raised graph_fixpoint's heap peak from ~150 to ~205 MB
    // (local[4], 2 GB heap). Over dst the partial phase shuffles first.
    val init = edges.select(col("dst").as("v")).distinct()
      .select(col("v"), col("v").as("dist"))
    // min-label propagation IS Bellman-Ford on zero-cost edges with
    // init = own id: runs on the shared delta-iteration core (frontier
    // joins + sound early exit; NO broadcast hints — AQE broadcasts the
    // frontier once it shrinks, keeping billion-vertex graphs safe)
    relaxRoundsFrom(edges.withColumn("w", lit(0L)), init, iters)
      .select(col("v"), col("dist").as("comp"))
  }

  /** Incremental connected components over an edge DELTA: instead of
    * re-running CC on the full graph, contract every base component to
    * its label (the min vertex id), map the delta edges through the
    * labels, and run CC only on that contracted graph — whose size is
    * ∝ components TOUCHED by the delta, not the base graph. The final
    * label of a vertex is its base label re-mapped through the
    * contracted result; since every label is a min-id, the composition
    * yields exactly the min vertex id of the merged component — i.e.
    * IDENTICAL labels to a cold CC on base ∪ delta (CcIncrementalSpec
    * asserts the exact equality). A daily edge delta costs one tiny CC
    * plus two broadcast-sized label joins, never a full-graph pass.
    * `baseLabels` is (v, comp) from any of the CC cores.
    *
    * The contracted CC runs TO FIXPOINT (connectedComponentsAuto), not
    * a caller-guessed round count: label contraction can CHAIN many
    * previously-separate components through one delta, so the
    * contracted graph may need more min-label rounds than the base
    * graph ever did — a fixed count would silently yield non-minimal
    * labels exactly when the delta is most interesting. The contracted
    * graph is small by construction, so the fixpoint run is cheap. */
  def connectedComponentsIncremental(baseLabels: DataFrame, deltaUnd: DataFrame,
                                     u: String, v: String): DataFrame = {
    val lbl = baseLabels.select(col("v").as("__v"), col("comp").as("__c"))
      .truncated() // consumed 3×: both endpoint maps + the new-vertex anti-join
    val mapped = deltaUnd.select(col(u).as("a"), col(v).as("b"))
      .join(lbl, col("a") === col("__v"), "left")
      .select(coalesce(col("__c"), col("a")).as("ca"), col("b"))
      .join(lbl, col("b") === col("__v"), "left")
      .select(col("ca"), coalesce(col("__c"), col("b")).as("cb"))
      .filter(col("ca") =!= col("cb")) // intra-component deltas are no-ops
    val contracted = connectedComponentsAuto(mapped, "ca", "cb")
      .select(col("v").as("__cv"), col("comp").as("__cc"))
    // base vertices keep their labels; delta-only vertices enter as
    // their own singleton labels — then everything re-maps through the
    // contracted components
    val allV = baseLabels.select(col("v"), col("comp"))
      .unionByName(
        deltaUnd.select(col(u).as("v")).unionAll(deltaUnd.select(col(v).as("v")))
          .distinct()
          .join(lbl, col("v") === col("__v"), "left_anti")
          .select(col("v"), col("v").as("comp")))
    allV.join(contracted, col("comp") === col("__cv"), "left")
      .select(col("v"), coalesce(col("__cc"), col("comp")).as("comp"))
  }

  /** A src-keyed edge checkpoint (src, dst[, w], d[, s]) that reports
    * its hash partitioning on src; `closed`: no node dangles and every
    * node receives a message each PageRank round. */
  private[graft] final case class KeyedEdges(df: DataFrame, closed: Boolean)

  /** Key `edges` (src, dst[, w]) on src: repartition into the session's
    * shuffle-partition count (explicit, so AQE cannot coalesce it), fuse
    * the src's out-degree `d` (and out-strength `s` = Σw) from a window
    * over that partitioning (no extra shuffle), [[truncate]] (both
    * checkpoint modes, Memo-registered) and report
    * `HashPartitioning(src, n)`. The same job observes whether the graph
    * is closed: src and dst hold the same multiset (compared by sums of
    * each 32-bit half of xxhash64, exact whatever the row order) and
    * every one of `nodes` has an out-edge. */
  private[graft] def keyedEdges(edges: DataFrame, nodes: Seq[Long] = Nil): KeyedEdges = {
    val n = edges.sparkSession.sessionState.conf.numShufflePartitions
    val bySrc = Window.partitionBy("src")
    val fused = count(lit(1)).over(bySrc).as("d") +:
      (if (edges.columns.contains("w")) Seq(sum(col("w")).over(bySrc).as("s")) else Nil)
    def halves(c: String): Seq[Column] = Seq(
      sum(xxhash64(col(c)).bitwiseAND(0xFFFFFFFFL)).as(s"${c}_lo"),
      sum(shiftrightunsigned(xxhash64(col(c)), 32)).as(s"${c}_hi"))
    val present = nodes.zipWithIndex.map { case (v, i) =>
      max(when(col("src") === v, lit(1))).as(s"node$i") }
    val obs = org.apache.spark.sql.Observation()
    val metrics = halves("src") ++ halves("dst") ++ present
    val ckpt = edges.repartition(n, col("src")).select(col("*") +: fused: _*)
      .observe(obs, metrics.head, metrics.tail: _*)
      .truncated()
    val closed = observed(obs).exists(m => m.get(0) == m.get(2) && m.get(1) == m.get(3) &&
      (4 until m.length).forall(i => m.get(i) == 1))
    KeyedEdges(org.apache.spark.sql.graft.KeyedCheckpoint.hashPartitioned(ckpt, Seq("src"), n),
      closed)
  }

  /** Node table of keyed edges plus `sources`: (v, p, dang), p the jump
    * share, dang for a node without out-edges. */
  private def rankNodes(edges: DataFrame, sources: Seq[Long]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("src").as("v"), lit(false).as("dang"))
      .unionAll(edges.select(col("dst").as("v"), lit(true).as("dang")))
      .unionAll(sources.toDF("v").select(col("v"), lit(true).as("dang")))
      .groupBy("v").agg(min(col("dang")).as("dang"))
      .select(col("v"), when(col("v").isin(sources: _*), lit(1.0 / sources.length))
        .otherwise(lit(0.0)).as("p"), col("dang"))
      .truncated()
  }

  /** The one PageRank core (reference semantics:
    * a4/RunPersonalizedPageRankBasic.java — α jump mass returns only to
    * the source nodes, split evenly; mass lost at dangling nodes, those
    * without out-edges, is redistributed the same way, so Σr = 1 holds
    * every round):
    *
    *   r₀(v)   = p(v)                         p = 1/|sources| on sources
    *   rₖ₊₁(v) = (1-α)·(Σ_{u→v} msg(rₖ(u)) + mₖ·p(v)) + α·p(v)
    *   mₖ      = Σ_{dangling u} rₖ(u)
    *
    * `msg` is the per-edge message over the src rank `r` and the fused
    * edge columns (`r / d`, `r / s * w`). Each round is ONE aggregation
    * on v over the messages ∪ one jump row per node carrying p and the
    * round's m, in the oracles' float order; only the |V| rank table
    * shuffles, and AQE (no hint) broadcasts it while it fits. A closed
    * graph skips the dangling term and the node table: the jump rows
    * are the sources, and round 1 reads r₀ off each edge's src. `init`
    * (v, r) warm-starts; nodes it lacks start at 0. Returns (v, r). */
  private[graft] def pageRank(edges: KeyedEdges, msg: Column, sources: Seq[Long],
                              alpha: Double, iters: Int,
                              init: Option[DataFrame] = None): DataFrame = {
    require(sources.nonEmpty, "personalized PageRank needs at least one source node")
    val spark = edges.df.sparkSession
    import spark.implicits._
    val e = edges.df
    val open = !edges.closed || init.isDefined || iters == 0
    val nul = lit(null).cast("double")
    val jumps =
      if (open) rankNodes(e, sources)
      else sources.toDF("v").select(col("v"), lit(1.0 / sources.length).as("p"))
    val flag = if (open) Seq(col("dang")) else Nil
    def round(messages: DataFrame, m: Option[DataFrame]): DataFrame = {
      val jumpRows = m.fold(jumps.select(col("v"), nul.as("c"), col("p")))(
        mm => jumps.crossJoin(broadcast(mm)).select(col("v"), nul.as("c"), col("p"), col("dang"), col("m")))
      val dm = if (open) coalesce(max(col("m")) * max(col("p")), lit(0.0)) else lit(0.0)
      messages.select(col("v") +: col("c") +: nul.as("p") +:
          (if (open) Seq(lit(null).cast("boolean").as("dang"), nul.as("m")) else Nil): _*)
        .unionAll(jumpRows)
        .groupBy("v")
        .agg((lit(1 - alpha) * (coalesce(sum(col("c")), lit(0.0)) + dm) +
          lit(alpha) * coalesce(max(col("p")), lit(0.0))).as("r"),
          (if (open) Seq(max(col("dang")).as("dang")) else Nil): _*)
    }
    // m summed exactly in DECIMAL (Σr ≤ 1): independent of row order, so
    // a warm start continues the cold iteration bit for bit
    def dangling(ranks: DataFrame): Option[DataFrame] =
      if (open) Some(ranks.filter(col("dang"))
        .agg(coalesce(sum(col("r").cast("decimal(38,30)")).cast("double"), lit(0.0)).as("m")))
      else None
    var ranks = init.fold(jumps.select(col("v") +: col("p").as("r") +: flag: _*))(i =>
      jumps.join(i.select(col("v"), col("r")), Seq("v"), "left")
        .select(col("v") +: coalesce(col("r"), lit(0.0)).as("r") +: flag: _*))
    for (k <- 1 to iters) {
      val messages =
        if (k == 1 && init.isEmpty)
          e.withColumn("r", when(col("src").isin(sources: _*), lit(1.0 / sources.length))
            .otherwise(lit(0.0)))
        else e.join(ranks, e("src") === ranks("v"))
      ranks = round(messages.select(col("dst").as("v"), msg.as("c")), dangling(ranks))
      // an open round reads the previous ranks twice: bound the plan
      if (open && k % 3 == 0 && k < iters) ranks = ranks.truncated()
    }
    ranks.select(col("v"), col("r"))
  }

  /** Personalized PageRank over an ARBITRARY directed edge list on the
    * [[pageRank]] core (PageRankDanglingSpec: Σr = 1 when most nodes
    * dangle). */
  def personalizedPageRank(edges0: DataFrame, srcCol: String, dstCol: String,
                           sources: Seq[Long], alpha: Double = 0.15,
                           iters: Int = 5): DataFrame =
    pageRank(keyedEdges(edges0.select(col(srcCol).as("src"), col(dstCol).as("dst")), sources),
      col("r") / col("d"), sources, alpha, iters)

  /** Warm-start variant of [[personalizedPageRank]]: iterate on
    * `edges0` starting from an EXISTING rank table `init` (v, r)
    * instead of the personalization vector — the incremental path when
    * an edge delta lands on a graph whose ranks are already converged.
    * Nodes new to the graph start at rank 0; Σr is preserved by the
    * iteration (mass only moves), so a base Σr = 1 stays 1. A small
    * delta perturbs ranks locally and 1–2 rounds re-converge — against
    * 5+ cold-start rounds over the full graph. */
  def personalizedPageRankFrom(edges0: DataFrame, srcCol: String, dstCol: String,
                               sources: Seq[Long], init: DataFrame,
                               alpha: Double = 0.15, iters: Int = 2): DataFrame =
    pageRank(keyedEdges(edges0.select(col(srcCol).as("src"), col(dstCol).as("dst")), sources),
      col("r") / col("d"), sources, alpha, iters, Some(init))

  /** Weighted variant of [[personalizedPageRank]]: each edge carries a
    * weight column; a node's rank flows out PROPORTIONALLY to edge
    * weight (r/s·w with s = out-strength Σw) instead of uniformly
    * (r/d). Dangling = no out-edges, exactly as unweighted; Σr = 1
    * holds by the same argument (weights normalize per node). */
  def personalizedPageRankWeighted(edges0: DataFrame, srcCol: String,
                                   dstCol: String, wCol: String,
                                   sources: Seq[Long], alpha: Double = 0.15,
                                   iters: Int = 5): DataFrame =
    pageRank(keyedEdges(edges0.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("double").as("w")), sources),
      col("r") / col("s") * col("w"), sources, alpha, iters)

  /** Log-space variant of [[personalizedPageRank]] (reference:
    * a4/RunPersonalizedPageRankBasic.java sums mass in log space).
    * Ranks are carried as ln r throughout; every per-node combination
    * is a log-sum-exp, so masses far below double range (deep
    * iteration chains, tiny personalized sources, float32 ports)
    * neither underflow to 0 nor lose relative precision. Returns
    * (v, lr) with lr = ln r; PageRankDanglingSpec asserts
    * exp(lr) matches the linear-space ranks to 1e-12.
    *
    * It reads [[pageRank]]'s keyed edges and node table but keeps its
    * own round: the per-dst log-sum-exp needs a max before the sum, so
    * each iteration pays TWO shuffles on the rank table instead of one —
    * the price of the numeric guard. */
  def personalizedPageRankLog(edges0: DataFrame, srcCol: String, dstCol: String,
                              sources: Seq[Long], alpha: Double = 0.15,
                              iters: Int = 5): DataFrame = {
    require(sources.nonEmpty, "personalized PageRank needs at least one source node")
    val NegInf = Double.NegativeInfinity
    val edges = keyedEdges(edges0.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      sources).df
    val base = rankNodes(edges, sources)
      .select(col("v"), when(col("p") > 0, lit(math.log(1.0 / sources.length)))
        .otherwise(lit(NegInf)).as("lnp"), col("dang"))
    var lranks = base.select(col("v"), col("lnp").as("lr"), col("dang"))
    for (i <- 1 to iters) {
      // per-edge contribution in log space: lr(u) − ln d(u). ln 0 = -inf
      // carries no mass: drop it here, or a dst whose in-neighbors ALL
      // hold zero mass would compute exp(-inf − -inf) = NaN inside its
      // log-sum-exp
      val flowing = edges.join(lranks, edges("src") === lranks("v"))
        .select(col("dst").as("v"), (col("lr") - log(col("d"))).as("lc"))
        .filter(col("lc") > NegInf)
      // per-dst log-sum-exp: max first, then ln Σ exp(lc − max) + max
      val mx = flowing.groupBy("v").agg(max(col("lc")).as("mx"))
      val contrib = flowing.join(mx, "v")
        .groupBy("v")
        .agg((first(col("mx")) + log(sum(exp(col("lc") - col("mx"))))).as("lse_c"))
      // dangling mass, also as a log-sum-exp scalar
      val dang = lranks.filter(col("dang") && col("lr") > NegInf)
      val dmx = dang.agg(coalesce(max(col("lr")), lit(NegInf)).as("dmx"))
      // a global agg over an empty dangling set still yields one row
      // (null aggregates), so the coalesce pins mdl to -inf there
      val dangLse = dang.crossJoin(broadcast(dmx))
        .agg(coalesce(first(col("dmx")) + log(sum(exp(col("lr") - col("dmx")))),
          lit(NegInf)).as("mdl"))
      val lnA = math.log(alpha); val ln1A = math.log(1 - alpha)
      lranks = base.join(contrib, Seq("v"), "left")
        .crossJoin(broadcast(dangLse))
        .select(col("v"), col("dang"),
          (lit(ln1A) + coalesce(col("lse_c"), lit(NegInf))).as("t1"),
          (lit(ln1A) + col("mdl") + col("lnp")).as("t2"),
          (lit(lnA) + col("lnp")).as("t3"))
        .select(col("v"), col("dang"), greatest(col("t1"), col("t2"), col("t3")).as("mx"),
          col("t1"), col("t2"), col("t3"))
        .select(col("v"),
          when(col("mx") === NegInf, lit(NegInf))
            .otherwise(col("mx") + log(
              exp(col("t1") - col("mx")) + exp(col("t2") - col("mx")) +
                exp(col("t3") - col("mx")))).as("lr"), col("dang"))
      if (i % 3 == 0) lranks = lranks.truncated()
    }
    lranks.select(col("v"), col("lr"))
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14): each round hangs every node off the minimum
    * of its neighborhood, halving tree heights — converges in O(log n)
    * rounds regardless of graph DIAMETER, where min-label propagation
    * needs diameter-many rounds. This is the 100 TB path for
    * long-chain graphs (web graphs, link chains); labels are identical
    * to `connectedComponents` at convergence (CcLogNSpec asserts it).
    *
    * Each star round is a both-direction neighbor expand + min-groupBy
    * + one join — the same shuffle shape as a propagation round, on an
    * edge set that only shrinks. Convergence is checked by set
    * equality in ONE action per round: both sides are distinct sets, so
    * tagging each side with a bit and counting pairs whose tag-sum says
    * "present in both" against the distinct-union total decides equality
    * in a single aggregation job. */
  def connectedComponentsLogN(und: DataFrame, u: String, v: String,
                              maxRounds: Int = 25): DataFrame = {
    def star(edges: DataFrame, large: Boolean): DataFrame = {
      val nbr = edges.select(col("u"), col("v"))
        .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val m = nbr.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val joined = nbr.join(m, "u")
      val hung = (if (large) joined.filter(col("v") > col("u"))
                  else joined.filter(col("v") <= col("u")))
        .select(col("v").as("u"), col("m").as("v"))
      val withSelf = if (large) hung
                     else hung.unionAll(m.select(col("u"), col("m").as("v")))
      withSelf.filter(col("u") =!= col("v")).distinct()
    }
    // node universe from the RAW input: a vertex appearing only in
    // self-loop edges must still receive a label (self-loops are
    // filtered from the contraction, not from the graph)
    val allNodes = und.select(col(u).as("n"))
      .unionAll(und.select(col(v).as("n"))).distinct().truncated()
    val init = und.select(col(u).as("u"), col(v).as("v"))
      .filter(col("u") =!= col("v")).distinct().truncated()
    var cur = init
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val next = star(star(cur, large = true), large = false).truncated()
      // single-action set equality: next/cur are distinct, so per-pair
      // tag-sum 3 ⟺ in both; sets equal ⟺ every union pair is in both
      val eq = next.select(col("u"), col("v"), lit(1).as("side"))
        .unionAll(cur.select(col("u"), col("v"), lit(2).as("side")))
        .groupBy("u", "v").agg(sum(col("side")).as("s"))
        .agg(count(lit(1)).as("total"),
          count(when(col("s") === 3, lit(1))).as("both"))
        .head()
      converged = eq.getLong(0) == eq.getLong(1)
      cur = next
      round += 1
    }
    require(converged, s"star contraction did not converge in $maxRounds rounds")
    // fixpoint: every non-min node points at its component min
    allNodes.join(cur, allNodes("n") === cur("u"), "left")
      .select(col("n").as("v"), coalesce(cur("v"), col("n")).as("comp"))
  }

  /** Shallow-graph probe for [[connectedComponentsAuto]]: BFS from a
    * few deterministically-sampled seeds (hash-min vertices), capped at
    * `probeRounds` frontier expansions. Returns true iff every seed's
    * component was exhausted within the cap — i.e. seed eccentricity ≤
    * probeRounds, so (for the probed components) diameter ≤
    * 2·probeRounds. Cost is bounded: at most probeRounds rounds of the
    * SAME join shape as one propagation round, and on deep graphs the
    * frontier stays small (a chain's frontier is ≤ 2·seeds rows).
    * Sampling caveat: components containing no seed are unprobed — a
    * giant shallow component plus an unlucky unseeded long chain can
    * misroute; raise `numSeeds` when component counts are high. */
  def ccProbeShallow(und: DataFrame, u: String, v: String,
                     numSeeds: Int = 3, probeRounds: Int = 6): Boolean = {
    val fwd = und.select(col(u).as("src"), col(v).as("dst"))
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).truncated()
    val seeds = edges.select(col("src").as("n")).distinct()
      .orderBy(xxhash64(col("n")), col("n")).limit(numSeeds).truncated()
    var visited = seeds
    var frontier = seeds
    var exhausted = false
    var r = 0
    while (r < probeRounds && !exhausted) {
      frontier = edges.join(frontier, edges("src") === frontier("n"))
        .select(col("dst").as("n")).distinct()
        .join(visited, Seq("n"), "left_anti").truncated()
      exhausted = frontier.isEmpty
      visited = visited.unionAll(frontier).truncated() // disjoint by the anti-join
      r += 1
    }
    exhausted
  }

  /** Cost-based connected-components dispatch: probe the graph's depth
    * with [[ccProbeShallow]], then route —
    *   shallow (seed BFS exhausted within the cap) → min-label
    *     propagation run to FIXPOINT: comp labels only ever decrease,
    *     so the label sum is strictly monotone until convergence and
    *     ONE tiny agg action per round decides it (no fixed round
    *     count to guess; the multi-seed BFS bound does NOT soundly
    *     bound the diameter, so fixed rounds would be a correctness
    *     gamble). Cheapest per round: one |V| shuffle.
    *   deep (probe cap hit, or propagation still live at maxRounds —
    *     a misrouting seed sample) → large-star/small-star contraction:
    *     O(log n) rounds regardless of diameter.
    * Labels are the component minimum either way (CcAutoSpec asserts
    * both routes against both cores). */
  def connectedComponentsAuto(und: DataFrame, u: String, v: String,
                              numSeeds: Int = 3, probeRounds: Int = 6,
                              maxRounds: Int = 25): DataFrame = {
    if (!ccProbeShallow(und, u, v, numSeeds, probeRounds))
      return connectedComponentsLogN(und, u, v)
    val fwd = und.select(col(u).as("src"), col(v).as("dst"))
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .truncated()
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("comp", col("v")).truncated()
    var prevSum: Option[java.math.BigDecimal] = None
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val nbrMin = edges.join(labels, edges("src") === labels("v"))
        .groupBy(edges("dst").as("v")).agg(min(col("comp")).as("nc"))
      // checkpoint every round: the convergence agg materializes the
      // round anyway, and it keeps the dynamic-length lineage flat
      labels = labels.join(nbrMin, Seq("v"), "left")
        .select(col("v"), least(col("comp"), coalesce(col("nc"), col("comp"))).as("comp"))
        .truncated()
      // monotone convergence witness: equal sum ⟺ no label changed
      // (decimal(38,0): immune to long overflow on huge id sums;
      // null sum = empty graph = trivially converged)
      val s = labels.agg(sum(col("comp").cast("decimal(38,0)")).as("s")).head().getDecimal(0)
      converged = (s == null) || prevSum.exists(_.compareTo(s) == 0)
      prevSum = Option(s)
      round += 1
    }
    if (converged) labels else connectedComponentsLogN(und, u, v)
  }

  /** Approximate closeness centrality from K deterministically-sampled
    * sources (the Eppstein–Wang estimator): one BFS tracks hop
    * distance PER (source, vertex) pair — the frontier-delta loop of
    * [[bfsHops]] with a two-column key — then
    * closeness(v) = n_sources_reaching(v) / Σ_s d(s, v). Sources are
    * the K hash-min vertices (md5 order, like the k-means seeds), so a
    * SQL oracle replays the identical sample. Exact when K ≥ |V|.
    *
    * Scale: the distance table is K×|reached| rows, shuffled once per
    * round on the co-partitioned edge layout; K is a constant (tens),
    * so the cost is K BFS sweeps sharing every scan — not K jobs. */
  /** The (s, v, dist) table K sampled BFS sweeps produce — the shared
    * forward phase [[closenessSampled]] and harmonic centrality both
    * aggregate from (r12 split so the two readouts share one memoized
    * sweep). Delta iteration with sound early exit, unit weights ⇒
    * first reach is final. */
  def sourceDistancesSampled(und: DataFrame, u: String, v: String,
                             k: Int, rounds: Int): DataFrame = {
    val fwd = und.select(col(u).as("src"), col(v).as("dst"))
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .truncated()
    val sources = edges.select(col("src").as("n")).distinct()
      .orderBy(md5(col("n").cast("string")), col("n")).limit(k)
      .select(col("n").as("s"))
    var dist = sources.select(col("s"), col("s").as("v"), lit(0L).as("dist"))
      .truncated()
    var frontier = dist
    var i = 0
    var settled = false
    while (i < rounds && !settled) {
      val relax = edges.join(frontier, edges("src") === frontier("v"))
        .groupBy(col("s"), edges("dst").as("v"))
        .agg((min(col("dist")) + 1L).as("nd"))
      val joined = dist.join(relax, Seq("s", "v"), "full")
        .select(col("s"), col("v"),
          least(coalesce(col("dist"), col("nd")),
            coalesce(col("nd"), col("dist"))).as("d2"),
          (col("dist").isNull).as("__chg")) // unit weights: first reach is final
        .truncated()
      frontier = joined.filter(col("__chg"))
        .select(col("s"), col("v"), col("d2").as("dist"))
      dist = joined.select(col("s"), col("v"), col("d2").as("dist"))
      settled = frontier.isEmpty
      i += 1
    }
    dist
  }

  def closenessSampled(und: DataFrame, u: String, v: String,
                       k: Int, rounds: Int): DataFrame =
    closenessOf(sourceDistancesSampled(und, u, v, k, rounds))

  /** Closeness readout over a (s, v, dist) table: n_reaching / Σd. */
  def closenessOf(dist: DataFrame): DataFrame =
    dist.groupBy("v")
      .agg(count(lit(1)).as("n_src"), sum(col("dist")).as("sum_dist"))
      .select(col("v"), col("n_src"), col("sum_dist"),
        when(col("sum_dist") === 0, lit(0.0))
          .otherwise(round(col("n_src") / col("sum_dist"), 6)).as("closeness"))

  /** Harmonic centrality readout over the same (s, v, dist) table:
    * Σ_s 1/d(s,v) over the REACHING sources with d > 0 — the
    * Boldi–Vigna recommendation over closeness (finite and meaningful
    * under disconnection, where closeness degenerates). Each 1/d is
    * quantized to exact integer micro-units BEFORE the sum (floor of
    * 1e6/d + 0.5, one double division then exact integers), so the
    * per-vertex sum is order-free and a SQL oracle replays it
    * bit-for-bit — a raw float Σ 1/d would depend on aggregation
    * order. */
  def harmonicOf(dist: DataFrame): DataFrame =
    dist.filter(col("dist") > 0)
      .groupBy("v")
      .agg(count(lit(1)).as("n_reaching"),
        sum(expr("CAST(floor(1000000.0 / dist + 0.5) AS BIGINT)")).as("h_micro"))
      .select(col("v"), col("n_reaching"),
        round(col("h_micro") / 1e6, 6).as("harmonic"))

  /** Approximate betweenness centrality from K deterministically-
    * sampled sources — Brandes' algorithm (2001), the forward phase
    * shared in shape with [[closenessSampled]]:
    *
    *   forward:  level-synchronous BFS per (source, vertex) pair that
    *             also accumulates σ(s,v), the NUMBER of shortest s→v
    *             paths (σ of a new vertex = Σ σ of its predecessors);
    *   backward: dependency accumulation from the deepest level up,
    *             δ(s,u) = Σ_{u→w, d(w)=d(u)+1} σ(s,u)/σ(s,w)·(1+δ(s,w)),
    *             one groupBy per level;
    *   result:   bc(v) = Σ_s δ(s,v) / 2 (undirected halving).
    *
    * Sources are the K hash-min vertices (md5 order), so a SQL oracle
    * replays the identical sample; δ is rounded to 9 dp per level
    * (the kmeans discipline) so both engines sum identical numbers.
    * Each phase is ≤ `rounds` joins of (s,v)-keyed tables against the
    * checkpointed edge set — K sweeps sharing every scan. */
  def betweennessSampled(und: DataFrame, u: String, v: String,
                         k: Int, rounds: Int): DataFrame = {
    val fwd = und.select(col(u).as("src"), col(v).as("dst"))
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .truncated()
    val sources = edges.select(col("src").as("n")).distinct()
      .orderBy(md5(col("n").cast("string")), col("n")).limit(k)
      .select(col("n").as("s"))
    // forward: one DataFrame per BFS level, (s, v, sigma); `seen` is a
    // CUMULATIVE checkpointed (s, v) table — round r anti-joins one
    // table, where re-unioning the level checkpoints each round would
    // cost O(L²) scans of them over the whole phase
    var level = sources.select(col("s"), col("s").as("v"), lit(1L).as("sigma"))
      .truncated()
    var levels = Vector(level)
    var seen = level.select(col("s"), col("v")).truncated()
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val nxt = edges.join(level, edges("src") === level("v"))
        .groupBy(col("s"), edges("dst").as("v")).agg(sum(col("sigma")).as("sigma"))
        .join(seen, Seq("s", "v"), "left_anti")
        .truncated()
      if (nxt.isEmpty) done = true
      else {
        levels :+= nxt; level = nxt
        seen = seen.unionAll(nxt.select(col("s"), col("v"))).truncated()
      }
      r += 1
    }
    // backward: δ per (s, v), deepest level first; each step is one
    // edge join between adjacent levels + a groupBy on the pred
    var delta = levels.last.select(col("s"), col("v"), lit(0.0).as("delta"))
      .truncated()
    var acc = delta
    for (lev <- levels.size - 2 to 0 by -1) {
      val succ = levels(lev + 1)
        .join(delta.select(col("s"), col("v"), col("delta")), Seq("s", "v"))
        .select(col("s"), col("v").as("w"), col("sigma").as("sw"), col("delta").as("dw"))
      val contrib = edges.join(succ, edges("dst") === succ("w"))
        .select(col("s"), edges("src").as("v"), col("sw"), col("dw"))
      delta = levels(lev).join(contrib, Seq("s", "v"), "left")
        .groupBy(col("s"), col("v"), col("sigma"))
        .agg(round(coalesce(sum(col("sigma") / col("sw") * (lit(1.0) + col("dw"))),
          lit(0.0)), 9).as("delta"))
        .select(col("s"), col("v"), col("sigma"), col("delta"))
        .truncated()
      acc = acc.unionAll(delta.select(col("s"), col("v"), col("delta")))
    }
    // sources contribute no dependency to themselves: drop (s, v = s)
    acc.filter(col("s") =!= col("v"))
      .groupBy("v").agg(round(sum(col("delta")) / 2, 6).as("betweenness"))
  }

  /** Strongly-connected components of a DIRECTED edge list, by
    * forward–backward reachability peeling (the FW-BW idea without the
    * recursion), with a degree-0 TRIM stage before each sweep round
    * (see `trim` below): per outer round, propagate an extremal priority to
    * fixpoint along edges (F = over ancestors) and along reversed edges
    * (B = over descendants). F and B are constant across an SCC (all
    * members share ancestor and descendant sets), and F(v) = B(v) = p
    * means the priority-p vertex is both an ancestor and a descendant
    * of v — i.e. in v's SCC — so the equality identifies whole SCCs,
    * which are labeled (min member id) and peeled; repeat on the rest.
    *
    * Priorities are md5-derived (60-bit, deterministic, effectively
    * random), so the condensation DAG peels its priority-local minima
    * AND maxima each round — expected O(log #SCCs) outer rounds where
    * sequential ids would peel an adversarial chain one SCC at a time.
    * Both extremes ride the same sweep (one label table, min + max
    * columns), so the double peel rate costs no extra jobs.
    *
    * Scale: every step is a |V|-row label table joined against the
    * (shrinking, checkpointed) edge set — the CC discipline. Sweeps are
    * DELTA iterations: each round joins the edge set only against the
    * FRONTIER (vertices whose labels changed last round — monotone
    * extremal propagation means an unchanged neighbor has nothing new
    * to contribute), so late rounds on long-converged regions cost a
    * frontier-sized broadcast join instead of a full |V| pass, and an
    * EMPTY frontier is the exact fixpoint witness — no separate
    * convergence aggregation. No broadcast hints; AQE decides.
    */
  def stronglyConnectedComponents(edges0: DataFrame, srcCol: String, dstCol: String,
                                  maxOuter: Int = 20, maxSweep: Int = 40,
                                  maxTrim: Int = 8): DataFrame = {
    val e0 = edges0.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct().truncated()
    // Priority UNIQUENESS is a soundness requirement, not a tuning knob:
    // if an ancestor and a descendant of v (not mutually reachable)
    // shared a priority, fm == bm could match and merge v into a wrong
    // SCC with no error. 60-bit md5 collides with probability ~|V|²/2⁶¹
    // — negligible, but not zero — so verify with one distinct-count
    // agg and salt the hash until unique (expected zero retries). The
    // oracle is an independent transitive closure, so the salt never
    // needs replaying.
    val vset = e0.select(col("src").as("v")).unionAll(e0.select(col("dst").as("v")))
      .distinct().truncated()
    def withPrio(s: Int): DataFrame = {
      val base = if (s == 0) col("v").cast("string")
                 else concat(col("v").cast("string"), lit("#" + s))
      vset.withColumn("p",
        conv(substring(md5(base), 1, 15), 16, 10).cast("long")).truncated()
    }
    var salt = 0
    var verts = withPrio(salt)
    // (total, distinct) in one agg: the total also seeds the outer
    // loop's running vertex count, so uniqueness costs no extra job
    def counts(vs: DataFrame): (Long, Long) = {
      val r = vs.agg(count(lit(1)).as("n"), countDistinct(col("p")).as("d")).head()
      (r.getLong(0), r.getLong(1))
    }
    var (nv, nDistinct) = counts(verts)
    while (nDistinct < nv) {
      salt += 1
      require(salt <= 4, "SCC priorities not unique after 4 salted re-hashes")
      verts = withPrio(salt)
      val c = counts(verts); nv = c._1; nDistinct = c._2
    }
    var edges = e0

    // BOTH extremal-priority propagations in one delta loop: per round,
    // one pass along edges updates the ancestor channels (fm/fx =
    // min/max prio over ancestors∪self) and one along reversed edges
    // the descendant channels (bm/bx) — a single |V|-row label table
    // and ONE checkpoint per round. Each round's edge joins read only
    // the FRONTIER (rows changed last round): monotone propagation
    // means an unchanged source contributes nothing new, so late rounds
    // over converged regions shrink to frontier-sized joins (AQE
    // broadcasts them once small). Empty frontier ⟺ fixpoint.
    def sweepBoth(vs: DataFrame, es: DataFrame): DataFrame = {
      var lab = vs.select(col("v"), col("p").as("fm"), col("p").as("fx"),
        col("p").as("bm"), col("p").as("bx")).truncated()
      var frontier = lab
      var r = 0
      var converged = false
      while (!converged && r < maxSweep) {
        val fn = es.join(frontier, es("src") === frontier("v"))
          .groupBy(es("dst").as("v"))
          .agg(min(col("fm")).as("nfm"), max(col("fx")).as("nfx"))
        val bn = es.join(frontier, es("dst") === frontier("v"))
          .groupBy(es("src").as("v"))
          .agg(min(col("bm")).as("nbm"), max(col("bx")).as("nbx"))
        val next = lab.join(fn, Seq("v"), "left").join(bn, Seq("v"), "left")
          .select(col("v"), col("fm"), col("fx"), col("bm"), col("bx"),
            least(col("fm"), coalesce(col("nfm"), col("fm"))).as("ufm"),
            greatest(col("fx"), coalesce(col("nfx"), col("fx"))).as("ufx"),
            least(col("bm"), coalesce(col("nbm"), col("bm"))).as("ubm"),
            greatest(col("bx"), coalesce(col("nbx"), col("bx"))).as("ubx"))
          .select(col("v"), col("ufm").as("fm2"), col("ufx").as("fx2"),
            col("ubm").as("bm2"), col("ubx").as("bx2"),
            (col("fm") =!= col("ufm") || col("fx") =!= col("ufx") ||
              col("bm") =!= col("ubm") || col("bx") =!= col("ubx")).as("__chg"))
          .withColumnsRenamed(Map("fm2" -> "fm", "fx2" -> "fx",
            "bm2" -> "bm", "bx2" -> "bx"))
          .truncated()
        frontier = next.filter(col("__chg")).drop("__chg")
        lab = next.drop("__chg")
        converged = frontier.isEmpty // cheap scan of the checkpoint
        r += 1
      }
      require(converged, s"SCC sweep did not converge in $maxSweep rounds")
      lab
    }

    var out = verts.limit(0).select(col("v"), col("v").as("scc"))

    // TRIM (the FW-BW-Trim stage, Hong et al. PPoPP'13): a vertex with
    // zero in-degree or zero out-degree in the CURRENT subgraph cannot
    // lie on a cycle, so it is its own singleton SCC — peel such
    // vertices iteratively (removing a layer exposes the next) before
    // paying a sweep. On singleton-heavy tails (chain suffixes after
    // the last back-edge, isolated fragments left by a peel) this
    // replaces whole sweep rounds with cheap degree checks: each trim
    // round is two distincts over the shrinking edge set + semi/anti
    // joins, vs a sweep round's three joins over a 5-column label
    // table. Capped at `maxTrim` rounds per outer round — the cap is
    // pure tuning (long open chains peel only from their ends, 2 per
    // round, and the sweep handles whatever trim leaves), never a
    // soundness issue.
    def trim(nVerts: Long): Long = {
      val before = verts
      var n = nVerts
      var r = 0
      var quiet = false
      while (!quiet && r < maxTrim) {
        // one checkpoint + one count per round (the count reads the
        // fresh checkpoint — cheap); peeled rows are reconstructed ONCE
        // after the loop, not per round
        val keep = verts
          .join(edges.select(col("src").as("v")).distinct(), Seq("v"), "left_semi")
          .join(edges.select(col("dst").as("v")).distinct(), Seq("v"), "left_semi")
          .truncated()
        val m = keep.count()
        if (m == n) quiet = true
        else {
          verts = keep
          edges = edges
            .join(keep.select(col("v").as("src")), Seq("src"), "left_semi")
            .join(keep.select(col("v").as("dst")), Seq("dst"), "left_semi")
            .select(col("src"), col("dst")).truncated()
          n = m
        }
        r += 1
      }
      if (n < nVerts)
        out = out.unionAll(before.join(verts, Seq("v"), "left_anti")
          .select(col("v"), col("v").as("scc")))
      n
    }

    var outer = 0
    var done = false
    while (!done && outer < maxOuter) {
      nv = trim(nv)
      if (nv == 0L) done = true
      else {
        val fb = sweepBoth(verts, edges)
        // group key is a string tag + the matched priority: the matched
        // vertex lies IN the SCC, so the key is unique per SCC, and the
        // F/B columns are SCC-constant so members agree on the branch
        val lab = fb
          .filter(col("fm") === col("bm") || col("fx") === col("bx"))
          .select(col("v"),
            when(col("fm") === col("bm"), concat(lit("n"), col("fm")))
              .otherwise(concat(lit("x"), col("fx"))).as("g"))
          .truncated()
        out = out.unionAll(
          lab.join(lab.groupBy("g").agg(min(col("v")).as("scc")), "g")
            .select(col("v"), col("scc")))
        verts = verts.join(lab, Seq("v"), "left_anti").truncated()
        nv = verts.count() // fresh checkpoint — a cheap scan
        edges = edges
          .join(verts.select(col("v").as("src")), Seq("src"), "left_semi")
          .join(verts.select(col("v").as("dst")), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")).truncated()
      }
      outer += 1
    }
    require(done, s"SCC peeling did not exhaust the graph in $maxOuter rounds")
    out
  }

  /** Triangle count of an UNDIRECTED edge list (cols u < v, distinct),
    * via degree-ordered orientation: wedges fan out from each edge's
    * lower-(degree, id) endpoint (bounded ~√|E|). The (degree, id)
    * order key is compared as a STRUCT (lexicographic), so neither
    * degree nor id is range-limited — no packed-long overflow.
    *
    * NO broadcast hints: the oriented edge set scales with the data, so
    * a forced broadcast dies long before 100 TB. AQE broadcasts it at
    * runtime while it fits; beyond that the wedge build and closing
    * semi-join run as shuffle joins partitioned on src/(u,w), where only
    * |E|-sized tables move — the wedge intermediates themselves are
    * never shuffled (they flow straight into the partial count). */
  /** Degree-ordered orientation shared by the exact count and the
    * wedge-sampling estimator: src = lower (degree, id) endpoint, odst
    * = the higher endpoint's (degree, id) struct (the wedge-join order
    * key). Checkpointed — every consumer reads it ≥ 3 times. */
  private def orientEdges(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // identical field names on both sides: CASE branches must agree on
    // the struct type, and the comparison is lexicographic (degree, id)
    val ordA = struct(col("da").as("d"), col("a").as("i"))
    val ordB = struct(col("db").as("d"), col("b").as("i"))
    und
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(
        when(ordA < ordB, col("a")).otherwise(col("b")).as("src"),
        when(ordA < ordB, col("b")).otherwise(col("a")).as("dst"),
        when(ordA < ordB, ordB).otherwise(ordA).as("odst"))
      .truncated()
  }

  /** Bloom pre-filter for the wedge → closing-edge semi join (guide
    * §3.2: reduce the big side before shuffling it). The Σ d_or(src)²
    * wedge stream is the triangle tier's decade-scale cost — 43 GB of
    * shuffle write at sf10 even after the r16 hash-semi-join fix —
    * while the closing-edge set it probes is only |E| rows. A Bloom
    * filter over xxhash64(src, dst) of the oriented edges (3% fpp ≈
    * 7.3 bits/edge) drops the wedges that cannot close BEFORE the
    * exchange; the exact semi join still decides membership, so the
    * result is INDEPENDENT of the filter (false positives cost only
    * undropped shuffle bytes).
    * Scale dispatch (parameterised, both cliffs real): AUTO engages
    * between spark.graft.triangleBloomMinEdges (default 2e6 — below
    * it the wedge stream is at most a few hundred MB and the build
    * job + per-wedge probe net out negative, so bench-scale graphs
    * keep the measured plain plan) and ...MaxEdges (default 2e8 —
    * above it the filter itself outgrows executor/driver memory at
    * ~1.2 GB per 10⁹ edges; shard the graph or raise fpp before
    * raising the cap). spark.graft.triangleBloom=true/false overrides
    * both ways. The filter ships by broadcast (once per executor, not
    * per task) and the probe is a native codegen predicate
    * (functions/BloomProbe.scala). Returns the registered probe
    * function name, or None for the plain plan. */
  private val triBloomIds = new java.util.concurrent.atomic.AtomicLong(0)
  private def wedgeBloomProbe(or: DataFrame): Option[String] = {
    val spark = or.sparkSession
    val mode = spark.conf.getOption("spark.graft.triangleBloom")
    if (mode.contains("false")) return None
    // numeric, so the 2e6 / 2e8 forms the defaults are written in parse
    def confLong(k: String, d: Long) = spark.conf.getOption(k).fold(d) { v =>
      scala.util.Try(BigDecimal(v.trim).toLongExact).getOrElse(
        throw new IllegalArgumentException(
          s"$k must be a whole number of edges (e.g. 2000000 or 2e6), got '$v'"))
    }
    val minEdges = confLong("spark.graft.triangleBloomMinEdges", 2000000L)
    val maxEdges = confLong("spark.graft.triangleBloomMaxEdges", 200000000L)
    val nEdges = or.count() // `or` is checkpointed — a cheap scan
    val on = mode.contains("true") ||
      (mode.isEmpty && nEdges >= minEdges && nEdges <= maxEdges)
    if (!on) None
    else {
      val bf = or.select(xxhash64(col("src"), col("dst")).as("h"))
        .stat.bloomFilter("h", math.max(nEdges, 1000L), 0.03)
      // both are released with the memos (Memo.releaseAll)
      val bc = Memo.registerBroadcast(spark.sparkContext.broadcast(bf))
      val name = Memo.registerFunction(spark, s"graft_tri_bloom_${triBloomIds.incrementAndGet()}")
      graft.functions.BloomProbe.register(spark, name, bc)
      Some(name)
    }
  }

  /** Wedge stream, Bloom-prefiltered when the dispatch engages; `a`/`b`
    * name the wedge's candidate closing-edge endpoint columns. */
  private def bloomedWedges(wedges: DataFrame, or: DataFrame,
                            a: String, b: String): DataFrame =
    wedgeBloomProbe(or) match {
      case Some(fn) => wedges.filter(expr(s"$fn(xxhash64($a, $b))"))
      case None     => wedges
    }

  def triangleCount(und0: DataFrame, u: String, v: String): DataFrame = {
    // localCheckpoint, not cache(): cache() survives in the CacheManager
    // keyed by canonicalized plan, so a later identical invocation (e.g.
    // a second bench pass) silently reuses it
    val und = und0.select(col(u).as("a"), col(v).as("b")).truncated()
    val or = orientEdges(und)
    val wedges = or.as("e1")
      .join(or.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.odst") < col("e2.odst"))
      .select(col("e1.dst").as("u"), col("e2.dst").as("w"))
    // SHUFFLE_HASH on the closure probe (r16): the default sort-merge
    // semi join SORTS the wedge stream — Σ d_or(src)² rows, BILLIONS at
    // sf10 on the co-purchase graph — which is what actually killed the
    // entry in both decade soaks (r15: spill filled the disk; r16: GC
    // heartbeat starvation). The hash semi join builds on the |E| edge
    // side (bounded, ~16 B/row per partition) and STREAMS the wedges
    // unsorted: wedge volume costs one pass, not a sort. Same rows.
    // r17: the stream is Bloom-prefiltered at scale (wedgeBloomProbe).
    bloomedWedges(wedges, or, "u", "w")
      .join(or.select(col("src").as("u"), col("dst").as("w")).hint("shuffle_hash"),
        Seq("u", "w"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .select(col("n_triangles"), col("n_edges"))
  }

  /** Per-node LOCAL CLUSTERING COEFFICIENT: 2·T_v / (d_v·(d_v−1)) from
    * per-node triangle counts — the degree-ordered enumeration finds
    * each triangle once (same plan as [[triangleCount]]), then credits
    * all three corners via one explode (3 rows per triangle, map-side
    * combined). Nodes below degree 2 score 0. One double division in a
    * 6-dp round, operand order fixed cross-engine.
    *
    * Scale: identical shuffle budget to the exact triangle count plus
    * a 3×T explode into a map-side-combinable groupBy; degrees join
    * back keyed on node. */
  def clusteringCoeff(und0: DataFrame, u: String, v: String): DataFrame = {
    val und = und0.select(col(u).as("a"), col(v).as("b")).truncated()
    val or = orientEdges(und)
    val tris = or.as("e1")
      .join(or.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.odst") < col("e2.odst"))
      .select(col("e1.src").as("p"), col("e1.dst").as("x"), col("e2.dst").as("y"))
    // hash semi join: stream the wedges, build on |E| (see
    // triangleCount — the sorted wedge stream is the decade killer);
    // r17: Bloom-prefiltered at scale like triangleCount
    val closed = bloomedWedges(tris, or, "x", "y")
      .join(or.select(col("src").as("x"), col("dst").as("y")).hint("shuffle_hash"),
        Seq("x", "y"), "left_semi")
    val perNode = closed
      .select(explode(array(col("p"), col("x"), col("y"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("v"), "left")
      .select(col("v"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"))
      .withColumn("coeff",
        when(col("degree") >= 2,
          round(lit(2.0) * col("n_triangles").cast("double") /
            (col("degree").cast("double") * (col("degree") - 1).cast("double")), 6))
          .otherwise(lit(0.0)))
  }

  /** Wedge-sampling triangle estimate (Seshadhri et al., SDM'13): the
    * DOULION complement. The sample rule lives on the wedge's HIGHER-
    * ordered edge (e2): a wedge is kept iff md5("w_" ++ e2) falls under
    * p, so the e2 side of the wedge self-join is thinned to ~p·|E| rows
    * BEFORE any pair materializes — enumeration itself shrinks ~p, not
    * just the closing probe (at toy scale this puts the sampled tier's
    * cost well under the exact count's, which shares the full join).
    * Every wedge still enters with marginal probability exactly p
    * (cut/10000), so estimate = closed/p stays unbiased; wedges sharing
    * a sampled e2 edge enter together (cluster sampling — mild positive
    * correlation, still degree-skew-robust where DOULION's 1/p³ scaling
    * inflates hub-heavy variance). The total wedge count comes from
    * out-degrees (Σ d·(d−1)/2 — an agg, not a wedge materialization).
    * Deterministic hash sampling: the SQL oracle replays the identical
    * sample. Returns (n_triangles_est, n_closed_in_sample,
    * n_sampled_wedges, n_wedges). */
  def triangleCountWedge(und0: DataFrame, u: String, v: String,
                         p: Double = 0.01): DataFrame = {
    require(p > 0 && p <= 1, s"sampling rate must be in (0, 1], got $p")
    val cut = math.round(p * 10000).toInt
    require(cut > 0 && math.abs(cut / 10000.0 - p) < 1e-9,
      s"sampling rate $p must be a positive multiple of 1e-4 (hash-bucket resolution)")
    val und = und0.select(col(u).as("a"), col(v).as("b")).truncated()
    val or = orientEdges(und)
    val totalWedges = or.groupBy("src").agg(count(lit(1)).as("od"))
      .agg(coalesce(sum(expr("od * (od - 1) div 2")), lit(0L)).as("n_wedges"))
    // "w_" salt keeps this edge hash disjoint from DOULION's (which
    // samples the same canonical pairs without a prefix)
    val e2 = or.filter(graft.functions.TextFns.hash32(
      concat(lit("w_"), col("src").cast("string"), lit("_"),
        col("dst").cast("string"))) % 10000 < cut)
      .truncated() // ~p·|E| rows, read by the join build side
    val sampled = or.as("e1")
      .join(e2.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.odst") < col("e2.odst"))
      .select(col("e1.dst").as("u"), col("e2.dst").as("w"))
      .truncated() // consumed by the sample count AND the closure
    val closed = sampled
      .join(or.select(col("src").as("u"), col("dst").as("w")), Seq("u", "w"), "left_semi")
      .agg(count(lit(1)).as("n_closed"))
    closed
      .crossJoin(sampled.agg(count(lit(1)).as("n_sampled_wedges")))
      .crossJoin(broadcast(totalWedges))
      .select(
        round(col("n_closed") / lit(p)).cast("long").as("n_triangles_est"),
        col("n_closed").as("n_closed_in_sample"),
        col("n_sampled_wedges"), col("n_wedges"))
  }

  /** Approximate triangle count by deterministic edge sampling
    * (Tsourakakis et al., DOULION, KDD'09): keep each edge iff an
    * md5-derived hash of the pair falls under p, exact-count the
    * sampled subgraph, scale by 1/p³. Wedge work drops ~p², which is
    * the practical mitigation when exact counting's Ω(Σ deg²) is too
    * hot on hub-heavy graphs. Hash sampling (not rand) keeps the
    * estimate reproducible on any cluster size AND lets a SQL oracle
    * replay the identical sample. Returns (n_triangles_est, n_exact_in
    * _sample, n_sampled_edges). */
  def triangleCountApprox(und0: DataFrame, u: String, v: String,
                          p: Double = 0.25): DataFrame = {
    require(p > 0 && p <= 1, s"sampling rate must be in (0, 1], got $p")
    // round, don't truncate: (0.0003 * 10000).toInt is 2, silently
    // biasing the estimate. The effective rate IS cut/10000, so any p
    // the bucket grid can't represent would bias the 1/p³ scaling —
    // reject it rather than estimate with the wrong constant.
    val cut = math.round(p * 10000).toInt
    require(cut > 0 && math.abs(cut / 10000.0 - p) < 1e-9,
      s"sampling rate $p must be a positive multiple of 1e-4 (hash-bucket resolution)")
    val sampled = und0.select(col(u).as("a"), col(v).as("b"))
      .filter(graft.functions.TextFns.hash32(
        concat(col("a").cast("string"), lit("_"), col("b").cast("string"))) % 10000 < cut)
    triangleCount(sampled, "a", "b")
      .select(
        round(col("n_triangles") / lit(p * p * p)).cast("long").as("n_triangles_est"),
        col("n_triangles").as("n_in_sample"),
        col("n_edges").as("n_sampled_edges"))
  }

  /** HITS hubs & authorities over a DIRECTED edge list (Kleinberg):
    * h(u) = Σ_{u→v} a(v), a(v) = Σ_{u→v} h(u), L1-normalized after
    * each half-step (authorities update against the CURRENT round's
    * hubs — the classic alternating schedule), fixed `iters` rounds so
    * a SQL oracle can unroll them. Final scores rounded 8 dp (the
    * PageRank discipline: no intermediate rounding; the final round
    * absorbs partial-aggregation ulps).
    *
    * Scale: per half-step one co-partitioned |E|⋈|V| join + a |V|
    * groupBy-sum (map-side partial); the L1 norm is a 1-row broadcast
    * scalar, never a driver collect. The edge checkpoint is not keyed
    * (hubs join it on dst, authorities on src), so unless AQE broadcasts
    * the score table each half-step also shuffles the |E| side, unlike
    * [[pageRank]]'s src-keyed edges. */
  def hits(edges0: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 5): DataFrame = {
    val edges = edges0.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().truncated()
    val nodes = edges.select(col("src").as("v"))
      .unionAll(edges.select(col("dst").as("v"))).distinct().truncated()
    var hub = nodes.withColumn("h", lit(1.0))
    var auth = nodes.withColumn("a", lit(1.0))
    for (_ <- 1 to iters) {
      // checkpoint each half-step's raw scores: the L1-norm scalar AND
      // the normalized table both consume them — unmaterialized, every
      // half-step would compute its join twice (and the iteration
      // lineage would compound); |V| rows per checkpoint
      val h0 = nodes.join(
        edges.join(auth, edges("dst") === auth("v"))
          .groupBy(edges("src").as("v")).agg(sum(col("a")).as("h")),
        Seq("v"), "left")
        .select(col("v"), coalesce(col("h"), lit(0.0)).as("h"))
        .truncated()
      hub = h0.crossJoin(broadcast(h0.agg(sum(col("h")).as("__s"))))
        .select(col("v"), (col("h") / col("__s")).as("h"))
      val a0 = nodes.join(
        edges.join(hub, edges("src") === hub("v"))
          .groupBy(edges("dst").as("v")).agg(sum(col("h")).as("a")),
        Seq("v"), "left")
        .select(col("v"), coalesce(col("a"), lit(0.0)).as("a"))
        .truncated()
      auth = a0.crossJoin(broadcast(a0.agg(sum(col("a")).as("__s"))))
        .select(col("v"), (col("a") / col("__s")).as("a"))
    }
    hub.join(auth, Seq("v"))
      .select(col("v"), round(col("h"), 8).as("hub"), round(col("a"), 8).as("auth"))
  }

  /** Synchronized label-propagation communities over an UNDIRECTED edge
    * list (Raghavan et al.): labels start as node ids; each round every
    * node adopts the most frequent label among its neighbors PLUS
    * itself (the self-vote damps the two-coloring oscillation sync LPA
    * exhibits on bipartite structure), ties → smallest label. A FIXED
    * round count keeps the SQL oracle exact; communities are the label
    * groups after `rounds`.
    *
    * Scale: one mirrored-edge join + a (v, label) groupBy-count + a
    * per-v max_by aggregation per round — all map-side partial shapes;
    * no window ever sees the full vertex set unsorted. */
  def labelPropagation(und: DataFrame, u: String, v: String,
                       rounds: Int): DataFrame = {
    val fwd = und.select(col(u).as("src"), col(v).as("dst"))
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .truncated()
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v"))
    for (i <- 1 to rounds) {
      val votes = edges.join(labels, edges("src") === labels("v"))
        .select(edges("dst").as("v"), col("lbl"))
        .unionAll(labels.select(col("v"), col("lbl")))
      labels = votes.groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("v"))
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("v"), (-col("m.nl")).as("lbl"))
      if (i % 2 == 0) labels = labels.truncated()
    }
    labels.select(col("v"), col("lbl").as("comm"))
  }

  /** One Louvain LEVEL (Blondel et al. 2008, phase 1): `rounds`
    * synchronized local-move sweeps over a WEIGHTED undirected graph
    * (`edges` (a,b,w) with a≠b, plus per-node self-loop weight table
    * `selfs` (v,sw) — nonempty only on aggregated levels). Every node
    * starts in its own community; each round every node evaluates, for
    * each community c among its neighbors' plus its own, the standard
    * gain comparator k_{v,c} − k_v·Σtot'_c/(2m) (Σtot'_c = the
    * community's incident-weight sum EXCLUDING v when c is v's current
    * community — so "stay" competes on equal terms) and adopts the
    * argmax, ties → smallest community label. Moves are PARITY-GATED:
    * in round r only nodes with v % 2 == r % 2 may move, the rest
    * keep their label — fully synchronous sweeps two-color a bipartite
    * graph (each side adopts the other's labels every round, ending
    * with ~all edges cross-community, Q ≈ −0.5); alternating
    * half-sweeps are the standard distributed desynchronization and
    * cost only 2× the rounds. Gated + fixed rounds + deterministic
    * tie-break = a SQL oracle replays every sweep exactly; the
    * comparator doubles are built from exact integer weights in a
    * pinned operation order, so both engines make bit-identical
    * argmax choices.
    *
    * Scale: per round one |E| join (neighbor-community weights), one
    * |V| join chain (k, Σtot, current label — all map-side-combine
    * groupBys), one bounded argmax aggregation. m rides along as a
    * broadcast 1-row aggregate. Nothing holds the vertex set in one
    * task.
    *
    * DELTA ITERATION (r12, opt-in `spark.graft.louvainDelta=true`):
    * the |E| join above runs only at each parity's FIRST sweep.
    * k_{v,c} is a pure function of v's neighbors' labels, so after
    * that the per-parity candidate table is maintained from the MOVE
    * SET — each vertex that changed label since the table's snapshot
    * contributes (−w to its old community, +w to its new) on each
    * incident edge, an un-hinted join the AQE runtime broadcasts once
    * the frontier shrinks. The result is BIT-IDENTICAL to the full
    * sweep (same inputs to the same argmax — LouvainDeltaSpec asserts
    * label-for-label equality both ways), so the unrolled SQL oracle
    * is unchanged either way. MEASURED trade at sf0.1/local[32]
    * (r12): 44 s delta vs 25 s full — the delta path spends three
    * eager jobs per round (snapshot merge, move set, labels) where
    * the lazy full sweep fuses two rounds into one job, and at toy
    * scale the scoring join chain, not the candidate build, is the
    * bound; hence OFF by default. The lever exists for the regime it
    * is designed for — |E| large enough that each round's edge
    * shuffle dwarfs per-job overhead and the settled frontier makes
    * the move set broadcast-sized. */
  /** Constraint propagation OFF for the duration of `body` (restored
    * after, even on throw). The louvain loop's parity gates are pmod
    * filters on both branches of a per-round label union; across the
    * 2-round fused plan InferFiltersFromConstraints recombines them
    * into a boolean expression that grows combinatorially — at sf1 the
    * r14 sweep measured a 37 KB single filter that blew janino's
    * 64 KB method limit and knocked the round's stage out of
    * whole-stage codegen (14 warnings across the family). Inferred
    * constraints are redundant-by-construction filters, so disabling
    * propagation changes PLAN SHAPE only, never results; every
    * expensive round-plan is optimized eagerly inside the loop (the
    * truncate actions), i.e. inside this window. */
  private val louvainRunIds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Conf-isolated level run (r14 advice): constraint propagation must
    * be OFF while the level's round plans are optimized — r14 found
    * InferFiltersFromConstraints exploding the parity filters into a
    * 37 KB Filter that silently blew janino's 64 KB limit — but the
    * old implementation flipped the SHARED session's SQLConf for the
    * whole run, so any concurrent query planned on the same session in
    * that window was optimized without the rule too. Now the flip
    * lives on a session CLONE (the q40/q59 pattern): runtime conf is
    * mirrored (newSession starts from defaults — the graft knobs
    * spark.graft.reliableCheckpoint / spark.graft.louvainDelta must
    * survive), the rule is disabled on the clone only, and the inputs
    * re-bind into the clone via global temp views — plan-preserving,
    * so pushdown/pruning are intact and every frame the body derives
    * plans under the clone's conf. The returned labels frame is
    * always truncated (a checkpointed LogicalRDD leaf, resolved and
    * catalog-free), so base-session callers compose it freely after
    * the views drop. */
  private def louvainLevel(edges: DataFrame, selfs: DataFrame,
                           rounds: Int,
                           init: Option[DataFrame] = None): DataFrame = {
    val base = edges.sparkSession
    val s = base.newSession()
    base.conf.getAll.foreach { case (k, v) =>
      try s.conf.set(k, v) catch { case _: Exception => () } // static keys
    }
    s.conf.set("spark.sql.constraintPropagation.enabled", "false")
    val runId = louvainRunIds.incrementAndGet()
    val names = scala.collection.mutable.ArrayBuffer[String]()
    def rebind(df: DataFrame, tag: String): DataFrame = {
      val n = s"graft_louvain_${tag}_$runId"
      df.createOrReplaceGlobalTempView(n)
      names += n
      s.table(s"global_temp.$n")
    }
    try louvainLevelBody(rebind(edges, "e"), rebind(selfs, "s"), rounds,
      init.map(rebind(_, "i")))
    finally names.foreach(n => s.catalog.dropGlobalTempView(n))
  }

  private def louvainLevelBody(edges: DataFrame, selfs: DataFrame,
                               rounds: Int,
                               init: Option[DataFrame] = None): DataFrame = {
    val sym = edges.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .truncated()
    val inc = sym.groupBy(col("src").as("v")).agg(sum(col("w")).as("kw"))
    val sl = selfs.groupBy("v").agg(sum(col("sw")).as("sw"))
    // k_v counts each incident edge once and a self-loop twice (the
    // degree convention under which Σ k_v = 2m)
    val k = inc.join(sl, Seq("v"), "full")
      .select(col("v"),
        (coalesce(col("kw"), lit(0L)) + lit(2L) * coalesce(col("sw"), lit(0L))).as("kv"))
      .truncated()
    // m is LOOP-INVARIANT: one driver-side scalar fetch here replaces
    // re-evaluating the same 1-row aggregate inside every round's DAG
    // (12 redundant scans of the checkpointed edge set at 8+4 rounds).
    // Exact integer sum cast double — the oracle's m CTE computes the
    // identical value.
    val mVal: Double = {
      val me = edges.agg(coalesce(sum(col("w")), lit(0L))).head.getLong(0)
      val ms = selfs.agg(coalesce(sum(col("sw")), lit(0L))).head.getLong(0)
      (me + ms).toDouble
    }
    // cold start: every node its own community; warm start: adopt the
    // supplied labels, unseen nodes fall back to singleton
    var labels = init match {
      case None => k.select(col("v"), col("v").as("lbl"))
      case Some(l0) => k.select(col("v"))
        .join(l0.select(col("v"), col("lbl")), Seq("v"), "left")
        .select(col("v"), coalesce(col("lbl"), col("v")).as("lbl"))
    }
    // delta-iteration state: per-parity candidate-weight snapshots and
    // the last two rounds' move sets. SCALE-DISPATCHED since r14
    // (explicit conf always wins): r12 measured delta 1.76x SLOWER at
    // sf0.1 (1.2M edges — per-round job overhead dominates) and the
    // r14 sf1 A/B measured it ~8% faster raw / 15-20% control-adjusted
    // (~12M edges, post codegen fix: 48.1-49.0 s vs 51.9-52.9 s), so
    // the default flips where each round's |E| shuffle, not job
    // overhead, is the bound. m (= |E| on unit-weight graphs) is
    // already computed, so the dispatch is free. LouvainDeltaSpec
    // asserts both paths agree label for label — dispatch can never
    // change results.
    val deltaOn = edges.sparkSession.conf
      .getOption("spark.graft.louvainDelta") match {
      case Some(v) => v == "true"
      case None    => mVal >= LouvainDeltaAutoEdges
    }
    louvainDispatchLog.add((mVal, deltaOn))
    val kvcCache = new Array[DataFrame](2)
    var movesPrev: DataFrame = null
    var movesPrev2: DataFrame = null
    for (i <- 1 to rounds) {
      // one |comms|-sized stats table per round: incident-weight sum
      // (Σtot) AND member count, in a single groupBy
      val stats = labels.join(k, Seq("v"))
        .groupBy(col("lbl").as("c"))
        .agg(sum(col("kv")).as("sig"), count(lit(1)).as("cnt"))
      // the parity gate is pushed INTO the |E| join input: only the
      // movable half's incident edges are joined and aggregated (the
      // other half's candidates would be discarded anyway — filtering
      // after the groupBy would pay the full corpus-sized shuffle
      // every round for rows that cannot move)
      val movable = pmod(col("v"), lit(2L)) === lit(i % 2.toLong)
      val srcMovable = pmod(col("src"), lit(2L)) === lit(i % 2.toLong)
      val kvc =
        if (!deltaOn || kvcCache(i % 2) == null) {
          val full = sym.filter(srcMovable)
            .join(labels.select(col("v").as("dst"), col("lbl").as("c")), Seq("dst"))
            .groupBy(col("src").as("v"), col("c")).agg(sum(col("w")).as("wc"))
          if (deltaOn && i + 2 <= rounds) full.truncated() else full
        } else {
          // this parity's snapshot is two rounds old: fold in the moves
          // from rounds i−2 (same parity) and i−1 (opposite — disjoint
          // vertex sets), each shifting its edge weight from the old to
          // the new community on every incident movable src. Un-hinted
          // join: AQE broadcasts the move set once the frontier shrinks.
          val mv = movesPrev.unionAll(movesPrev2)
          val delta = sym.filter(srcMovable)
            .join(mv, Seq("dst"))
            .select(col("src").as("v"), explode(array(
              struct(col("old_c").as("c"), (-col("w")).as("wc")),
              struct(col("new_c").as("c"), col("w").as("wc")))).as("d"))
            .select(col("v"), col("d.c").as("c"), col("d.wc").as("wc"))
          val merged = kvcCache(i % 2).unionAll(delta)
            .groupBy("v", "c").agg(sum(col("wc")).as("wc"))
            // weights are positive, so a zero-sum row means "no
            // neighbors left in c" — the full sweep would not emit it
            .filter(col("wc") =!= 0L)
          if (i + 2 <= rounds) merged.truncated() else merged
        }
      if (deltaOn) kvcCache(i % 2) = kvc
      val cand = kvc
        .unionAll(labels.filter(movable)
          .select(col("v"), col("lbl").as("c"), lit(0L).as("wc")))
        .groupBy("v", "c").agg(sum(col("wc")).as("wc"))
      val scored = cand
        .join(labels, Seq("v"))
        .join(k, Seq("v"))
        .join(stats, Seq("c"))
        .join(stats.select(col("c").as("lbl"), col("cnt").as("cur_cnt")), Seq("lbl"))
        // Grappolo's singleton ordering (Lu et al. 2015): a singleton
        // may merge into another singleton only toward the SMALLER
        // label — otherwise two lone adjacent movers adopt each other
        // and the sweep churns instead of agglomerating
        .filter(!(col("cur_cnt") === 1L && col("cnt") === 1L && col("c") > col("lbl")))
        .withColumn("sig_adj",
          col("sig") - when(col("c") === col("lbl"), col("kv")).otherwise(lit(0L)))
        .withColumn("score",
          col("wc").cast("double") -
            (col("kv").cast("double") * col("sig_adj").cast("double")) /
              (lit(2.0) * lit(mVal)))
      // argmax tie-break: STAY beats any equal-scoring move (without
      // this, zero-gain ties resolve toward smaller labels and a
      // SETTLED solution mass-migrates — measured Q 0.013 → −0.11 on
      // two no-delta warm sweeps), then smallest community label.
      // Grouping carries the current label through so the move set
      // (old → new per changed vertex) falls out of the same pass.
      val chosen = scored.groupBy(col("v"), col("lbl"))
        .agg(max(struct(col("score"),
          (col("c") === col("lbl")).cast("int").as("stay"),
          (-col("c")).as("nc"))).as("mx"))
        .select(col("v"), col("lbl").as("old_c"), (-col("mx.nc")).as("lbl"))
      if (deltaOn && rounds >= 3 && i + 1 <= rounds) {
        val ct = chosen.truncated()
        movesPrev2 = movesPrev
        movesPrev = ct.filter(col("old_c") =!= col("lbl"))
          .select(col("v").as("dst"), col("old_c"), col("lbl").as("new_c"))
        labels = ct.select(col("v"), col("lbl"))
          .unionAll(labels.filter(pmod(col("v"), lit(2L)) =!= lit(i % 2.toLong)))
      } else {
        labels = chosen.select(col("v"), col("lbl"))
          .unionAll(labels.filter(pmod(col("v"), lit(2L)) =!= lit(i % 2.toLong)))
      }
      if (i % 2 == 0) labels = labels.truncated()
    }
    // odd round counts: truncate the tail round too, so no plan built
    // here is ever optimized OUTSIDE the constraint-propagation-off
    // window (see withoutConstraintPropagation)
    if (rounds % 2 != 0) labels = labels.truncated()
    labels
  }

  /** Louvain community detection (Blondel et al. 2008): TWO levels of
    * [[louvainLevel]] local-move sweeps with a community-graph
    * aggregation between them — level 1 on the unit-weight input
    * graph, then communities contract to supernodes (inter-community
    * weights summed, internal weights becoming self-loops) and level 2
    * re-sweeps the contracted graph, whose m and Σ k are unchanged by
    * construction. Final labels compose the two levels and are
    * canonicalized to each community's minimum member vertex id. The
    * modularity-OPTIMIZING counterpart to [[labelPropagation]], which
    * honestly collapses bipartite corpus graphs to one community
    * (Q = 0); ModularitySpec measures Q(louvain) > Q(LPA) on both the
    * planted and corpus graphs.
    *
    * Scale: the aggregation is two |E| label joins + a groupBy on
    * community pairs; level 2 runs on the (much smaller) community
    * graph. Everything else is louvainLevel's per-round bound. */
  def louvain(und: DataFrame, u: String, v: String,
              l1Rounds: Int, l2Rounds: Int): DataFrame = {
    val e1 = und.select(col(u).as("a"), col(v).as("b"), lit(1L).as("w"))
    val noSelf = e1.select(col("a").as("v"), lit(0L).as("sw")).limit(0)
    val lbl1 = louvainLevel(e1, noSelf, l1Rounds).truncated()
    val ec = e1
      .join(lbl1.select(col("v").as("a"), col("lbl").as("ca")), Seq("a"))
      .join(lbl1.select(col("v").as("b"), col("lbl").as("cb")), Seq("b"))
      .select(col("ca"), col("cb"), col("w"))
    val e2 = ec.filter(col("ca") =!= col("cb"))
      .select(least(col("ca"), col("cb")).as("a"),
        greatest(col("ca"), col("cb")).as("b"), col("w"))
      .groupBy("a", "b").agg(sum(col("w")).as("w"))
    val self2 = ec.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("v")).agg(sum(col("w")).as("sw"))
    val lbl2 = louvainLevel(e2, self2, l2Rounds)
    val comp = lbl1
      .join(lbl2.select(col("v").as("c1"), col("lbl").as("c2")),
        col("lbl") === col("c1"), "left")
      .select(col("v"), coalesce(col("c2"), col("lbl")).as("c"))
    val canon = comp.groupBy("c").agg(min(col("v")).as("comm"))
    comp.join(canon, Seq("c")).select(col("v"), col("comm"))
  }

  /** INCREMENTAL Louvain: warm-start local moves from an existing
    * label table — the dedup_minhash_incremental / CC-incremental
    * discipline for communities. When a delta batch of edges arrives,
    * a full 8+4-round re-optimization from singletons is wasted work:
    * the previous run's communities are already near-optimal, so
    * `rounds` (typically 2 — one round per parity) gated sweeps over
    * the UPDATED graph, initialized from `baseLabels` (new vertices
    * start as singletons), re-place moved/new nodes while settled
    * structure stays put. Labels canonicalize to min member id.
    * LouvainIncrementalSpec shows the warm path reaches the cold
    * run's Q at a sixth of the rounds. */
  /** Order-free integer modularity score of a labeling: Σ over
    * communities of floor(q_term·10⁸ + 0.5) as a BIGINT sum — float
    * summation order can flip a raw Σ q_term comparison across
    * engines/partitionings; the quantized integer sum cannot. */
  /** BOTH hill-climb-guard scores in ONE job (r17): louvainWarm's
    * guard ran the modularity score twice — two eager |E|-scan
    * barriers — and
    * the r16 bench showed the warm entry is eager-job-overhead-bound
    * at sf0.1 (9.7-16.3 s spread under load vs the 6.93 s pin).
    * Tagging the two label tables with an arm column and keying every
    * join/groupBy by (arm, ...) computes each arm's per-community
    * q_term from exactly the inputs the sequential calls saw (the arm
    * key splits the joins cleanly; inner-join semantics per arm are
    * unchanged), through the identical expression tree, into the same
    * order-free floor-quantized integer sum — so the guard's decision
    * cannot differ, only the job count (2 scans + 2 barriers → 1). */
  private def qScorePair(und: DataFrame, u: String, v: String,
                         la: DataFrame, lb: DataFrame): (Long, Long) = {
    val tagged = la.withColumn("arm", lit(0)).unionAll(lb.withColumn("arm", lit(1)))
    val mDf = und.agg(count(lit(1)).as("m"))
    val ec = und.select(col(u).as("s"), col(v).as("p"))
      .join(tagged.select(col("v").as("s"), col("arm"), col("comm").as("cs")), Seq("s"))
      .join(tagged.select(col("v").as("p"), col("arm"), col("comm").as("cp")),
        Seq("p", "arm"))
    val internal = ec.filter(col("cs") === col("cp"))
      .groupBy(col("arm"), col("cs").as("comm")).agg(count(lit(1)).as("internal_edges"))
    val degSum = ec.select(col("arm"), col("cs").as("comm"))
      .unionAll(ec.select(col("arm"), col("cp").as("comm")))
      .groupBy("arm", "comm").agg(count(lit(1)).as("degree_sum"))
    val md = col("m").cast("double")
    val rows = tagged.groupBy(col("arm"), col("comm").as("comm"))
      .agg(count(lit(1)).as("n_nodes"))
      .join(internal, Seq("arm", "comm"), "left")
      .join(degSum, Seq("arm", "comm"), "left")
      .select(col("arm"), col("comm"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"))
      .crossJoin(broadcast(mDf))
      .withColumn("q_term", round(
        (lit(4.0) * md * col("internal_edges").cast("double") -
          col("degree_sum").cast("double") * col("degree_sum").cast("double")) /
        (lit(4.0) * md * md), 8))
      .groupBy("arm").agg(coalesce(sum(
        floor(col("q_term") * 1e8 + 0.5).cast("long")), lit(0L)).as("qs"))
      .collect()
    def arm(i: Int): Long =
      rows.find(_.getInt(0) == i).map(_.getLong(1)).getOrElse(0L)
    (arm(0), arm(1))
  }

  def louvainWarm(und: DataFrame, u: String, v: String,
                  baseLabels: DataFrame, rounds: Int): DataFrame = {
    val e1 = und.select(col(u).as("a"), col(v).as("b"), lit(1L).as("w"))
    val noSelf = e1.select(col("a").as("v"), lit(0L).as("sw")).limit(0)
    val lbl = louvainLevel(e1, noSelf, rounds,
      init = Some(baseLabels.select(col("v"), col("comm").as("lbl"))))
    val canon = lbl.groupBy(col("lbl")).agg(min(col("v")).as("comm"))
    val warm = lbl.join(canon, Seq("lbl")).select(col("v"), col("comm"))
      .truncated() // scored AND possibly returned
    // base labels extended to the updated graph (new vertices
    // singleton), re-canonicalized
    val nodes = e1.select(col("a").as("v")).unionAll(e1.select(col("b").as("v"))).distinct()
    val ext = nodes.join(baseLabels, Seq("v"), "left")
      .select(col("v"), coalesce(col("comm"), col("v")).as("lbl"))
    val extCanon = ext.groupBy(col("lbl")).agg(min(col("v")).as("comm"))
    val base = ext.join(extCanon, Seq("lbl")).select(col("v"), col("comm"))
      .truncated()
    // HILL-CLIMB GUARD: synchronized sweeps on a non-fixpoint state
    // can jointly overshoot (measured: two no-delta sweeps took Q from
    // +0.013 to −0.11); keep the warm result only if its (order-free
    // integer) modularity is at least the carried-forward base's. The
    // guard costs ONE fused |E| scoring pass (both arms in one job —
    // qScorePair; it ran as two eager scans through r16, half the
    // entry's fixed job overhead) and makes warm restart monotone.
    val (qWarm, qBase) = qScorePair(und, u, v, warm, base)
    if (qWarm >= qBase) warm else base
  }

  /** Newman modularity per community over an UNDIRECTED edge list and a
    * (v, comm) label table: q_term = L_c/m − (d_c/2m)², from exact
    * integer internal-edge / degree-sum / node counts; one double
    * division inside an 8-dp round (operands cast double in a fixed
    * order so a SQL oracle replays the float path exactly). Σ q_term =
    * the classic global Q.
    *
    * Scale: labels join the edge list once per endpoint (shuffle ∝ |E|
    * on the join key); all aggregation after is |comms|-sized, and the
    * edge count m rides along as a broadcast 1-row aggregate. */
  def modularity(und: DataFrame, u: String, v: String,
                 labels: DataFrame): DataFrame = {
    val mDf = und.agg(count(lit(1)).as("m"))
    val ec = und.select(col(u).as("s"), col(v).as("p"))
      .join(labels.select(col("v").as("s"), col("comm").as("cs")), Seq("s"))
      .join(labels.select(col("v").as("p"), col("comm").as("cp")), Seq("p"))
    val internal = ec.filter(col("cs") === col("cp"))
      .groupBy(col("cs").as("comm")).agg(count(lit(1)).as("internal_edges"))
    val degSum = ec.select(col("cs").as("comm"))
      .unionAll(ec.select(col("cp").as("comm")))
      .groupBy("comm").agg(count(lit(1)).as("degree_sum"))
    val md = col("m").cast("double")
    labels.groupBy("comm").agg(count(lit(1)).as("n_nodes"))
      .join(internal, Seq("comm"), "left")
      .join(degSum, Seq("comm"), "left")
      .select(col("comm"), col("n_nodes"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"))
      .crossJoin(broadcast(mDf))
      .withColumn("q_term", round(
        (lit(4.0) * md * col("internal_edges").cast("double") -
          col("degree_sum").cast("double") * col("degree_sum").cast("double")) /
        (lit(4.0) * md * md), 8))
      .select(col("comm"), col("n_nodes"), col("internal_edges"),
        col("degree_sum"), col("q_term"))
  }

  /** Multi-source BFS hop distance over an UNDIRECTED edge list:
    * dist(v) = min #hops from any source, relaxed a FIXED `rounds`
    * times (a fixed count keeps a SQL oracle exact; rounds ≥ eccentric-
    * ity of the source set ⇒ the true distances — the spec asserts the
    * fixpoint at test scale). Nodes unreached within `rounds` are
    * absent from the output.
    *
    * Scale: the same co-partitioned layout as connectedComponents —
    * each round is one join against the checkpointed mirrored edge set
    * plus a min-groupBy, shuffling only the |reached|-sized frontier
    * table, never |E|. */
  def bfsHops(und: DataFrame, u: String, v: String, sources: Seq[Long],
              rounds: Int): DataFrame = {
    val fwd = und.select(col(u).as("src"), col(v).as("dst"))
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .truncated()
    relaxRounds(edges.withColumn("w", lit(1L)), und.sparkSession, sources, rounds)
  }

  /** [[bfsHops]] over an already-symmetric (src, dst) edge table — the
    * partitioned-checkpoint entry point (see connectedComponentsSym). */
  def bfsHopsSym(edges: DataFrame, sources: Seq[Long], rounds: Int): DataFrame =
    relaxRounds(edges.withColumn("w", lit(1L)), edges.sparkSession, sources, rounds)

  /** Multi-source shortest paths over a WEIGHTED directed edge list
    * (Bellman-Ford relaxation): dist_{t+1}(v) = min(dist_t(v),
    * min_{(u,v,w)} dist_t(u) + w), `rounds` synchronized rounds.
    * INTEGER edge costs keep every distance exact on both engines — no
    * float-sum drift anywhere. A fixed round count keeps the SQL oracle
    * exact; rounds ≥ the hop count of the longest optimal path ⇒ true
    * distances (the spec asserts the fixpoint at test scale — note a
    * weighted optimum may use MORE hops than the BFS eccentricity when
    * many cheap edges beat one expensive one). Unreached nodes within
    * `rounds` are absent.
    *
    * Scale: bfsHops' co-partitioned layout — one join of the frontier
    * table against the checkpointed edge set + a min-groupBy per round;
    * shuffle ∝ |reached|, never |E|. */
  def ssspWeighted(edges0: DataFrame, src: String, dst: String, cost: String,
                   sources: Seq[Long], rounds: Int): DataFrame = {
    val edges = edges0.select(col(src).as("src"), col(dst).as("dst"),
        col(cost).cast("long").as("w"))
      .truncated()
    relaxRounds(edges, edges0.sparkSession, sources, rounds)
  }

  /** Shared Bellman-Ford relaxation core of bfsHops (unit weights) and
    * ssspWeighted — `rounds` synchronized rounds as DELTA iterations:
    * each round joins the edge set only against the FRONTIER (vertices
    * whose distance was set or improved last round; an unchanged vertex
    * already contributed its relaxations), so converged regions cost a
    * broadcast-sized join, not a |reached| pass. An empty frontier
    * means every remaining round is a no-op, so the loop exits early
    * with output IDENTICAL to the full unroll — the fixed-round oracle
    * contract is preserved exactly. */
  private def relaxRounds(edges: DataFrame, spark: org.apache.spark.sql.SparkSession,
                          sources: Seq[Long], rounds: Int): DataFrame = {
    import spark.implicits._
    relaxRoundsFrom(edges,
      sources.toDF("v").withColumn("dist", lit(0L)), rounds)
  }

  /** [[relaxRounds]] from an arbitrary initial (v, dist) table — also
    * the engine behind fixed-round connectedComponents, where init =
    * every vertex labeled with its own id and the edge weight is 0
    * (min-label propagation IS Bellman-Ford on zero-cost edges). */
  private def relaxRoundsFrom(edges: DataFrame, init: DataFrame,
                              rounds: Int): DataFrame = {
    var dist = init.truncated()
    var frontier = dist
    var i = 0
    var settled = false
    while (i < rounds && !settled) {
      val relax = edges.join(frontier, edges("src") === frontier("v"))
        .groupBy(edges("dst").as("v")).agg(min(col("dist") + col("w")).as("nd"))
      // full outer: newly reached nodes enter, settled nodes keep their
      // (monotonically final) minimum; __chg marks new or improved rows
      val joined = dist.join(relax, Seq("v"), "full")
        .select(col("v"), least(coalesce(col("dist"), col("nd")),
            coalesce(col("nd"), col("dist"))).as("d2"),
          (col("dist").isNull ||
            (col("nd").isNotNull && col("nd") < col("dist"))).as("__chg"))
        .truncated()
      frontier = joined.filter(col("__chg")).select(col("v"), col("d2").as("dist"))
      dist = joined.select(col("v"), col("d2").as("dist"))
      settled = frontier.isEmpty // cheap scan of the checkpoint
      i += 1
    }
    dist
  }

  /** k-core peeling of an UNDIRECTED edge list: `rounds` synchronized
    * rounds of "drop every vertex with degree < k (and its edges)",
    * then report each surviving vertex with its residual in-core
    * degree. A fixed round count keeps the SQL oracle exact on any
    * input; once peeling reaches its fixpoint the survivors ARE the
    * k-core (the spec asserts rounds and rounds+1 agree at test scale).
    *
    * Scale: each round is a degree groupBy (map-side partial) plus two
    * semi-joins of the shrinking edge set against the alive set —
    * shuffle ∝ current |E|, monotonically decreasing; the alive set is
    * checkpointed per round because both semi-joins consume it. */
  /** FULL core decomposition (coreness per vertex) via the iterated
    * H-index (Lü et al. 2016): c_0 = degree; c_{t+1}(v) = H-operator
    * over the neighbors' c_t — the largest h such that ≥ h neighbors
    * hold value ≥ h, computed per vertex as max(least(rank, value))
    * over the desc-ranked neighbor values (rank ties are irrelevant to
    * that max-min). The sequence decreases monotonically to coreness;
    * a FIXED round count keeps the SQL oracle exact (CorenessSpec
    * asserts the fixpoint is reached at test scale and matches
    * hand-computed coreness on a planted clique+chain).
    *
    * Scale: each round is one |E| join against the |V| label table +
    * one per-vertex ranking — shuffle keys on v, the same budget as a
    * kCore peel round, but ONE run yields every k's core at once. */
  def coreness(und: DataFrame, u: String, v: String, rounds: Int): DataFrame = {
    val fwd = und.select(col(u).as("src"), col(v).as("dst"))
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .truncated()
    var labels = edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("c"))
    for (i <- 1 to rounds) {
      val vals = edges.join(labels.withColumnRenamed("v", "dst"), Seq("dst"))
        .select(col("src").as("v"), col("c").as("nc"))
      val ranked = vals.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("v").orderBy(col("nc").desc)))
      labels = ranked.groupBy("v")
        .agg(max(least(col("rn").cast("long"), col("nc"))).as("c"))
      if (i % 2 == 0) labels = labels.truncated()
    }
    labels
  }

  def kCore(und: DataFrame, u: String, v: String, k: Int,
            rounds: Int): DataFrame = {
    val fwd = und.select(col(u).as("src"), col(v).as("dst"))
    var edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .truncated()
    var prevEdges = -1L
    var r = 0
    // peeling is deterministic in the current edge set, so an unchanged
    // edge COUNT between rounds means the alive filter removed nothing
    // — every remaining round is a no-op and the loop exits early with
    // output identical to the full unroll (the count reads the
    // round's checkpoint, one cheap action per round)
    while (r < rounds && prevEdges != 0L && {
        val n = edges.count(); val same = n == prevEdges; prevEdges = n; !same
      }) {
      val alive = edges.groupBy("src").agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select(col("src").as("__av"))
        .truncated()
      // checkpoint the (shrinking) edge set every round: the next
      // round's degree groupBy and both semi-joins all consume it
      edges = edges
        .join(alive, col("src") === col("__av"), "left_semi")
        .join(alive.select(col("__av").as("__av2")),
          col("dst") === col("__av2"), "left_semi")
        .truncated()
      r += 1
    }
    edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("core_degree"))
  }

  /** Neighborhood function N(h) = Σ_v |B(v,h)| (distinct vertices
    * within h hops of v, summed over ALL v) for h = 0..rounds — the
    * HyperANF curve (Boldi–Rosa–Vigna, WWW'11) with K-MINIMUM-VALUE
    * sketches instead of HyperLogLog registers: each vertex carries
    * x_v = md5-derived value in [1, 2³²], a set's sketch is its k
    * smallest values, and k-min TRUNCATION COMMUTES WITH UNION, so the
    * per-hop merge sketch_{h+1}(v) = kmin(sketch_h(v) ∪ ∪_{v~w}
    * sketch_h(w)) equals the k smallest over the true reachable set —
    * which is why a SQL oracle can replay the identical iteration
    * (row_number ≤ k per vertex) where HLL register states could not.
    *
    * Estimator per vertex: m < k (sketch unsaturated) → EXACT m;
    * else (k−1)·2³²/x_(k). Estimates are micro-scaled to integers
    * before the per-hop sum, so partial-aggregation order can't shift
    * a single ulp — both engines sum identical BIGINTs. (Distinct
    * vertices hash-colliding in the 2³² space undercount m by one —
    * deterministic and replayed identically by the oracle.)
    *
    * Scale: per hop ONE |E|⋈|V·k| join + a groupBy holding ≤ k longs
    * per vertex — cost ≍ k × the BFS relaxation round, the classic ANF
    * cost model; no per-source fan-out (closeness/betweenness pay one
    * sweep PER SOURCE, this is one sweep TOTAL for the all-pairs
    * curve). Returns (hop, nf_est). */
  def anfSketch(und: DataFrame, u: String, v: String,
                k: Int, rounds: Int): DataFrame = {
    graft.functions.VectorExpressions.register(und.sparkSession)
    val fwd = und.select(col(u).as("src"), col(v).as("dst"))
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().truncated()
    val xv = conv(substring(md5(col("v").cast("string")), 1, 8), 16, 10)
      .cast("long") + lit(1L) // [1, 2³²] — never 0, the estimator divides
    var sk = edges.select(col("src").as("v")).distinct()
      .select(col("v"), array(xv).as("sk")).truncated()
    // per-vertex micro-estimate: exact m·10⁶ while unsaturated, else
    // round((k−1)·2³²·10⁶ / x_k); x_k = the sketch's LAST (= largest)
    // element. Integer micro-units make the hop sum order-independent.
    val cNum = (k - 1).toDouble * 4294967296.0 * 1e6
    def nfRow(h: Int, s: DataFrame): DataFrame = s
      .select(when(size(col("sk")) < k, size(col("sk")).cast("long") * 1000000L)
        .otherwise(round(lit(cNum) / element_at(col("sk"), k)).cast("long"))
        .as("em"))
      .agg(round(sum(col("em")) / lit(1e6), 4).as("nf_est"))
      .select(lit(h).as("hop"), col("nf_est"))
    var out = nfRow(0, sk)
    // DELTA iteration (the relaxation-core discipline): k-min merging
    // is monotone, so a neighbor whose sketch did not change last round
    // contributes nothing new — each round joins edges only against the
    // FRONTIER (changed sketches), and an empty frontier is the exact
    // fixpoint witness: every remaining hop is a no-op and its curve
    // row repeats unchanged (the fixed-round oracle contract holds).
    var frontier = sk
    var settled = false
    for (h <- 1 to rounds) {
      if (!settled) {
        val nbr = edges.join(frontier, edges("src") === frontier("v"))
          .select(edges("dst").as("v"), col("sk"))
        // the native `kmin_distinct` bounded-set aggregate: map-side
        // k-long buffers combine before the shuffle (≤ k values per
        // vertex per partition move), where a collect_list chain would
        // shuffle every neighbor sketch in full and sort it
        val merged = nbr.unionAll(sk).groupBy("v")
          .agg(expr(s"kmin_distinct(sk, $k)").as("sk"))
          .truncated()
        frontier = merged
          .join(sk.select(col("v"), col("sk").as("__old")), Seq("v"))
          .filter(col("sk") =!= col("__old"))
          .select(col("v"), col("sk")).truncated()
        sk = merged
        settled = frontier.isEmpty
      }
      out = out.unionAll(nfRow(h, sk))
    }
    out
  }

  /** Neighborhood-Jaccard link prediction over a bipartite
    * (item, node) pair table: for node pairs sharing ≥1 item,
    * |N(a)∩N(b)| / |N(a)∪N(b)|, top `topN` by rounded similarity.
    *
    * The item-keyed self-join shuffles Σ deg(item)² wedge pairs, so a
    * single hot item (one part bought by 10M suppliers) explodes the
    * stage at scale. Mitigation: each item's node list is CAPPED at
    * `itemCap` nodes BEFORE the join, picked by md5(item_node) rank —
    * deterministic, so the oracle replays the identical cap. Wedge
    * fan-out is then ≤ itemCap² per item regardless of skew. Node
    * degrees are computed on the capped table, so the output is the
    * exact Jaccard of the capped graph (≡ the full graph wherever no
    * item exceeds the cap — true at the test SFs with the default cap).
    * The row_number window shuffles by item, the same partitioning the
    * wedge self-join needs — the cap adds a per-item local sort, not a
    * new shuffle of its own.
    */
  def neighborhoodJaccard(pairs: DataFrame, itemCol: String, nodeCol: String,
                          topN: Int, itemCap: Int): DataFrame = {
    val it = col(itemCol)
    val nd = col(nodeCol)
    val w = Window.partitionBy(it)
      .orderBy(md5(concat_ws("_", it, nd)), nd)
    val capped = pairs.select(it, nd)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= itemCap).drop("__rk")
    val deg = capped.groupBy(nd.as("n")).agg(count(lit(1)).as("d"))
    capped.as("x").join(capped.as("y"),
        col(s"x.$itemCol") === col(s"y.$itemCol") &&
          col(s"x.$nodeCol") < col(s"y.$nodeCol"))
      .groupBy(col(s"x.$nodeCol").as("a"), col(s"y.$nodeCol").as("b"))
      .agg(count(lit(1)).as("common"))
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"), col("common"),
        round(col("common") / (col("da") + col("db") - col("common")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(topN)
  }

  /** Order-preserving global rank (ties equal, rank = #smaller + 1) of
    * the key columns WITHOUT a global single-partition window: range
    * partition → local rank() → per-partition offsets (the
    * distributed zipWithIndex) added back. The partition ids are
    * MATERIALIZED before the plan forks into local/offs —
    * spark_partition_id() is nondeterministic and AQE may coalesce
    * re-executed subtrees differently, which would silently drop rows
    * at the join back. The range partitioner sends EQUAL keys to one
    * partition (getPartition is a pure function of the key), so the
    * local rank() — #strictly-smaller-in-partition + 1 — plus the
    * partition's global offset IS the global rank; ties share it.
    * r17 (guide §2.4): the old tail computed local row_number, then a
    * min-over-key-group WINDOW — a second full exchange + sort of the
    * table keyed on `keys` — to make tie groups agree; rank() over
    * the SAME (__pid, keys) window spec delivers that agreement
    * inside the one existing Window operator. One exchange + one sort
    * less per call; identical values (min row-number of a tie group =
    * rank of its first row). Adds `rankCol`. */
  def globalRank(df: DataFrame, keys: Seq[String], rankCol: String): DataFrame = {
    val kcols = keys.map(col)
    val parted = df.repartitionByRange(kcols: _*)
      .withColumn("__pid", spark_partition_id())
      .truncated()
    val local = parted.withColumn("__rk",
      rank().over(Window.partitionBy("__pid").orderBy(kcols: _*)))
    val offs = parted.groupBy("__pid").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(
        sum(col("__n")).over(Window.orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pid", "__off")
    local.join(broadcast(offs), "__pid")
      .withColumn(rankCol, col("__rk") + col("__off"))
      .drop("__pid", "__rk", "__off")
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003) over the same
    * capped bipartite wedge join as [[neighborhoodJaccard]]: candidate
    * pair score = Σ_z 1/ln(deg z) over shared items z — rare shared
    * items count more than hubs. The per-item weight quantizes the ONE
    * libm call (ln) to integer nano-units, floor(1e9/ln d), so the
    * per-pair aggregation is an EXACT order-free integer sum and the
    * top-N ordering is decided on exact integers (the grid-sigmoid
    * discipline; cross-libm floor-flip risk is the documented ~2⁻⁴⁰
    * per distinct degree, spec-checked margin). Only items with ≥2
    * nodes can appear in a wedge, so ln(d) > 0 always.
    *
    * Scale: identical to the Jaccard plan — per-item cap bounds the
    * wedge fan-out at itemCap² under any skew; the weight table is
    * |items|-sized and joins on the wedge's own item key (no new
    * shuffle); top-N via sort on the exact integer score. */
  def adamicAdar(pairs: DataFrame, itemCol: String, nodeCol: String,
                 topN: Int, itemCap: Int): DataFrame = {
    val it = col(itemCol)
    val nd = col(nodeCol)
    val w = Window.partitionBy(it)
      .orderBy(md5(concat_ws("_", it, nd)), nd)
    val capped = pairs.select(it, nd)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= itemCap).drop("__rk")
    val weight = capped.groupBy(it).agg(count(lit(1)).as("d"))
      .select(it, floor(lit(1e9) / log(col("d"))).cast("long").as("wm"))
    capped.as("x").join(capped.as("y"),
        col(s"x.$itemCol") === col(s"y.$itemCol") &&
          col(s"x.$nodeCol") < col(s"y.$nodeCol"))
      .select(col(s"x.$itemCol").as(itemCol),
        col(s"x.$nodeCol").as("a"), col(s"y.$nodeCol").as("b"))
      .join(weight, itemCol)
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common"), sum(col("wm")).as("aa_nano"))
      .select(col("a"), col("b"), col("common"), col("aa_nano"),
        round(col("aa_nano") / 1e9, 6).as("adamic_adar"))
      .orderBy(col("aa_nano").desc, col("a"), col("b"))
      .limit(topN)
  }

  /** Benchmark-contamination scan: fraction of each candidate doc's
    * distinct w-gram shingles present in the benchmark subset (rows
    * where `isBench` is true). The benchmark shingle set broadcasts;
    * candidates never shuffle — at a 100 TB corpus vs a few-GB
    * benchmark this is a pure scan + map-side semi-join. */
  def contaminationScan(df: DataFrame, id: String, text: String,
                        isBench: Column, w: Int = 3,
                        threshold: Double = 0.1): DataFrame = {
    val base = df.select(col(id), split(col(text), " ").as("toks"))
      .withColumn("__bench", isBench)
    val sh = base.select(col(id), col("__bench"),
      explode(array_distinct(graft.functions.TextFns.shingles("toks", w))).as("sh"))
    val benchSh = sh.filter(col("__bench")).select("sh").distinct()
    val cand = sh.filter(!col("__bench"))
    val shCounts = cand.groupBy(id).agg(count(lit(1)).as("n_shingles"))
    val hits = cand.join(broadcast(benchSh), Seq("sh"), "left_semi")
      .groupBy(id).agg(count(lit(1)).as("n_hits"))
    // anchor on ALL candidate docs: one shorter than w tokens has no
    // shingles, but absence from the report would be indistinguishable
    // from the doc not existing — it must appear with n_shingles = 0
    base.filter(!col("__bench")).select(col(id))
      .join(shCounts, Seq(id), "left")
      .join(hits, Seq(id), "left")
      .withColumn("n_shingles", coalesce(col("n_shingles"), lit(0L)))
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("ratio",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(round(col("n_hits") / col("n_shingles"), 6)))
      .select(col(id), col("n_shingles"), col("n_hits"), col("ratio"),
        (col("ratio") >= threshold).as("flagged"))
  }

  /** Deterministic domain-mix sampling: per-domain quotas realizing the
    * target weights exactly (T = min n_d / p_d, quota_d = ⌊p_d · T⌋),
    * docs picked by hash rank — reproducible on any cluster size.
    *
    * Distributed selection (two-phase hash-histogram threshold, not a
    * per-domain rank window — that form collapses each domain onto ONE
    * task and sorts it, a full-corpus sort at 100 TB):
    *   1. histogram the 32-bit id-hash into 4096 order-preserving
    *      buckets per domain (one tiny ≤ |domains|·4096-row shuffle,
    *      map-side combined) and find each domain's cut bucket — the
    *      first whose cumulative count reaches the quota;
    *   2. rows BELOW the cut bucket pass a map-side broadcast filter
    *      untouched; only the cut bucket's own rows (≈ n_d/4096) are
    *      rank-windowed for the remaining slots.
    * The keep set — the quota_d smallest (hash, id) per domain — is
    * bit-identical to the naive global rank, so the same oracle
    * verifies both; only the plan changes. */
  def domainMixSample(df: DataFrame, id: String, domain: String,
                      weight: Column): DataFrame = {
    // bucket = high 12 bits of the hash: all of bucket b sorts strictly
    // before all of bucket b+1, so per-bucket counts ARE the rank CDF.
    // Checkpointed: three consumers (histogram, keep-all filter,
    // boundary ranking) would otherwise each re-scan the source; the
    // materialized form is the NARROW (domain, id, hash, bucket)
    // projection — tiny next to the source rows it replaces re-reading.
    val base = df.select(col(domain), col(id),
      graft.functions.TextFns.hash32(col(id).cast("string")).as("__h"))
      .withColumn("__b", expr(s"__h div ${1L << 20}"))
      .truncated()
    val hist = base.groupBy(col(domain), col("__b")).agg(count(lit(1)).as("__c"))
    val counts = hist.groupBy(domain).agg(sum(col("__c")).as("__n"))
      .withColumn("__p", weight)
    val t = counts.agg(min(col("__n") / col("__p")).as("__t"))
    val quotas = counts.crossJoin(broadcast(t))
      .select(col(domain), floor(col("__p") * col("__t")).as("__quota"))
    // per-domain CDF over the tiny histogram; the unique cut bucket is
    // where the quota lands (quota_d ≤ n_d by construction of T, and a
    // zero quota yields no cut row → the inner join drops the domain)
    val wb = Window.partitionBy(col(domain)).orderBy(col("__b"))
    val cut = hist.join(broadcast(quotas), Seq(domain))
      .withColumn("__below", sum(col("__c")).over(wb) - col("__c"))
      .filter(col("__below") < col("__quota") &&
        col("__below") + col("__c") >= col("__quota"))
      .select(col(domain), col("__b").as("__cutb"),
        (col("__quota") - col("__below")).as("__need"))
    val joined = base.join(broadcast(cut), Seq(domain))
    val keepAll = joined.filter(col("__b") < col("__cutb"))
      .select(col(domain), col(id))
    val wB = Window.partitionBy(col(domain)).orderBy(col("__h"), col(id))
    val boundary = joined.filter(col("__b") === col("__cutb"))
      .withColumn("__rn", row_number().over(wB).cast("long"))
      .filter(col("__rn") <= col("__need"))
      .select(col(domain), col(id))
    keepAll.unionAll(boundary)
  }

  /** Upsert (merge): rows of `updates` replace base rows with the same
    * key; unmatched base rows survive, new keys insert. `updates` must
    * be key-unique — pass `versionCol` to resolve duplicate keys
    * latest-wins (max version, deterministic) before merging.
    * Anti-join + union — no global window over the base, both sides
    * shuffle once on the key (and zero times if base/updates are
    * bucketed on it). This is the batch MERGE INTO primitive for
    * incremental 100 TB tables. */
  def upsertByKey(base: DataFrame, updates: DataFrame, key: String,
                  versionCol: Option[String] = None): DataFrame = {
    val latest = versionCol match {
      case Some(v) =>
        // secondary sort on a content hash: ties on (key, version)
        // still resolve to ONE deterministic row (hash-identical
        // duplicates are interchangeable, so any pick is the same
        // row). Map-typed columns are not hashable in Spark — exclude
        // them from the tie-break rather than fail analysis.
        def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = {
          import org.apache.spark.sql.types._
          dt match {
            case _: MapType        => false
            case ArrayType(e, _)   => hashable(e)
            case StructType(fs)    => fs.forall(f => hashable(f.dataType))
            case _                 => true
          }
        }
        val hashCols = updates.schema.fields
          .filter(f => hashable(f.dataType)).map(f => col(f.name))
        val tieBreak = if (hashCols.nonEmpty) xxhash64(hashCols: _*) else lit(0L)
        val w = Window.partitionBy(col(key))
          .orderBy(col(v).desc, tieBreak)
        updates.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None => updates
    }
    latest.unionByName(
      base.join(latest.select(col(key)), Seq(key), "left_anti"))
  }

  /** Incremental aggregate maintenance: merge a DELTA batch into a
    * maintained additive aggregate state without rescanning the base.
    * Both inputs carry `keys` plus the same additive measure columns
    * (counts, sums — avg/variance derive from them); retractions are
    * rows with negated measures. One union + groupBy: map-side partial
    * aggregation means the shuffle moves ≈ |groups in the delta|, so
    * keeping a 100 TB rollup fresh costs the delta, not the base.
    * Groups whose count reaches 0 are dropped (fully retracted). */
  def mergeAggState(state: DataFrame, delta: DataFrame, keys: Seq[String],
                    countCol: String = "cnt"): DataFrame = {
    val measures = state.columns.filterNot(keys.contains)
    require(measures.contains(countCol),
      s"state must carry the count column '$countCol'")
    val aggs = measures.map(m => sum(col(m)).as(m))
    state.unionByName(delta.select(state.columns.map(col): _*))
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .filter(col(countCol) =!= 0)
  }

  /** Snapshot diff (the SCD change-detection primitive): full outer
    * join of two keyed snapshots, each key classified added / removed /
    * changed / unchanged (null-safe column compare). One shuffle per
    * side on the key. */
  def snapshotDiff(prev: DataFrame, cur: DataFrame, key: String,
                   compareCols: Seq[String]): DataFrame = {
    val p = prev.select((key +: compareCols).map(col): _*).alias("p")
    val c = cur.select((key +: compareCols).map(col): _*).alias("c")
    val differs = compareCols
      .map(f => !(col(s"p.$f") <=> col(s"c.$f")))
      .reduce(_ || _)
    p.join(c, col(s"p.$key") === col(s"c.$key"), "full_outer")
      .select(
        coalesce(col(s"p.$key"), col(s"c.$key")).as(key),
        when(col(s"p.$key").isNull, "added")
          .when(col(s"c.$key").isNull, "removed")
          .when(differs, "changed")
          .otherwise("unchanged").as("change_type"))
  }

  /** Skew-safe equi-join: salt the (skewed) left side's key with a
    * random suffix in [0, salt) and replicate each right-side row salt
    * times, so one hot key spreads over `salt` reducers instead of one.
    * AQE's skew-join handles moderate skew automatically; this is the
    * explicit tool for pathological keys (and for engines/configs where
    * AQE is off). Output columns = left ++ right (join key deduped).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salt: Int = 8): DataFrame = {
    val saltedL = left.withColumn("__salt",
      (rand(seed = 42) * salt).cast("int"))
    val saltedR = right.withColumn("__salt",
      explode(array((0 until salt).map(lit): _*)))
    saltedL.join(saltedR, Seq(key, "__salt")).drop("__salt")
  }

  object implicits {
    implicit class GraftDataFrameOps(private val df: DataFrame) {
      def dedupExact(id: String, content: String): DataFrame =
        GraftOps.dedupExact(df, id, content)
      def ngramJaccardPairs(id: String, text: String, n: Int = 3,
                            threshold: Double = 0.5): DataFrame =
        GraftOps.ngramJaccardPairs(df, id, text, n, threshold)
      def minhashCandidates(id: String, text: String, n: Int = 3): DataFrame =
        GraftOps.minhashCandidates(df, id, text, n)
      def simhashCandidates(id: String, text: String, maxHamming: Int = 3): DataFrame =
        GraftOps.simhashCandidates(df, id, text, maxHamming)
      def embeddingNearDupPairs(id: String, vec: String, threshold: Double,
                                tables: Int = EmbLsh.Tables, bits: Int = EmbLsh.Bits,
                                dims: Int = EmbLsh.Dims): DataFrame =
        GraftOps.embeddingNearDupPairs(df, id, vec, threshold, tables, bits, dims)
      def cosineTopK(id: String, vec: String, queries: DataFrame, k: Int = 5): DataFrame =
        GraftOps.cosineTopK(df, id, vec, queries, k)
      def sessionize(key: String, tsUs: String, gapUs: Long,
                     valueCol: Option[String] = None): DataFrame =
        GraftOps.sessionize(df, key, tsUs, gapUs, valueCol)
      def topKPerGroup(part: String, order: Column, k: Int): DataFrame =
        GraftOps.topKPerGroup(df, part, order, k)
      def saltedJoin(right: DataFrame, key: String, salt: Int = 8): DataFrame =
        GraftOps.saltedJoin(df, right, key, salt)
      def profile(): DataFrame = GraftOps.profile(df)
      def tfidfTopTerms(id: String, text: String, k: Int = 5): DataFrame =
        GraftOps.tfidfTopTerms(df, id, text, k)
      def bm25Rank(id: String, text: String, terms: Seq[String], k: Int = 20): DataFrame =
        GraftOps.bm25Rank(df, id, text, terms, k)
      def connectedComponents(u: String, v: String, iters: Int): DataFrame =
        GraftOps.connectedComponents(df, u, v, iters)
      def connectedComponentsLogN(u: String, v: String, maxRounds: Int = 25): DataFrame =
        GraftOps.connectedComponentsLogN(df, u, v, maxRounds)
      def personalizedPageRank(src: String, dst: String, sources: Seq[Long],
                               alpha: Double = 0.15, iters: Int = 5): DataFrame =
        GraftOps.personalizedPageRank(df, src, dst, sources, alpha, iters)
      def personalizedPageRankLog(src: String, dst: String, sources: Seq[Long],
                                  alpha: Double = 0.15, iters: Int = 5): DataFrame =
        GraftOps.personalizedPageRankLog(df, src, dst, sources, alpha, iters)
      def triangleCount(u: String, v: String): DataFrame =
        GraftOps.triangleCount(df, u, v)
      def triangleCountApprox(u: String, v: String, p: Double = 0.25): DataFrame =
        GraftOps.triangleCountApprox(df, u, v, p)
      def contaminationScan(id: String, text: String, isBench: Column,
                            w: Int = 3, threshold: Double = 0.1): DataFrame =
        GraftOps.contaminationScan(df, id, text, isBench, w, threshold)
      def domainMixSample(id: String, domain: String, weight: Column): DataFrame =
        GraftOps.domainMixSample(df, id, domain, weight)
      def upsertByKey(updates: DataFrame, key: String,
                      versionCol: Option[String] = None): DataFrame =
        GraftOps.upsertByKey(df, updates, key, versionCol)
      def snapshotDiff(cur: DataFrame, key: String, compareCols: Seq[String]): DataFrame =
        GraftOps.snapshotDiff(df, cur, key, compareCols)
      def mergeAggState(delta: DataFrame, keys: Seq[String],
                        countCol: String = "cnt"): DataFrame =
        GraftOps.mergeAggState(df, delta, keys, countCol)
    }
  }
}
