package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity over array<double>.
  *
  * Replaces the `aggregate(zip_with(...))` fold in the similarity
  * operators' hot path: one fused loop computes dot, |a|² and |b|² in a
  * single pass, and `doGenCode` emits straight-line Java that stays
  * inside whole-stage codegen (the higher-order-function fold allocates
  * lambda frames per element; this does not). Accumulation order is
  * element-sequential — identical to both the fold and DuckDB's
  * list_dot_product — so oracle results are bit-identical.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  // callers pass array<double> (see Similarity.emb's explicit cast)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.CosineSim$$.MODULE$$.cosine($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

object CosineSim {
  /** The one cosine loop: `cosine_sim` and the [[BucketPairs]] kernel
    * both call it, so every cosine graft reports is the same double. */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}

/** Per-bucket pair kernel of the LSH candidate stage
  * (`GraftOps.bucketPairs`): given ONE (bj, bv) bucket's members as
  * `array<struct<id[, v][, p]>>` (a `collect_list` over the bucket
  * group), emits every member pair as (a, b) with a < b by the id
  * type's Catalyst ordering, plus the raw `cos` when members carry an
  * array<double> vector `v`. This replaces the generic sort-merge bucket
  * self-join: no ordered in-bucket row stream, no join-side copies,
  * and the cosine runs [[CosineSim.cosine]] (bit-identical to
  * `cosine_sim`) straight over the bucket's vectors.
  *
  * Members that carry an array<int> band prefix `p` (their buckets in
  * tables 0 until bj) make the output duplicate-free across tables: a
  * pair is emitted only in the bucket of its FIRST colliding table, so
  * it is skipped when [[BandsDisjoint.disjoint]] finds an earlier table
  * where the two prefixes agree. The check runs before the cosine, so a
  * repeat collision never pays for one.
  *
  * With a `threshold`, pairs whose raw cosine lies below
  * `threshold - ScoreSlack` are dropped before they leave the kernel:
  * `round(c, 6)` moves c by at most 5e-7, so such a pair can never pass
  * the exact `round(cos, 6) >= threshold` filter the caller still
  * applies; NaN cosines (zero vectors) are kept, as that filter keeps
  * them. Members with a null id are skipped (a join on them never
  * matched); with a threshold, so are members with a null vector.
  *
  * A Generator whose codegen calls [[pairs]] through a reference
  * object, so the enclosing stage stays whole-stage compiled and the
  * pairs stream out one at a time — a bucket's pair set is never
  * materialized, only its member list, which is why callers send only
  * buckets at or under their hot threshold here. */
case class BucketPairs(child: Expression, threshold: Option[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator {
  import org.apache.spark.sql.catalyst.InternalRow

  private def member: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private def idType: DataType = member.head.dataType
  // the optional member fields, told apart by type: vector, band prefix
  private def fieldOf(t: DataType): Int = member.fields.indexWhere {
    case StructField(_, ArrayType(e, _), _, _) => e == t
    case _ => false
  }
  private def vecAt: Int = fieldOf(DoubleType)
  private def prefixAt: Int = fieldOf(IntegerType)
  private def scored: Boolean = vecAt > 0

  override def prettyName: String = "bucket_pairs"

  override def elementSchema: StructType = {
    val ab = StructType(Seq(StructField("a", idType, nullable = false),
      StructField("b", idType, nullable = false)))
    if (scored) ab.add("cos", DoubleType, nullable = true) else ab
  }

  @transient private lazy val idOrdering =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(idType)
  @transient private lazy val floor =
    threshold.fold(Double.NegativeInfinity)(_ - BucketPairs.ScoreSlack)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val m = child.eval(input)
    if (m == null) Iterator.empty else pairs(m.asInstanceOf[ArrayData])
  }

  def pairs(m: ArrayData): Iterator[InternalRow] = {
    val width = member.length
    val vi = vecAt
    val pi = prefixAt
    val n = m.numElements()
    val ids = new Array[Any](n)
    val vs = new Array[ArrayData](n)
    val ps = new Array[ArrayData](n)
    var k = 0
    var i = 0
    while (i < n) {
      if (!m.isNullAt(i)) {
        val r = m.getStruct(i, width)
        val keep = !r.isNullAt(0) &&
          !(scored && threshold.isDefined && r.isNullAt(vi))
        if (keep) {
          ids(k) = r.get(0, idType)
          if (scored && !r.isNullAt(vi)) vs(k) = r.getArray(vi)
          if (pi > 0 && !r.isNullAt(pi)) ps(k) = r.getArray(pi)
          k += 1
        }
      }
      i += 1
    }
    val live = k // not `size`: inside the Iterator that is Iterator.size
    new Iterator[InternalRow] {
      private var x = 0
      private var y = 0
      private var nextRow: InternalRow = advance()

      // the next emitted pair after (x, y) in row-major a-index order
      private def advance(): InternalRow = {
        while (x < live) {
          y += 1
          if (y >= live) { x += 1; y = x }
          else {
            val c = idOrdering.compare(ids(x), ids(y))
            if (c != 0 && (ps(x) == null || BandsDisjoint.disjoint(ps(x), ps(y)))) {
              val (a, b) = if (c < 0) (ids(x), ids(y)) else (ids(y), ids(x))
              if (!scored) return InternalRow(a, b)
              val va = vs(x); val vb = vs(y)
              if (va == null || vb == null) return InternalRow(a, b, null)
              val cos = CosineSim.cosine(va, vb)
              if (!(cos < floor)) return InternalRow(a, b, cos)
            }
          }
        }
        null
      }

      override def hasNext: Boolean = nextRow != null
      override def next(): InternalRow = {
        val r = nextRow
        nextRow = advance()
        r
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val m = child.genCode(ctx)
    val self = ctx.addReferenceObj("bucketPairs", this, classOf[BucketPairs].getName)
    ev.copy(code = code"""
      |${m.code}
      |scala.collection.Iterator ${ev.value} = ${m.isNull}
      |  ? scala.collection.Iterator$$.MODULE$$.empty() : $self.pairs(${m.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): BucketPairs = copy(child = c)
}

object BucketPairs {
  /** Raw-score margin of the kernel's pre-filter: twice the largest
    * shift `round(c, 6)` can apply, so the filter never drops a pair
    * the exact rounded filter would keep. */
  val ScoreSlack = 1e-6
}

/** First-collision predicate of the LSH pair and candidate stages:
  * `bands_disjoint(x, y)` is true when the band prefixes `x` and `y`
  * agree in no table. `x` (array<int>) holds one side's buckets in
  * tables 0 until bj; `y` holds the other side's, either as array<int>
  * (one bucket per table) or as array<array<int>> (a query's multiprobe
  * set per table, matching when it holds x's bucket). A row of a
  * (bj, bv) bucket join that passes collides first at table bj, so each
  * pair or (query, candidate) survives exactly once, whatever number
  * of tables it collides in — the join needs no `distinct`. Null
  * elements never match. */
case class BandsDisjoint(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bands_disjoint"

  private def probed: Boolean = right.dataType match {
    case ArrayType(ArrayType(_, _), _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (probed) BandsDisjoint.unprobed(x, y) else BandsDisjoint.disjoint(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = if (probed) "unprobed" else "disjoint"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.BandsDisjoint$$.MODULE$$.$f($a, $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BandsDisjoint =
    copy(left = l, right = r)
}

object BandsDisjoint {
  /** No index of the common prefix where `x` and `y` hold the same
    * non-null bucket. */
  def disjoint(x: ArrayData, y: ArrayData): Boolean = {
    val n = math.min(x.numElements(), y.numElements())
    var k = 0
    while (k < n) {
      if (!x.isNullAt(k) && !y.isNullAt(k) && x.getInt(k) == y.getInt(k)) return false
      k += 1
    }
    true
  }

  /** No index of the common prefix whose probe set `probes(k)` holds
    * the bucket `x(k)`. */
  def unprobed(x: ArrayData, probes: ArrayData): Boolean = {
    val n = math.min(x.numElements(), probes.numElements())
    var k = 0
    while (k < n) {
      if (!x.isNullAt(k) && !probes.isNullAt(k)) {
        val b = x.getInt(k)
        val ps = probes.getArray(k)
        var j = 0
        while (j < ps.numElements()) {
          if (!ps.isNullAt(j) && ps.getInt(j) == b) return false
          j += 1
        }
      }
      k += 1
    }
    true
  }
}

/** Native dot product over array<double> — CosineSim minus the
  * normalization. The L2 k-means / product-quantization primitives rank
  * by 2·(x·c) − (c·c) (argmin squared distance with the x·x term
  * dropped — it is constant per row), so a raw fused-loop dot is the
  * kernel. Accumulation order is element-sequential, identical to
  * DuckDB's list_dot_product, keeping oracle doubles bit-identical. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $dot += $a.getDouble($i) * $b.getDouble($i); }
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Random-hyperplane LSH bucket of an array<double> vector: bit j of the
  * result is the sign of the dot product with deterministic pseudo-random
  * hyperplane j. The plane matrix is md5-derived (±1 components), baked
  * into the expression via a codegen reference object — a tight Java
  * loop instead of the 512-term folded SQL expression it replaces.
  */
case class LshBucket(child: Expression, numPlanes: Int, dims: Int, seed: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "lsh_bucket"

  @transient lazy val planes: Array[Array[Double]] = LshBucket.planes(numPlanes, dims, seed)

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = math.min(dims, v.numElements())
    var bucket = 0
    var j = 0
    while (j < numPlanes) {
      var dot = 0.0
      var d = 0
      while (d < n) { dot += v.getDouble(d) * planes(j)(d); d += 1 }
      if (dot > 0) bucket |= (1 << j)
      j += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val p = ctx.addReferenceObj("planes", planes, "double[][]")
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      val bucket = ctx.freshName("bucket")
      s"""
         |int $n = java.lang.Math.min($dims, $a.numElements());
         |int $bucket = 0;
         |for (int $j = 0; $j < $numPlanes; $j++) {
         |  double $dot = 0.0;
         |  for (int $d = 0; $d < $n; $d++) { $dot += $a.getDouble($d) * $p[$j][$d]; }
         |  if ($dot > 0) $bucket |= (1 << $j);
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): LshBucket = copy(child = c)
}

/** Dense matrix–vector product y = M·v over array<double> — the OPQ
  * rotation kernel. The matrix is MODEL-sized (d×d, learned driver-side
  * via Procrustes) and is baked into the expression instance — shipped
  * once per task via a codegen reference object like [[LshBucket]]'s
  * plane matrix, never joined or shuffled. Codegen calls the same
  * static kernel the interpreted path uses: one tight nested loop, no
  * per-element lambda frames (the `transform(sequence(...))` higher-
  * order form this replaces allocates one closure frame per output
  * element). Exposed per-session under a closure-registered function
  * name (the matrix rides the builder closure, not the SQL text). */
case class MatVec(matrix: Array[Array[Double]], child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "mat_vec"

  override def nullSafeEval(a: Any): Any =
    MatVec.multiply(matrix, a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("matrix", matrix, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MatVec$$.MODULE$$.multiply($m, $a);")
  }

  override protected def withNewChildInternal(c: Expression): MatVec = copy(child = c)
}

object MatVec {
  def multiply(m: Array[Array[Double]], v: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val out = new Array[Double](m.length)
    var i = 0
    while (i < m.length) {
      val r = m(i)
      val n = math.min(r.length, v.numElements())
      var s = 0.0
      var j = 0
      while (j < n) { s += r(j) * v.getDouble(j); j += 1 }
      out(i) = s
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Register `name(v)` = M·v on the session — the matrix is captured
    * in the builder CLOSURE (SQL text stays tiny; no 4096-double
    * literal to parse). Idempotent per (session, name). */
  def registerRotation(spark: SparkSession, name: String,
                       matrix: Array[Array[Double]]): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name,
      exprs => MatVec(matrix, VectorExpressions.toDoubleArray(exprs.head)),
      "built-in")
}

/** Multiprobe probe-bucket set for random-hyperplane LSH (Lv et al.,
  * VLDB'07 — query-directed probing restricted to single-bit flips):
  * the [[LshBucket]] base bucket plus the `nprobe` buckets reached by
  * flipping the bits whose hyperplane margin |v·wⱼ| is SMALLEST (ties
  * by bit index ascending) — exactly the buckets a near-miss neighbor
  * most likely hashed into. Query-side only: the corpus is still
  * hashed once per table, so recall rises at ZERO extra tables and
  * zero extra corpus shuffle; only the (tiny) query side fans out
  * 1+nprobe rows per table. Margins accumulate element-sequentially,
  * so a SQL oracle ranking DuckDB's list_dot_product margins makes
  * the identical flip choices bit-for-bit. */
case class LshProbes(child: Expression, numPlanes: Int, dims: Int,
                     seed: Int, nprobe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "lsh_probes"

  @transient lazy val planes: Array[Array[Double]] = LshBucket.planes(numPlanes, dims, seed)

  override def nullSafeEval(a: Any): Any =
    LshProbes.probes(planes, a.asInstanceOf[ArrayData], dims, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.LshProbes$$.MODULE$$.probes($p, $a, $dims, $nprobe);")
  }

  override protected def withNewChildInternal(c: Expression): LshProbes = copy(child = c)
}

object LshProbes {
  def probes(planes: Array[Array[Double]], v: ArrayData, dims: Int,
             nprobe: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val numPlanes = planes.length
    val n = math.min(dims, v.numElements())
    val margin = new Array[Double](numPlanes)
    var bucket = 0
    var j = 0
    while (j < numPlanes) {
      var dot = 0.0
      var d = 0
      while (d < n) { dot += v.getDouble(d) * planes(j)(d); d += 1 }
      if (dot > 0) bucket |= (1 << j)
      margin(j) = math.abs(dot)
      j += 1
    }
    val k = math.min(nprobe, numPlanes)
    val order = (0 until numPlanes).sortBy(j => (margin(j), j))
    val out = new Array[Int](1 + k)
    out(0) = bucket
    var i = 0
    while (i < k) { out(i + 1) = bucket ^ (1 << order(i)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object LshBucket {
  /** ±1 plane components from md5("plane_<seed>_<j>_<d>") — the same
    * derivation a SQL oracle can reproduce with md5/substr/hex-cast. */
  def planes(numPlanes: Int, dims: Int, seed: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numPlanes, dims) { (j, d) =>
      val hex = md.digest(s"plane_${seed}_${j}_$d".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 2) * 2.0 - 1.0
    }
  }
}

object VectorExpressions {
  import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}

  /** Coerce a vector argument to array<double> at the builder so SQL
    * callers can pass the natural array<float> column directly — without
    * this, getDouble(i) over float-element ArrayData silently reads
    * garbage (UnsafeArrayData) or throws mid-job. */
  private def asDoubleArray(e: Expression): Expression = e.dataType match {
    case ArrayType(DoubleType, _) => e
    case _ => Cast(e, ArrayType(DoubleType))
  }

  /** [[asDoubleArray]] for builders outside this object (MatVec). */
  private[graft] def toDoubleArray(e: Expression): Expression = asDoubleArray(e)

  private[graft] def cosineBuilder(exprs: Seq[Expression]): Expression =
    CosineSim(asDoubleArray(exprs.head), asDoubleArray(exprs(1)))

  private[graft] def dotBuilder(exprs: Seq[Expression]): Expression =
    DotProduct(asDoubleArray(exprs.head), asDoubleArray(exprs(1)))

  private[graft] def lshBuilder(exprs: Seq[Expression]): Expression =
    LshBucket(asDoubleArray(exprs.head),
      exprs(1).eval().asInstanceOf[Int], exprs(2).eval().asInstanceOf[Int],
      if (exprs.length > 3) exprs(3).eval().asInstanceOf[Int] else 0)

  private[graft] def lshProbesBuilder(exprs: Seq[Expression]): Expression =
    LshProbes(asDoubleArray(exprs.head),
      exprs(1).eval().asInstanceOf[Int], exprs(2).eval().asInstanceOf[Int],
      exprs(3).eval().asInstanceOf[Int], exprs(4).eval().asInstanceOf[Int])

  private[graft] def vintPackBuilder(exprs: Seq[Expression]): Expression = {
    val arr = exprs.head.dataType match {
      case ArrayType(LongType, _) => exprs.head
      case _ => Cast(exprs.head, ArrayType(LongType))
    }
    VIntPack(arr)
  }

  private[graft] def vintUnpackBuilder(exprs: Seq[Expression]): Expression = {
    // coerce at the builder so a non-binary argument either casts
    // cleanly or fails analysis — never a codegen ClassCastException
    val bin = exprs.head.dataType match {
      case BinaryType => exprs.head
      case _ => Cast(exprs.head, BinaryType)
    }
    VIntUnpack(bin)
  }

  private[graft] def vecSumBuilder(exprs: Seq[Expression]): Expression =
    VecSum(asDoubleArray(exprs.head))

  private[graft] def commonPrefixBuilder(exprs: Seq[Expression]): Expression = {
    def asString(e: Expression): Expression = e.dataType match {
      case StringType => e
      case _ => Cast(e, StringType)
    }
    CommonPrefixLength(asString(exprs.head), asString(exprs(1)))
  }

  private[graft] def topKBuilder(exprs: Seq[Expression]): Expression = {
    val ord = if (exprs(0).dataType == DoubleType) exprs(0) else Cast(exprs(0), DoubleType)
    val payload = if (exprs(1).dataType == LongType) exprs(1) else Cast(exprs(1), LongType)
    TopKPairs(ord, payload, exprs(2).eval().asInstanceOf[Int])
  }

  private[graft] def kminBuilder(exprs: Seq[Expression]): Expression = {
    val arr = exprs(0).dataType match {
      case ArrayType(LongType, _) => exprs(0)
      case _ => Cast(exprs(0), ArrayType(LongType))
    }
    KMinDistinct(arr, exprs(1).eval().asInstanceOf[Int])
  }

  private[graft] def bucketPairsBuilder(exprs: Seq[Expression]): Expression = {
    val threshold =
      if (exprs.length > 1) Some(Cast(exprs(1), DoubleType).eval().asInstanceOf[Double])
      else None
    BucketPairs(exprs.head, threshold)
  }

  private[graft] def bandsDisjointBuilder(exprs: Seq[Expression]): Expression =
    BandsDisjoint(exprs.head, exprs(1))

  /** Every native function graft registers: (SQL name, builder,
    * expression class). [[register]] and `graft.GraftExtensions` both
    * walk this one list, so a function cannot be registered in one
    * place and missed in the other. */
  val functions: Seq[(String, Seq[Expression] => Expression, Class[_])] = Seq(
    ("cosine_sim", cosineBuilder, classOf[CosineSim]),
    ("dot_product", dotBuilder, classOf[DotProduct]),
    ("lsh_bucket", lshBuilder, classOf[LshBucket]),
    ("lsh_probes", lshProbesBuilder, classOf[LshProbes]),
    ("top_k_pairs", topKBuilder, classOf[TopKPairs]),
    ("kmin_distinct", kminBuilder, classOf[KMinDistinct]),
    ("vec_sum", vecSumBuilder, classOf[VecSum]),
    ("vint_pack", vintPackBuilder, classOf[VIntPack]),
    ("vint_unpack", vintUnpackBuilder, classOf[VIntUnpack]),
    ("common_prefix_length", commonPrefixBuilder, classOf[CommonPrefixLength]),
    ("bucket_pairs", bucketPairsBuilder, classOf[BucketPairs]),
    ("bands_disjoint", bandsDisjointBuilder, classOf[BandsDisjoint]))

  /** Idempotently register graft's native functions on a session so
    * plans can reference them via `expr("cosine_sim(a, b)")` / SQL. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, builder, _) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}
