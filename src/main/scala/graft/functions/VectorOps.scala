package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native vector kernels for the similarity-search operators: cosine and
  * random-hyperplane signatures as codegen'd Catalyst expressions. The
  * higher-order-function formulation (`aggregate(zip_with(...))`) runs
  * interpreted and allocates three intermediate arrays per row-pair; these
  * run a single fused double-precision loop.
  *
  * Accumulation is sequential left-to-right in double, matching the fold
  * semantics of `functions.aggregate` the operators previously used.
  */
object VectorUtil {

  /** Cosine similarity of two float-array vectors. Null elements (possible
    * when called from SQL over null-bearing arrays) contribute 0; a
    * zero-norm vector yields 0.0, NOT NaN — NaN would silently fail
    * >=-threshold filters (rows vanish) and sort unpredictably against
    * real scores, so zero vectors are excluded deterministically. */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0.0 else a.getFloat(i).toDouble
      val y = if (b.isNullAt(i)) 0.0 else b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Sign-bit signature of `v` against `planes` (row-major nBits × dim).
    * Null elements contribute 0 (consistent with [[cosineF]]). */
  def hyperSig(v: ArrayData, planes: Array[Array[Double]]): Long = {
    var sig = 0L
    val dim = v.numElements()
    var b = 0
    while (b < planes.length) {
      val h = planes(b)
      val d = math.min(dim, h.length)
      var dot = 0.0
      var i = 0
      while (i < d) {
        if (!v.isNullAt(i)) dot += v.getFloat(i).toDouble * h(i)
        i += 1
      }
      if (dot >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** All `tables` hyperplane signatures of `v` in ONE fused pass —
    * `planes(t)` holds table t's bit hyperplanes. One expression carrying
    * a 3-d reference array replaces `tables` separate [[hyperSig]] calls:
    * with auto-sized banding (hundreds of tables at corpus scale) the
    * per-call formulation spent seconds of DRIVER time analyzing and
    * codegen-ing hundreds of expressions per query (measured ~7 s of the
    * q_dedup_embed_lsh wall at the sf1 point, 2686cb5:PLAN_r10.md). */
  def hyperSigs(v: ArrayData, planes: Array[Array[Array[Double]]]): ArrayData = {
    val out = new Array[Long](planes.length)
    var t = 0
    while (t < planes.length) {
      out(t) = hyperSig(v, planes(t))
      t += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Argmax-cosine centroid id over a FIXED centroid set — the fused
    * native form of KMeans.argmaxCos's per-centroid HOF stack, and
    * BIT-EXACT with it (the 333-query oracle gates replay the k-means
    * assignment in DuckDB, so the kernel must reproduce the HOF fold to
    * the last ulp):
    *  - every sum is sequential left-to-right in double, exactly
    *    `aggregate(zip_with(...), 0.0, acc+x)`'s fold order; the vector
    *    self-norm is identical across centroids, so computing it once
    *    reproduces each per-centroid recomputation bit-for-bit;
    *  - `cos = dot / (sqrt(na)·sqrt(nc))` with NO zero-norm guard.
    *    Zero norms: the HOF form under ANSI mode (Spark 4 default)
    *    THROWS DIVIDE_BY_ZERO; here IEEE yields NaN for every centroid
    *    and the all-equal tie resolves to the smallest cid — strictly
    *    more defined, spec'd in ClusterSpec (unlike [[cosineF]], whose
    *    0.0 convention is part of the LSH operators' contract);
    *  - a null input vector, a null element, or a length mismatch made
    *    the HOF cosine NULL for every centroid, and `array_max`'s
    *    nulls-first struct ordering then picked the largest `-cid` —
    *    i.e. the SMALLEST cid; invalid inputs reproduce that;
    *  - valid cosines compare with Spark SQL's double ordering
    *    (SQLOrderingUtil: NaN largest, -0.0 == 0.0), ties to the
    *    smaller cid (the struct's `-cid` max).
    * At production k ≈ √n the HOF stack is the measured wall (k=450
    * at 200k vectors: ~400 s of interpreted per-centroid HOF evals,
    * 2686cb5:BENCH_semdedup_ab_r12.json); one fused reference-array loop is the
    * same flops without the interpreter. */
  def centroidArgmax(v: ArrayData, cids: Array[Long],
      cents: Array[Array[Double]], centNorms: Array[Double]): Long = {
    val n = if (v == null) -1 else v.numElements()
    var hasNull = v == null
    var na = 0.0
    var i = 0
    while (!hasNull && i < n) {
      if (v.isNullAt(i)) hasNull = true
      else { val x = v.getDouble(i); na += x * x }
      i += 1
    }
    val sna = math.sqrt(na)
    var bestValid = false
    var bestCos = 0.0
    var bestCid = Long.MaxValue
    var ci = 0
    while (ci < cents.length) {
      val c = cents(ci)
      val cid = cids(ci)
      val valid = !hasNull && n == c.length
      if (valid) {
        var dot = 0.0
        var j = 0
        while (j < n) { dot += v.getDouble(j) * c(j); j += 1 }
        val cos = dot / (sna * math.sqrt(centNorms(ci)))
        val better =
          if (!bestValid) true
          else {
            val cmp = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
              .compareDoubles(cos, bestCos)
            cmp > 0 || (cmp == 0 && cid < bestCid)
          }
        if (better) { bestValid = true; bestCos = cos; bestCid = cid }
      } else if (!bestValid && cid < bestCid) {
        bestCid = cid // all-invalid: array_max's nulls-first → smallest cid
      }
      ci += 1
    }
    bestCid
  }

  /** Ids of the `n` nearest centroids to `v` by cosine (desc, id asc). */
  def nearestCells(v: ArrayData, ids: Array[Long],
      cents: Array[Array[Double]], n: Int): ArrayData = {
    val m = ids.length
    val scores = new Array[Double](m)
    var ci = 0
    while (ci < m) {
      val h = cents(ci)
      val d = math.min(v.numElements(), h.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < d) {
        val x = if (v.isNullAt(i)) 0.0 else v.getFloat(i).toDouble
        val y = h(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      scores(ci) =
        if (na == 0.0 || nb == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(nb))
      ci += 1
    }
    val order = (0 until m).sortBy(i => (-scores(i), ids(i)))
    UnsafeArrayData.fromPrimitiveArray(
      order.take(math.min(n, m)).map(ids).toArray)
  }
}

/** `cosine_sim(a, b)` for two `array<float>` columns → double. */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires two array<float>, got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorUtil.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorUtil.cosineF($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** `hyperplane_sig(vec)` → long bucket id from seeded random hyperplanes
  * (generated once on the driver, shipped with the plan). */
case class HyperplaneSig(child: Expression, dim: Int, nBits: Int, seed: Long)
    extends UnaryExpression {

  @transient private lazy val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig requires array<float>, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"

  override def nullSafeEval(input: Any): Any =
    VectorUtil.hyperSig(input.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorUtil.hyperSig($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

/** `hyperplane_sigs(vec)` → array of `nTables` signatures, table t seeded
  * `seed + t` (bit-identical to `nTables` separate [[HyperplaneSig]] calls
  * over seeds `seed..seed+nTables-1`). One expression instead of a
  * per-table array(): auto-sized banding wants hundreds of tables at
  * corpus scale and the per-call plan paid seconds of driver-side
  * analysis/codegen (see [[VectorUtil.hyperSigs]]). */
case class HyperplaneSigs(child: Expression, dim: Int, nBits: Int,
    nTables: Int, seed: Long) extends UnaryExpression {

  @transient private lazy val planes: Array[Array[Array[Double]]] =
    Array.tabulate(nTables) { t =>
      val rnd = new scala.util.Random(seed + t)
      Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
    }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sigs requires array<float>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_sigs"

  override def nullSafeEval(input: Any): Any =
    VectorUtil.hyperSigs(input.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[][][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorUtil.hyperSigs($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigs =
    copy(child = newChild)
}

/** `nearest_cells(vec)` → the ids of the `n` nearest of the fixed
  * `centroids` by cosine. Centroids are collected once on the driver
  * (they are the coarse-quantizer "model", like k-means centers) and
  * shipped with the plan — cell assignment is then a shuffle-free map
  * over the corpus scan, not a crossJoin + window. */
case class NearestCells(child: Expression, ids: Array[Long],
    centroids: Array[Array[Double]], n: Int) extends UnaryExpression {
  require(ids.length == centroids.length && ids.nonEmpty,
    "ids/centroids must be same non-zero length")
  require(n >= 1, s"n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells requires array<float>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  override def nullSafeEval(input: Any): Any =
    VectorUtil.nearestCells(input.asInstanceOf[ArrayData], ids, centroids, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("cellIds", ids, "long[]")
    val centsRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorUtil.nearestCells($c, $idsRef, $centsRef, $n)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

/** `centroid_argmax(vec)` → the id of the fixed centroid with the highest
  * cosine to `vec` (ties to the smaller id) — the k-means assignment
  * step as ONE fused expression over a driver-shipped centroid matrix.
  * Bit-exact with the per-centroid HOF formulation it replaces (see
  * [[VectorUtil.centroidArgmax]]); at production k ≈ √n the HOF stack
  * was the measured wall of the whole semDedup operator. Never NULL:
  * invalid inputs reproduce the HOF+array_max smallest-cid behavior. */
case class CentroidArgmax(child: Expression, ids: Array[Long],
    centroids: Array[Array[Double]]) extends UnaryExpression {
  require(ids.length == centroids.length && ids.nonEmpty,
    "ids/centroids must be same non-zero length")

  // per-centroid self-norms, summed with the same sequential fold the
  // HOF form used (bit-identical; see VectorUtil.centroidArgmax)
  @transient private lazy val norms: Array[Double] =
    centroids.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"centroid_argmax requires array<double>, got $other")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "centroid_argmax"

  // null input must NOT short-circuit to NULL (the HOF form resolved a
  // null vector to the smallest cid via array_max's nulls-first struct
  // ordering), so eval/doGenCode handle null themselves instead of the
  // null-safe template.
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    VectorUtil.centroidArgmax(
      if (v == null) null else v.asInstanceOf[ArrayData], ids, centroids, norms)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val c = child.genCode(ctx)
    val idsRef = ctx.addReferenceObj("cids", ids, "long[]")
    val centsRef = ctx.addReferenceObj("cents", centroids, "double[][]")
    val normsRef = ctx.addReferenceObj("norms", norms, "double[]")
    ev.copy(
      code = code"""
        ${c.code}
        final long ${ev.value} = graft.functions.VectorUtil.centroidArgmax(
          ${c.isNull} ? null : ${c.value}, $idsRef, $centsRef, $normsRef);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidArgmax =
    copy(child = newChild)
}
