package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Single-pass vector kernels as custom Catalyst expressions.
  *
  * The Column formulation (`aggregate(zip_with(...))`) is semantically
  * identical but higher-order functions evaluate interpreted (codegen
  * fallback) and allocate a lambda frame per element — round-1 bench
  * showed the 8-plane LSH bucketing as the slowest query in the suite
  * for exactly this reason. Same cure as [[SketchExpressions]]: fuse
  * the per-row loop into one codegen'd static call.
  *
  * Float determinism contract (pinned by oracle queries q27-q29 and
  * the differential test in OpsSpec): every accumulator folds
  * sequentially in index order — bit-identical to the strict left fold
  * of Spark's `aggregate` and the oracle's `list_reduce` — and floats
  * widen to double before multiplying.
  */
object VectorKernels {

  // element accessor codes (resolved per child at codegen time)
  final val ElemFloat = 0
  final val ElemDouble = 1
  final val ElemInt = 2
  final val ElemLong = 3

  def elemCode(dt: DataType): Int = dt match {
    case ArrayType(FloatType, _) => ElemFloat
    case ArrayType(DoubleType, _) => ElemDouble
    case ArrayType(IntegerType, _) => ElemInt
    case ArrayType(LongType, _) => ElemLong
    case other =>
      throw new IllegalArgumentException(s"unsupported vector type $other")
  }

  private def get(a: ArrayData, i: Int, code: Int): Double = code match {
    case ElemFloat => a.getFloat(i).toDouble
    case ElemDouble => a.getDouble(i)
    case ElemInt => a.getInt(i).toDouble
    case _ => a.getLong(i).toDouble
  }

  /** cosine = dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))); the three
    * sums each accumulate in index order, so fusing them into one loop
    * yields bit-identical doubles to three separate folds.
    */
  def cosine(a: ArrayData, ca: Int, b: ArrayData, cb: Int): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = get(a, i, ca)
      val y = get(b, i, cb)
      d += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Fused nearest-centroid scan over a fixed-point long vector:
    * argmin_j of the integer squared L2 to each codebook row, ties to
    * the lowest j (strict `<` keeps the earlier winner — identical to
    * the `min(struct(d, j))` the groupBy formulation used). Returns
    * the winning index, or the winning distance when `emitDist` —
    * k*dims long multiply-adds per row, no explode, no join, no
    * shuffle. All arithmetic in Long: bit-identical to the former
    * two-aggregation plan (and to the DuckDB oracles).
    */
  def nearestCentroid(v: ArrayData, cents: Array[Array[Long]],
      emitDist: Boolean): Long = {
    var bestJ = 0
    var bestD = Long.MaxValue
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(v.numElements(), c.length)
      var d = 0L
      var i = 0
      while (i < n) {
        val x = v.getLong(i) - c(i)
        d += x * x
        i += 1
      }
      if (d < bestD) { bestD = d; bestJ = j }
      j += 1
    }
    if (emitDist) bestD else bestJ.toLong
  }

  /** Runner-up centroid distance: the second-smallest integer squared
    * L2 between `v` and any codebook row (duplicates count — two
    * equidistant nearest centroids make the runner-up equal the
    * winner, exactly like `row_number() ... ORDER BY d, j` rank 2 in
    * the oracle chains). With the winner's distance this yields the
    * simplified-silhouette a/b pair from ONE extra fused scan — no
    * explode, no join, no shuffle. Needs k >= 2 (enforced at
    * expression construction).
    */
  def secondCentroidDist(v: ArrayData, cents: Array[Array[Long]]): Long = {
    var best = Long.MaxValue
    var second = Long.MaxValue
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(v.numElements(), c.length)
      var d = 0L
      var i = 0
      while (i < n) {
        val x = v.getLong(i) - c(i)
        d += x * x
        i += 1
      }
      if (d < best) { second = best; best = d }
      else if (d < second) { second = d }
      j += 1
    }
    second
  }

  /** Fused argmax-cosine routing over a double codebook: one pass of
    * k cosine evaluations per row (each accumulated in index order,
    * bit-identical to [[cosine]]), returning the winning centroid's
    * id. Comparison uses `java.lang.Double.compare`, reproducing the
    * `greatest(struct(cos, -id))` formulation EXACTLY — including
    * NaN ordering (NaN > any double, NaN == NaN), which matters for
    * zero vectors/centroids — with ties to the LOWEST id (ids must
    * arrive ascending). Replaces the per-centroid `typedLit` struct
    * stack, which embeds k x dims literal doubles into the plan and
    * re-analyzes them on every use — unworkable at IVF cell counts
    * in the thousands.
    */
  def nearestCentroidCos(v: ArrayData, cv: Int,
      cents: Array[Array[Double]], ids: Array[Int]): Int = {
    var bestCos = Double.NegativeInfinity
    var bestId = ids(0)
    var j = 0
    while (j < cents.length) {
      val w = cents(j)
      val n = math.min(v.numElements(), w.length)
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = get(v, i, cv)
        val y = w(i)
        d += x * y; na += x * x; nb += y * y
        i += 1
      }
      val c = d / (math.sqrt(na) * math.sqrt(nb))
      val cmp = java.lang.Double.compare(c, bestCos)
      if (cmp > 0 || (cmp == 0 && ids(j) < bestId)) {
        bestCos = c; bestId = ids(j)
      }
      j += 1
    }
    bestId
  }

  /** The `n` nearest codebook rows to `v` by integer squared L2,
    * as an array of centroid indices ordered exactly like
    * `row_number() OVER (ORDER BY d, j)` ranks 1..n (ties to the
    * lower index — selection uses strict `<` per rank, so an
    * equal-distance later row never displaces an earlier one). The
    * multi-probe primitive: one fused codebook scan per row emits
    * the whole probe set, no explode of distances, no shuffle.
    */
  def topCentroids(v: ArrayData, cents: Array[Array[Long]],
      n: Int): ArrayData = {
    val kk = cents.length
    val ds = new Array[Long](kk)
    var j = 0
    while (j < kk) {
      val c = cents(j)
      val nn = math.min(v.numElements(), c.length)
      var d = 0L
      var i = 0
      while (i < nn) {
        val x = v.getLong(i) - c(i)
        d += x * x
        i += 1
      }
      ds(j) = d
      j += 1
    }
    val m = math.min(n, kk)
    val out = new Array[Long](m)
    val used = new Array[Boolean](kk)
    var r = 0
    while (r < m) {
      var bj = -1
      var bd = Long.MaxValue
      var q = 0
      while (q < kk) {
        if (!used(q) && ds(q) < bd) { bd = ds(q); bj = q }
        q += 1
      }
      used(bj) = true
      out(r) = bj.toLong
      r += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Fixed-point micros view of a float/double vector in one pass:
    * floor(double(v_i) * 1e6) as a primitive long array — the
    * allocation-free replacement for the interpreted
    * `transform(v, x -> floor(x * 1e6) :: long)` HOF, which boxed
    * every element (64 boxed Longs + a GenericArrayData per row; at
    * millions of vectors the GC churn dominated the whole cache
    * build — measured in SCALING.md round 8). Identical values to
    * [[Quantize.micros]]: floor in double, truncate to long. A null
    * array element is a contract violation (the HOF this replaced
    * produced null there, which no caller can consume) and fails
    * fast with a clear message instead of silently reading 0.
    */
  def microsVec(v: ArrayData, cv: Int): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) throw new IllegalArgumentException(
        s"micros_vec: null element at index $i of $n — embedding " +
          "arrays must be null-free (filter or repair upstream)")
      out(i) = math.floor(get(v, i, cv) * 1e6).toLong
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Integer squared L2 between two long arrays, folded in index
    * order over min(len) — the distance primitive of the fixed-point
    * ANN family as ONE codegen'd call (the `aggregate(zip_with(...))`
    * HOF form boxes a Long per element and evaluates interpreted).
    * Bound: 64 dims of |m| <= 2^21 micros give <= 2^48 — room for
    * ~32k dims before 2^63.
    */
  def sqDistL(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0L
    var i = 0
    while (i < n) {
      val x = a.getLong(i) - b.getLong(i)
      d += x * x
      i += 1
    }
    d
  }

  /** Fused scalar-quantization round trip: per dimension i,
    *   code  = ((m - lo_i) * 255) DIV wd_i       (0 when wd_i = 0)
    *   dv_i  = lo_i + (code * wd_i) DIV 255
    * — [[Quantize.quantizeAudit]]'s exact formulas, applied as one
    * allocation-light kernel with the 2 x dims range tables shipped
    * as reference objects. PRECONDITION: lo/wd computed over the
    * same frame (m >= lo_i keeps every operand nonnegative, where
    * truncating Java division == DuckDB floor `//`); out-of-range
    * inputs would break that equivalence, so callers must not reuse
    * stale tables on new arrivals.
    */
  def sq8Dequant(v: ArrayData, lo: Array[Long], wd: Array[Long]): ArrayData = {
    val n = math.min(v.numElements(), lo.length)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val l = lo(i)
      val w = wd(i)
      out(i) = if (w > 0) l + ((v.getLong(i) - l) * 255 / w) * w / 255 else l
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** The code half of [[sq8Dequant]]: per dimension,
    * code = ((m - lo_i) * 255) DIV wd_i, 0 when wd_i = 0 — the
    * long-array view for in-memory math; [[sq8PackBytes]] is the
    * one-byte-per-dim form the index artifact persists. Same
    * precondition as [[sq8Dequant]].
    */
  def sq8Codes(v: ArrayData, lo: Array[Long], wd: Array[Long]): ArrayData = {
    val n = math.min(v.numElements(), lo.length)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val w = wd(i)
      out(i) = if (w > 0) (v.getLong(i) - lo(i)) * 255 / w else 0L
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Reconstruction from persisted SQ8 codes:
    * dv_i = lo_i + (code_i * wd_i) DIV 255 — the search-time half;
    * [[sq8Dequant]] == sq8FromCodes(sq8Codes(v)) by construction.
    */
  def sq8FromCodes(codes: ArrayData, lo: Array[Long],
      wd: Array[Long]): ArrayData = {
    val n = math.min(codes.numElements(), lo.length)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = lo(i) + codes.getLong(i) * wd(i) / 255
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** [[sq8Codes]] packed to ONE BYTE per dimension — what the index
    * artifact actually persists (64 B/vector vs 512 B as longs: the
    * honest 4x-vs-fp32 storage story). Codes are in [0, 255], stored
    * as the two's-complement byte with the same low 8 bits; unpack
    * restores via `& 0xFF`.
    */
  def sq8PackBytes(v: ArrayData, lo: Array[Long],
      wd: Array[Long]): Array[Byte] = {
    val n = math.min(v.numElements(), lo.length)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val w = wd(i)
      out(i) = (if (w > 0) (v.getLong(i) - lo(i)) * 255 / w else 0L).toByte
      i += 1
    }
    out
  }

  /** Unpack-and-dequantize straight from the packed byte codes:
    * dv_i = lo_i + ((b_i & 0xFF) * wd_i) DIV 255 — one fused call on
    * the search path, no intermediate code array.
    */
  def sq8UnpackDequant(b: Array[Byte], lo: Array[Long],
      wd: Array[Long]): ArrayData = {
    val n = math.min(b.length, lo.length)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = lo(i) + (b(i) & 0xFF).toLong * wd(i) / 255
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Sign-bit LSH bucket: bit p set when dot(v, planes(p)) >= 0. */
  def lshBucket(v: ArrayData, cv: Int, planes: Array[Array[Int]]): Long = {
    var bucket = 0L
    var p = 0
    while (p < planes.length) {
      val w = planes(p)
      val n = math.min(v.numElements(), w.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += get(v, i, cv) * w(i).toDouble; i += 1 }
      if (s >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }
}

/** cosine_sim(a, b): double. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(
      a.asInstanceOf[ArrayData], VectorKernels.elemCode(left.dataType),
      b.asInstanceOf[ArrayData], VectorKernels.elemCode(right.dataType))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (ca, cb) =
      (VectorKernels.elemCode(left.dataType), VectorKernels.elemCode(right.dataType))
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.ops.VectorKernels.cosine($l, $ca, $r, $cb);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cosine_sim"
}

/** lsh_bucket(vec): long — `planes` ships inside the expression as a
  * reference object (dimension-sized, never shuffled).
  */
case class LshBucketExpr(child: Expression, planes: Array[Array[Int]])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    VectorKernels.lshBucket(input.asInstanceOf[ArrayData],
      VectorKernels.elemCode(child.dataType), planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cv = VectorKernels.elemCode(child.dataType)
    val ref = ctx.addReferenceObj("lshPlanes", planes, "int[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.VectorKernels.lshBucket($c, $cv, $ref);")
  }
  override protected def withNewChildInternal(c: Expression): LshBucketExpr =
    copy(child = c)
  override def prettyName: String = "lsh_bucket"
}

/** nearest_centroid(mv): long — the (k x dims) codebook ships inside
  * the expression as a reference object (centroid-sized, never
  * shuffled); `emitDist` selects winning index vs winning distance.
  * Requires an array<long> child (the fixed-point micros view every
  * Lloyd caller already builds).
  */
case class NearestCentroidExpr(child: Expression,
    cents: Array[Array[Long]], emitDist: Boolean)
    extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid needs array<long>, got $other")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    VectorKernels.nearestCentroid(input.asInstanceOf[ArrayData], cents, emitDist)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", cents, "long[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.VectorKernels.nearestCentroid($c, $ref, $emitDist);")
  }
  override protected def withNewChildInternal(c: Expression): NearestCentroidExpr =
    copy(child = c)
  override def prettyName: String =
    if (emitDist) "nearest_centroid_dist" else "nearest_centroid"
}

/** second_centroid_dist(mv): long — the runner-up squared L2 to the
  * codebook ([[VectorKernels.secondCentroidDist]]); with
  * `nearest_centroid_dist` it forms the simplified-silhouette (a, b)
  * pair in pure projections. Codebook rides as a reference object.
  */
case class SecondCentroidDistExpr(child: Expression,
    cents: Array[Array[Long]]) extends UnaryExpression {
  require(cents.length >= 2,
    "second_centroid_dist needs a codebook with k >= 2")
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"second_centroid_dist needs array<long>, got $other")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    VectorKernels.secondCentroidDist(input.asInstanceOf[ArrayData], cents)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", cents, "long[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.VectorKernels.secondCentroidDist($c, $ref);")
  }
  override protected def withNewChildInternal(c: Expression): SecondCentroidDistExpr =
    copy(child = c)
  override def prettyName: String = "second_centroid_dist"
}

/** top_centroids(mv): array<long> — the n nearest codebook indices in
  * (d, j) rank order ([[VectorKernels.topCentroids]]); exploding it
  * yields the multi-probe cell set in one fused scan. The codebook
  * rides as a reference object.
  */
case class TopCentroidsExpr(child: Expression,
    cents: Array[Array[Long]], n: Int) extends UnaryExpression {
  require(cents.nonEmpty && n >= 1,
    "top_centroids needs a non-empty codebook and n >= 1")
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"top_centroids needs array<long>, got $other")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    VectorKernels.topCentroids(input.asInstanceOf[ArrayData], cents, n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", cents, "long[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.VectorKernels.topCentroids($c, $ref, $n);")
  }
  override protected def withNewChildInternal(c: Expression): TopCentroidsExpr =
    copy(child = c)
  override def prettyName: String = "top_centroids"
}

/** nearest_centroid_cos(vec): int — fused argmax-cosine routing, see
  * [[VectorKernels.nearestCentroidCos]]. The codebook and its ids
  * ride as reference objects.
  */
case class NearestCentroidCosExpr(child: Expression,
    cents: Array[Array[Double]], ids: Array[Int])
    extends UnaryExpression {
  require(cents.nonEmpty && cents.length == ids.length,
    "nearest_centroid_cos needs a non-empty codebook with matching ids")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    VectorKernels.nearestCentroidCos(input.asInstanceOf[ArrayData],
      VectorKernels.elemCode(child.dataType), cents, ids)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cv = VectorKernels.elemCode(child.dataType)
    val cRef = ctx.addReferenceObj("cosCentroids", cents, "double[][]")
    val iRef = ctx.addReferenceObj("cosCentroidIds", ids, "int[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.VectorKernels.nearestCentroidCos($c, $cv, $cRef, $iRef);")
  }
  override protected def withNewChildInternal(c: Expression): NearestCentroidCosExpr =
    copy(child = c)
  override def prettyName: String = "nearest_centroid_cos"
}

/** micros_vec(vec): array<long> — fused fixed-point view, see
  * [[VectorKernels.microsVec]].
  */
case class MicrosVecExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    VectorKernels.microsVec(input.asInstanceOf[ArrayData],
      VectorKernels.elemCode(child.dataType))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cv = VectorKernels.elemCode(child.dataType)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.VectorKernels.microsVec($c, $cv);")
  }
  override protected def withNewChildInternal(c: Expression): MicrosVecExpr =
    copy(child = c)
  override def prettyName: String = "micros_vec"
}

/** sq_dist(a, b): long — integer squared L2 over two array<long>
  * children, see [[VectorKernels.sqDistL]].
  */
case class SqDistExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  // array<long> children only (micros_vec upstream) — checked lazily
  // via getLong, never at construction (children may be unresolved)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sqDistL(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.ops.VectorKernels.sqDistL($l, $r);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "sq_dist"
}

/** sq8_dequant(mv) / sq8_codes(mv) / sq8_from_codes(codes):
  * array<long> — the fused int8 scalar-quantization family (round
  * trip, persisted codes, reconstruction from codes); the
  * per-dimension range tables ship as reference objects (2 x dims
  * longs, never shuffled). See [[VectorKernels.sq8Dequant]] for the
  * formulas and precondition. `mode`: 0 = dequant, 1 = codes,
  * 2 = from-codes, 3 = pack-bytes (array<long> -> binary, one byte
  * per dim), 4 = unpack-dequant (binary -> array<long>).
  */
case class Sq8Expr(child: Expression, lo: Array[Long],
    wd: Array[Long], mode: Int) extends UnaryExpression {
  require(lo.length == wd.length && wd.forall(_ >= 0),
    "sq8: lo/wd must be same-length with nonnegative widths")
  require(mode >= 0 && mode <= 4, s"sq8: unknown mode $mode")
  private def kernel = mode match {
    case 0 => "sq8Dequant"
    case 1 => "sq8Codes"
    case 2 => "sq8FromCodes"
    case 3 => "sq8PackBytes"
    case _ => "sq8UnpackDequant"
  }
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (mode, child.dataType) match {
      case (4, BinaryType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (m, ArrayType(LongType, _)) if m <= 3 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (m, other) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs ${if (m == 4) "binary" else "array<long>"}, " +
            s"got $other")
    }
  override def dataType: DataType =
    if (mode == 3) BinaryType
    else ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = mode match {
    case 0 => VectorKernels.sq8Dequant(input.asInstanceOf[ArrayData], lo, wd)
    case 1 => VectorKernels.sq8Codes(input.asInstanceOf[ArrayData], lo, wd)
    case 2 => VectorKernels.sq8FromCodes(input.asInstanceOf[ArrayData], lo, wd)
    case 3 => VectorKernels.sq8PackBytes(input.asInstanceOf[ArrayData], lo, wd)
    case _ => VectorKernels.sq8UnpackDequant(
      input.asInstanceOf[Array[Byte]], lo, wd)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("sq8Lo", lo, "long[]")
    val wdRef = ctx.addReferenceObj("sq8Wd", wd, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.VectorKernels.$kernel($c, $loRef, $wdRef);")
  }
  override protected def withNewChildInternal(c: Expression): Sq8Expr =
    copy(child = c)
  override def prettyName: String = mode match {
    case 0 => "sq8_dequant"
    case 1 => "sq8_codes"
    case 2 => "sq8_from_codes"
    case 3 => "sq8_pack_bytes"
    case _ => "sq8_unpack_dequant"
  }
}

object VectorExpressions {
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def lshBucket(vec: Column, planes: Array[Array[Int]]): Column =
    ColumnBridge.column(LshBucketExpr(ColumnBridge.expression(vec), planes))
  def nearestCentroid(vec: Column, cents: Array[Array[Long]]): Column =
    ColumnBridge.column(NearestCentroidExpr(
      ColumnBridge.expression(vec), cents, emitDist = false))
  def nearestCentroidDist(vec: Column, cents: Array[Array[Long]]): Column =
    ColumnBridge.column(NearestCentroidExpr(
      ColumnBridge.expression(vec), cents, emitDist = true))
  def secondCentroidDist(vec: Column, cents: Array[Array[Long]]): Column =
    ColumnBridge.column(SecondCentroidDistExpr(
      ColumnBridge.expression(vec), cents))
  def topCentroids(vec: Column, cents: Array[Array[Long]], n: Int): Column =
    ColumnBridge.column(TopCentroidsExpr(
      ColumnBridge.expression(vec), cents, n))
  def microsVec(vec: Column): Column =
    ColumnBridge.column(MicrosVecExpr(ColumnBridge.expression(vec)))
  def sqDist(a: Column, b: Column): Column =
    ColumnBridge.column(SqDistExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def sq8Dequant(vec: Column, lo: Array[Long], wd: Array[Long]): Column =
    ColumnBridge.column(Sq8Expr(ColumnBridge.expression(vec), lo, wd, 0))
  def sq8Codes(vec: Column, lo: Array[Long], wd: Array[Long]): Column =
    ColumnBridge.column(Sq8Expr(ColumnBridge.expression(vec), lo, wd, 1))
  def sq8FromCodes(codes: Column, lo: Array[Long], wd: Array[Long]): Column =
    ColumnBridge.column(Sq8Expr(ColumnBridge.expression(codes), lo, wd, 2))
  def sq8PackBytes(vec: Column, lo: Array[Long], wd: Array[Long]): Column =
    ColumnBridge.column(Sq8Expr(ColumnBridge.expression(vec), lo, wd, 3))
  def sq8UnpackDequant(bin: Column, lo: Array[Long], wd: Array[Long]): Column =
    ColumnBridge.column(Sq8Expr(ColumnBridge.expression(bin), lo, wd, 4))
  def nearestCentroidCos(vec: Column, cents: Array[Array[Double]],
      ids: Array[Int]): Column =
    ColumnBridge.column(NearestCentroidCosExpr(
      ColumnBridge.expression(vec), cents, ids))
}
