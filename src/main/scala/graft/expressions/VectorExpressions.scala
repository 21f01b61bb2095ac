package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the embedding hot path (SURVEY.md §2.D).
  *
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` is semantically right but
  * allocates an intermediate array and interprets two lambdas per row; at
  * 2M candidate pairs × 64 dims that dominates the profile. These
  * expressions generate a single fused Java loop (`doGenCode`), keeping the
  * whole comparison inside WholeStageCodegen. Summation order is the same
  * sequential left-fold, so results are bit-identical to the composed form
  * (and to the DuckDB `list_reduce` oracle).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // declared input contract makes wrong-typed SQL input (array<int>
  // through graft_dot) an analysis-time error instead of silent byte
  // reinterpretation through UnsafeArrayData.getDouble
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"expects two ARRAY<DOUBLE>, got ${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = DoubleType

  // mismatched dimensionality returns NULL — the same answer the composed
  // aggregate(zip_with(...)) form (and the DuckDB oracle) gives; a
  // truncated partial dot product would silently rank a corrupt vector
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** L2 norm of a double array — same fused-loop rationale as [[DotProduct]]. */
case class L2Norm(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"expects ARRAY<DOUBLE>, got ${t.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    while (i < x.numElements()) { val v = x.getDouble(i); acc += v * v; i += 1 }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
         |double $acc = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $v = $a.getDouble($i);
         |  $acc += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass SimHash over pre-hashed tokens (array<bigint> of 60-bit
  * hashes): bit b of the output is set iff tokens with bit b set are the
  * (weak) majority — identical semantics to the 60-fold composed form
  * SketchParitySpec keeps as its oracle, evaluated in a single traversal
  * instead of 60.
  */
case class SimHash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"expects ARRAY<BIGINT>, got ${t.simpleString}")
    }

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any = {
    val hs = a.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val counts = new Array[Int](60)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 60) { counts(b) += ((h >>> b) & 1L).toInt; b += 1 }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (2 * counts(b) >= n) out |= (1L << b); b += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |int[] $counts = new int[60];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 60; $b++) {
         |    $counts[$b] += (int) (($h >>> $b) & 1L);
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 60; $b++) {
         |  if (2 * $counts[$b] >= $n) $out |= (1L << $b);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Static helper for [[SrpBandValues]] — callable from generated code. */
object SrpUtil {
  /** All `masks.length / bandBits` SRP band values of a quantized vector
    * in one pass: dot_b = Σ_d (mask_b bit d ? q[d] : −q[d]) (exact long
    * arithmetic, d ascending — the same left fold as
    * `aggregate(zip_with(q, signs, _*_), 0L, _+_)`, which under ANSI
    * RAISES on overflow, so the exact ops here mirror it loudly rather
    * than wrap silently), band k's value =
    * Σ_i (dot_{k·bandBits+i} ≥ 0 ? 1«i : 0). The caller's fused width
    * guard makes q exactly `dims` wide. */
  def bandValues(q: ArrayData, masks: Array[Long], dims: Int, bandBits: Int): ArrayData = {
    val nBands = masks.length / bandBits
    val out = new Array[Any](nBands)
    var k = 0
    var b = 0
    while (k < nBands) {
      var bv = 0L
      var i = 0
      while (i < bandBits) {
        val m = masks(b)
        var dot = 0L
        var d = 0
        while (d < dims) {
          val x = q.getLong(d)
          dot = java.lang.Math.addExact(dot,
            if (((m >>> d) & 1L) == 1L) x else java.lang.Math.negateExact(x))
          d += 1
        }
        if (dot >= 0L) bv |= (1L << i)
        b += 1; i += 1
      }
      out(k) = bv
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** All SRP band values of a quantized (BIGINT micro-unit) vector in one
  * codegen'd pass — fuses [[graft.operators.RandomProjection]]'s
  * `bits` interpreted `aggregate(zip_with(...))` hyperplane folds plus
  * the per-band bit packing into a single loop over the vector. The sign
  * masks ride the plan as one reference object (like [[PqEncodeCodes]]'s
  * codebook). Value-identical to the composed form: same d-ascending
  * long fold per hyperplane (wrap-identical), same `dot ≥ 0` bit rule,
  * same band order. */
case class SrpBandValues(child: Expression, masks: Seq[Long], dims: Int,
                         bandBits: Int) extends UnaryExpression {
  require(masks.nonEmpty && masks.length % bandBits == 0,
    s"SrpBandValues: bits=${masks.length} must be a positive multiple of bandBits=$bandBits")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"expects ARRAY<BIGINT>, got ${t.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val maskArr: Array[Long] = masks.toArray

  override def nullSafeEval(a: Any): Any =
    SrpUtil.bandValues(a.asInstanceOf[ArrayData], maskArr, dims, bandBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("srpMasks", maskArr, "long[]")
    defineCodeGen(ctx, ev, q =>
      s"graft.expressions.SrpUtil.bandValues($q, $ref, $dims, $bandBits)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Static helpers for the IVF assignment expressions — callable from
  * generated code. Both replicate [[graft.operators.Similarity]]'s
  * composed catalyst forms exactly:
  *  - score = round6(dot(v, cv) / (nrm · cn)) with [[PqUtil.round6]]
  *    (identity on NaN/±Inf, else HALF_UP at scale 6 — Spark's `round`);
  *    round6 never emits −0.0, so double comparisons below can use
  *    `java.lang.Double.compare`, which matches Spark SQL's ordering
  *    (NaN greatest, NaN = NaN) on this domain;
  *  - a dimension-mismatched centroid scores NULL in the composed form
  *    (DotProduct's contract) and is skipped / ordered by cid here;
  *  - centroids visit in the packed array's order (array_sort of
  *    struct(cid,…) = cid ascending). */
object IvfUtil {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  /** The composed score divides under ANSI semantics, which RAISES on a
    * zero divisor (a zero-norm vector or centroid) — the native pass
    * must fail just as loudly, never silently emit ±Inf/NaN scores the
    * composed form would have refused to produce. */
  @inline private def nonZero(d: Double): Double = {
    if (d == 0.0)
      throw new ArithmeticException(
        "[DIVIDE_BY_ZERO] Division by zero in IVF score (zero-norm vector " +
          "or centroid) — the composed ANSI division raises here too")
    d
  }

  /** [[graft.operators.Similarity.ivfAssign]]'s best-centroid fold:
    * init (−∞, cs[0].cid), update on strictly-greater score — Spark's
    * `>` (NaN greatest), so ties keep the EARLIEST (lowest-cid) winner.
    * `cidLong` carries the caller's centroid-id type (BIGINT or INT —
    * both occur: raw vec_ids vs k-means cluster indexes). */
  def bestAssign(v: ArrayData, nrm: Double, cs: ArrayData, cidLong: Boolean): InternalRow = {
    val k = cs.numElements()
    if (k == 0)
      throw new IllegalArgumentException(
        "ivfAssign: empty centroid array (element_at(cs, 1) has no element)")
    def cid(row: InternalRow): Any =
      if (cidLong) row.getLong(0) else row.getInt(0)
    var bestSim = Double.NegativeInfinity
    var bestCid = cid(cs.getStruct(0, 3))
    val dims = v.numElements()
    var i = 0
    while (i < k) {
      val c = cs.getStruct(i, 3)
      val cv = c.getArray(1)
      if (cv.numElements() == dims) { // mismatch ⇒ composed dot = NULL ⇒ skip
        var acc = 0.0
        var d = 0
        while (d < dims) { acc += v.getDouble(d) * cv.getDouble(d); d += 1 }
        val s = PqUtil.round6(acc / nonZero(nrm * c.getDouble(2)))
        if (java.lang.Double.compare(s, bestSim) > 0) {
          bestSim = s; bestCid = cid(c)
        }
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](bestSim, bestCid))
  }

  /** [[graft.operators.Similarity.ivfProbes]]'s scored+ordered+sliced
    * chain: every centroid scored (NULL on dimension mismatch), ordered
    * by the composed comparator — sim DESC via two null-skipping `when`s
    * (ANY null sim falls through to the tiebreak), then cid ASC — and
    * the first `nProbe` kept. */
  def probeRanked(v: ArrayData, nrm: Double, cs: ArrayData, nProbe: Int,
                  cidLong: Boolean): ArrayData = {
    val k = cs.numElements()
    val sims = new Array[java.lang.Double](k)
    val cids = new Array[Long](k) // widened for ordering only; output keeps type
    val dims = v.numElements()
    var i = 0
    while (i < k) {
      val c = cs.getStruct(i, 3)
      cids(i) = if (cidLong) c.getLong(0) else c.getInt(0).toLong
      val cv = c.getArray(1)
      if (cv.numElements() == dims) {
        var acc = 0.0
        var d = 0
        while (d < dims) { acc += v.getDouble(d) * cv.getDouble(d); d += 1 }
        sims(i) = java.lang.Double.valueOf(PqUtil.round6(acc / nonZero(nrm * c.getDouble(2))))
      }
      i += 1
    }
    val idx = Array.range(0, k).map(Integer.valueOf)
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val la = sims(a.intValue())
        val lb = sims(b.intValue())
        if (la != null && lb != null) {
          val c = java.lang.Double.compare(la.doubleValue(), lb.doubleValue())
          if (c != 0) return -c // sim DESC
        }
        java.lang.Long.compare(cids(a.intValue()), cids(b.intValue()))
      }
    })
    val n = math.min(nProbe, k)
    val out = new Array[Any](n)
    var j = 0
    while (j < n) {
      val x = idx(j).intValue()
      out(j) = new GenericInternalRow(Array[Any](
        if (sims(x) == null) null else sims(x).doubleValue(),
        if (cidLong) cids(x) else cids(x).toInt))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** [[graft.operators.Similarity.ivfAssign]]'s per-row interpreted
  * `aggregate` over the broadcast centroid array, fused into one
  * codegen'd pass (see [[IvfUtil.bestAssign]]). At corpus scale this
  * fold IS the assignment cost — K score evaluations per row, each
  * previously walking an interpreted expression tree with a struct
  * allocation per step. The NULL-vector case is pinned at the caller
  * (the composed fold returns its init struct there, not NULL). */
case class IvfBestAssign(vec: Expression, nrm: Expression, cents: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def first: Expression = vec
  override def second: Expression = nrm
  override def third: Expression = cents

  override def checkInputDataTypes(): TypeCheckResult =
    IvfBestAssign.check(vec.dataType, nrm.dataType, cents.dataType)

  private def cidType: DataType = IvfBestAssign.cidTypeOf(cents.dataType)
  private def cidLong: Boolean = cidType == LongType

  override def dataType: DataType = StructType(Seq(
    StructField("sim", DoubleType, nullable = false),
    StructField("cid", cidType, nullable = false)))

  override def nullSafeEval(v: Any, n: Any, cs: Any): Any =
    IvfUtil.bestAssign(v.asInstanceOf[ArrayData],
      n.asInstanceOf[Double], cs.asInstanceOf[ArrayData], cidLong)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, n, cs) =>
      s"graft.expressions.IvfUtil.bestAssign($v, $n, $cs, $cidLong)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(vec = f, nrm = s, cents = t)
}

object IvfBestAssign {
  /** Shared input contract: the packed centroid array's cid may be
    * BIGINT (raw vec_ids) or INT (k-means cluster indexes) — the output
    * struct keeps the caller's type, exactly like the composed fold. */
  private[expressions] def cidTypeOf(cents: DataType): DataType = cents match {
    case ArrayType(StructType(fields), _) if fields.nonEmpty => fields(0).dataType
    case _ => NullType
  }

  private[expressions] def check(vec: DataType, nrm: DataType,
                                 cents: DataType): TypeCheckResult =
    (vec, nrm, cents) match {
      case (ArrayType(DoubleType, _), DoubleType,
            ArrayType(StructType(Array(
              StructField("cid", LongType | IntegerType, _, _),
              StructField("cv", ArrayType(DoubleType, _), _, _),
              StructField("cn", DoubleType, _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"expects (ARRAY<DOUBLE>, DOUBLE, ARRAY<STRUCT<cid:BIGINT|INT,cv:ARRAY<DOUBLE>,cn:DOUBLE>>), " +
          s"got (${a.simpleString}, ${b.simpleString}, ${c.simpleString})")
    }
}

/** [[graft.operators.Similarity.ivfProbes]]' per-row interpreted
  * `transform` + comparator `array_sort` + `slice` over the broadcast
  * centroid array, fused into one codegen'd pass (see
  * [[IvfUtil.probeRanked]]). Same NULL-vector pin at the caller. */
case class IvfProbeRanked(vec: Expression, nrm: Expression, cents: Expression,
                          nProbe: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  require(nProbe >= 1, s"IvfProbeRanked: nProbe must be >= 1, got $nProbe")
  override def first: Expression = vec
  override def second: Expression = nrm
  override def third: Expression = cents

  override def checkInputDataTypes(): TypeCheckResult =
    IvfBestAssign.check(vec.dataType, nrm.dataType, cents.dataType)

  private def cidType: DataType = IvfBestAssign.cidTypeOf(cents.dataType)
  private def cidLong: Boolean = cidType == LongType

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sim", DoubleType, nullable = true),
    StructField("cid", cidType, nullable = false))), containsNull = false)

  override def nullSafeEval(v: Any, n: Any, cs: Any): Any =
    IvfUtil.probeRanked(v.asInstanceOf[ArrayData],
      n.asInstanceOf[Double], cs.asInstanceOf[ArrayData], nProbe, cidLong)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, n, cs) =>
      s"graft.expressions.IvfUtil.probeRanked($v, $n, $cs, $nProbe, $cidLong)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(vec = f, nrm = s, cents = t)
}

/** Column-API wrappers. */
object VectorExpressions {
  private def c(e: Expression): Column = GraftShim.column(e)
  private def e(col: Column): Expression = GraftShim.expression(col)

  def dot(a: Column, b: Column): Column = c(DotProduct(e(a), e(b)))
  def l2norm(a: Column): Column = c(L2Norm(e(a)))
  def simhash60Native(tokenHashes: Column): Column = c(SimHash60(e(tokenHashes)))
  def srpBandValues(q: Column, masks: Seq[Long], dims: Int, bandBits: Int): Column =
    c(SrpBandValues(e(q), masks, dims, bandBits))
  def ivfBestAssign(v: Column, nrm: Column, cs: Column): Column =
    c(IvfBestAssign(e(v), e(nrm), e(cs)))
  def ivfProbeRanked(v: Column, nrm: Column, cs: Column, nProbe: Int): Column =
    c(IvfProbeRanked(e(v), e(nrm), e(cs), nProbe))
}
