package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Static helpers callable from generated code — the PQ SERVE-side hot
  * loops ([[graft.operators.ProductQuant.encode]]/`search`), fused from
  * the interpreted higher-order-function chains (per-row `filter` +
  * `aggregate` folds over the broadcast codebook / distance table) into
  * single codegen'd passes. `train` is untouched — its op sequence and
  * rounding pipeline are pinned (round-19 verdict: hash-fragile).
  *
  * Value identity is load-bearing and verified two ways (PqNativeSpec
  * in `sbt test`, the DuckDB oracle over every PQ key): fold order,
  * strict-< tie-breaking, and the 6-dp HALF_UP round are replicated
  * exactly. */
object PqUtil {

  /** `round(x, 6)` exactly as Spark's `Round` evaluates doubles:
    * identity on NaN/±Inf, else decimal HALF_UP at scale 6 via the
    * double's canonical decimal representation. */
  @inline def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** All m argmin codes of `v` against the packed codebook in ONE pass —
    * [[graft.operators.ProductQuant]]'s `argminCode` fold (score =
    * round6(cn2 − 2·⟨x_j, c⟩), strict < so the LOWEST cid wins ties,
    * entries visited in the array's (subspace, cid) sort order), fused
    * across subspaces. `cb` rows: struct<subspace:int, cid:int,
    * cv:array<double>, cn2:double>. */
  def encodeCodes(v: ArrayData, cb: ArrayData, m: Int, dsub: Int): ArrayData = {
    val out = new Array[Any](m)
    val nCb = cb.numElements()
    var j = 0
    while (j < m) {
      var bestS = Double.PositiveInfinity
      var bestC = -1
      var e = 0
      while (e < nCb) {
        val row = cb.getStruct(e, 4)
        if (row.getInt(0) == j) {
          val cv = row.getArray(2)
          val off = j * dsub
          var acc = 0.0
          var i = 0
          // dot(slice(v, j*dsub+1, dsub), cv): ascending accumulate,
          // identical to DotProduct's loop
          while (i < dsub) { acc += v.getDouble(off + i) * cv.getDouble(i); i += 1 }
          val s = round6(row.getDouble(3) - 2.0 * acc)
          if (s < bestS) { bestS = s; bestC = row.getInt(1) }
        }
        e += 1
      }
      if (bestC == -1)
        throw new IllegalStateException(
          s"ProductQuant: codebook has no entries for subspace $j — " +
            "m/dims disagree with the trained codebook")
      out(j) = bestC
      j += 1
    }
    new GenericArrayData(out)
  }

  /** The ADC partial-distance sum: Σ_j pd(j, codes[j]) over the packed
    * (subspace, cid, pd) distance table, j ascending — the fold
    * `aggregate(transform(codes, lookup), 0.0, +)` fused into one lookup
    * loop. The table is (subspace, cid)-sorted and unique, so the first
    * match IS the `try_element_at(filter(...), 1)` answer; a missing
    * entry fails loudly, like the raise_error it replaces. The caller
    * keeps the final `round(·, 6)` in catalyst. */
  def adcSum(codes: ArrayData, dt: ArrayData): Double = {
    val m = codes.numElements()
    val n = dt.numElements()
    var sum = 0.0
    var j = 0
    while (j < m) {
      val c = codes.getInt(j)
      // binary search on (subspace, cid)
      var lo = 0
      var hi = n - 1
      var found = false
      while (lo <= hi && !found) {
        val mid = (lo + hi) >>> 1
        val row = dt.getStruct(mid, 3)
        val cmp = {
          val ds = Integer.compare(row.getInt(0), j)
          if (ds != 0) ds else Integer.compare(row.getInt(1), c)
        }
        if (cmp == 0) { sum += row.getDouble(2); found = true }
        else if (cmp < 0) lo = mid + 1
        else hi = mid - 1
      }
      if (!found)
        throw new IllegalStateException(
          s"ProductQuant.search: no distance-table entry for (subspace,code)=($j,$c) — " +
            "codes do not match this codebook")
      j += 1
    }
    sum
  }
}

/** All m PQ codes of a vector in one codegen'd pass (see
  * PqUtil.encodeCodes). */
case class PqEncodeCodes(left: Expression, right: Expression, m: Int, dsub: Int)
    extends BinaryExpression {
  private def cbOk(t: DataType): Boolean = t match {
    case ArrayType(StructType(Array(s, c, v, n)), _) =>
      s.dataType == IntegerType && c.dataType == IntegerType &&
        (v.dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        }) && n.dataType == DoubleType
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), cb) if cbOk(cb) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"expects ARRAY<DOUBLE> and the packed codebook array, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(v: Any, cb: Any): Any =
    PqUtil.encodeCodes(v.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData], m, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, cb) =>
      s"graft.expressions.PqUtil.encodeCodes($v, $cb, $m, $dsub)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** The unrounded ADC distance sum of a code row against the broadcast
  * distance table (see PqUtil.adcSum). */
case class AdcSum(left: Expression, right: Expression) extends BinaryExpression {
  private def dtOk(t: DataType): Boolean = t match {
    case ArrayType(StructType(Array(s, c, p)), _) =>
      s.dataType == IntegerType && c.dataType == IntegerType && p.dataType == DoubleType
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), dt) if dtOk(dt) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"expects ARRAY<INT> and the packed distance-table array, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }
  override def dataType: DataType = DoubleType

  override def nullSafeEval(codes: Any, dt: Any): Any =
    PqUtil.adcSum(codes.asInstanceOf[ArrayData], dt.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, dt) => s"graft.expressions.PqUtil.adcSum($c, $dt)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqExpressions {
  def pqEncodeCodes(v: Column, cb: Column, m: Int, dsub: Int): Column =
    GraftShim.column(PqEncodeCodes(GraftShim.expression(v), GraftShim.expression(cb), m, dsub))
  def adcSum(codes: Column, dt: Column): Column =
    GraftShim.column(AdcSum(GraftShim.expression(codes), GraftShim.expression(dt)))
}
