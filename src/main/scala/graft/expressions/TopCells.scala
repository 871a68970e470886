package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructType}

/** `top_cells(v, nrm, cents, k)` — the IVF cell-assignment kernel as ONE
  * codegen'd expression: scores a vector against every center in the
  * broadcast `cents` array (struct<cid:long, cv:array<double>, cnrm:double>)
  * by floor-scaled cosine and returns the k best as packed longs,
  * `(10000 − ccos_bp)·2³² + cid`, ascending — the single-primitive-long
  * encoding whose natural order is exactly (ccos_bp DESC, cid ASC).
  *
  * Exists because the two declarative forms both pay where it hurts:
  * a rank window shuffles n·K rows (exchange bytes at scale), and a
  * `transform`/`array_sort` lambda chain evaluates interpreted PER ELEMENT
  * (~100x a codegen'd loop in CPU). This expression is map-only AND a tight
  * primitive loop: one virtual call per row into [[TopCells.compute]],
  * k-slot insertion (k ≤ 3 in every consumer), no allocation beyond the
  * k-long result. The dot accumulates strictly left-to-right, so scores are
  * bit-identical to `dot_double`'s and the DuckDB oracle's.
  */
case class TopCells(first: Expression, second: Expression, third: Expression,
    k: Int) extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val centsOk = third.dataType match {
      case ArrayType(s: StructType, _) if s.length == 3 &&
        s(0).dataType == LongType &&
        s(1).dataType == ArrayType(DoubleType, false) &&
        s(2).dataType == DoubleType => true
      case ArrayType(s: StructType, _) if s.length == 3 &&
        s(0).dataType == LongType &&
        s(1).dataType.isInstanceOf[ArrayType] &&
        s(1).dataType.asInstanceOf[ArrayType].elementType == DoubleType &&
        s(2).dataType == DoubleType => true
      case _ => false
    }
    if (first.dataType == ArrayType(DoubleType, false) ||
        first.dataType == ArrayType(DoubleType, true)) {
      if (second.dataType == DoubleType) {
        if (centsOk) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"cents must be array<struct<cid:long, cv:array<double>, cnrm:double>>, got ${third.dataType}")
      } else TypeCheckResult.TypeCheckFailure(
        s"nrm must be double, got ${second.dataType}")
    } else TypeCheckResult.TypeCheckFailure(
      s"v must be array<double>, got ${first.dataType}")
  }

  override def nullSafeEval(v: Any, nrm: Any, cents: Any): Any =
    TopCells.compute(v.asInstanceOf[ArrayData], nrm.asInstanceOf[Double],
      cents.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, nrm, cents) =>
      s"${ev.value} = graft.expressions.TopCells.compute($v, $nrm, $cents, $k);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object TopCells {

  /** The kernel: one pass over the centers, k-slot ascending insertion on
    * the packed long. Scores are floor-scaled cosines computed with the
    * identical left-to-right dot as [[DotProductDouble]].
    */
  def compute(v: ArrayData, nrm: Double, cents: ArrayData, k: Int): ArrayData = {
    val n = cents.numElements()
    val kk = if (k < n) k else n
    val vd = v.toDoubleArray()
    val best = new Array[Long](kk)
    java.util.Arrays.fill(best, Long.MaxValue)
    var i = 0
    while (i < n) {
      val c = cents.getStruct(i, 3)
      val cid = c.getLong(0)
      val cv = c.getArray(1)
      val cnrm = c.getDouble(2)
      val m = if (vd.length < cv.numElements()) vd.length else cv.numElements()
      var dot = 0.0
      var j = 0
      while (j < m) { dot += vd(j) * cv.getDouble(j); j += 1 }
      val bp = math.floor(dot * 10000.0 / (nrm * cnrm)).toLong
      val ord = (10000L - bp) * 4294967296L + cid
      if (ord < best(kk - 1)) {
        var p = kk - 1
        while (p > 0 && best(p - 1) > ord) { best(p) = best(p - 1); p -= 1 }
        best(p) = ord
      }
      i += 1
    }
    new GenericArrayData(best)
  }
}
