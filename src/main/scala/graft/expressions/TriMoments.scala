package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** `tri_moments(fx)` — the spectral scatter pass's per-row kernel: the
  * d(d+1)/2 upper-triangle products x_i·x_j of a floored coordinate
  * vector as ONE packed long array, row-major (i ≤ j), position
  * `i·d − i(i−1)/2 + (j − i)`.
  *
  * Exists because the declarative form — a nested
  * `transform(slice(...))` lambda building d(d+1)/2 structs per row —
  * evaluates INTERPRETED per element and allocates a struct per cell:
  * measured at ~88 ms/row at d = 1024 (BASELINE.md), making the
  * lambda (not the shuffle, not the driver solve) the spectral family's
  * real ceiling. This kernel is the [[TopCells]]/[[BloomHits]] move a
  * third time: one codegen'd virtual call per row into a tight primitive
  * loop, no per-cell allocation. Downstream is unchanged — posexplode +
  * map-side-combined sum — so aggregated moments are bit-identical to
  * the lambda's and every oracle hash stands.
  *
  * Magnitude contract (caller's): |fx_i| < 2³¹ so every product fits a
  * long exactly — EmbedPca's floored coordinates are ≤ ~10⁶; the
  * DECIMAL(38,0) accumulation above this kernel handles the row COUNT
  * dimension of overflow.
  */
case class TriMoments(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tri_moments expects array<bigint>, got $other")
  }

  override def nullSafeEval(fx: Any): Any =
    TriMoments.compute(fx.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, fx =>
      s"${ev.value} = graft.expressions.TriMoments.compute($fx);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TriMoments {

  def compute(fx: ArrayData): ArrayData = {
    val a = fx.toLongArray()
    val d = a.length
    val out = new Array[Long](d * (d + 1) / 2)
    var p = 0
    var i = 0
    while (i < d) {
      val xi = a(i)
      var j = i
      while (j < d) { out(p) = xi * a(j); p += 1; j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `moment_cells(fx)` — [[TriMoments]]' KEYED sibling for the maintained
  * moment table ([[graft.streaming.PcaStream]]): per row, the
  * upper-triangle products, the d coordinate sums, and the count-1 cell
  * in ONE array of (kk, v) structs, with kk packed EXACTLY as the
  * declarative `momentSql` packed it — `(i+1)·10⁵ + (j+1)` for
  * products, `(i+1)·10⁵` for sums, `0` for the count — so the additive
  * fold's key space, every committed tile, and the streamed ≡ batch
  * oracle equality are untouched. The caller's `d < 10⁵` packing guard
  * remains in force ahead of this kernel.
  */
case class MomentCells(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("kk", LongType, nullable = false),
    StructField("v", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"moment_cells expects array<bigint>, got $other")
  }

  override def nullSafeEval(fx: Any): Any =
    MomentCells.compute(fx.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, fx =>
      s"${ev.value} = graft.expressions.MomentCells.compute($fx);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MomentCells {

  def compute(fx: ArrayData): ArrayData = {
    val a = fx.toLongArray()
    val d = a.length
    val out = new Array[Any](d * (d + 1) / 2 + d + 1)
    var p = 0
    var i = 0
    while (i < d) {
      val xi = a(i)
      val base = (i + 1).toLong * 100000L
      var j = i
      while (j < d) {
        out(p) = new GenericInternalRow(Array[Any](base + j + 1, xi * a(j)))
        p += 1; j += 1
      }
      i += 1
    }
    i = 0
    while (i < d) {
      out(p) = new GenericInternalRow(
        Array[Any]((i + 1).toLong * 100000L, a(i)))
      p += 1; i += 1
    }
    out(p) = new GenericInternalRow(Array[Any](0L, 1L))
    new GenericArrayData(out)
  }
}
