package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** `sorted_int_intersect_size(a, b)` — the size of the intersection of two
  * SORTED int arrays via a primitive two-pointer merge, with whole-stage
  * codegen. Replaces `size(array_intersect(a, b))` in the pairwise
  * dedup/similarity verify stages, where the built-in's per-row hash-set
  * build over boxed elements dominates the profile (~10x slower). Both
  * inputs must be ascending-sorted and duplicate-free (`array_sort` +
  * `array_distinct` upstream); result is their exact intersection size.
  */
case class SortedIntIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"arguments must be array<int>, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val n = x.numElements(); val m = y.numElements()
    while (i < n && j < m) {
      val u = x.getInt(i); val v = y.getInt(j)
      if (u == v) { c += 1; i += 1; j += 1 }
      else if (u < v) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val u = ctx.freshName("u"); val v = ctx.freshName("v")
      s"""
         |int $i = 0, $j = 0;
         |final int $n = $a.numElements(), $m = $b.numElements();
         |${ev.value} = 0;
         |while ($i < $n && $j < $m) {
         |  final int $u = $a.getInt($i);
         |  final int $v = $b.getInt($j);
         |  if ($u == $v) { ${ev.value}++; $i++; $j++; }
         |  else if ($u < $v) { $i++; } else { $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
