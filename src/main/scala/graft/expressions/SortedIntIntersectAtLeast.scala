package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** `sorted_int_intersect_atleast(a, b, need)` — [[SortedIntIntersectSize]]
  * with a THRESHOLD-AWARE early exit: the two-pointer merge aborts as soon
  * as even a perfect tail (`count so far + min(remaining a, remaining b)`)
  * cannot reach `need`. The result is EXACT whenever it is `>= need`; a
  * pair that cannot reach `need` returns the partial count at abort — a
  * lower bound that is still `< need`, so a downstream
  * `intersection >= need`-shaped filter classifies every pair exactly as
  * the full intersection would.
  *
  * This is the verify kernel for threshold dedup (Jaccard >= t):
  * candidates are overwhelmingly NON-duplicates, and for those the full
  * merge walks both arrays to prove what the running bound knows at
  * ~(1 - t/(1+t)) of the walk. Same input contract as the exact kernel:
  * ascending-sorted, duplicate-free int arrays.
  */
case class SortedIntIntersectAtLeast(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val arrs = Seq(first, second).forall(_.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    })
    if (arrs && third.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "arguments must be (array<int>, array<int>, int), got " +
        s"${first.dataType} / ${second.dataType} / ${third.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any, needAny: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val need = needAny.asInstanceOf[Int]
    var i = 0; var j = 0; var c = 0
    val n = x.numElements(); val m = y.numElements()
    while (i < n && j < m &&
        c + math.min(n - i, m - j) >= need) {
      val u = x.getInt(i); val v = y.getInt(j)
      if (u == v) { c += 1; i += 1; j += 1 }
      else if (u < v) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, need) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val u = ctx.freshName("u"); val v = ctx.freshName("v")
      val r = ctx.freshName("r")
      s"""
         |int $i = 0, $j = 0;
         |final int $n = $a.numElements(), $m = $b.numElements();
         |${ev.value} = 0;
         |while ($i < $n && $j < $m) {
         |  final int $r = ($n - $i) < ($m - $j) ? ($n - $i) : ($m - $j);
         |  if (${ev.value} + $r < $need) break;
         |  final int $u = $a.getInt($i);
         |  final int $v = $b.getInt($j);
         |  if ($u == $v) { ${ev.value}++; $i++; $j++; }
         |  else if ($u < $v) { $i++; } else { $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
}
