package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `search_sorted(value, bounds)` — how many elements of the constant
  * array `bounds` are `<= value` (numpy's `searchSorted(side='right')`),
  * via binary search over a driver-materialized sorted copy of the
  * array. A NULL value counts no bounds (returns 0, never NULL).
  *
  * This is the tile-routing kernel of the snapshot table format: file id
  * of a row = number of file cutpoints at or below its key. The naive
  * spelling — `when(key >= b1, 1).otherwise(0) + when(key >= b2, ...)`
  * folded over every cutpoint — builds a Column tree as DEEP as the file
  * count, which is O(files) work per row and overflows the analyzer's
  * stack around 4k files (the 100x inverted-index corpus publishes 4096
  * tiles). One binary-search expression keeps the plan depth constant
  * and the per-row cost log(files), the shape that survives a 100 TB
  * table's file count.
  *
  * `bounds` must be a foldable (literal) array of a type comparable with
  * `value`: integral vs array<long>, double vs array<double>, string vs
  * array<string>. Comparison follows Spark SQL ordering (binary UTF-8
  * for strings, NaN largest for doubles); the array need not arrive
  * sorted — it is sorted once per plan under that same ordering, which
  * preserves the count-of-bounds-≤-value semantics exactly.
  */
case class SearchSorted(value: Expression, bounds: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(value, bounds)
  override def nullable: Boolean = false
  override def dataType: DataType = IntegerType
  override def prettyName: String = "search_sorted"

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val elem = bounds.dataType match {
      case ArrayType(et, _) => Some(et)
      case _ => None
    }
    val ok = elem.exists { et =>
      (integral(value.dataType) && integral(et)) ||
        ((value.dataType, et) match {
          case (DoubleType | FloatType, DoubleType | FloatType) => true
          case (StringType, StringType) => true
          case _ => false
        })
    }
    if (!bounds.foldable)
      TypeCheckResult.TypeCheckFailure("bounds must be a foldable array literal")
    else if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"incompatible types: value ${value.dataType.simpleString} vs " +
        s"bounds ${bounds.dataType.simpleString} (need integral/array<long>, " +
        "double/array<double> or string/array<string>)")
  }

  private lazy val elemType: DataType =
    bounds.dataType.asInstanceOf[ArrayType].elementType

  private def boundsData: ArrayData = {
    val d = bounds.eval(null)
    require(d != null, "search_sorted bounds array must not be NULL")
    d.asInstanceOf[ArrayData]
  }

  // one sorted primitive copy per plan instance, shipped to executors as
  // a codegen reference object — never rebuilt per row
  private lazy val longBounds: Array[Long] = {
    val a = boundsData
    val out = elemType match {
      case ByteType => a.toByteArray().map(_.toLong)
      case ShortType => a.toShortArray().map(_.toLong)
      case IntegerType => a.toIntArray().map(_.toLong)
      case _ => a.toLongArray()
    }
    java.util.Arrays.sort(out)
    out
  }

  private lazy val doubleBounds: Array[Double] = {
    val a = boundsData
    val out = elemType match {
      case FloatType => a.toFloatArray().map(_.toDouble)
      case _ => a.toDoubleArray()
    }
    // sort under the same NaN-largest order the search compares with
    val boxed = out.map(Double.box)
    java.util.Arrays.sort(boxed, new java.util.Comparator[java.lang.Double] {
      def compare(x: java.lang.Double, y: java.lang.Double): Int =
        SearchSorted.cmpDouble(x, y)
    })
    boxed.map(_.doubleValue())
  }

  private lazy val stringBounds: Array[UTF8String] = {
    val a = boundsData
    val out = new Array[UTF8String](a.numElements())
    var i = 0
    while (i < out.length) {
      val v = a.getUTF8String(i)
      require(v != null, "search_sorted bounds elements must not be NULL")
      out(i) = v.clone()
      i += 1
    }
    java.util.Arrays.sort(out, new java.util.Comparator[UTF8String] {
      def compare(x: UTF8String, y: UTF8String): Int = x.compareTo(y)
    })
    out
  }

  override def eval(input: InternalRow): Any = {
    val v = value.eval(input)
    if (v == null) 0
    else value.dataType match {
      case StringType =>
        SearchSorted.upperBound(stringBounds, v.asInstanceOf[UTF8String])
      case DoubleType | FloatType =>
        SearchSorted.upperBound(doubleBounds,
          v.asInstanceOf[Number].doubleValue())
      case _ =>
        SearchSorted.upperBound(longBounds, v.asInstanceOf[Number].longValue())
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = value.genCode(ctx)
    val kernel = "graft.expressions.SearchSorted"
    val (ref, cast) = value.dataType match {
      case StringType =>
        (ctx.addReferenceObj("ssBounds", stringBounds,
          "org.apache.spark.unsafe.types.UTF8String[]"), "")
      case DoubleType | FloatType =>
        (ctx.addReferenceObj("ssBounds", doubleBounds, "double[]"), "(double)")
      case _ =>
        (ctx.addReferenceObj("ssBounds", longBounds, "long[]"), "(long)")
    }
    ev.copy(
      code = code"""
        ${c.code}
        int ${ev.value} = 0;
        if (!${c.isNull}) {
          ${ev.value} = $kernel.upperBound($ref, $cast${c.value});
        }""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(value = newChildren(0), bounds = newChildren(1))
}

object SearchSorted {

  /** Count of elements `<= v` in ascending-sorted `a` (upper-bound
    * insertion point). Called from generated code — keep signatures
    * stable.
    */
  def upperBound(a: Array[Long], v: Long): Int = {
    var lo = 0
    var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (v >= a(mid)) lo = mid + 1 else hi = mid
    }
    lo
  }

  def upperBound(a: Array[Double], v: Double): Int = {
    var lo = 0
    var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cmpDouble(v, a(mid)) >= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  def upperBound(a: Array[UTF8String], v: UTF8String): Int = {
    var lo = 0
    var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (v.compareTo(a(mid)) >= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Spark SQL's fractional ordering: NaN sorts above everything and
    * equals itself (`GreaterThanOrEqual` codegen compares through the
    * same rule), so a NaN key routes to the LAST tile consistently.
    */
  private[graft] def cmpDouble(x: Double, y: Double): Int =
    if (x.isNaN && y.isNaN) 0
    else if (x.isNaN) 1
    else if (y.isNaN) -1
    else if (x == y) 0
    else if (x > y) 1
    else -1
}
