package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `bloom_hits(sg, bloom)` — how many gram hashes in `sg` pass the packed
  * Bloom filter `bloom` (array of 64-bit words), testing the same two
  * derived positions per gram as [[graft.operators.BloomPrefilter]]:
  * `h mod bits` and `(31h + 7) mod bits` for `bits = 64 · len(bloom)`.
  *
  * Exists for the same reason as [[TopCells]]: the declarative form —
  * `size(filter(sg, h -> bit tests))` — evaluates the lambda INTERPRETED
  * per element, which measured ~1.8 µs/gram on the 10x fixture (18 s for a
  * 10M-gram corpus pass that is conceptually two shifts and two ANDs per
  * gram). This kernel is one virtual call per row into a tight primitive
  * loop, keeping the corpus-side contamination pass codegen'd and map-only
  * at any corpus size.
  */
case class BloomHits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def intArray(dt: DataType) = dt match {
      case ArrayType(IntegerType, _) | ArrayType(LongType, _) => true
      case _ => false
    }
    if (!intArray(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"sg must be array<int> or array<bigint>, got ${left.dataType}")
    else if (!(right.dataType match {
      case ArrayType(LongType, _) => true; case _ => false
    }))
      TypeCheckResult.TypeCheckFailure(
        s"bloom must be array<bigint>, got ${right.dataType}")
    else TypeCheckResult.TypeCheckSuccess
  }

  private val sgIsInt = left.dataType match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    BloomHits.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], sgIsInt)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.BloomHits.compute($a, $b, $sgIsInt);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object BloomHits {

  /** The kernel: two derived positions per gram, two word/bit tests.
    * Positions use floorMod so the Spark result matches `pmod` / DuckDB
    * `%` on the non-negative 24-bit gram hashes either way.
    */
  def compute(sg: ArrayData, bloom: ArrayData, sgIsInt: Boolean): Long = {
    val words = bloom.toLongArray()
    val bits = 64L * words.length
    val n = sg.numElements()
    var hits = 0L
    var i = 0
    while (i < n) {
      val h = if (sgIsInt) sg.getInt(i).toLong else sg.getLong(i)
      val p1 = java.lang.Math.floorMod(h, bits)
      val p2 = java.lang.Math.floorMod(h * 31 + 7, bits)
      if (((words((p1 >> 6).toInt) >>> (p1 & 63)) & 1L) == 1L &&
          ((words((p2 >> 6).toInt) >>> (p2 & 63)) & 1L) == 1L) hits += 1
      i += 1
    }
    hits
  }
}
