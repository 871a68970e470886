package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** `ngram_sketch_hash(text)` — the ngram-dedup sketch in ONE expression:
  * sorted distinct 24-bit md5 hashes of the lowercased character
  * `N`-grams of `text`, mod-`Every` sampled. Replaces the interpreted
  * higher-order-function chain
  * `array_sort(array_distinct(filter(transform(charShingles(text, 5),
  * s -> hash24(lower(s))), h -> h % 4 = 0)))`, which walked a five-node
  * expression tree per character position; here the whole sketch is a
  * single JVM loop invoked from generated code.
  *
  * Semantics are bit-identical to the HOF chain: per-shingle substring via
  * `UTF8String.substringSQL` (char semantics), per-shingle
  * `UTF8String.toLowerCase`, md5 over the UTF-8 bytes, first 6 hex chars
  * as int (= `conv(substring(md5(s),1,6),16,10)`), `h % 4 == 0` sampling,
  * distinct, ascending sort — so the DuckDB oracle formulation is
  * unchanged.
  */
case class NgramSketchHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    NgramSketchHash.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.NgramSketchHash.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramSketchHash {
  val N = 5
  val Every = 4

  def compute(text: UTF8String): ArrayData = {
    val len = text.numChars()
    if (len < N) return new GenericArrayData(Array.emptyIntArray)
    val md = MessageDigest.getInstance("MD5")
    val seen = new java.util.HashSet[Integer]()
    var i = 1
    while (i <= len - N + 1) {
      val sh = text.substringSQL(i, N).toLowerCase
      val d = md.digest(sh.getBytes)
      // first 6 hex chars == first 3 bytes, big-endian
      val h = ((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)
      if (h % Every == 0) seen.add(h)
      i += 1
    }
    val arr = new Array[Int](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    java.util.Arrays.sort(arr)
    new GenericArrayData(arr)
  }
}
