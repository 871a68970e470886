package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `word_bigrams(text)` — distinct word-bigram shingles of the lowercased
  * alnum-run tokenization, in one JVM pass. Bit-identical to
  * `wordShingles(tokens(text), 2)`
  * (`filter(split(lower(text),'[^a-z0-9]+'), t -> t <> '')` then
  * space-joined neighbor pairs, distinct, first-occurrence order).
  */
case class WordBigrams(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    WordBigrams.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.WordBigrams.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordBigrams {
  def compute(text: UTF8String): ArrayData = {
    val toks = text.toLowerCase.toString.split("[^a-z0-9]+", -1).filter(_.nonEmpty)
    if (toks.length < 2) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < toks.length - 1) {
      seen.add(toks(i) + " " + toks(i + 1))
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }
}

/** `word_bigram_list(text)` — EVERY adjacent word-bigram occurrence of
  * the lowercased alnum-run tokenization, in order, duplicates kept —
  * the collocation-counting companion of [[WordBigrams]] (which
  * de-duplicates for shingle SETS). One codegen'd JVM pass: no token
  * array intermediate, no interpreted higher-order lambda (the
  * PLANS.md round-6 lesson applied to the pair explode).
  */
case class WordBigramList(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    WordBigramList.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.WordBigramList.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordBigramList {
  def compute(text: UTF8String): ArrayData = {
    val toks = text.toLowerCase.toString.split("[^a-z0-9]+", -1).filter(_.nonEmpty)
    if (toks.length < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - 1)
    var i = 0
    while (i < toks.length - 1) {
      out(i) = UTF8String.fromString(toks(i) + " " + toks(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `minhash9(shingles)` — the 9-hash min-signature of a shingle array in
  * ONE pass, no explode, no aggregation: for each shingle the two salted
  * digests `md5('a|'||s) || md5('b|'||s)` yield nine disjoint 7-hex-char
  * windows; the output is the per-window lexicographic minimum. Replaces
  * explode → md5 projection → 9-way min groupBy (a full shuffle of the
  * exploded shingle set) with map-side-only work — at scale the signature
  * stage costs one scan, and only the tiny (doc, band, sig) table
  * shuffles.
  */
case class MinHash9(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    MinHash9.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.MinHash9.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared min-signature kernel: `windows` disjoint 7-hex-char windows over
  * the concatenated salted digests `md5(salt||s)` for each salt in order —
  * window w of a wider signature is therefore IDENTICAL to window w of a
  * narrower one over the same input (prefix property; spec-asserted), so
  * widening the signature never invalidates previously banded data.
  */
private[graft] object MinHashCore {
  private val hexDigits = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte], sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < d.length) {
      sb.append(hexDigits((d(i) >> 4) & 0xf)).append(hexDigits(d(i) & 0xf))
      i += 1
    }
  }

  def compute(sg: ArrayData, salts: Array[Array[Byte]], windows: Int): ArrayData = {
    val n = sg.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val md = MessageDigest.getInstance("MD5")
    val mins = new Array[String](windows)
    val sb = new java.lang.StringBuilder(32 * salts.length)
    var i = 0
    while (i < n) {
      val s = sg.getUTF8String(i).getBytes
      sb.setLength(0)
      var d = 0
      while (d < salts.length) {
        md.update(salts(d)); md.update(s); hex(md.digest(), sb)
        d += 1
      }
      val hh = sb.toString
      var w = 0
      while (w < windows) {
        val win = hh.substring(w * 7, w * 7 + 7)
        if (mins(w) == null || win.compareTo(mins(w)) < 0) mins(w) = win
        w += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(m => UTF8String.fromString(m): Any))
  }

  private[expressions] def saltBytes(n: Int): Array[Array[Byte]] =
    Array.tabulate(n)(i => (('a' + i).toChar + "|").getBytes("UTF-8"))

  /** Salt prefixes for SQL oracle builders: "a|", "b|", ... */
  def saltStrings(n: Int): Seq[String] =
    (0 until n).map(i => ('a' + i).toChar + "|")
}

object MinHash9 {
  private val Salts = MinHashCore.saltBytes(2)

  def compute(sg: ArrayData): ArrayData = MinHashCore.compute(sg, Salts, 9)
}

/** `minhash18(shingles)` — the doubled-width signature (four salted
  * digests → 18 windows), halving the Jaccard-estimator standard error
  * (std = √(j(1-j)/k)). The first 9 windows equal `minhash9`'s output on
  * the same input. Used where the signature is the ESTIMATOR, not just a
  * bander — e.g. the source-overlap diagnostics.
  */
case class MinHash18(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    MinHash18.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.MinHash18.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHash18 {
  private val Salts = MinHashCore.saltBytes(4)

  def compute(sg: ArrayData): ArrayData = MinHashCore.compute(sg, Salts, 18)
}
