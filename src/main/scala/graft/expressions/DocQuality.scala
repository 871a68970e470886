package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** `doc_quality(text)` — a hashed-n-gram LINEAR CLASSIFIER score (the
  * public fastText architecture: mean of per-feature weights over the
  * bag of unigrams + word bigrams) in ONE compiled pass per document.
  *
  * The weight of feature g is derived from its own hash —
  * `w(g) = (hash16(g) − 32767.5) / 32768 ∈ (−1, 1)` — i.e. the weight
  * TABLE is the hash function, exactly like the ANN plane weights
  * ([[graft.operators.Similarity]]): both engines and every executor
  * agree on the "model" without shipping one. A production deployment
  * swaps `weightOf` for a trained table lookup (same bucketed-feature
  * architecture, weights broadcast); everything else — tokenization,
  * feature extraction, the order-pinned fold — is the deployable part.
  *
  * Output: floor(mean weight × 1e6) as a long (null for token-less
  * docs). The fold is left-to-right over the positional feature list
  * (repeats kept — bag semantics), matching DuckDB's `list_sum` fold, so
  * the score is bit-identical cross-engine. Complements the
  * distribution-based `doc_lm_score` (corpus-LM perplexity proxy): that
  * one needs a corpus pass to build its table; this one is a pure
  * map-side projection.
  */
case class DocQuality(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    DocQuality.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val res = ctx.freshName("dq")
    nullSafeCodeGen(ctx, ev, c => s"""
      Object $res = graft.expressions.DocQuality.compute($c);
      if ($res == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((Long) $res).longValue(); }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DocQuality {

  private def weightOf(md: MessageDigest, g: String): Double = {
    val d = md.digest(g.getBytes("UTF-8"))
    val h16 = ((d(0) & 0xff) << 8) | (d(1) & 0xff)
    (h16 - 32767.5) / 32768.0
  }

  /** Null for token-less text; otherwise floor(1e6 × mean feature weight)
    * over unigrams then bigrams, each left-to-right.
    */
  def compute(text: UTF8String): Any = {
    val toks = text.toLowerCase.toString.split("[^a-z0-9]+", -1).filter(_.nonEmpty)
    if (toks.length == 0) return null
    val md = MessageDigest.getInstance("MD5")
    var sum = 0.0
    var i = 0
    while (i < toks.length) { sum += weightOf(md, toks(i)); i += 1 }
    i = 0
    while (i < toks.length - 1) {
      sum += weightOf(md, toks(i) + " " + toks(i + 1))
      i += 1
    }
    val n = 2 * toks.length - 1
    java.lang.Long.valueOf(math.floor(sum / n * 1000000.0).toLong)
  }
}

/** `doc_quality_trained(text)` — [[DocQuality]] with the weight lookup
  * swapped for a LOADED model: `weights(b)` indexed by the feature's
  * 16-bit hash bucket, exactly the "swap the table, keep the plan"
  * deployment the hash-weight scorer documents. The weights array rides
  * the expression as a codegen reference object (the broadcast-a-small-
  * model shape — 64Ki doubles = 512 KiB), so scoring stays ONE compiled
  * map-side pass with the same shuffle count as `doc_quality`: none.
  */
case class DocQualityTrained(child: Expression, weights: Array[Double])
    extends UnaryExpression {

  require(weights.length == DocQualityTrained.Buckets,
    s"weight table must cover all ${DocQualityTrained.Buckets} feature buckets")

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    DocQualityTrained.compute(input.asInstanceOf[UTF8String], weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wref = ctx.addReferenceObj("trainedWeights", weights, "double[]")
    val res = ctx.freshName("dqt")
    nullSafeCodeGen(ctx, ev, c => s"""
      Object $res = graft.expressions.DocQualityTrained.compute($c, $wref);
      if ($res == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((Long) $res).longValue(); }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DocQualityTrained {

  /** Feature space size: the 16-bit md5-prefix bucket of [[DocQuality]]. */
  val Buckets = 65536

  private def bucketOf(md: MessageDigest, g: String): Int = {
    val d = md.digest(g.getBytes("UTF-8"))
    ((d(0) & 0xff) << 8) | (d(1) & 0xff)
  }

  /** Null for token-less text; otherwise floor(1e6 × mean looked-up
    * weight) over unigrams then bigrams, left-to-right — identical
    * feature extraction and fold order to [[DocQuality.compute]], only
    * the per-feature weight source differs.
    */
  def compute(text: UTF8String, w: Array[Double]): Any = {
    val toks = text.toLowerCase.toString.split("[^a-z0-9]+", -1).filter(_.nonEmpty)
    if (toks.length == 0) return null
    val md = MessageDigest.getInstance("MD5")
    var sum = 0.0
    var i = 0
    while (i < toks.length) { sum += w(bucketOf(md, toks(i))); i += 1 }
    i = 0
    while (i < toks.length - 1) {
      sum += w(bucketOf(md, toks(i) + " " + toks(i + 1)))
      i += 1
    }
    val n = 2 * toks.length - 1
    java.lang.Long.valueOf(math.floor(sum / n * 1000000.0).toLong)
  }

  def register(spark: SparkSession, weights: Array[Double]): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "doc_quality_trained", exprs => DocQualityTrained(exprs(0), weights), "built-in")
}
