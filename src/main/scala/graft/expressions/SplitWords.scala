package graft.expressions

import graft.functions.Tokenizer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `split_words(text)` as a NATIVE Catalyst table function (Generator) —
  * the Spark analog of the reference's registered UDTF
  * (`RT/app/function/SplitFunction.java:19-30`, a Flink `TableFunction`
  * used as `LATERAL TABLE(ik_analyze(fullword))`). Usable directly in
  * `LATERAL VIEW split_words(text) t AS word`, in `selectExpr` and in a
  * select list (`ExtractGenerator` lifts it into a `Generate` node),
  * emitting one row per token with NO intermediate array value and no
  * Scala-UDF encode/decode boundary — the row stream feeds the downstream
  * partial aggregation inside the same task.
  *
  * Tokenization semantics are exactly [[Tokenizer.splitWords]] (lowercase,
  * Latin runs on non-alphanumeric boundaries, CJK overlapping bigrams;
  * null/empty → no rows), shared with the property-based idempotence spec.
  */
case class SplitWords(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(StructField("word", StringType, nullable = false) :: Nil)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"split_words requires a string argument, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input).asInstanceOf[UTF8String]
    if (t == null) Iterator.empty
    else Tokenizer.splitWords(t.toString).iterator
      .map(w => InternalRow(UTF8String.fromString(w)))
  }

  override def prettyName: String = "split_words"

  override protected def withNewChildInternal(newChild: Expression): SplitWords =
    copy(child = newChild)
}
