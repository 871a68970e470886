package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension wiring for the engine's native expressions: install
  * with `SparkSession.builder().withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.expressions.GraftExtensions`) and every
  * function in [[GraftExtensions.functions]] resolves in SQL and
  * `expr(...)`, in that session and in its `newSession()` and streaming
  * clones. `graft.GraftSession.getOrCreate` installs it; a session built
  * elsewhere gets the same functions from `graft.GraftSession.tune`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** One native function: its name, its class and its builder behind the
    * arity gate. Without the gate `split_words()` dies with an
    * IndexOutOfBoundsException and extra arguments are silently dropped;
    * with it both are a loud analysis-time error naming the function.
    */
  private def fn(name: String, cls: Class[_], n: Int)(build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), exprs => {
      if (exprs.length != n) throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${exprs.length}")
      build(exprs)
    })

  /** The engine's native functions, the one list of them. */
  private[graft] val functions
      : Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("dot_double", classOf[DotProductDouble], 2)(a => DotProductDouble(a(0), a(1))),
    fn("search_sorted", classOf[SearchSorted], 2)(a => SearchSorted(a(0), a(1))),
    fn("sorted_int_intersect_size", classOf[SortedIntIntersectSize], 2)(
      a => SortedIntIntersectSize(a(0), a(1))),
    fn("sorted_int_intersect_atleast", classOf[SortedIntIntersectAtLeast], 3)(
      a => SortedIntIntersectAtLeast(a(0), a(1), a(2))),
    fn("ngram_sketch_hash", classOf[NgramSketchHash], 1)(a => NgramSketchHash(a(0))),
    fn("word_bigrams", classOf[WordBigrams], 1)(a => WordBigrams(a(0))),
    fn("word_bigram_list", classOf[WordBigramList], 1)(a => WordBigramList(a(0))),
    fn("minhash9", classOf[MinHash9], 1)(a => MinHash9(a(0))),
    fn("minhash18", classOf[MinHash18], 1)(a => MinHash18(a(0))),
    fn("doc_quality", classOf[DocQuality], 1)(a => DocQuality(a(0))),
    // the fourth argument, k, must be an integer literal
    fn("top_cells", classOf[TopCells], 4)(a => TopCells(a(0), a(1), a(2), a(3).eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"top_cells k must be an integer literal, got $other")
    })),
    fn("split_words", classOf[SplitWords], 1)(a => SplitWords(a(0))),
    fn("bloom_hits", classOf[BloomHits], 2)(a => BloomHits(a(0), a(1))),
    fn("tri_moments", classOf[TriMoments], 1)(a => TriMoments(a(0))),
    fn("moment_cells", classOf[MomentCells], 1)(a => MomentCells(a(0))))
}
