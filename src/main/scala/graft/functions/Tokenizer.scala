package graft.functions

/** Dependency-free tokenizer replacing the reference's IK-analyzer UDTF
  * (`RT/app/function/SplitFunction.java:19-30`, `RT/utils/KeywordUtil.java:25-54`).
  *
  * Contract (matching the reference's design note that tokenizer failure must
  * return the input rather than kill the job): lowercase, split Latin text on
  * non-alphanumeric runs, and emit overlapping bigrams for CJK runs
  * (max-word-style segmentation analog). Null/empty → empty list.
  *
  * For pure-ASCII corpora this reduces exactly to
  * `string_split_regex(lower(text), '[^a-z0-9]+')`, which is the DuckDB
  * oracle's formulation. In SQL and `selectExpr` the same tokens come from
  * the native table function `split_words` ([[graft.expressions.SplitWords]]).
  */
object Tokenizer {

  private def isCjk(c: Char): Boolean = {
    val b = Character.UnicodeBlock.of(c)
    b == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS ||
    b == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS_EXTENSION_A ||
    b == Character.UnicodeBlock.HIRAGANA ||
    b == Character.UnicodeBlock.KATAKANA ||
    b == Character.UnicodeBlock.HANGUL_SYLLABLES
  }

  def splitWords(text: String): Seq[String] = {
    if (text == null || text.isEmpty) return Seq.empty
    val out = Seq.newBuilder[String]
    val latin = new StringBuilder
    val cjk = new StringBuilder
    def flushLatin(): Unit = if (latin.nonEmpty) { out += latin.toString; latin.clear() }
    def flushCjk(): Unit = {
      if (cjk.length == 1) out += cjk.toString
      else if (cjk.length > 1)
        (0 until cjk.length - 1).foreach(i => out += cjk.substring(i, i + 2))
      cjk.clear()
    }
    text.toLowerCase.foreach { c =>
      if (c.isLetterOrDigit && !isCjk(c)) { flushCjk(); latin += c }
      else if (isCjk(c)) { flushLatin(); cjk += c }
      else { flushLatin(); flushCjk() }
    }
    flushLatin(); flushCjk()
    out.result()
  }
}
