package graft

import graft.functions.Tokenizer
import graft.operators.Multimodal

/** Property-style tests over the deterministic kernels (SURVEY §5: the
  * reference ships no tests; idempotence/invariant laws are ours). Inputs
  * are generated from a fixed seed so failures reproduce.
  */
class PropertySpec extends SparkSpec {

  private val rnd = new scala.util.Random(42)
  private def randomStrings(n: Int): Seq[String] =
    (0 until n).map { _ =>
      val len = rnd.nextInt(40)
      (0 until len).map(_ => (rnd.nextInt(95) + 32).toChar).mkString
    } ++ Seq("", " ", "!!!", "Spark大数据Engine", "a b  c\t\nd")

  private def randomBytes(n: Int): Seq[Array[Byte]] =
    (0 until n).map { _ =>
      val b = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(b); b
    } :+ Array.emptyByteArray

  test("tokenizer is idempotent on its own output") {
    randomStrings(200).foreach { s =>
      val once = Tokenizer.splitWords(s)
      assert(once.flatMap(Tokenizer.splitWords) == once, s"input: ${s.take(40)}")
    }
  }

  test("tokenizer emits no empty tokens and only lowercase") {
    randomStrings(200).foreach { s =>
      val toks = Tokenizer.splitWords(s)
      assert(toks.forall(t => t.nonEmpty && t == t.toLowerCase), s"input: ${s.take(40)}")
    }
  }

  test("native split_words Generator equals the Scala core on random input") {
    import spark.implicits._
    // includes multibyte CJK, control-ish ASCII, empties — ONE Spark pass
    // over the whole sample; the emitted (row, token) multiset must equal
    // the JVM core's, pinning the Generator's eval to Tokenizer.splitWords
    // exactly (token order per row is pinned by the fixed-sample plan
    // test in FunctionsSpec)
    val sample = randomStrings(300)
    val viaGen = sample.zipWithIndex.map { case (s, i) => (i, s) }
      .toDF("i", "text")
      .selectExpr("i", "split_words(text) AS word")
      .collect().map(r => (r.getInt(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val viaCore = sample.zipWithIndex.flatMap { case (s, i) =>
      Tokenizer.splitWords(s).map(w => (i, w))
    }.groupBy(identity).view.mapValues(_.length).toMap
    assert(viaGen === viaCore)
    assert(viaCore.nonEmpty)
  }

  test("stub decode is shape-stable with features in byte-value range") {
    randomBytes(100).foreach { b =>
      val f = Multimodal.decodeFeatures(b)
      assert(f.length == 8 && f.forall(v => v >= 0.0 && v <= 255.0))
    }
  }

  test("resize never grows and step=1 is identity") {
    randomBytes(100).foreach { b =>
      (1 to 5).foreach { step =>
        assert(Multimodal.resize(b, step).length <= b.length)
      }
      assert(Multimodal.resize(b, 1).toSeq == b.toSeq)
    }
  }

  test("ngram sketch: sorted, distinct, sampled, substring-monotone") {
    import org.apache.spark.unsafe.types.UTF8String
    randomStrings(150).foreach { s =>
      val sk = graft.expressions.NgramSketchHash.compute(UTF8String.fromString(s))
      val arr = sk.toIntArray()
      assert(arr.toSeq == arr.toSeq.sorted, s"unsorted for: ${s.take(40)}")
      assert(arr.distinct.length == arr.length)
      assert(arr.forall(h => h % 4 == 0 && h >= 0 && h < (1 << 24)))
      // every shingle of a PREFIX also appears in the full string's sketch
      if (s.length > 6) {
        val prefix = graft.expressions.NgramSketchHash
          .compute(UTF8String.fromString(s.substring(0, s.length - 1))).toIntArray()
        assert(prefix.forall(arr.contains), s"prefix not subset for: ${s.take(40)}")
      }
    }
  }

  test("minhash9: 9 fixed-width windows, permutation-invariant, monotone min") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def sig(sh: Seq[String]) = {
      val in = new GenericArrayData(sh.map(x => UTF8String.fromString(x): Any).toArray)
      graft.expressions.MinHash9.compute(in)
    }
    val shingles = Seq("a b", "b c", "c d", "d e", "e f")
    val full = (0 until 9).map(sig(shingles).getUTF8String(_).toString)
    assert(full.forall(_.length == 7))
    // order of the shingle set never changes the signature
    val shuffled = (0 until 9).map(sig(rnd.shuffle(shingles)).getUTF8String(_).toString)
    assert(full == shuffled)
    // adding a shingle can only keep or LOWER each window minimum
    val more = (0 until 9).map(sig(shingles :+ "f g").getUTF8String(_).toString)
    assert(full.zip(more).forall { case (f, m) => m <= f })
  }
}
