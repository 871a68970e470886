package graft

import graft.functions.Tokenizer
import graft.operators.Multimodal

/** Unit behavior of the dependency-free kernels. */
class FunctionsSpec extends SparkSpec {

  test("tokenizer: ascii reduces to lowercase alnum-run split") {
    assert(Tokenizer.splitWords("Spark SQL, fast & simple!") ==
      Seq("spark", "sql", "fast", "simple"))
  }

  test("tokenizer: CJK runs emit overlapping bigrams (max-word analog)") {
    assert(Tokenizer.splitWords("大数据") == Seq("大数", "数据"))
    assert(Tokenizer.splitWords("spark大数据engine") ==
      Seq("spark", "大数", "数据", "engine"))
    assert(Tokenizer.splitWords("中") == Seq("中"))
  }

  test("tokenizer: null/empty safe") {
    assert(Tokenizer.splitWords(null) == Seq.empty)
    assert(Tokenizer.splitWords("") == Seq.empty)
    assert(Tokenizer.splitWords("!!!") == Seq.empty)
  }

  test("split_words plans as a native Generator — no UDF eval node") {
    // SQL table-function position (the reference's LATERAL TABLE shape)
    val sql = spark.sql(
      "SELECT word FROM VALUES ('Spark SQL大数据!') AS t(text) " +
        "LATERAL VIEW split_words(text) v AS word")
    assert(sql.collect().map(_.getString(0)).toSeq ==
      Seq("spark", "sql", "大数", "数据"))
    // select-list position (ExtractGenerator lifts it into Generate)
    import spark.implicits._
    val df = Seq("Hello, WORLD", "", "中").toDF("text")
      .selectExpr("split_words(text) AS word")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("hello", "world", "中"))
    // the plan is a native Generate over the Generator: no ScalaUDF
    // boundary anywhere (the engine's last interpreted UDF is gone)
    for (d <- Seq(sql, df)) {
      val plan = d.queryExecution.executedPlan.toString
      assert(plan.contains("split_words"), plan.take(500))
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEval"),
        plan.take(500))
    }
  }

  test("multimodal: stub decode is deterministic and shape-stable") {
    val f = Multimodal.decodeFeatures("hello world".getBytes("UTF-8"))
    assert(f.length == 8)
    assert(f sameElements Multimodal.decodeFeatures("hello world".getBytes("UTF-8")))
    assert(Multimodal.decodeFeatures(Array.emptyByteArray).forall(_ == 0.0))
  }

  test("multimodal: PNG payloads decode through the REAL codec, pixel-exact") {
    // encode → decode round-trip recovers the formula pixels exactly
    // (PNG is lossless), on every fixture size including n < 8 stripes
    for ((id, w, h) <- Multimodal.PngImages) {
      val bytes = Multimodal.pngBytes(-id, w, h)
      // genuine PNG file bytes, not a synthetic container
      assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P', s"id=$id not a PNG")
      val d = Multimodal.decodeImage(bytes).get
      assert((d.w, d.h) == (w, h), s"id=$id dims")
      val expect = for (y <- 0 until h; x <- 0 until w) yield {
        val (r, g, b) = Multimodal.pngChannels(-id, x, y)
        r + g + b
      }
      assert(d.pixelSums.toSeq == expect, s"id=$id pixel mismatch")
      // the feature kernel must take the image branch: features over
      // decoded pixels, NOT over the compressed container bytes
      val viaKernel = Multimodal.decodeFeatures(bytes)
      val overPixels = {
        val n = d.pixelSums.length
        val stripe = math.max(1, n / 8)
        (0 until 8).map { i =>
          val s = d.pixelSums.slice(i * stripe, math.min((i + 1) * stripe, n))
          if (s.isEmpty) 0.0 else s.sum.toDouble / s.length
        }
      }
      assert(viaKernel.toSeq == overPixels, s"id=$id kernel not on pixels")
    }
    // non-image payloads still fall back to the byte stub
    val txt = "plain text payload".getBytes("UTF-8")
    assert(Multimodal.decodeImage(txt).isEmpty)
    // a corrupted PNG (magic intact, body truncated) must not crash the
    // kernel — it falls back to the byte stub via the codec's rejection
    val broken = Multimodal.pngBytes(5L, 4, 4).take(12)
    assert(Multimodal.decodeImage(broken).isEmpty)
    assert(Multimodal.decodeFeatures(broken).length == 8)
  }

  test("multimodal: binaryFile-ingested real PNGs decode end-to-end") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("pngmedia")
    val (id, w, h) = Multimodal.PngImages.head
    java.nio.file.Files.write(dir.resolve("img.png"), Multimodal.pngBytes(-id, w, h))
    val media = Multimodal.binaryFileTable(spark, dir.toString, "*.png")
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length == 1)
    val got = feats.head.getAs[scala.collection.Seq[Double]]("features").toSeq
    assert(got == Multimodal.decodeFeatures(Multimodal.pngBytes(-id, w, h)).toSeq,
      "binaryFile route must produce the same decoded-pixel features")
    // and they differ from the byte-domain stub over the container bytes —
    // i.e. the codec genuinely ran
    val containerStub = {
      val bytes = Multimodal.pngBytes(-id, w, h).map(_ & 0xff)
      val stripe = math.max(1, bytes.length / 8)
      (0 until 8).map { i =>
        val s = bytes.slice(i * stripe, math.min((i + 1) * stripe, bytes.length))
        if (s.isEmpty) 0.0 else s.sum.toDouble / s.length
      }
    }
    assert(got != containerStub, "features must come from pixels, not PNG bytes")
  }

  test("multimodal: resize keeps every step-th byte") {
    val b = Array[Byte](0, 1, 2, 3, 4, 5, 6)
    assert(Multimodal.resize(b, 3).toSeq == Seq[Byte](0, 3, 6))
  }

  test("native sketch expressions equal their HOF formulations on real docs") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    import spark.implicits._
    // real docs PLUS adversarial rows: multibyte chars (substring must be
    // char-based, not byte-based), case folding, short/empty strings
    val edge = Seq("大数据引擎大数据引擎", "ÄÖÜ straße ÄÖÜ straße", "ab", "",
      "ONE two THREE four FIVE six").toDF("text")
      .withColumn("doc_id", monotonically_increasing_id() + 100000)
    val docs = Tables.load(spark, sf, "documents").limit(50)
      .select("doc_id", "text").unionByName(edge.select("doc_id", "text"))
    val both = docs.select(
      expr("ngram_sketch_hash(text)").as("native_sk"),
      array_sort(array_distinct(filter(
        transform(charShingles(col("text"), 5), s => hash24(lower(s))),
        h => h % 4 === 0))).as("hof_sk"),
      expr("word_bigrams(text)").as("native_bg"),
      wordShingles(tokens(col("text")), 2).as("hof_bg"),
      expr("word_bigram_list(text)").as("native_bl"),
      // the occurrence-keeping HOF twin: neighbor pairs, order + dups kept
      when(size(tokens(col("text"))) >= 2,
        zip_with(slice(tokens(col("text")), lit(1), size(tokens(col("text"))) - 1),
          slice(tokens(col("text")), lit(2), size(tokens(col("text"))) - 1),
          (a, b) => concat(a, lit(" "), b)))
        .otherwise(array().cast("array<string>")).as("hof_bl"))
    assert(both.filter(col("native_sk") =!= col("hof_sk")).count() == 0)
    assert(both.filter(col("native_bg") =!= col("hof_bg")).count() == 0)
    assert(both.filter(col("native_bl") =!= col("hof_bl")).count() == 0)
    // minhash9 equals the explode + 9-way min aggregation
    val viaAgg = docs
      .select(col("doc_id"), explode(wordShingles(tokens(col("text")), 2)).as("s"))
      .withColumn("hh", concat(md5(concat(lit("a|"), col("s"))),
        md5(concat(lit("b|"), col("s")))))
      .groupBy("doc_id")
      .agg(min(substring(col("hh"), 1, 7)).as("h1"),
        (2 to 9).map(i => min(substring(col("hh"), (i - 1) * 7 + 1, 7)).as(s"h$i")): _*)
      .select(col("doc_id"), array((1 to 9).map(i => col(s"h$i")): _*).as("agg_hs"))
    val viaExpr = docs.select(col("doc_id"),
      expr("minhash9(word_bigrams(text))").as("hs"))
      .filter(size(col("hs")) > 0)
    val joined = viaExpr.join(viaAgg, "doc_id")
    assert(joined.count() > 0)
    assert(joined.filter(col("hs") =!= col("agg_hs")).count() == 0)
  }

  test("multimodal: binaryFile ingestion normalizes to the media contract") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("binmedia")
    java.nio.file.Files.write(dir.resolve("a.jpg"), "fake-jpeg-bytes".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("b.wav"), "fake-wave".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("skip.txt"), "not media".getBytes("UTF-8"))
    val media = Multimodal.binaryFileTable(spark, dir.toString, "*.{jpg,wav}")
    val rows = media.select(col("meta.kind"), col("meta.width"), col("payload"))
      .collect().map(r => (r.getString(0), r.getLong(1), new String(r.getAs[Array[Byte]](2), "UTF-8")))
      .sortBy(_._1)
    // glob pruned the .txt; kind from extension; width from file length
    assert(rows.toSeq == Seq(("jpg", 15L, "fake-jpeg-bytes"), ("wav", 9L, "fake-wave")))
    // the decode kernel runs unchanged on the binaryFile-sourced frame
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length == 2 && feats.forall(_.getAs[Seq[Double]]("features").length == 8))
  }

  test("sinks: transient columns dropped, ts stamped (K3 contract)") {
    val df = graft.operators.ProvinceStats.stats.run(spark, sf).limit(5)
      .withColumn("orderIdSet", org.apache.spark.sql.functions.array())
    val out = graft.sources.Sinks.forStatsSink(df, Seq("orderIdSet"))
    assert(!out.columns.contains("orderIdSet"))
    assert(out.columns.contains("ts"))
    assert(out.count() == 5)
  }

  test("multimodal: partition-batched feature extraction") {
    val media = Multimodal.mediaTable(spark, sf)
    val feats = Multimodal.extractFeatures(spark, media)
    assert(feats.count() == media.count())
    assert(feats.columns.toSeq == Seq("media_id", "byte_ct", "features"))
  }
}
