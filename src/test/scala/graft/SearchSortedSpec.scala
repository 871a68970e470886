package graft

import org.apache.spark.sql.functions._

/** The tile-routing kernel: `search_sorted(value, bounds)` must equal the
  * per-boundary `when(...)` fold it replaced (count of bounds ≤ value,
  * null value → 0) while staying constant-depth — the fold's Column tree
  * grew with the file count and overflowed the analyzer stack at the
  * 4096-tile layout a 100x corpus publishes.
  */
class SearchSortedSpec extends SparkSpec {

  test("equals the per-boundary when-chain on long keys, nulls to tile 0") {
    val bs = Seq(10L, 20L, 30L, 40L)
    val df = spark.range(-5, 60).select(
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id")).as("k"))
    val chain = bs.map(b => when(col("k") >= lit(b), 1).otherwise(0))
      .reduce(_ + _)
    val diff = df.select(
      call_function("search_sorted", col("k"), typedLit(bs.toArray)).as("a"),
      coalesce(chain, lit(0)).as("b"))
    assert(diff.filter(col("a") =!= col("b")).count() == 0)
  }

  test("string keys compare in Spark order; bounds may arrive unsorted") {
    // tok_doc-style composite keys; bounds deliberately shuffled
    val bounds = Array("ml:2", "data:7", "spark:1")
    val rows = Seq("apple:1", "data:7", "data:8", "ml:1", "ml:2", "zz:9", null)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row(_))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.StringType))))
    val got = df.select(col("k"),
      call_function("search_sorted", col("k"), typedLit(bounds)).as("t"))
      .collect().map(r => Option(r.getString(0)) -> r.getInt(1)).toMap
    assert(got(Some("apple:1")) == 0) // below all cutpoints
    assert(got(Some("data:7")) == 1)  // == first sorted cutpoint
    assert(got(Some("data:8")) == 1)
    assert(got(Some("ml:1")) == 1)
    assert(got(Some("ml:2")) == 2)
    assert(got(Some("zz:9")) == 3)
    assert(got(None) == 0)
  }

  test("8191 cutpoints evaluate constant-depth (the fold overflowed)") {
    val bs = (1L to 8191L).map(_ * 10).toArray
    val bad = spark.range(0, 100000)
      .select(col("id"),
        call_function("search_sorted", col("id"), typedLit(bs)).as("t"))
      .filter(col("t") =!=
        least(lit(8191), floor(col("id") / 10)).cast("int"))
      .count()
    assert(bad == 0)
  }

  /** Input columns for the native functions: nulls, empty and Unicode
    * text, arrays of unequal length, and sorted int arrays.
    */
  private val nativeInputs = Seq("id",
    "CASE WHEN id % 9 = 0 THEN NULL WHEN id % 9 = 1 THEN '' ELSE concat(" +
      "'Alpha beta ', id % 5, ' gamma Δelta 数据处理 ', id % 3, ' beta, alpha!') END AS txt",
    "CASE WHEN id % 7 = 0 THEN NULL ELSE id * 3 - 20 END AS k",
    "CASE WHEN id % 8 = 0 THEN NULL ELSE array(id / 3D, 1.5D, -2D) END AS da",
    "array(0.25D, (id % 4) * 0.1D) AS db",
    "sequence(0, CAST(id % 6 AS INT) * 2, 2) AS ia",
    "sequence(1, CAST(id % 9 AS INT) + 1) AS ib",
    "CAST(id % 5 AS INT) + 1 AS need",
    "transform(sequence(1, CAST(id % 4 AS INT) + 1), x -> x * id - 7) AS fx")

  /** One call of each native function over [[nativeInputs]]. */
  private val nativeCalls = Seq(
    "dot_double" -> "dot_double(da, db)",
    "search_sorted" -> "search_sorted(k, array(-10L, 0L, 10L, 10L, 40L))",
    "sorted_int_intersect_size" -> "sorted_int_intersect_size(ia, ib)",
    "sorted_int_intersect_atleast" -> "sorted_int_intersect_atleast(ia, ib, need)",
    "ngram_sketch_hash" -> "ngram_sketch_hash(txt)",
    "word_bigrams" -> "word_bigrams(txt)",
    "word_bigram_list" -> "word_bigram_list(txt)",
    "minhash9" -> "minhash9(word_bigrams(txt))",
    "minhash18" -> "minhash18(word_bigrams(txt))",
    "doc_quality" -> "doc_quality(txt)",
    "top_cells" -> ("top_cells(da, id + 1D, array(" +
      "named_struct('cid', 0L, 'cv', array(1D, 0D, 0D), 'cnrm', 1D), " +
      "named_struct('cid', 1L, 'cv', array(1D, 1D, 1D), 'cnrm', sqrt(3D)), " +
      "named_struct('cid', 2L, 'cv', array(0D, -1D, 2D), 'cnrm', sqrt(5D))), 2)"),
    "split_words" -> "split_words(txt)",
    "bloom_hits" -> "bloom_hits(ia, array(129L, id, 0L))",
    "tri_moments" -> "tri_moments(fx)",
    "moment_cells" -> "moment_cells(fx)")

  private def nativeRows(s: org.apache.spark.sql.SparkSession, call: String): Seq[String] =
    s.range(0, 40).selectExpr(nativeInputs: _*).selectExpr("id", call)
      .collect().map(_.toString).toSeq.sorted

  test("generated code compiles — no silent interpreted fallback") {
    // CODEGEN_ONLY + fallback=false turn a janino failure in the
    // hand-written doGenCode into a test failure instead of a WARN +
    // interpreted fallback that hides a 10x slowdown in the merge path
    val prevMode = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevFb = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val compiled = try {
      val r = spark.range(0, 100)
        .select(
          call_function("search_sorted", col("id"),
            typedLit(Array(10L, 50L))).as("t"),
          expr("sorted_int_intersect_atleast(array(1,2,3), array(2,3,4), 2)")
            .as("n"))
        .agg(sum("t"), max("n")).head
      assert(r.getLong(0) == 40L * 1 + 50L * 2) // 0-9→0, 10-49→1, 50-99→2
      assert(r.getInt(1) == 2)
      nativeCalls.map { case (name, call) => name -> nativeRows(spark, call) }
    } finally {
      def restore(k: String, v: Option[String]) = v match {
        case Some(x) => spark.conf.set(k, x)
        case None => spark.conf.unset(k)
      }
      restore("spark.sql.codegen.factoryMode", prevMode)
      restore("spark.sql.codegen.fallback", prevFb)
    }
    // the interpreted path (`eval`) is what a small micro-batch runs
    // (GraftSession.microBatch): every native function must return the
    // same rows under NO_CODEGEN as its generated code does
    assert(nativeCalls.map(_._1) ==
      graft.expressions.GraftExtensions.functions.map(_._1.funcName))
    val interpreted = GraftSession.interpreted(spark)
    assert(interpreted.conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN")
    compiled.foreach { case (name, rows) =>
      assert(rows.length >= 40, name)
      assert(nativeRows(interpreted, nativeCalls.toMap.apply(name)) == rows,
        s"$name: interpreted rows differ from generated-code rows")
    }
  }

  test("double keys: NaN routes to the last tile, consistently") {
    val bs = Array(1.0, 2.0)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(java.lang.Double.valueOf(Double.NaN)),
        org.apache.spark.sql.Row(java.lang.Double.valueOf(0.5)),
        org.apache.spark.sql.Row(java.lang.Double.valueOf(1.0)),
        org.apache.spark.sql.Row(null))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.DoubleType))))
    val got = df.select(col("k"),
      call_function("search_sorted", col("k"), typedLit(bs)).as("t"))
      .collect().map(r =>
        Option(r.get(0)).map(_.asInstanceOf[Double]) -> r.getInt(1))
    // NaN != NaN under ==, so find by predicate rather than map lookup
    assert(got.collectFirst { case (Some(v), t) if v.isNaN => t }.contains(2))
    assert(got.collectFirst { case (Some(v), t) if v == 0.5 => t }.contains(0))
    assert(got.collectFirst { case (Some(v), t) if v == 1.0 => t }.contains(1))
    assert(got.collectFirst { case (None, t) => t }.contains(0))
  }
}
