package graft

import org.apache.spark.sql.SparkSession

/** `GraftExtensions` is the one registry of native functions: the factory
  * session has them, a session built elsewhere gets them from `tune`, and
  * a query never re-registers them.
  */
class ExtensionsSpec extends SparkSpec {

  private val names = Seq("dot_double", "search_sorted", "sorted_int_intersect_size",
    "sorted_int_intersect_atleast", "ngram_sketch_hash", "word_bigrams",
    "word_bigram_list", "minhash9", "minhash18", "doc_quality", "top_cells",
    "split_words", "bloom_hits", "tri_moments", "moment_cells")

  /** The message chain of `f`'s failure: the builder's own exception may
    * arrive wrapped by the analyzer.
    */
  private def failure(f: => Any): String = {
    val e = intercept[Exception](f)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" / ")
  }

  test("withExtensions exposes native functions to SQL") {
    val dot = spark.sql(
      "SELECT dot_double(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head.getDouble(0)
    assert(dot == 11.0)
    val inter = spark.sql(
      "SELECT sorted_int_intersect_size(array(1, 3, 5), array(3, 4, 5)) AS n").head.getInt(0)
    assert(inter == 2)
    val ss = spark.sql(
      "SELECT search_sorted(5L, array(1L, 4L, 9L)) AS t").head.getInt(0)
    assert(ss == 2)
    val bigrams = spark.sql(
      "SELECT word_bigrams('one two three') AS b").head.getSeq[String](0)
    assert(bigrams == Seq("one two", "two three"))
    val sig = spark.sql(
      "SELECT minhash9(word_bigrams('one two three')) AS s").head.getSeq[String](0)
    assert(sig.length == 9 && sig.forall(_.length == 7))
    // prefix property: widening the signature never changes the shared
    // windows, so previously banded data stays valid
    val sig18 = spark.sql(
      "SELECT minhash18(word_bigrams('one two three')) AS s").head.getSeq[String](0)
    assert(sig18.length == 18 && sig18.take(9) == sig)
    val sk = spark.sql(
      "SELECT ngram_sketch_hash('hello world hello') AS k").head.getSeq[Int](0)
    assert(sk == sk.sorted && sk.forall(h => h % 4 == 0))
    val dq = spark.sql(
      "SELECT doc_quality('a plain readable sentence about gardening') AS q,"
        + " doc_quality('zxq vvkw qqj9 zzt') AS q0").head
    assert(!dq.isNullAt(0) && dq.getLong(0) != dq.getLong(1))
    // v=(9,9) against axis center 0 and diagonal center 1: best cell is
    // 1 (cos 1.0) then 0 (cos ~0.707) — decode cid from the packed long
    val tc = spark.sql(
      """SELECT top_cells(array(9.0d, 9.0d), 12.727922061357855d, array(
           named_struct('cid', 0L, 'cv', array(1.0d, 0.0d), 'cnrm', 1.0d),
           named_struct('cid', 1L, 'cv', array(1.0d, 1.0d),
                        'cnrm', 1.4142135623730951d)), 2) AS c""")
      .head.getSeq[Long](0)
    assert(tc.map(_ % 4294967296L) == Seq(1L, 0L))
    // 3-word filter (192 bits): h=0 probes bits 0 and 7 (word 0),
    // h=64 probes bit 64 and (31*64+7) mod 192 = 71 (word 1) — setting
    // bits {0,7} in both words makes both grams hit
    val bh = spark.sql(
      "SELECT bloom_hits(array(0, 64), array(129L, 129L, 0L)) AS h")
      .head.getLong(0)
    assert(bh == 2L)
  }

  test("a session built outside the factory resolves the native functions only after tune") {
    assert(graft.expressions.GraftExtensions.functions.map(_._1.funcName) == names)
    // getOrCreate() returns any already-active session, so clear the
    // active/default sessions first (and restore them after) to get a
    // plain one, as perfbench builds it. It shares the JVM-wide
    // SparkContext, so it must NOT be stopped.
    spark.sparkContext // ensure the shared session/context exists first
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val plain = SparkSession.builder()
        .master("local[2]")
        .appName("graft-plain-test")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      assert(plain ne spark)
      names.foreach { n =>
        val before = failure(plain.sql(s"SELECT $n()").collect())
        assert(before.contains(n) && !before.contains("expects"),
          s"$n must not resolve before tune: $before")
      }
      GraftSession.tune(plain)
      // each name now reaches its builder: the arity gate names it
      names.foreach { n =>
        val after = failure(plain.sql(s"SELECT $n()").collect())
        assert(after.contains(s"$n expects"), s"$n must resolve after tune: $after")
      }
      assert(plain.sql(
        "SELECT dot_double(array(1.0d, 2.0d), array(3.0d, 4.0d))").head.getDouble(0) == 11.0)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("the arity gate fails a wrong argument count by function name") {
    val none = failure(spark.sql("SELECT word FROM VALUES (1) AS t(x) " +
      "LATERAL VIEW split_words() v AS word").collect())
    assert(none.contains("split_words expects 1 argument(s), got 0"), none)
    val one = failure(spark.sql("SELECT dot_double(array(1d))").collect())
    assert(one.contains("dot_double expects 2 argument(s), got 1"), one)
    val extra = failure(spark.sql("SELECT minhash9(array('a b'), 1)").collect())
    assert(extra.contains("minhash9 expects 1 argument(s), got 2"), extra)
  }

  test("a native-function query run twice replaces no registered function") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val source = "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("fn-replaced", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName == source) {
          seen.add(e.getMessage.getFormattedMessage); ()
        }
    }
    // the session first: starting Spark reconfigures log4j2, which would
    // drop an appender attached before it. The appender joins the logger
    // config the registry's logger already resolves to (see SnapshotTableSpec)
    spark.conf.get("spark.app.name")
    val config = LogManager.getLogger(source).asInstanceOf[Logger].get()
    appender.start()
    config.addAppender(appender, null, null)
    try {
      // control: registering a temp function over itself does log it
      spark.udf.register("graft_replace_probe", (x: Int) => x)
      spark.udf.register("graft_replace_probe", (x: Int) => x + 1)
      (1 to 2).foreach(_ => operators.KeywordStats.keywordStats.run(spark, sf).count())
    } finally {
      config.removeAppender(appender.getName); appender.stop()
      spark.sql("DROP TEMPORARY FUNCTION IF EXISTS graft_replace_probe")
    }
    val replaced = seen.toArray.map(_.toString)
      .filter(_.contains("replaced a previously registered function"))
    assert(replaced.exists(_.contains("graft_replace_probe")),
      s"control: the appender must see the registry's warning, saw ${seen.size} lines")
    assert(replaced.forall(_.contains("graft_replace_probe")),
      s"a query must not re-register a native function: ${replaced.mkString("; ")}")
  }
}
