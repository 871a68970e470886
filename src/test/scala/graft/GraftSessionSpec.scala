package graft

import graft.streaming.{IvmStream, Pipelines, PushStream}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The session factory's contract: the Spark defaults it relies on without
  * setting them, the confs it does set, `tune` bringing a session built
  * elsewhere to the same runtime values, and the interpreted clone a small
  * micro-batch runs in.
  */
class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  private val WholeStage = "spark.sql.codegen.wholeStage"
  private val FactoryMode = "spark.sql.codegen.factoryMode"

  /** The generated classes Spark compiled while `body` ran, each named by
    * the class its source declares (`SpecificUnsafeProjection`,
    * `GeneratedIteratorForCodegenStage3`, …). The code generator logs
    * every source it compiles at DEBUG; the count must equal Spark's own
    * compile counter.
    */
  private def compiled(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val Declares = """\*/\s*(?:final\s+)?class\s+(\w+)""".r.unanchored
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val tap = new AbstractAppender("graft-session-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case Declares(name) => names.add(name); ()
        case _ => ()
      }
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val lc = new LoggerConfig(logger, Level.DEBUG, false)
    lc.addAppender(tap, Level.DEBUG, null)
    tap.start()
    ctx.getConfiguration.addLogger(logger, lc)
    ctx.updateLoggers()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try body finally {
      ctx.getConfiguration.removeLogger(logger)
      ctx.updateLoggers()
      tap.stop()
    }
    val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    val got = names.toArray(Array.empty[String]).toSeq
    assert(got.size == n, s"the code generator compiled $n class(es), " +
      s"its log named ${got.size}")
    got
  }

  /** The classes Spark compiles in any session, whatever its codegen confs:
    * the reader of a cached frame's columns, the partial aggregate's row
    * joiner, and a shuffle's or sort's ordering. Each depends only on
    * schemas, but Spark builds every cache in a session clone of its own,
    * and classes compiled for one session's tasks are not reused by
    * another's, so a persisted frame compiles them again.
    */
  private val AlwaysCompiled =
    Set("SpecificColumnarIterator", "SpecificUnsafeRowJoiner", "SpecificOrdering")

  private val runtimeConfs = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  test("the Spark defaults the factory relies on are on") {
    // AQE re-plans skewed shuffles at runtime (skew-join splitting and
    // partition coalescing); the runtime Bloom filter prunes the probe-side
    // scan of a selective join. A Spark upgrade that turns one off fails here.
    Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.enabled").foreach { k =>
      assert(spark.conf.get(k) == "true", s"$k is no longer on by default")
    }
  }

  test("the factory sets UTC, nanos-as-long, cached AQE and one partition per core") {
    runtimeConfs.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") ==
      spark.sparkContext.defaultParallelism.toString)
  }

  test("tune gives a session built outside the factory the same runtime values") {
    val other = spark.newSession()
    // start from Spark's own defaults, which a plain builder session has
    other.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    other.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
    GraftSession.tune(other)
    runtimeConfs.foreach { case (k, _) =>
      assert(other.conf.get(k) == spark.conf.get(k), k)
    }
  }

  test("the interpreted clone keeps the session's confs and functions, " +
      "keeps AQE on and compiles nothing") {
    // Spark's own keys: a Spark upgrade that renames or drops one fails
    // here by name instead of silently compiling again
    Seq(WholeStage, FactoryMode).foreach { k =>
      assert(spark.conf.isModifiable(k), s"$k is no longer a Spark SQL conf")
    }
    // perfbench's case: a plain builder session, brought up by tune. The
    // builder makes it the default and active session; the suite's stays.
    val plain = SparkSession.builder().create()
    SparkSession.setDefaultSession(spark)
    SparkSession.setActiveSession(spark)
    GraftSession.tune(plain)
    plain.conf.set("spark.sql.shuffle.partitions", "3")
    Seq("factory" -> spark, "plain builder + tune" -> plain).foreach {
      case (name, parent) =>
        val clone = GraftSession.interpreted(parent)
        (runtimeConfs.map(_._1) :+ "spark.sql.shuffle.partitions").foreach { k =>
          assert(clone.conf.get(k) == parent.conf.get(k), s"$name: $k")
        }
        runtimeConfs.foreach { case (k, v) => assert(clone.conf.get(k) == v, s"$name: $k") }
        assert(clone.conf.get("spark.sql.adaptive.enabled") == "true", name)
        assert(clone.conf.get(WholeStage) == "false", name)
        assert(clone.conf.get(FactoryMode) == "NO_CODEGEN", name)
        // native functions resolve, and a query with a join, a filter and
        // a collect compiles no class
        var got: Array[org.apache.spark.sql.Row] = null
        val classes = compiled {
          got = clone.range(0, 100)
            .select(col("id"), expr("search_sorted(id, array(10L, 50L))").as("t"))
            .join(clone.range(0, 100).select(col("id"),
              expr("dot_double(array(1D, 2D), array(3D, CAST(id AS DOUBLE)))").as("d")),
              "id")
            .filter(col("t") > 0).collect()
        }
        assert(got.length == 90, name)
        got.foreach { r =>
          val id = r.getLong(0)
          assert(r.getInt(1) == (if (id < 50) 1 else 2) && r.getDouble(2) == 3 + 2 * id, s"$name: $r")
        }
        assert(classes.isEmpty, s"$name: the clone compiled ${classes.mkString(", ")}")
        assert(parent.conf.get(WholeStage) == "true", name)
        assert(parent.conf.get(FactoryMode) == "FALLBACK", name)
    }
    // kept per session, never stale: a conf set on, or unset from, the
    // session after one batch reaches the next
    val k = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(k)
    val first = GraftSession.interpreted(spark)
    spark.conf.set(k, "7")
    try {
      val next = GraftSession.interpreted(spark)
      assert(next eq first, "the clone was rebuilt")
      assert(next.conf.get(k) == "7")
      spark.conf.unset(k)
      assert(GraftSession.interpreted(spark).conf.get(k) == spark.conf.get(k))
    } finally spark.conf.set(k, saved)
    assert(GraftSession.interpreted(spark).conf.get(k) == saved)
  }

  test("the interpreted clone follows the session's listeners, is kept for " +
      "every live session and is released with its session") {
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val parent = spark.newSession()
    val frame = parent.range(0, 10).toDF()
    def batch(): Unit = {
      assert(GraftSession.microBatch(frame).get.count() == 10)
      ListenerBusDrain.drain(spark.sparkContext)
    }
    batch()
    // a listener registered on the session after a batch sees the next
    // one; once removed from the session it sees no later batch
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        seen.incrementAndGet(); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    parent.listenerManager.register(listener)
    batch()
    assert(seen.get > 0, "a listener registered after the first batch missed the next")
    parent.listenerManager.unregister(listener)
    val before = seen.get
    batch()
    assert(seen.get == before, "a listener removed from the session still saw a batch")
    // one clone per live session, however many sessions: none is evicted
    val sessions = (1 to 8).map(_ => spark.newSession())
    val clones = sessions.map(GraftSession.interpreted)
    sessions.zip(clones).foreach { case (s, c) => assert(GraftSession.interpreted(s) eq c) }
    // the clone holds no reference to its session, so a session dropped
    // after a batch is collected, and its clone with it
    def dropped(): java.lang.ref.WeakReference[SparkSession] = {
      val s = spark.newSession()
      assert(GraftSession.microBatch(s.range(0, 10).toDF()).get.count() == 10)
      new java.lang.ref.WeakReference(s)
    }
    val ref = dropped()
    var tries = 0
    while (ref.get != null && tries < 50) { System.gc(); Thread.sleep(20); tries += 1 }
    assert(ref.get == null, "a dropped session stayed reachable after a batch")
  }

  test("a micro-batch at or under the cap runs the push, IVM and CDC twins " +
      "interpreted; past the cap they compile") {
    def edges(b: Long) = (0L until 12L).map(i => (i, (i * 5 + b) % 12, 1L + i % 2))
      .toDF("src", "dst", "n_d")
    def dim(b: Long) = (0L until 40L).map(i => (i, i % 7 + b)).toDF("id", "amt")
      .filter(col("id") % (b + 1) === 0)
    val cfg = Seq(
      ("order_info", "insert", "kafka", "dwd_order_info", "id,total_amount", "id"),
      ("order_info", "update", "hbase", "dim_order_info", "id,total_amount", "id"))
      .toDF("source_table", "operate_type", "sink_type", "sink_table", "sink_columns", "sink_pk")
    def cdc(b: Long) = (1L to 6L).map { i =>
      ("graft", "order_info", if (i % 3 == 0) "insert" else "update", b * 10 + i,
        Map("id" -> (i % 4).toString, "total_amount" -> (b * 100 + i).toString))
    }.toDF("database", "tableName", "type", "op_seq", "after")
    val batches = Seq(1L, 2L).map(b => (b, edges(b), dim(b), cdc(b)))
    // the route's config is the caller's frame: its collect runs in the
    // caller's session
    cfg.collect()
    def run(tag: String): Seq[String] = {
      val dir = java.nio.file.Files.createTempDirectory(tag).toString
      val rt = PushStream.roots(s"$dir/push")
      compiled(batches.foreach { case (b, e, d, c) =>
        PushStream.applyBatch(e, b, rt, 1000L, 2)
        IvmStream.applyBatch(d, b, s"$dir/ivm_dim", s"$dir/ivm_view", "id",
          pmod(col("id"), lit(4L)), Seq("amt"), clusterFiles = 4)
        Pipelines.routeCdcBatch(c, b, cfg, s"$dir/cdc")
      })
    }
    val small = run("interpreted")
    val saved = GraftSession.RangeListCap
    GraftSession.RangeListCap = 0
    val big = try run("compiled") finally GraftSession.RangeListCap = saved
    val own = small.filterNot(AlwaysCompiled)
    assert(own.isEmpty, s"at or under the cap the twins compiled ${own.size} " +
      s"class(es) of their own: ${own.distinct.mkString(", ")}")
    assert(big.count(_.startsWith("GeneratedIteratorForCodegenStage")) > 0,
      "past the cap the twins compiled no whole-stage code")
    assert(big.size > 4 * small.size, s"past the cap the twins compiled " +
      s"${big.size} classes, at or under it ${small.size}")
    assert(spark.conf.get(WholeStage) == "true")
    assert(spark.conf.get(FactoryMode) == "FALLBACK")
  }
}
