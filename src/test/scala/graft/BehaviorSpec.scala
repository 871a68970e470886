package graft

import graft.operators.Behavior
import org.apache.spark.sql.functions._

/** Edge semantics of the behavior-analytics family on planted fixtures
  * (the sf oracles prove the aggregate numbers; these pin the per-user
  * rules the aggregates are built from).
  */
class BehaviorSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600L * 1000 * 1000 * 1000 // 1 h in ns

  test("funnel stages must be strictly ordered and inside the 72 h window") {
    // u1: clean view→click→purchase; u2: click BEFORE its first view (the
    // later click converts); u3: purchase before click (never converts);
    // u4: click lands after the 72 h window.
    val ev = Seq(
      (1L, 1, 1 * H), (1L, 2, 2 * H), (1L, 3, 3 * H),
      (2L, 2, 1 * H), (2L, 1, 2 * H), (2L, 2, 3 * H),
      (3L, 1, 1 * H), (3L, 3, 2 * H), (3L, 2, 3 * H),
      (4L, 1, 1 * H), (4L, 2, 80 * H)
    ).toDF("user_id", "stage", "tsn")
    val t = Behavior.funnelTimes(ev).collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
      .toMap
    assert(t(1L) === ((Some(1 * H), Some(2 * H), Some(3 * H))))
    assert(t(2L) === ((Some(2 * H), Some(3 * H), None)))
    assert(t(3L) === ((Some(1 * H), Some(3 * H), None)))
    assert(t(4L) === ((Some(1 * H), None, None)))
  }

  test("funnel equal-timestamp events do not satisfy the strictly-after rule") {
    val ev = Seq((1L, 1, 1 * H), (1L, 2, 1 * H), (1L, 2, 2 * H))
      .toDF("user_id", "stage", "tsn")
    val r = Behavior.funnelTimes(ev).collect().head
    assert(r.getLong(1) === 1 * H)
    assert(r.getLong(2) === 2 * H) // the same-instant click is skipped
  }

  test("transition pairs split at the 30-minute session gap") {
    val m = 60L * 1000 * 1000 * 1000 // 1 min ns
    val ev = Seq(
      (1L, 1L, 0 * m, "view"), (1L, 2L, 10 * m, "click"), // in-session pair
      (1L, 3L, 50 * m, "view"), // 40 min gap — no click→view pair
      (1L, 4L, 80 * m, "click") // exactly 30 min — inclusive bound, kept
    ).toDF("user_id", "event_id", "tsn", "event_type")
    val grid = Behavior.transitionGrid(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(grid === Map(("view", "click") -> 2L))
  }

  test("transition probabilities floor to basis points per source row") {
    val grid = Behavior.transitionGrid(
      Tables.load(spark, sf, "events")
        .select(col("user_id"), col("event_id"), col("ts_ns").as("tsn"),
          col("event_type")))
    val bySrc = grid.groupBy("src")
      .agg(sum("prob_bp").as("s"), count(lit(1)).as("k"))
      .collect()
    bySrc.foreach { r =>
      val s = r.getLong(1)
      // floor per row: total in (10000 - rows, 10000]
      assert(s <= 10000 && s > 10000 - r.getLong(2), s"src=${r.get(0)} sum=$s")
    }
  }

  test("rolling WAU covers exactly the trailing 7 days and dominates DAU") {
    val du = Seq(
      ("2024-01-01", 1L), ("2024-01-01", 2L),
      ("2024-01-05", 3L),
      ("2024-01-08", 1L), // day 1 users fall OUT of the 8th's window
      ("2024-01-20", 4L) // isolated day far outside every other window
    ).toDF("day", "user_id").withColumn("day", to_date(col("day")))
    val r = Behavior.rollingActive(du).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r("2024-01-01") === ((2L, 2L)))
    assert(r("2024-01-05") === ((1L, 3L))) // 1st+5th inside one window
    assert(r("2024-01-08") === ((1L, 2L))) // 5th still in, 1st evicted
    assert(r("2024-01-20") === ((1L, 1L)))
    assert(r.size === 4) // only days present in the data appear
    r.values.foreach { case (dau, wau) => assert(wau >= dau) }
  }

  test("streamed funnel progression equals the one-shot batch fold") {
    import graft.streaming.{FunnelTimes, StageEvent, StatefulOps}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val stageOf = Map("view" -> 1, "click" -> 2, "purchase" -> 3)
    val evRows = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("ts_ns"))
      .collect()
      .flatMap(r => stageOf.get(r.getString(1)).map(s =>
        StageEvent(r.getLong(0), s, r.getTimestamp(2), r.getLong(3))))
      .sortBy(_.tsNs)
    // three time-ordered micro-batches (the in-order contract)
    val chunks = evRows.grouped((evRows.length + 2) / 3).toSeq
    val mem = MemoryStream[StageEvent]
    val q = StatefulOps.funnelProgress(mem.toDS())
      .writeStream.format("memory").queryName("fp")
      .outputMode(OutputMode.Update).start()
    try {
      chunks.foreach { c => mem.addData(c.toSeq: _*); q.processAllAvailable() }
      // fields move -1 → value at most once, so per-field max = final state
      val streamed = spark.table("fp").as[FunnelTimes].collect()
        .groupBy(_.user_id)
        .map { case (u, rs) =>
          u -> ((rs.map(_.t1).max, rs.map(_.t2).max, rs.map(_.t3).max))
        }
      val batch = Behavior.funnelTimes(
        evRows.toSeq.toDF("user_id", "stage", "ts", "tsn")
          .select(col("user_id"), col("stage"), col("tsn")))
        .collect()
        .map { r =>
          def g(i: Int) = if (r.isNullAt(i)) -1L else r.getLong(i)
          r.getLong(0) -> ((g(1), g(2), g(3)))
        }.toMap
      assert(streamed === batch)
      assert(batch.values.exists(_._3 >= 0)) // some user completes the funnel
    } finally q.stop()
  }

  test("session paths split at the gap and cap whale sessions at 24 events") {
    val m = 60L * 1000 * 1000 * 1000
    // u1: 30-event single session (capped); u2: two 1-event sessions
    val ev = ((1 to 30).map(i => (1L, i.toLong, i * m, "view")) ++
      Seq((2L, 100L, 0 * m, "click"), (2L, 101L, 60 * m, "click")))
      .toDF("user_id", "event_id", "tsn", "event_type")
    val grid = Behavior.sessionPathGrid(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(grid(Seq.fill(24)("view").mkString("->")) === 1L)
    assert(grid("click") === 2L)
    assert(grid.size === 2)
  }

  test("streamed transition pairs equal the batch lead-window grid") {
    import graft.streaming.{PathEvent, StatefulOps, Transition}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val evRows = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("ts_ns"),
        col("event_type"))
      .collect()
      .map(r => PathEvent(r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getLong(3), r.getString(4)))
      .sortBy(_.tsNs)
    val chunks = evRows.grouped((evRows.length + 2) / 3).toSeq
    val mem = MemoryStream[PathEvent]
    val q = StatefulOps.transitionPairs(
      mem.toDS().withWatermark("ts", "1 second"))
      .writeStream.format("memory").queryName("tp")
      .outputMode(OutputMode.Append).start()
    try {
      chunks.foreach { c => mem.addData(c.toSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("tp").as[Transition].collect()
        .groupBy(t => (t.src, t.dst)).view.mapValues(_.length.toLong).toMap
      val batch = Behavior.transitionGrid(
        Tables.load(spark, sf, "events")
          .select(col("user_id"), col("event_id"), col("ts_ns").as("tsn"),
            col("event_type")))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed === batch)
      assert(batch.values.sum > 0)
    } finally q.stop()
  }

  test("streamed funnel on the ordering fixture split over two batches") {
    import graft.streaming.{FunnelTimes, StageEvent, StatefulOps}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    def tsOf(ns: Long) = new java.sql.Timestamp(ns / 1000000L)
    // the edge fixture from the ordering test, split over two batches
    val batch1 = Seq((1L, 1, 1 * H), (2L, 2, 1 * H), (3L, 1, 1 * H), (4L, 1, 1 * H))
    val batch2 = Seq((1L, 2, 2 * H), (1L, 3, 3 * H), (2L, 1, 2 * H),
      (2L, 2, 3 * H), (3L, 3, 2 * H), (3L, 2, 3 * H), (4L, 2, 80 * H))
    def toEv(xs: Seq[(Long, Int, Long)]) =
      xs.map { case (u, s, t) => StageEvent(u, s, tsOf(t), t) }
    val mem = MemoryStream[StageEvent]
    val q = StatefulOps.funnelProgress(mem.toDS()).writeStream.format("memory")
      .queryName("fmgws").outputMode(OutputMode.Update).start()
    try {
      Seq(batch1, batch2).foreach { b =>
        mem.addData(toEv(b): _*); q.processAllAvailable()
      }
      val got = spark.table("fmgws").as[FunnelTimes].collect().groupBy(_.user_id)
        .map { case (u, rs) =>
          u -> ((rs.map(_.t1).max, rs.map(_.t2).max, rs.map(_.t3).max))
        }
      assert(got(1L) === ((1 * H, 2 * H, 3 * H)))
      assert(got(4L) === ((1 * H, -1L, -1L))) // window expired
    } finally q.stop()
  }

  test("funnel progression survives a restart from checkpoint") {
    import graft.streaming.{FunnelTimes, StageEvent, StatefulOps}
    import org.apache.spark.sql.streaming.OutputMode
    val H2 = 3600L * 1000 * 1000 * 1000
    def tsOf(ns: Long) = new java.sql.Timestamp(ns / 1000000L)
    // chunk 1: u1 completes stage 1+2, u2 stage 1; chunk 2 (after the
    // restart): u1 purchases — valid ONLY if t1/t2 survived the restart —
    // and u2 clicks
    val chunk1 = Seq(StageEvent(1L, 1, tsOf(1 * H2), 1 * H2),
      StageEvent(1L, 2, tsOf(2 * H2), 2 * H2),
      StageEvent(2L, 1, tsOf(2 * H2), 2 * H2))
    val chunk2 = Seq(StageEvent(1L, 3, tsOf(3 * H2), 3 * H2),
      StageEvent(2L, 2, tsOf(3 * H2), 3 * H2))
    val dir = java.nio.file.Files.createTempDirectory("funnelev").toString
    val ckpt = java.nio.file.Files.createTempDirectory("funnelck").toString
    import spark.implicits._
    def stream() = StatefulOps.funnelProgress(
      spark.readStream.schema(chunk1.toDS().schema).parquet(dir).as[StageEvent])
    // memory sink refuses checkpoint recovery; stage each run's emissions
    // through foreachBatch (recoverable) into its own dir
    val stage1 = java.nio.file.Files.createTempDirectory("funnelo1").toString
    val stage2 = java.nio.file.Files.createTempDirectory("funnelo2").toString
    def start(stage: String) = stream().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[FunnelTimes], _: Long) =>
        df.write.mode("append").parquet(stage)
      }
      .option("checkpointLocation", ckpt).outputMode(OutputMode.Update).start()
    chunk1.toDS().coalesce(1).write.mode("append").parquet(dir)
    val q1 = start(stage1)
    q1.processAllAvailable(); q1.stop()
    chunk2.toDS().coalesce(1).write.mode("append").parquet(dir)
    val q2 = start(stage2)
    try {
      q2.processAllAvailable()
      val after = spark.read.parquet(stage2).as[FunnelTimes].collect()
        .map(f => f.user_id -> ((f.t1, f.t2, f.t3))).toMap
      // u1's purchase only qualifies against t1/t2 restored from the
      // checkpoint; u2's click against its restored t1
      assert(after(1L) === ((1 * H2, 2 * H2, 3 * H2)))
      assert(after(2L) === ((2 * H2, 3 * H2, -1L)))
    } finally q2.stop()
  }

  test("transition look-back state survives a restart from checkpoint") {
    import graft.streaming.{PathEvent, StatefulOps, Transition}
    import org.apache.spark.sql.streaming.OutputMode
    val M = 60L * 1000 * 1000 * 1000
    // base the fixture in 2024: an epoch-0 event ties the INITIAL
    // watermark and is dropped as late before it reaches state
    val B = 1704067200L * 1000 * 1000 * 1000
    def tsOf(ns: Long) = new java.sql.Timestamp(ns / 1000000L)
    // pre-restart: u1 views at t=0; post-restart: u1 clicks at t=10min —
    // the pair exists ONLY if the last-event state was restored
    val chunk1 = Seq(PathEvent(1L, 1L, tsOf(B), B, "view"))
    val chunk2 = Seq(PathEvent(1L, 2L, tsOf(B + 10 * M), B + 10 * M, "click"),
      PathEvent(1L, 3L, tsOf(B + 50 * M), B + 50 * M, "view")) // 40min gap: no pair
    val dir = java.nio.file.Files.createTempDirectory("transev").toString
    val ckpt = java.nio.file.Files.createTempDirectory("transck").toString
    val stage1 = java.nio.file.Files.createTempDirectory("transo1").toString
    val stage2 = java.nio.file.Files.createTempDirectory("transo2").toString
    import spark.implicits._
    def start(stage: String) = StatefulOps.transitionPairs(
      spark.readStream.schema(chunk1.toDS().schema).parquet(dir)
        .withWatermark("ts", "1 second").as[PathEvent])
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Transition], _: Long) =>
        df.write.mode("append").parquet(stage)
      }
      .option("checkpointLocation", ckpt).outputMode(OutputMode.Append).start()
    chunk1.toDS().coalesce(1).write.mode("append").parquet(dir)
    val q1 = start(stage1)
    q1.processAllAvailable(); q1.stop()
    chunk2.toDS().coalesce(1).write.mode("append").parquet(dir)
    val q2 = start(stage2)
    try {
      q2.processAllAvailable()
      val pairs = spark.read.parquet(stage2).as[Transition].collect()
        .map(t => (t.src, t.dst)).toSeq
      assert(pairs === Seq(("view", "click")),
        s"expected the cross-restart pair only, got $pairs")
    } finally q2.stop()
  }

  test("cohort retention at offset zero is always 10000 bp") {
    val rows = SparkEntry.queries("cohort_retention")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.filter(_.getLong(1) == 0L)
      .foreach(r => assert(r.getLong(4) === 10000L, r.toString))
    // every cell's active set is a subset of its cohort
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(3), r.toString))
  }
}
