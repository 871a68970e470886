package graft

import graft.operators.Behavior
import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** N-batch ≡ one-shot equivalence for the behavior family's remaining
  * streaming twins (cohort retention, rolling actives, weekly churn) —
  * the same harness style as the funnel/transition twins: real events,
  * time-ordered micro-batches (the in-order contract), the streamed
  * emissions fed through the SAME final-aggregation code path the batch
  * query uses, compared row-for-row against the batch oracle-backed
  * output.
  */
class BehaviorTwinsSpec extends SparkSpec {
  import spark.implicits._

  private def chunks3[T](rows: Array[T]): Seq[Seq[T]] =
    rows.grouped((rows.length + 2) / 3).map(_.toSeq).toSeq

  test("streamed daily activity + rollingActive equals batch rolling_actives") {
    implicit val sqlCtx = spark.sqlContext
    val evRows = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts"), to_date(col("ts")).as("day"),
        col("ts_ns"))
      .collect()
      .map(r => (DayEvent(r.getLong(0), r.getTimestamp(1), r.getDate(2)),
        r.getLong(3)))
      .sortBy(_._2).map(_._1)
    val mem = MemoryStream[DayEvent]
    val q = StatefulOps.firstDailyActivity(
      mem.toDS().withWatermark("ts", "1 second"))
      .writeStream.format("memory").queryName("du_twin")
      .outputMode(OutputMode.Append).start()
    try {
      chunks3(evRows).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      val streamedDu = spark.table("du_twin")
        .select(col("day"), col("user_id"))
      // emissions are exactly-once: already distinct without dedup
      assert(streamedDu.count() === streamedDu.distinct().count())
      val batchDu = Tables.load(spark, sf, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      assert(streamedDu.exceptAll(batchDu).count() === 0)
      assert(batchDu.exceptAll(streamedDu).count() === 0)
      // and the full DAU/WAU grid matches the batch query end to end
      val grid = Behavior.rollingActive(streamedDu).orderBy("day").collect()
      val batch = SparkEntry.queries("rolling_actives")(spark, sf).collect()
      assert(grid.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
      assert(batch.length > 0)
    } finally { q.stop(); CacheRegistry.clear() }
  }

  test("streamed cohort cells + cohortFinal equals batch cohort_retention") {
    implicit val sqlCtx = spark.sqlContext
    val evRows = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts"),
        date_trunc("week", col("ts")).cast("date").as("week"), col("ts_ns"))
      .collect()
      .map(r => (WeekEvent(r.getLong(0), r.getTimestamp(1), r.getDate(2)),
        r.getLong(3)))
      .sortBy(_._2).map(_._1)
    val mem = MemoryStream[WeekEvent]
    val q = StatefulOps.cohortCells(mem.toDS())
      .writeStream.format("memory").queryName("cc_twin")
      .outputMode(OutputMode.Append).start()
    try {
      chunks3(evRows).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      val cells = spark.table("cc_twin")
        // exactly-once emission: count(*) IS the distinct-user cell count
        .groupBy(col("cohort_week"), col("offset_w"))
        .agg(count(lit(1)).as("active_users"))
      val streamed = Behavior.cohortFinal(cells).collect()
      val batch = SparkEntry.queries("cohort_retention")(spark, sf).collect()
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
      assert(batch.length > 0)
    } finally q.stop()
  }

  test("churn open-week state survives a restart from checkpoint") {
    // chunk 1: u1 and u2 each open week0; restart; chunk 2: u1 returns in
    // the ADJACENT week (finalizes week0 as retained — only possible if
    // the open-week state was restored), u2 skips to week3 (finalizes
    // week0 as churned). A fresh state would emit nothing for either.
    def wk(s: String) = java.sql.Date.valueOf(s)
    def ev(u: Long, week: String) = {
      val d = wk(week)
      WeekEvent(u, new java.sql.Timestamp(d.getTime + 3600L * 1000), d)
    }
    val chunk1 = Seq(ev(1L, "2024-01-01"), ev(2L, "2024-01-01"))
    val chunk2 = Seq(ev(1L, "2024-01-08"), ev(2L, "2024-01-22"))
    val dir = java.nio.file.Files.createTempDirectory("churnev").toString
    val ckpt = java.nio.file.Files.createTempDirectory("churnck").toString
    val stage1 = java.nio.file.Files.createTempDirectory("churno1").toString
    val stage2 = java.nio.file.Files.createTempDirectory("churno2").toString
    def stream() = StatefulOps.weeklyChurnFlags(
      spark.readStream.schema(chunk1.toDS().schema).parquet(dir).as[WeekEvent]
        .withWatermark("ts", "1 second"))
    def start(stage: String) = stream().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[WeekFlag], _: Long) =>
        df.write.mode("append").parquet(stage)
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    chunk1.toDS().coalesce(1).write.mode("append").parquet(dir)
    val q1 = start(stage1)
    q1.processAllAvailable(); q1.stop()
    chunk2.toDS().coalesce(1).write.mode("append").parquet(dir)
    val q2 = start(stage2)
    try {
      q2.processAllAvailable()
      val flags = spark.read.parquet(stage2)
        .collect()
        .map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2),
          r.getLong(3))).toSet
      // u1's week0 finalizes as retained, u2's as churned — both rows are
      // only emittable if the open-week state was restored. (u1's week1
      // may ALSO churn by timer in the same run once u2's Jan-22 event
      // advances the watermark past Jan-22 — a legitimate extra row.)
      assert(flags.contains((1L, "2024-01-01", 1L, 0L)))
      assert(flags.contains((2L, "2024-01-01", 1L, 1L)))
    } finally q2.stop()
  }

  test("streamed session paths equal the batch path grid") {
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("ts_ns"),
        col("event_type"))
      .collect()
      .map(r => PathEvent(r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getLong(3), r.getString(4)))
      .sortBy(_.tsNs)
    val maxTs = base.last.ts.getTime
    val sentinel = {
      val t = new java.sql.Timestamp(maxTs + 7L * 86400000L)
      PathEvent(-1L, 0L, t, t.getTime * 1000000L, "view")
    }
    val mem = MemoryStream[PathEvent]
    val q = StatefulOps.sessionPaths(
      mem.toDS().withWatermark("ts", "1 second"))
      .writeStream.format("memory").queryName("sp_twin")
      .outputMode(OutputMode.Append).start()
    try {
      chunks3(base).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      mem.addData(sentinel); q.processAllAvailable()
      val streamed = spark.table("sp_twin").filter(col("user_id") =!= -1L)
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
      val batch = Behavior.sessionPathGrid(
        Tables.load(spark, sf, "events")
          .select(col("user_id"), col("event_id"), col("ts_ns").as("tsn"),
            col("event_type")))
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
      assert(batch.count() > 0)
    } finally q.stop()
  }

  test("live session-path state caps a whale session at 24 events") {
    implicit val sqlCtx = spark.sqlContext
    val m = 60L * 1000 * 1000 * 1000
    def pe(u: Long, id: Long, tsn: Long, t: String) =
      PathEvent(u, id, new java.sql.Timestamp(tsn / 1000000L), tsn, t)
    // u1: 200-event single session (whale); u2: a later event that
    // advances the watermark far enough to flush u1's session timer
    val whale = (1 to 200).map(i => pe(1L, i.toLong, i * m, "view"))
    val flush = pe(2L, 999L, 3L * 86400L * 1000 * 1000 * 1000, "click")
    val mem = MemoryStream[PathEvent]
    val q = StatefulOps.sessionPaths(
      mem.toDS().withWatermark("ts", "1 second"))
      .writeStream.format("memory").queryName("sp_whale")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(whale: _*); q.processAllAvailable()
      mem.addData(flush); q.processAllAvailable()
      val paths = spark.table("sp_whale").filter(col("user_id") === 1L)
        .collect().map(_.getString(1))
      // ONE session despite 200 events; its retained path is the first 24
      assert(paths.toSeq === Seq(Seq.fill(24)("view").mkString("->")))
    } finally q.stop()
  }

  test("streamed churn flags + churnFinal equals batch weekly_churn") {
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts"),
        date_trunc("week", col("ts")).cast("date").as("week"), col("ts_ns"))
      .collect()
      .map(r => (WeekEvent(r.getLong(0), r.getTimestamp(1), r.getDate(2)),
        r.getLong(3)))
      .sortBy(_._2)
    val maxTs = base.last._1.ts.getTime
    // a far-future sentinel user advances the watermark past every open
    // week's timer so the last-week churn rows flush; its own row is
    // filtered from the comparison (its timer can never fire).
    val sentinel = {
      val t = new java.sql.Timestamp(maxTs + 60L * 86400000L)
      WeekEvent(-1L, t, new java.sql.Date(t.getTime))
    }
    val evRows = base.map(_._1)
    val mem = MemoryStream[WeekEvent]
    val q = StatefulOps.weeklyChurnFlags(
      mem.toDS().withWatermark("ts", "1 second"))
      .writeStream.format("memory").queryName("wc_twin")
      .outputMode(OutputMode.Append).start()
    try {
      chunks3(evRows).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      mem.addData(sentinel); q.processAllAvailable()
      val flags = spark.table("wc_twin").filter(col("user_id") =!= -1L)
        .select(col("week"), col("is_new"), col("is_churned"))
      val streamed = Behavior.churnFinal(flags).collect()
      val batch = SparkEntry.queries("weekly_churn")(spark, sf).collect()
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
      assert(batch.length > 0)
    } finally q.stop()
  }
}
