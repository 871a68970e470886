package graft

import java.sql.Timestamp

import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Event-time fixtures from FIXTURES.md §7 driven through MemoryStream:
  * bounce match path, bounce timeout path, follow-up page (no bounce),
  * UV same-day dedup and midnight crossing, new-user fixup.
  */
class StatefulOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Run a bounded stream of PageLog through a stateful op and collect. */
  private def runStream[T](logs: Seq[PageLog], late: PageLog)(
      f: org.apache.spark.sql.Dataset[PageLog] => org.apache.spark.sql.Dataset[T]): Seq[T] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PageLog]
    val ds = f(mem.toDS().withWatermark("ts", "1 second").as[PageLog])
    val qname = s"t${System.nanoTime()}"
    val q = ds.writeStream.format("memory").queryName(qname)
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(logs: _*)
      q.processAllAvailable()
      // advance the watermark far past every pending timeout
      mem.addData(late)
      q.processAllAvailable()
      spark.table(qname).as[T](ds.encoder).collect().toSeq
    } finally q.stop()
  }

  private val farFuture = PageLog("zz-no-op", "p", ts("2024-01-02 00:00:00"))

  test("bounce: entry→entry within 10s marks the first as bounce (match path)") {
    val logs = Seq(
      PageLog("m1", "", ts("2024-01-01 00:00:00")),
      PageLog("m1", "", ts("2024-01-01 00:00:05")),
      PageLog("m1", "home", ts("2024-01-01 00:00:07")))
    val got = runStream(logs, farFuture)(StatefulOps.bounces)
    assert(got.filter(_.mid == "m1").map(_.ts.getTime) == Seq(ts("2024-01-01 00:00:00").getTime))
  }

  test("bounce: entry with silence ≥ 10s bounces via timeout path") {
    val logs = Seq(PageLog("m2", "", ts("2024-01-01 00:00:00")))
    val got = runStream(logs, farFuture)(StatefulOps.bounces)
    assert(got.filter(_.mid == "m2").map(_.ts.getTime) == Seq(ts("2024-01-01 00:00:00").getTime))
  }

  test("bounce: entry followed by a page within 10s is NOT a bounce") {
    val logs = Seq(
      PageLog("m3", "", ts("2024-01-01 00:00:00")),
      PageLog("m3", "home", ts("2024-01-01 00:00:06")))
    val got = runStream(logs, farFuture)(StatefulOps.bounces)
    assert(got.count(_.mid == "m3") == 0)
  }

  test("bounce: late second entry (>10s) bounces the first AND the second") {
    val logs = Seq(
      PageLog("m4", "", ts("2024-01-01 00:00:00")),
      PageLog("m4", "", ts("2024-01-01 00:00:30")))
    val got = runStream(logs, farFuture)(StatefulOps.bounces)
    assert(got.filter(_.mid == "m4").map(_.ts.getTime).sorted ==
      Seq(ts("2024-01-01 00:00:00").getTime, ts("2024-01-01 00:00:30").getTime))
  }

  test("uv dedup: second same-day entry dropped, next-day entry kept") {
    val logs = Seq(
      PageLog("u1", "", ts("2024-01-01 08:00:00")),
      PageLog("u1", "", ts("2024-01-01 12:00:00")),
      PageLog("u1", "", ts("2024-01-02 08:00:00")))
    val got = runStream(logs, farFuture.copy(ts = ts("2024-01-03 00:00:00")))(StatefulOps.uniqueVisits)
    assert(got.filter(_.mid == "u1").map(_.day).sorted == Seq("2024-01-01", "2024-01-02"))
  }

  test("uv dedup: non-entry records never count as visits") {
    val logs = Seq(PageLog("u2", "detail", ts("2024-01-01 08:00:00")))
    val got = runStream(logs, farFuture)(StatefulOps.uniqueVisits)
    assert(got.count(_.mid == "u2") == 0)
  }

  test("streaming ingest dedup keeps exactly the batch dedup_exact keepers") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, sf, "documents")
      .select(md5(col("text")).as("fp"), col("doc_id"))
      .limit(100)
      .collect()
      .map(r => DocRecord(r.getString(0), r.getLong(1), ts("2024-01-01 00:00:00")))
    val mem = MemoryStream[DocRecord]
    val q = StatefulOps.dedupeStream(mem.toDS())
      .writeStream.format("memory").queryName("ddp")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(docs.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(docs.toIndexedSeq: _*) // full replay: every record now a duplicate
      q.processAllAvailable()
      val kept = spark.table("ddp").as[DocRecord].collect().map(_.docId).sorted.toSeq
      val batchKeepers = docs.groupBy(_.fp).values.map(_.map(_.docId).min).toSeq.sorted
      assert(kept == batchKeepers)
    } finally q.stop()
  }

  test("uv: batch uv_flag equals streaming uniqueVisits on the real events table") {
    import org.apache.spark.sql.functions._
    val en = graft.operators.LogStats.enriched(spark, sf)
      .select(col("user_id"), col("ts"), col("entry_flag"), col("day"), col("uv_flag"))
      .collect()
    val batch = en.groupBy(_.getAs[String]("day"))
      .map { case (d, rows) => d -> rows.map(_.getAs[Int]("uv_flag").toLong).sum }
      .filter(_._2 > 0)
    val logs = en.map { r =>
      PageLog(r.getAs[Long]("user_id").toString,
        if (r.getAs[Int]("entry_flag") == 1) "" else "home",
        r.getAs[java.sql.Timestamp]("ts"))
    }.toSeq
    val got = runStream(logs, farFuture.copy(ts = ts("2024-03-01 00:00:00")))(
      StatefulOps.uniqueVisits)
    val streamed = got.filter(_.mid != "zz-no-op")
      .groupBy(_.day).map { case (d, v) => d -> v.size.toLong }
    assert(streamed == batch)
  }

  test("uv dedup: a mixed-mid stream keeps one visit per mid and day") {
    val logs = Seq(
      PageLog("t1", "", ts("2024-01-01 08:00:00")),
      PageLog("t1", "", ts("2024-01-01 12:00:00")),
      PageLog("t1", "", ts("2024-01-02 08:00:00")),
      PageLog("t2", "page", ts("2024-01-01 09:00:00")),
      PageLog("t3", "", ts("2024-01-01 10:00:00")))
    val got = runStream(logs, farFuture.copy(ts = ts("2024-01-03 00:00:00")))(
      StatefulOps.uniqueVisits).filter(_.mid != "zz-no-op").map(v => (v.mid, v.day)).toSet
    assert(got == Set(("t1", "2024-01-01"), ("t1", "2024-01-02"), ("t3", "2024-01-01")))
  }

  test("bounce: the four path fixtures in one stream bounce m1, m2, m4 twice") {
    // the union of the four path fixtures above: match, timeout,
    // follow-up (no bounce), late second entry (both bounce)
    val logs = Seq(
      PageLog("m1", "", ts("2024-01-01 00:00:00")),
      PageLog("m1", "", ts("2024-01-01 00:00:05")),
      PageLog("m1", "home", ts("2024-01-01 00:00:07")),
      PageLog("m2", "", ts("2024-01-01 00:00:00")),
      PageLog("m3", "", ts("2024-01-01 00:00:00")),
      PageLog("m3", "home", ts("2024-01-01 00:00:06")),
      PageLog("m4", "", ts("2024-01-01 00:00:00")),
      PageLog("m4", "", ts("2024-01-01 00:00:30")))
    val got = runStream(logs, farFuture)(StatefulOps.bounces)
      .filter(_.mid != "zz-no-op").map(b => (b.mid, b.ts.getTime)).toSet
    assert(got == Set(
      ("m1", ts("2024-01-01 00:00:00").getTime),
      ("m2", ts("2024-01-01 00:00:00").getTime),
      ("m4", ts("2024-01-01 00:00:00").getTime),
      ("m4", ts("2024-01-01 00:00:30").getTime)))
  }

  test("new-user fixup: claimed is_new=1 rewritten to 0 for a seen mid") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[FlaggedLog]
    val ds = StatefulOps.fixNewUserFlags(mem.toDS())
    val q = ds.writeStream.format("memory").queryName("nuf")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        FlaggedLog("n1", "", ts("2024-01-01 00:00:00"), isNew = true),
        FlaggedLog("n1", "", ts("2024-01-01 00:01:00"), isNew = true))
      q.processAllAvailable()
      val got = spark.table("nuf").as[FlaggedLog].collect()
        .filter(_.mid == "n1").sortBy(_.ts.getTime).map(_.isNew).toSeq
      assert(got == Seq(true, false))
    } finally q.stop()
  }
}
