package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streaming span-decontamination twin: a 3-micro-batch crawl feed
  * screened against a static bench set must accumulate EXACTLY the spans
  * the one-shot batch core finds on the full corpus — the equality is
  * structural (per-doc computation, static bench side), not
  * recall-dependent.
  */
class SpanStreamSpec extends SparkSpec {

  test("streamed micro-batches accumulate the one-shot contamination spans") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val run = "one two three four five six seven eight nine ten eleven twelve"
    val bench = Seq(
      (1L, s"benchmark question stem $run and the answer choices follow"),
      (2L, "entirely clean benchmark item nothing shared with any document"))
    val batches = Seq(
      Seq((100L, s"a crawl page quoting $run verbatim inside a forum post"),
        (101L, "clean page about gardening tomatoes and compost heaps")),
      Seq((110L, s"another contaminated page where $run appears twice: $run yes")),
      Seq((120L, "final clean page with original prose only about sailing"),
        (121L, s"page embedding the stem $run midway through the text")))

    val out = java.nio.file.Files.createTempDirectory("span_stream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("span_stream_ck").toString
    val benchDf = bench.toDF("doc_id", "text")

    val mem = MemoryStream[(Long, String)]
    val q = streaming.SpanStream.start(
      mem.toDS().toDF("doc_id", "text"), benchDf, out, ckpt)
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet

      // one-shot: the batch core over the full corpus + the same bench set
      val allDocs = batches.flatten.toDF("doc_id", "text")
      val expected = operators.SpanDedup.contaminationSpansAgainst(
          operators.SpanDedup.gramTableOf(allDocs, 5),
          operators.SpanDedup.gramTableOf(benchDf, 5), 5, 12)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet

      assert(got == expected, s"streamed $got, one-shot $expected")
      // fixture sanity: the three planted contaminated docs are flagged,
      // the clean ones are not
      assert(got.map(_._1) == Set(100L, 110L, 121L),
        "exactly the planted contaminated docs must carry spans")
      assert(got.count(_._1 == 110L) == 2,
        "the doubled quote must surface as two distinct spans")
    } finally {
      q.stop()
      CacheRegistry.clear()
    }
  }

  test("span stream resumes from checkpoint without loss or duplication") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val run = "one two three four five six seven eight nine ten eleven twelve"
    val benchDf = Seq((1L, s"stem $run tail")).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("span_ck_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("span_ck_ck").toString

    val mem = MemoryStream[(Long, String)]
    val q1 = streaming.SpanStream.start(
      mem.toDS().toDF("doc_id", "text"), benchDf, out, ckpt)
    try {
      mem.addData((100L, s"first page with $run quoted"))
      q1.processAllAvailable()
    } finally q1.stop()

    // a NEW query object over the SAME checkpoint continues the stream
    val q2 = streaming.SpanStream.start(
      mem.toDS().toDF("doc_id", "text"), benchDf, out, ckpt)
    try {
      mem.addData((200L, s"second page also containing $run verbatim"),
        (201L, "clean page about nothing relevant at all"))
      q2.processAllAvailable()
      val got = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(100L, 200L),
        s"restart must keep batch-1 spans and add batch-2's exactly once: $got")
    } finally {
      q2.stop()
      CacheRegistry.clear()
    }
  }
}
