package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streaming twin of the incremental dedup: a 3-micro-batch crawl feed
  * through [[streaming.DedupStream]] must accumulate verdicts EQUAL to the
  * one-shot rule "dropped iff some verified pair (a, doc) with a < doc"
  * computed from the full static corpus — the same equality the batch
  * path's oracle proves, here proven across N micro-batches and a
  * cross-batch duplicate chain. The equality is exact (not
  * recall-dependent): both sides generate candidates from the same band
  * tables, and the per-batch (index ∪ batch) × batch joins partition the
  * full doc_a < doc_b pair set when ids are arrival-monotone.
  */
class StreamingDedupSpec extends SparkSpec {

  test("streamed micro-batches accumulate the one-shot verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val text1 = ("alpha beta gamma delta " * 12).trim
    val text2 = "completely different content about oceans tides and currents rolling"
    val batches = Seq(
      Seq((1L, text1), (2L, text2)),
      Seq((10L, text1), // cross-batch dup of 1
        (11L, "unique snowflake sentence with nothing shared at all here")),
      Seq((20L, text2 + " rolling"), // near-dup of 2, two batches back
        (21L, text1), // dup of both 1 and 10 — keeper must be 1
        (22L, "another totally fresh line about mountains and snow today")))

    // the stream owns a UNIQUE index root (no fixed shared path two test
    // JVMs or a crashed prior run could race through)
    val idx = java.nio.file.Files.createTempDirectory("dedup_stream_idx").toString + "/idx"
    val out = java.nio.file.Files.createTempDirectory("dedup_stream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dedup_stream_ck").toString

    val mem = MemoryStream[(Long, String)]
    val q = streaming.DedupStream.start(
      mem.toDS().toDF("doc_id", "text"), idx, out, ckpt)
    try {
      // while live, the index is guarded against batch maintenance
      assert(operators.IncrementalDedup.streamActive(spark, idx),
        "live stream must plant its index marker")
      intercept[IllegalStateException] {
        operators.IncrementalDedup.clearIndex(spark, idx)
      }
      intercept[IllegalStateException] {
        operators.IncrementalDedup.compactIndex(spark, idx)
      }
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)

      // one-shot rule from the full static corpus, via the same band path
      val allDocs = batches.flatten.toDF("doc_id", "text")
      val sh = operators.Dedup.shingleFrame(allDocs)
      val bands = operators.Dedup.bandFrame(sh)
      val pairs = operators.Dedup
        .jaccardVerify(operators.Dedup.bandCandidates(bands, bands), sh, sh)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val dupOf = pairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
      val expected = batches.flatten.map(_._1).sorted.map(id =>
        (id, if (dupOf.contains(id)) 0L else 1L, dupOf.getOrElse(id, -1L)))

      assert(got.toSeq == expected, s"got ${got.toSeq}, expected $expected")
      assert(got.count(_._2 == 0L) >= 3,
        "fixture must drop the two text1 dups and the text2 near-dup")
      assert(got.find(_._1 == 21L).exists(_._3 == 1L),
        "chained dup must point at the EARLIEST keeper")

      // termination releases the marker so batch maintenance may resume
      q.stop()
      q.awaitTermination()
      val deadline = System.currentTimeMillis() + 10000
      while (operators.IncrementalDedup.streamActive(spark, idx) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(!operators.IncrementalDedup.streamActive(spark, idx),
        "terminated stream must clear its index marker")
      operators.IncrementalDedup.clearIndex(spark, idx) // no longer refuses
    } finally {
      q.stop()
      CacheRegistry.clear()
    }
  }
}
