package graft

/** The exactly-once verdict sink: a replayed micro-batch must leave the
  * output with one copy of its rows, both through [[streaming.ExactlyOnce]]
  * directly and through the dedup stream restarted over a batch whose
  * checkpoint commit was lost.
  */
class ExactlyOnceSpec extends SparkSpec {

  test("replayed batch overwrites its own partition — no duplicates") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("eo_out").toString + "/v"
    val df = Seq((1L, 1L, -1L), (2L, 0L, 1L)).toDF("doc_id", "is_keeper", "dup_of")
    streaming.ExactlyOnce.write(df, out, 7L)
    streaming.ExactlyOnce.write(df, out, 7L) // the at-least-once replay
    streaming.ExactlyOnce.write(df, out, 8L) // a distinct later batch
    val got = spark.read.parquet(out)
    assert(got.count() == 4, "replay must not duplicate batch 7's rows")
    // partition discovery types batch_id as the narrowest integer
    assert(got.selectExpr("CAST(batch_id AS BIGINT)").distinct()
      .collect().map(_.getLong(0)).toSet == Set(7L, 8L),
      "partition discovery must expose the batch ids")
  }

  test("a replayed dedup batch leaves one copy of each verdict") {
    import spark.implicits._
    val text1 = ("alpha beta gamma delta " * 12).trim
    val work = java.nio.file.Files.createTempDirectory("eo_replay").toString
    val dir = s"$work/in"; val idx = s"$work/idx"
    val out = s"$work/verdicts"; val ckpt = s"$work/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    def start() = streaming.DedupStream.start(
      spark.readStream.schema(schema).parquet(dir), idx, out, ckpt)
    def stage(rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    def files(batchId: Long): Set[String] =
      new java.io.File(s"$out/batch_id=$batchId").list().toSet

    val q1 = start()
    try {
      stage((1L, text1), (2L, "completely different content about oceans"))
      q1.processAllAvailable()
      stage((10L, text1), (11L, "unique snowflake sentence nothing shared"))
      q1.processAllAvailable()
    } finally q1.stop()
    val batch1Files = files(1L)
    // a crash after batch 1's verdict commit but before its checkpoint
    // commit: the restarted query runs batch 1 again
    Seq("1", ".1.crc").foreach(f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$ckpt/commits/$f")))
    val q2 = start()
    try q2.processAllAvailable()
    finally { q2.stop(); CacheRegistry.clear() }
    assert(files(1L) != batch1Files, "fixture: the restart must replay batch 1")

    val got = spark.read.parquet(out).select("doc_id", "is_keeper", "dup_of")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.sorted == Seq((1L, 1L, -1L), (2L, 1L, -1L), (10L, 0L, 1L), (11L, 1L, -1L)),
      s"one verdict per doc after the replay: $got")
    assert(got.exists(v => v._1 == 10L && v._2 == 0L && v._3 == 1L),
      "fixture sanity: the cross-batch dup drops toward doc 1")
  }
}
