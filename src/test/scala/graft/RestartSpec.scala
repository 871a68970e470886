package graft

import graft.streaming._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Kill-and-resume proofs for the behavior family's remaining stateful
  * twins plus the dedup stream — one parameterized harness, RocksDB
  * state store on. Each fixture is built so the post-restart emission is
  * IMPOSSIBLE from fresh state: the run-2 rows are evidence the run-1
  * per-user state (last active day / cohort anchor / open session
  * events / dedup index progress) was restored from the checkpoint, not
  * merely that the query restarted. Extends the round-7 churn proof
  * (BehaviorTwinsSpec) to the whole family, closing the streaming
  * coverage directive.
  */
class RestartSpec extends SparkSpec {
  import spark.implicits._

  private def withRocks[T](body: => T): T = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.compactOnCommit", "false")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB", "16")
    try body
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  /** The parameterized kill-and-resume harness: stage chunk 1 into a
    * file-source dir, run the pipe to a per-run sink, STOP, stage chunk
    * 2, start a NEW query instance on the same checkpoint, and return
    * (run-1 rows, run-2 rows) for fixture-specific assertions.
    */
  private def restartProof[I <: Product : Encoder](tag: String,
      chunk1: Seq[I], chunk2: Seq[I],
      pipe: Dataset[I] => DataFrame): (Array[Seq[Any]], Array[Seq[Any]]) = withRocks {
    val work = java.nio.file.Files.createTempDirectory(s"restart_$tag").toString
    val dir = s"$work/in"; val ckpt = s"$work/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    def start(stage: String) = pipe(
      spark.readStream.schema(chunk1.toDS().schema).parquet(dir).as[I]
        .withWatermark("ts", "1 second"))
      .writeStream
      .foreachBatch((df: DataFrame, _: Long) =>
        df.write.mode("append").parquet(stage))
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    def rows(stage: String): Array[Seq[Any]] =
      if (!new java.io.File(stage).exists()) Array.empty
      else spark.read.parquet(stage).collect().map(_.toSeq.map {
        case d: java.sql.Date => d.toString
        case other => other
      })
    chunk1.toDS().coalesce(1).write.mode("append").parquet(dir)
    val q1 = start(s"$work/out1")
    q1.processAllAvailable(); q1.stop()
    chunk2.toDS().coalesce(1).write.mode("append").parquet(dir)
    val q2 = start(s"$work/out2")
    try { q2.processAllAvailable(); (rows(s"$work/out1"), rows(s"$work/out2")) }
    finally q2.stop()
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private def day(s: String) = java.sql.Date.valueOf(s)

  test("daily activity: restored last-day state suppresses the replayed day") {
    // run 2 replays day 1 (restored state: SILENT; fresh state would
    // re-emit it) and adds day 2 (emits — the stream is live)
    val (r1, r2) = restartProof[DayEvent]("du",
      Seq(DayEvent(1L, ts("2024-03-01 10:00:00"), day("2024-03-01"))),
      Seq(DayEvent(1L, ts("2024-03-01 11:00:00"), day("2024-03-01")),
        DayEvent(1L, ts("2024-03-02 09:00:00"), day("2024-03-02"))),
      (d: Dataset[DayEvent]) => StatefulOps.firstDailyActivity(d).toDF())
    assert(r1.toSet == Set(Seq(1L, "2024-03-01")), s"run1: ${r1.toSeq}")
    assert(r2.toSet == Set(Seq(1L, "2024-03-02")),
      s"run2 must emit ONLY the new day — a day-1 row means state was lost: ${r2.toSeq}")
  }

  test("cohort cells: the restored cohort anchor dates the post-restart offset") {
    // run 2's week-2 event must emit offset 2 AGAINST THE RUN-1 COHORT
    // (2024-01-01); fresh state would make week 2 its own cohort at
    // offset 0. The replayed week-0 event must stay silent.
    val (r1, r2) = restartProof[WeekEvent]("cc",
      Seq(WeekEvent(1L, ts("2024-01-01 01:00:00"), day("2024-01-01"))),
      Seq(WeekEvent(1L, ts("2024-01-01 02:00:00"), day("2024-01-01")),
        WeekEvent(1L, ts("2024-01-15 01:00:00"), day("2024-01-15"))),
      (d: Dataset[WeekEvent]) => StatefulOps.cohortCells(d).toDF())
    assert(r1.toSet == Set(Seq(1L, "2024-01-01", 0L)), s"run1: ${r1.toSeq}")
    assert(r2.toSet == Set(Seq(1L, "2024-01-01", 2L)),
      s"run2 must emit (cohort 2024-01-01, offset 2) — a 2024-01-15 cohort " +
        s"means the anchor was lost: ${r2.toSeq}")
  }

  test("session paths: the open session's events survive the restart") {
    // run 1 opens a 2-event session (no emission); run 2's far-future
    // event from ANOTHER user advances the watermark past the 30-minute
    // gap, firing u1's timer — the emitted path carries BOTH run-1
    // events, which fresh state could not know
    def pe(u: Long, id: Long, t: String, typ: String) = {
      val tt = ts(t); PathEvent(u, id, tt, tt.getTime * 1000000L, typ)
    }
    val (r1, r2) = restartProof[PathEvent]("sp",
      Seq(pe(1L, 1L, "2024-05-01 10:00:00", "view"),
        pe(1L, 2L, "2024-05-01 10:01:00", "click")),
      Seq(pe(99L, 3L, "2024-05-01 14:00:00", "view")),
      (d: Dataset[PathEvent]) => StatefulOps.sessionPaths(d).toDF())
    assert(r1.isEmpty, s"session still open in run 1: ${r1.toSeq}")
    assert(r2.toSet == Set(Seq(1L, "view->click")),
      s"run2 must close u1's RESTORED session with both events: ${r2.toSeq}")
  }

  test("dedup stream: index and checkpoint survive — the resumed stream drops the cross-restart dup") {
    val textA = ("alpha beta gamma delta " * 12).trim
    val textB = "completely different content about oceans tides and currents rolling"
    val work = java.nio.file.Files.createTempDirectory("restart_dd").toString
    val dir = s"$work/in"; val idx = s"$work/idx"
    val out = s"$work/verdicts"; val ckpt = s"$work/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    def start() = streaming.DedupStream.start(
      spark.readStream.schema(schema).parquet(dir), idx, out, ckpt)
    Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    def batchFiles(): Map[Long, Set[String]] =
      new java.io.File(out).listFiles().toSeq.filter(_.getName.startsWith("batch_id="))
        .map(d => d.getName.stripPrefix("batch_id=").toLong -> d.list().toSet).toMap
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    val run1 = batchFiles()
    // doc 10 duplicates doc 1 ACROSS the restart: dropping it requires
    // the run-1 band index; leaving batch 0's commit untouched requires
    // the checkpoint (a fresh stream would reprocess the first batch's two
    // docs as batch 0 again, and its overwrite would hide that from a row
    // count)
    Seq((10L, textA)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val verdicts = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(verdicts == Set((1L, 1L, -1L), (2L, 1L, -1L), (10L, 0L, 1L)),
        s"expected keepers 1,2 and a cross-restart drop of 10 onto 1: $verdicts")
      val run2 = batchFiles()
      assert(run1.keySet == Set(0L) && run2.keySet == Set(0L, 1L),
        s"run 1 commits batch 0 only, run 2 adds batch 1: $run1 then $run2")
      assert(run2(0L) == run1(0L),
        "batch 1 must not be reprocessed after the restart")
      assert(spark.read.parquet(s"$out/batch_id=1").select("doc_id")
        .collect().map(_.getLong(0)).toSeq == Seq(10L),
        "the resumed batch holds only the post-restart doc")
    } finally { q2.stop(); CacheRegistry.clear() }
  }
}
