package graft

import graft.operators.InvertedIndex
import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._

/** The inverted-index composition: lookup truth equals the direct corpus
  * scan, and the published posting table actually prunes files per term.
  */
class InvertedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"invidx_$tag").toString + "/t"

  test("term lookup equals the direct array_contains scan, tf exact") {
    val docs = Seq(
      (1L, "alpha beta alpha"),
      (2L, "beta gamma"),
      (3L, "alpha delta delta")).toDF("doc_id", "text")
    val dir = InvertedIndex.publishIndex(docs, freshDir("eq"))
    val viaIndex = SnapshotTable.pointLookup(spark, dir, "token", "alpha").get
      .select("doc_id", "tf").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaIndex === Map(1L -> 2L, 3L -> 1L))
    // absent term: index returns empty, like the scan
    assert(SnapshotTable.pointLookup(spark, dir, "token", "omega").get.count() === 0L)
  }

  test("incrementally merged index equals the full rebuild, prefix-pruned") {
    val docs = (1L to 400L).map(i => (i, s"tok${"%04d".format(i)} filler"))
      .toDF("doc_id", "text")
    // full rebuild
    val full = InvertedIndex.publishIndex(docs, freshDir("full"))
    // incremental: evens publish, odds merge in
    val inc = freshDir("inc")
    SnapshotTable.publish(
      InvertedIndex.keyedPostings(docs.filter(pmod(col("doc_id"), lit(2)) === 0)),
      inc, "v1", statsCols = Seq("tok_doc"), clusterFiles = Some(8))
    SnapshotTable.merge(
      InvertedIndex.keyedPostings(docs.filter(pmod(col("doc_id"), lit(2)) === 1)),
      inc, "tok_doc", "v2")
    val f = SnapshotTable.read(spark, full).get
      .select("token", "doc_id", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val i = SnapshotTable.read(spark, inc).get
      .select("token", "doc_id", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(i === f)
    // the prefix-range term lookup prunes files on the merged index
    val hit = InvertedIndex.termLookup(spark, inc, "tok0007")
    assert(hit.count() === 1L)
    val all = SnapshotTable.read(spark, inc).get.inputFiles.length
    assert(hit.inputFiles.length < all,
      s"prefix lookup scanned ${hit.inputFiles.length} of $all files")
  }

  test("streaming doc batches maintain the index; final state equals rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docs = (1L to 300L).map(i => (i, s"tok${"%04d".format(i)} filler"))
    val full = InvertedIndex.publishIndex(
      docs.toDF("doc_id", "text"), freshDir("sfull"))
    val dir = freshDir("stream")
    val mem = MemoryStream[(Long, String)]
    val q = InvertedIndex.startIndexStream(
      mem.toDS().toDF("doc_id", "text"), dir,
      java.nio.file.Files.createTempDirectory("invidx_ckpt").toString)
    try {
      docs.grouped(100).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()
    def rows(root: String) = SnapshotTable.read(spark, root).get
      .select("token", "doc_id", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(rows(dir) === rows(full))
    // at-least-once replay of the LAST batch (the only batch foreachBatch
    // ever replays) is a no-op, not a corruption
    InvertedIndex.applyDocBatch(
      docs.takeRight(100).toDF("doc_id", "text"), 2L, dir)
    assert(rows(dir) === rows(full))
    // a fresh checkpoint against the existing index (batch ids re-number
    // from 0) fails fast, cause named
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.applyDocBatch(
        Seq((999L, "restartedfresh")).toDF("doc_id", "text"), 0L, dir)
    }
    assert(e.getMessage.contains("fresh checkpoint"))
    // ...including when the renumbered id collides with a RETAINED
    // committed version (v1 here) — only the head can be a replay;
    // treating this as one would silently drop the batch's new rows
    val e1 = intercept[IllegalArgumentException] {
      InvertedIndex.applyDocBatch(
        Seq((999L, "restartedfresh")).toDF("doc_id", "text"), 1L, dir)
    }
    assert(e1.getMessage.contains("fresh checkpoint"))
    assert(rows(dir) === rows(full))
  }

  test("the index stream survives a kill-and-resume on its checkpoint") {
    val work = java.nio.file.Files.createTempDirectory("invidx_restart").toString
    val in = s"$work/in"; val ckpt = s"$work/ckpt"; val dir = s"$work/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val docs1 = (1L to 150L).map(i => (i, s"tok${"%04d".format(i)} filler"))
    val docs2 = (151L to 300L).map(i => (i, s"tok${"%04d".format(i)} filler"))
    val schema = docs1.toDF("doc_id", "text").schema
    def start() = InvertedIndex.startIndexStream(
      spark.readStream.schema(schema).parquet(in), dir, ckpt)
    docs1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    docs2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val full = InvertedIndex.publishIndex(
      (docs1 ++ docs2).toDF("doc_id", "text"), s"$work/full")
    def rows(root: String) = SnapshotTable.read(spark, root).get
      .select("token", "doc_id", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(rows(dir) === rows(full),
      "the resumed stream must continue the index, not restart or corrupt it")
  }

  test("a term lookup scans a strict subset of the posting files") {
    // enough posting rows (2 per doc) that the corpus-proportional tile
    // count lands above 1, so range clustering separates term ranges
    val docs = (1L to 4000L).map(i => (i, s"tok${"%05d".format(i)} filler"))
      .toDF("doc_id", "text")
    val dir = InvertedIndex.publishIndex(docs, freshDir("prune"))
    val all = SnapshotTable.read(spark, dir).get.inputFiles.length
    assert(all === InvertedIndex.tileCountFor(8000L),
      s"publish must lay out the corpus-proportional tile count, got $all")
    val hit = SnapshotTable.pointLookup(spark, dir, "token", "tok00007").get
    assert(hit.count() === 1L)
    // the lookup reads exactly the files of its Range plan
    val scanned = SnapshotTable.plan(spark, dir,
      SnapshotTable.latestVersion(dir).get, "token",
      SnapshotTable.Prune.Range("token", "tok00007", "tok00007")).files.get.size
    assert(scanned < all, s"lookup reads $scanned of $all files — no pruning")
    assert(scanned <= 2, s"expected ~1 tile, reads $scanned of $all")
  }

  test("tileCountFor: corpus-proportional power-of-2 ladder") {
    import InvertedIndex.{tileCountFor, TileRows}
    assert(tileCountFor(0L) === 1)
    assert(tileCountFor(1L) === 1)
    assert(tileCountFor(TileRows) === 1)
    assert(tileCountFor(TileRows + 1) === 2)
    assert(tileCountFor(5 * TileRows) === 8)   // ideal 5 rounds up to pow2
    assert(tileCountFor(100 * TileRows) === 128)
    assert(tileCountFor(Long.MaxValue / 4) === (1 << 12), "cap holds")
  }

  test("drift compaction re-tiles a mislaid index; lookups unchanged") {
    import graft.operators.SnapshotDiff
    // a SMALL corpus bootstrapped at 16 tiles (e.g. the first streaming
    // micro-batch arrived big, later batches did not): 16 >= 2*ideal(1)
    val docs = (1L to 200L).map(i => (i, s"tok${"%04d".format(i)} filler"))
      .toDF("doc_id", "text")
    val dir = freshDir("drift")
    SnapshotDiff.rmTree(dir)
    SnapshotTable.publish(InvertedIndex.keyedPostings(docs), dir, "v1",
      statsCols = Seq("tok_doc"), clusterFiles = Some(16))
    val before = InvertedIndex.termLookup(spark, dir, "tok0007")
      .select("token", "doc_id", "tf").collect().map(_.toString).sorted.toSeq
    assert(SnapshotTable.read(spark, dir).get.inputFiles.length === 16)

    val compacted = InvertedIndex.compactIfDrifted(spark, dir, "v2")
    assert(compacted === Some("v2"), "16 tiles for a 1-tile corpus must re-tile")
    assert(SnapshotTable.read(spark, dir).get.inputFiles.length ===
      InvertedIndex.tileCountFor(400L))
    val after = InvertedIndex.termLookup(spark, dir, "tok0007")
      .select("token", "doc_id", "tf").collect().map(_.toString).sorted.toSeq
    assert(after === before, "compaction must not change lookup truth")

    // now within 2× of ideal → policy declines (no rewrite churn)
    assert(InvertedIndex.compactIfDrifted(spark, dir, "v3") === None)
    assert(SnapshotTable.latestVersion(dir) === Some("v2"))
  }
}
