package graft

import graft.operators.Similarity
import graft.streaming.AnnStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maintained IVF serving ([[AnnStream]]): after every ingest batch, the
  * top-3 served off the maintained cell postings must equal the batch
  * IVF probe rebuilt over all vectors so far (seed centers = 16 lowest
  * ids — present in batch 1 by id-ordered arrival, so the pinned
  * stream model and the rebuild's model coincide). Plus replay
  * idempotence, the fresh-checkpoint guard, and a kill-and-resume
  * through a real streaming checkpoint.
  */
class AnnStreamSpec extends SparkSpec {

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"annstream_$tag").toString

  /** 40 deterministic 8-dim vectors (murmur hash — no RNG), ids 0..39. */
  private def fixture: DataFrame = {
    spark.range(40).select(col("id").as("vec_id"),
        expr("transform(sequence(1, 8), j -> " +
          "CAST(pmod(hash(id * 8 + j), 200) - 100 AS DOUBLE) / 100.0)")
          .as("v"))
      .withColumn("nrm", sqrt(expr("dot_double(v, v)")))
      .filter(col("nrm") > 0)
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("served top-3 equals the batch IVF rebuild after every batch") {
    val root = freshDir("law")
    val e = fixture.persist()
    val batches = Seq(
      e.filter(col("vec_id") < 20),
      e.filter(col("vec_id") >= 20 && col("vec_id") < 30),
      e.filter(col("vec_id") >= 30))
    val hi = Seq(20L, 30L, 40L)
    batches.zipWithIndex.foreach { case (b, i) =>
      AnnStream.applyBatch(b, i + 1L, root)
      val seen = e.filter(col("vec_id") < hi(i))
      val served = AnnStream.serve(spark, root,
        e.filter(col("vec_id") < 10)).get
      assert(pairs(served) == pairs(Similarity.ivfTop3(seen)
          .filter(col("query_id") < 10)),
        s"after batch ${i + 1} serve must equal the rebuild")
      CacheRegistry.clear()
    }
    // replay of the last batch: the served ranking is unchanged
    val before = pairs(AnnStream.serve(spark, root,
      e.filter(col("vec_id") < 10)).get)
    CacheRegistry.clear()
    AnnStream.applyBatch(batches.last, batches.size.toLong, root)
    assert(pairs(AnnStream.serve(spark, root,
        e.filter(col("vec_id") < 10)).get) == before,
      "a replayed batch must serve the identical ranking")
    CacheRegistry.clear()
    // a batch BEHIND the published head is a wiped checkpoint
    val err = intercept[IllegalArgumentException] {
      AnnStream.applyBatch(batches.head, 1L, root)
    }
    assert(err.getMessage.contains("fresh checkpoint"), err.getMessage)
    e.unpersist(blocking = false)
    CacheRegistry.clear()
  }

  test("the ann stream survives a kill-and-resume on its checkpoint") {
    val work = freshDir("restart")
    val in = s"$work/in"; val ckpt = s"$work/ckpt"; val root = s"$work/ann"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val e = fixture.persist()
    def stage(lo: Long, hi: Long): Unit =
      e.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("append").parquet(in)
    def start() = AnnStream.start(
      spark.readStream.schema(e.schema).parquet(in), root, ckpt)
    stage(0L, 20L)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    stage(20L, 40L)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val served = AnnStream.serve(spark, root,
      e.filter(col("vec_id") < 10)).get
    assert(pairs(served) == pairs(Similarity.ivfTop3(e)
        .filter(col("query_id") < 10)),
      "post-restart serve must equal the full-corpus rebuild")
    e.unpersist(blocking = false)
    CacheRegistry.clear()
  }
}
