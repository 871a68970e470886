package graft.streaming

import org.apache.spark.sql.DataFrame

/** Idempotent per-micro-batch parquet sink — the exactly-once OUTPUT
  * story for foreachBatch streams: batch `id` owns (and overwrites) its
  * own hive partition `batch_id=<id>`, so an at-least-once replay
  * rewrites identical bytes where a raw append would duplicate rows.
  * [[DedupStream]], [[SpanStream]], [[AsofStream]], [[AttributionStream]]
  * and [[CardStream]] commit their per-batch rows through it: deterministic
  * batch content + per-batch idempotent commit = exactly-once effect,
  * the same argument Structured Streaming's own file sink makes with its
  * transaction log, expressed with partition-directory granularity so
  * readers need no log (`spark.read.parquet(outDir)` discovers the
  * batch_id partition column).
  */
object ExactlyOnce {

  /** Write `df` as micro-batch `batchId`'s own partition of `outDir`,
    * replacing any previous attempt of the SAME batch.
    */
  def write(df: DataFrame, outDir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
}
