package graft.streaming

import graft.sources.SnapshotTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming incremental view maintenance — the running form of the
  * `snapshot_ivm` law ([[graft.operators.SnapshotDiff.maintained]]): a
  * micro-batch of dim updates MERGES tile-locally into a
  * [[SnapshotTable]] (cost ∝ batch), the version-to-version change feed
  * is the merge's own deltas (tile-reduced by the carried fingerprints),
  * and a downstream grouped aggregate view applies just those deltas —
  * insert/update_postimage rows add, delete/update_preimage rows
  * subtract, groups whose maintained row count reaches zero drop out.
  * Neither the dim nor the view is ever recomputed from scratch after
  * the first batch.
  *
  * Exactly-once without a transaction log: both tables version by BATCH
  * ID. The dim merge skips a replayed (already-committed) version; the
  * view recomputes its delta against the version PRECEDING the batch id
  * — not the latest — so an at-least-once replay of batch B republishes
  * view vB byte-identically instead of double-applying the delta. A
  * crash between the dim commit and the view commit replays into the
  * same recovery path.
  *
  * View schema: `bucket` (the caller's group expression), `n_rows`
  * (maintained row count), and one summed column per `sums` entry.
  */
object IvmStream {

  def start(updates: DataFrame, dimRoot: String, viewRoot: String,
      pk: String, bucket: Column, sums: Seq[String], checkpointDir: String,
      deleteWhen: Option[Column] = None, clusterFiles: Int = 16): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, dimRoot, viewRoot, pk, bucket, sums,
          deleteWhen, clusterFiles)
      }
      .start()

  /** One micro-batch: merge into the dim, derive the change feed, apply
    * it to the view. Idempotent per (batchId) — safe under foreachBatch's
    * at-least-once replay.
    */
  def applyBatch(input: DataFrame, batchId: Long, dimRoot: String,
      viewRoot: String, pk: String, bucket: Column, sums: Seq[String],
      deleteWhen: Option[Column] = None, clusterFiles: Int = 16): Unit = {
    // a stream restarted on a FRESH checkpoint against an existing
    // dimRoot re-numbers batches from 0, and the merge's monotonicity
    // require would then fail every batch forever with a message naming
    // only the version arithmetic; a replay (batchId == head) passes,
    // merge short-circuits and the view recomputes idempotently
    VersionedState.requireNotBehind("IvmStream", dimRoot, batchId,
      "dimRoot, viewRoot")
    val batch = graft.GraftSession.microBatch(input) match {
      case Some(b) => b
      case None => return
    }
    val spark = batch.sparkSession
    val version = s"v$batchId"
    val dimPrev = VersionedState.below(dimRoot, batchId)
    // batch-scoped registry release: diff registers its join frame in
    // the per-query registry and the view publish is the last consumer
    // (the DedupStream precedent) — scoped keeps the release per batch
    // without dropping the caller's cross-batch persists
    graft.CacheRegistry.scoped {
    // clusterFiles bootstraps the range-clustered layout on the FIRST
    // publish so every later batch takes the tile-local path
    SnapshotTable.merge(batch, dimRoot, pk, version, deleteWhen,
      clusterFiles = Some(clusterFiles))
    // the change feed this batch caused (bootstrap: everything inserts)
    val delta = dimPrev match {
      case None => SnapshotTable.readVersion(spark, dimRoot, version)
        .withColumn("_change_type", lit("insert"))
      case Some(p) => SnapshotTable.diff(spark, dimRoot, p, version, pk)
    }
    val sign = when(col("_change_type").isin("insert", "update_postimage"),
      lit(1L)).otherwise(lit(-1L))
    val deltaAgg = delta.groupBy(bucket.as("bucket"))
      .agg(sum(sign).as("d_rows"),
        sums.map(c => sum(sign * col(c)).as(s"d_$c")): _*)
    val newView = VersionedState.below(viewRoot, batchId)
      .map(v => SnapshotTable.readVersion(spark, viewRoot, v)) match {
      case None => deltaAgg.select(col("bucket") +:
          col("d_rows").as("n_rows") +:
          sums.map(c => col(s"d_$c").as(c)): _*)
        .filter(col("n_rows") > 0)
      case Some(pv) => pv.join(deltaAgg, Seq("bucket"), "full_outer")
        .select(col("bucket") +:
          (coalesce(col("n_rows"), lit(0L)) + coalesce(col("d_rows"), lit(0L)))
            .as("n_rows") +:
          sums.map(c => (coalesce(col(c), lit(0L)) +
            coalesce(col(s"d_$c"), lit(0L))).as(c)): _*)
        .filter(col("n_rows") > 0)
    }
    SnapshotTable.publish(newView, viewRoot, version)
    }
  }

  /** The maintained view at its last committed version. */
  def liveView(spark: SparkSession, viewRoot: String): Option[DataFrame] =
    SnapshotTable.read(spark, viewRoot)
}
