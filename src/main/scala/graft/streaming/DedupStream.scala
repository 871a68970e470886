package graft.streaming

import graft.operators.IncrementalDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the persisted-index incremental dedup
  * ([[graft.operators.IncrementalDedup]]): a live crawl feed deduplicated
  * micro-batch by micro-batch against the same parquet band index the
  * batch path maintains. Each micro-batch is exactly one
  * `IncrementalDedup.ingestBatch` — ONE (index ∪ batch) × batch band
  * equi-join, an index append, and a per-doc verdict commit — so the
  * streaming and batch paths cannot drift: they run the identical helper
  * over the identical state layout (the same argument the UV/bounce twins
  * make via shared one-hot builders).
  *
  * Semantics and scale notes:
  *  - Contract: doc ids are assigned monotonically with arrival (a crawl
  *    frontier), so arrival priority = id priority and the accumulated
  *    verdicts equal the one-shot rule "dropped iff some verified pair
  *    (a, doc) with a < doc" — StreamingDedupSpec proves the equality
  *    against [[graft.operators.Dedup.minhashLsh]]'s own pair output.
  *  - Delivery: foreachBatch is at-least-once on failure/replay. A
  *    replayed micro-batch re-appends its band rows (candidate dupes are
  *    collapsed by `bandCandidates`' distinct and the min() verdict agg,
  *    so verdicts stay CORRECT). Verdict OUTPUT is exactly-once — the
  *    batch-id-keyed idempotent commit ([[ExactlyOnce.write]];
  *    ExactlyOnceSpec proves a replay leaves one copy); the index appends
  *    stay at-least-once BY DESIGN (correctness does not depend on them
  *    being unique, and a batch-id-keyed index layout would force a
  *    directory listing per crawl to reconstruct state the flat append
  *    already is).
  *  - The per-batch caches registered by `ingestBatch` are released after
  *    each verdict write via `CacheRegistry.clear()` — the stream owns the
  *    session's per-query registry while running, exactly like one
  *    Verify/Bench query.
  */
object DedupStream {

  /** Start the dedup stream: `docs` must be a streaming DataFrame with
    * (doc_id, text). Verdict rows (doc_id, is_keeper, dup_of) land in
    * `verdictsDir`'s `batch_id=<id>` partitions; the band index lives at
    * `idx` — IDENTICAL layout to the batch path's, but a live stream
    * should own its index root: while this query runs, a
    * `_STREAM_ACTIVE` marker in the root makes the batch maintenance ops
    * (`clearIndex`, `compactIndex`) refuse to delete state out from under
    * the stream (the marker is removed when the query terminates; a crash
    * leaves a stale marker that `clearIndex(force = true)` clears).
    */
  def start(docs: DataFrame, idx: String, verdictsDir: String,
      checkpointDir: String): StreamingQuery = {
    val spark = docs.sparkSession
    IncrementalDedup.markStreamActive(spark, idx)
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (input: DataFrame, batchId: Long) =>
        // batch-scoped registry release (see CacheRegistry.scoped)
        graft.CacheRegistry.scoped { graft.GraftSession.microBatch(input).foreach { batch =>
          val verdicts = IncrementalDedup.ingestBatch(batch.sparkSession, batch, idx)
          // exactly-once verdict commit: batch content is deterministic
          // (same docs → same index join → same verdicts), so the
          // batch-id-keyed overwrite makes a replay byte-identical; the
          // index append side stays at-least-once BY DESIGN (duplicates
          // are collapsed by the candidate distinct / min verdict, see
          // class doc)
          ExactlyOnce.write(verdicts, verdictsDir, batchId)
        } }
      }
      .start()
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == q.id) {
          IncrementalDedup.clearStreamMarker(spark, idx)
          spark.streams.removeListener(this)
        }
    })
    q
  }
}
