package graft.streaming

import graft.operators.SpanDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the benchmark span-decontamination check
  * ([[graft.operators.SpanDedup.contaminationSpan]]): a live crawl feed
  * screened micro-batch by micro-batch for verbatim ≥ minSpan-token runs
  * shared with a STATIC evaluation set. Each micro-batch runs exactly
  * `SpanDedup.contaminationSpansAgainst` — the batch query's own core —
  * with the bench gram table built once and broadcast into every batch's
  * plan, so the streaming and batch paths cannot drift (the DedupStream
  * argument, for the span family).
  *
  * Why this streams exactly: a corpus document's spans are a function of
  * that document and the bench set alone — no cross-document state — so
  * micro-batched union ≡ one-shot over the full corpus (SpanStreamSpec
  * proves the equality on a planted-overlap feed).
  *
  * Delivery: foreachBatch is at-least-once, and a replayed batch
  * recomputes IDENTICAL span rows (the computation is deterministic per
  * doc), so the batch-id-keyed commit ([[ExactlyOnce.write]]) makes the
  * output exactly-once.
  */
object SpanStream {

  /** Start the decontamination stream: `docs` is a streaming (doc_id,
    * text) frame; `benchDocs` the static eval set. Span rows
    * (doc_id, bench_id, pos, pos_b, span_tokens) land in `outDir`'s
    * `batch_id=<id>` partitions.
    */
  def start(docs: DataFrame, benchDocs: DataFrame, outDir: String,
      checkpointDir: String, n: Int = 5, minSpan: Int = 12): StreamingQuery = {
    // built once, session-cached: the bench side is small by contract
    // (an eval set), exactly the frame the batch query broadcasts
    val benchG = SpanDedup.gramTableOf(benchDocs, n).persist()
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (input: DataFrame, batchId: Long) =>
        graft.GraftSession.microBatch(input).foreach { batch =>
          val spans = SpanDedup.contaminationSpansAgainst(
            SpanDedup.gramTableOf(batch, n), benchG, n, minSpan)
          // span rows are a pure function of (batch, bench), so the
          // batch-id-keyed overwrite commit makes a replay exactly-once
          ExactlyOnce.write(spans, outDir, batchId)
        }
      }
      .start()
  }
}
