package graft.streaming

import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of per-source distribution-drift monitoring
  * ([[graft.operators.CorpusStats.divergence]]): documents arrive as
  * micro-batches and the (source, token) count table the KL derivation
  * reads is maintained INCREMENTALLY — each batch tokenizes only its own
  * documents and additively merges per-key count deltas, tile-local, cost
  * ∝ batch vocabulary (the [[LineDedupStream]] shape: one table, plain
  * additive counts — a document lands in exactly one micro-batch, so
  * per-batch counts sum to the corpus counts with no retraction).
  *
  * This is drift monitoring's REAL deployment: the corpus grows batch by
  * batch and the report is re-derived from maintained state, never from a
  * corpus rescan. The derivation is
  * [[graft.operators.CorpusStats.divergenceFromCounts]] verbatim, so
  * streamed docs ≡ batch rebuild after every batch — structural on the
  * counts, shared-derivation on the report, and checked cross-engine by
  * the `corpus_divergence_stream_maintained` oracle (the batch query's
  * oracle verbatim).
  *
  * The merge key is the single concatenated `sk` column
  * (source + "\u0001" + token — U+0001 can occur in neither part) so the
  * fold and tile pruning ride [[SnapshotTable.merge]]'s one-key contract;
  * source and token are carried alongside for the derivation.
  *
  * Exactly-once: the table versions by batch id; a replayed batch
  * short-circuits the merge ([[AdditiveFold]]'s discipline); the
  * fresh-checkpoint guard rejects a wiped checkpoint against a surviving
  * table.
  */
object DivergenceStream {

  def start(docs: DataFrame, root: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root)
      }
      .start()

  /** One micro-batch of (doc_id, source, text) rows: fold its (source,
    * token) counts into the maintained table. Idempotent per batchId.
    */
  def applyBatch(input: DataFrame, batchId: Long, root: String,
      clusterFiles: Int = 8): Unit = {
    VersionedState.requireNotBehind("DivergenceStream", root, batchId,
      "the table")
    val batch = graft.GraftSession.microBatch(input) match {
      case Some(b) => b
      case None => return
    }
    val deltas = graft.operators.CorpusStats.sourceTokenCounts(batch)
      .select(concat_ws("\u0001", col("source"), col("token")).as("sk"),
        col("source"), col("token"), col("cnt"))
    // batch-scoped registry release: frames registered by this batch
    // free on exit without dropping the caller's cross-batch persists
    graft.CacheRegistry.scoped {
      AdditiveFold.foldInto(deltas, root, "sk", "cnt", "cnt", batchId,
        clusterFiles, carried = Seq("source", "token"))
    }
  }

  /** The drift report over the maintained table — the batch derivation
    * verbatim.
    */
  def liveReport(spark: SparkSession, root: String): Option[DataFrame] =
    SnapshotTable.read(spark, root).map(t =>
      graft.operators.CorpusStats.divergenceFromCounts(
        t.select(col("source"), col("token"), col("cnt"))))
}
