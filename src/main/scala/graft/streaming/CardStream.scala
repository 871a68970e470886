package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the corpus dataset card
  * ([[graft.operators.TextAnalysis.corpusCard]]) — the shape the batch
  * card's docs promise for 100 TB: "each ingest batch publishes its
  * partial and the live card is a re-aggregation of partials, never a
  * corpus rescan". This makes that shape a running component instead of
  * a design note.
  *
  * Each micro-batch computes `TextAnalysis.cardPartials` over JUST its
  * own rows (one map-only pass + one source-key aggregation on
  * batch-sized data) and commits the partial under its own batch id
  * ([[ExactlyOnce.write]] — a replayed batch overwrites its identical
  * partial, so at-least-once delivery cannot double-count a shard).
  * [[liveCard]] then re-aggregates the partials directory through the
  * SAME `mergeCards` the two-shard batch spec proves lossless: every
  * card column is a sum/count or a set union, so the streamed card is
  * EXACTLY the one-shot card over the union of all batches — not an
  * approximation that drifts with batch boundaries.
  *
  * Scale: the partials store grows by |sources| rows per micro-batch
  * (metadata-sized forever), and reading the live card touches only
  * partials — the corpus itself is never rescanned.
  */
object CardStream {

  /** Start the card stream: `docs` must be a streaming DataFrame with
    * the documents schema (doc_id, text, lang, source, n_chars).
    * Per-batch partial cards land under `partialsDir/batch_id=<n>`.
    */
  def start(docs: DataFrame, partialsDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (input: DataFrame, batchId: Long) =>
        graft.GraftSession.microBatch(input).foreach(batch =>
          ExactlyOnce.write(TextAnalysis.cardPartials(batch), partialsDir, batchId))
        // no CacheRegistry.clear() here: the card chain registers no
        // per-query persists, and a long-lived stream clearing the
        // GLOBAL registry would unpersist frames owned by whatever
        // batch query shares the session (DedupStream clears because
        // its ingestBatch actually registers caches)
      }
      .start()

  /** The live card: re-aggregate all published partials. A read racing
    * an in-flight commit may observe that batch partially (parquet
    * commits rename files one at a time), so a LIVE read is a lower
    * bound on the in-flight batch and exact for all settled ones; read
    * after the commit (e.g. after `processAllAvailable`) for the exact
    * card. Requires at least one committed partial.
    */
  def liveCard(spark: SparkSession, partialsDir: String): DataFrame =
    TextAnalysis.cardOutput(
      TextAnalysis.mergeCards(
        spark.read.parquet(partialsDir).drop("batch_id")))
}
