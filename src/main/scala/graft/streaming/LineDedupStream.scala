package graft.streaming

import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of line-level boilerplate discovery
  * ([[graft.operators.LineDedup]]): documents arrive as micro-batches and
  * the (source, segment) document-frequency table the boilerplate set is
  * derived from is maintained INCREMENTALLY — each batch segments only its
  * own documents and additively merges per-key df deltas, tile-local,
  * cost ∝ batch vocabulary (the [[CollocStream]] shape, one table instead
  * of two).
  *
  * Additivity holds because a document arrives in exactly ONE micro-batch
  * (doc-granularity ingest), so per-batch per-doc-DISTINCT segment counts
  * sum to the corpus-level distinct-doc df exactly — no retraction, the
  * clean IVM case. The boilerplate report is then the same df >= threshold
  * filter the batch query runs, so streamed docs ≡ batch rebuild after
  * every batch: structural on the counts, shared-filter on the report,
  * and checked cross-engine by the `line_dedup_stream_maintained` oracle
  * (the batch query's oracle verbatim).
  *
  * The merge key is the single concatenated `sk` column
  * (source + "\\u0001" + segment — U+0001 cannot occur in either part) so the
  * fold and tile pruning ride [[SnapshotTable.merge]]'s one-key contract;
  * source and seg are carried alongside for the report.
  *
  * Exactly-once: the table versions by batch id; a replayed batch
  * short-circuits the merge; the fresh-checkpoint guard rejects a wiped
  * checkpoint against a surviving table (single table — no half-wipe
  * window to straddle, unlike CollocStream's two).
  */
object LineDedupStream {

  def start(docs: DataFrame, root: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root)
      }
      .start()

  /** One micro-batch of (doc_id, source, text) rows: fold its per-doc-
    * distinct segment counts into the maintained df table. Idempotent per
    * batchId.
    */
  def applyBatch(input: DataFrame, batchId: Long, root: String,
      clusterFiles: Int = 8): Unit = {
    VersionedState.requireNotBehind("LineDedupStream", root, batchId,
      "the table")
    val batch = graft.GraftSession.microBatch(input) match {
      case Some(b) => b
      case None => return
    }
    // per-doc-distinct BEFORE counting: a segment repeated inside one doc
    // is one df unit, exactly as the batch query counts it. The
    // exactly-once fold discipline lives in AdditiveFold (shared with
    // RankStream and CollocStream)
    val deltas = graft.operators.LineDedup.segmentsOf(batch)
      .select(col("doc_id"), col("source"), col("seg")).distinct()
      .groupBy(concat_ws("\u0001", col("source"), col("seg")).as("sk"),
        col("source"), col("seg"))
      .agg(count(lit(1)).as("df"))
    // batch-scoped registry release: frames registered by this batch
    // free on exit without dropping the caller's cross-batch persists
    graft.CacheRegistry.scoped {
      AdditiveFold.foldInto(deltas, root, "sk", "df", "df", batchId,
        clusterFiles, carried = Seq("source", "seg"))
    }
  }

  /** The boilerplate report over the maintained table — the batch query's
    * df >= threshold filter verbatim, which is what makes the twin
    * equality structural.
    */
  def liveReport(spark: SparkSession, root: String, dfThreshold: Int): Option[DataFrame] =
    SnapshotTable.read(spark, root).map(
      _.filter(col("df") >= dfThreshold)
        .select(col("source"), col("seg"), col("df").as("df_docs")))
}
