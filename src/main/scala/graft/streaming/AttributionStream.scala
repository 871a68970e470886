package graft.streaming

import graft.operators.Temporal
import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming twin of the multi-touch attribution queries
  * ([[graft.operators.Temporal.attributionLinear]]): purchases are
  * credited per micro-batch against the touches inside their one-hour
  * lookback window, running the batch path's OWN
  * `windowPairs`/`linearSplit` core over (state ∪ batch touches).
  *
  * What this twin adds to the streaming story: TIME-EVICTED state. The
  * other stateful twins keep latest-per-key (AsofStream), last-K
  * (stateDepth) or an append-only index (DedupStream); here state is the
  * set of touches still inside any future fact's window — after each
  * batch, touches older than (batch event-time high-water − window)
  * are dropped. Under the in-order batch contract an evicted touch can
  * never be credited again (every later fact's window starts at or after
  * the high-water the eviction used), so state is bounded by window
  * DENSITY — rows per user ~ touches/hour — regardless of stream length,
  * and the accumulated per-type credit equals the one-shot split exactly
  * (AttributionStreamSpec: cross-batch window match, eviction, and the
  * conservation invariant).
  *
  * Output: per-batch per-type partial (credit_ct, credit_bp_sum) rows —
  * sums compose across batches, so a reader aggregates the committed rows
  * to one-shot totals. Replay follows [[VersionedState]] (read below own
  * batch id; publishes are idempotent), and the output commit is
  * exactly-once ([[ExactlyOnce.write]]).
  */
object AttributionStream {

  private val stateSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("tsu", LongType),
    StructField("touch_id", LongType), StructField("touch_type", StringType)))

  /** Credit one micro-batch and return (per-type credit, new state). */
  private[graft] def creditBatch(spark: SparkSession, batch: DataFrame,
      stateRoot: String, batchId: Long): (DataFrame, DataFrame) = {
    val touches = batch.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("tsu"), col("event_id").as("touch_id"),
        col("event_type").as("touch_type"))
    val facts = batch.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsu"), col("event_id"), col("value"))
    val versions = VersionedState.readBelow(spark, stateRoot, batchId, stateSchema)
      .unionByName(touches)
    val credit = Temporal.linearSplit(Temporal.windowPairs(versions, facts), facts)
    // evict below the batch's event-time high-water minus the window —
    // computed in-plan (1-row broadcast), no driver round-trip
    val hw = batch.agg(max(col("tsu")).as("hw"))
    val newState = versions.crossJoin(broadcast(hw))
      .filter(col("tsu") >= col("hw") - Temporal.ToleranceUs)
      .drop("hw")
    (credit, newState)
  }

  /** Start the attribution stream: per-type credit partials land in
    * `outDir`'s `batch_id=<id>` partitions, windowed touch state lives at
    * `stateRoot`.
    */
  def start(events: DataFrame, stateRoot: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (input: DataFrame, batchId: Long) =>
        graft.GraftSession.microBatch(input).foreach { batch =>
          val spark = batch.sparkSession
          val (credit, newState) = creditBatch(spark, batch, stateRoot, batchId)
          ExactlyOnce.write(credit, outDir, batchId)
          SnapshotTable.publish(newState, stateRoot, s"v$batchId")
        }
      }
      .start()
}
