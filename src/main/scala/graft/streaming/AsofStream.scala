package graft.streaming

import graft.operators.Temporal
import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Streaming twin of the as-of enrichment
  * ([[graft.operators.Temporal.asofAttribution]]): a live event feed where
  * each fact micro-batch is enriched with the latest dimension version at
  * or before its event time. This is the real-time dim topology the
  * reference runs — facts stream in, the dim's current value lives in a
  * store the stream both reads and updates (the Phoenix upsert,
  * `RT/app/function/DimSinkFunction.java:22-76`) — expressed over the
  * engine's own primitives: the per-user latest touch is a
  * [[graft.sources.SnapshotTable]] keep-latest dim (K4), and each
  * micro-batch runs the batch path's OWN [[Temporal.asofMatch]] over
  * (published state ∪ batch touches), so streaming and batch cannot
  * drift (the DedupStream argument, for the temporal family).
  *
  * Semantics and delivery:
  *  - Contract: micro-batches arrive in event-time order (the crawl/log
  *    contract every stateful twin here states); within a batch ANY
  *    interleaving is handled exactly, because the union-merge window
  *    orders by (tsu, side, id) — a fact matches a same-batch touch that
  *    precedes it. AsofStreamSpec proves N-batch feed ≡ one-shot.
  *    `stateDepth > 1` relaxes the cross-batch half of the contract to
  *    bounded out-of-orderness (see [[enrichBatch]]).
  *  - State is `stateDepth` rows per user (default 1, the latest touch):
  *    bounded by user cardinality no matter how long the stream runs,
  *    published via the snapshot table's atomic versioned publish.
  *  - Replay: state versions are KEYED BY BATCH ID, and a batch always
  *    reads the newest version numbered BELOW its own id. This matters:
  *    the obvious "read latest" breaks when a crash lands between the
  *    state publish and the checkpoint's offset commit — the replayed
  *    batch would see post-batch state whose keep-latest compaction may
  *    have dropped the older touch a mid-batch fact must match. Reading
  *    below-own-id makes a replay an exact recompute from pre-batch
  *    state, and re-publishing v<id> is byte-identical (a torn version
  *    directory from a pre-publish crash is never read: it is numbered
  *    AT the replaying batch's id, not below). Matched output is
  *    exactly-once ([[ExactlyOnce.write]]).
  */
object AsofStream {

  private val stateSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("tsu", LongType),
    StructField("touch_id", LongType), StructField("touch_type", StringType),
    StructField("touch_props", StringType)))

  /** Enrich one micro-batch and return (matched facts, new state) — the
    * unit the stream runs and the spec replays. `batch` is event-shaped:
    * (user_id, tsu, event_id, event_type, props, value).
    *
    * `stateDepth` is the out-of-orderness tolerance: state retains the
    * last `stateDepth` touches per user (not just the latest), so a LATE
    * fact — one older than the user's newest touch — still finds its
    * correct version as long as it lands within the retained window.
    * With depth 1 (the default, the strict in-order contract) a late
    * fact would silently mis-match to `none` because keep-latest
    * compaction already dropped its touch; the spec pins both behaviors.
    * State stays bounded at `stateDepth` rows per user.
    */
  private[graft] def enrichBatch(spark: SparkSession, batch: DataFrame,
      stateRoot: String, batchId: Long, stateDepth: Int = 1): (DataFrame, DataFrame) = {
    val touches = batch.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("tsu"), col("event_id").as("touch_id"),
        col("event_type").as("touch_type"), col("props").as("touch_props"))
    val facts = batch.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsu"), col("event_id"), col("value"))
    val versions = VersionedState.readBelow(spark, stateRoot, batchId, stateSchema)
      .unionByName(touches)
    val matched = Temporal.asofMatch(versions, facts)
    val newState = versions.withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("tsu").desc, col("touch_id").desc)))
      .filter(col("rn") <= stateDepth).drop("rn")
    (matched, newState)
  }

  /** Start the enrichment stream. Matched fact rows (user_id, tsu,
    * event_id, value, m_type, m_props, m_tsu, gap_us) land in `outDir`'s
    * `batch_id=<id>` partitions;
    * the latest-touch dim state lives as a snapshot table at `stateRoot`.
    */
  def start(events: DataFrame, stateRoot: String, outDir: String,
      checkpointDir: String, stateDepth: Int = 1): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (input: DataFrame, batchId: Long) =>
        graft.GraftSession.microBatch(input).foreach { batch =>
          val spark = batch.sparkSession
          val (matched, newState) =
            enrichBatch(spark, batch, stateRoot, batchId, stateDepth)
          ExactlyOnce.write(matched, outDir, batchId)
          SnapshotTable.publish(newState, stateRoot, s"v$batchId")
        }
      }
      .start()
}
