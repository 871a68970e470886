package graft.streaming

import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch-id-keyed snapshot-table state for foreachBatch streams: a batch
  * always reads the newest published version numbered BELOW its own id.
  * Plain "read latest" is wrong under post-publish replay — a crash
  * between the state publish and the checkpoint's offset commit replays
  * the batch against state its own writes already compacted (AsofStream's
  * class doc walks the concrete lost-match case; AsofStreamSpec plants
  * it). Reading below-own-id makes every replay an exact recompute from
  * pre-batch state, and a torn version directory from a pre-publish crash
  * is never read (it is numbered AT the replaying batch's id, not below).
  * The snapshot table's retention covers the one-step lookback.
  */
object VersionedState {

  /** Pre-batch state for `batchId`, or an empty frame of `schema`. */
  def readBelow(spark: SparkSession, root: String, batchId: Long,
      schema: StructType): DataFrame =
    below(root, batchId) match {
      case Some(v) if SnapshotTable.latestVersion(root).isDefined =>
        SnapshotTable.readVersion(spark, root, v)
      case _ =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** The newest retained version of `root` numbered strictly below
    * `batchId` — the replay-safe read pin (the head itself may already be
    * this batch's own commit).
    */
  private[graft] def below(root: String, batchId: Long): Option[String] =
    SnapshotTable.versions(root).takeWhile(_.drop(1).toLong < batchId)
      .lastOption

  /** The fresh-checkpoint guard of a foreachBatch twin whose batch ids
    * name `root`'s versions: fails when `batchId` is below the committed
    * head, and returns the head's id. A foreachBatch replay is always the
    * LAST applied batch (the checkpoint only advances after the function
    * returns), so only `batchId == head` can be a replay; a lower id is a
    * stream restarted on a fresh checkpoint (micro-batch ids re-number
    * from 0) against existing state, whose data a committed-version
    * short-circuit would silently drop as a fake replay. `twin` names the
    * stream and `wipe` the state that shares its batch-id sequence.
    */
  private[graft] def requireNotBehind(twin: String, root: String,
      batchId: Long, wipe: String): Option[Long] = {
    val head = SnapshotTable.latestVersion(root).map(_.drop(1).toLong)
    head.foreach(lv => require(batchId >= lv,
      s"$twin batch $batchId is behind $root's published v$lv: fresh " +
        s"checkpoint against existing state — wipe $wipe and the " +
        "checkpoint together, or resume the original."))
    head
  }
}
