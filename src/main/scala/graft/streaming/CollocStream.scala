package graft.streaming

import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of collocation mining
  * ([[graft.operators.CorpusStats.collocations]]): documents arrive as
  * micro-batches and the two corpus count tables the lift score reads —
  * (pr, n_xy) bigram counts and (t, n) unigram counts — are maintained
  * INCREMENTALLY: each batch tokenizes only its own documents and
  * additively merges per-key deltas (tile-local, cost ∝ batch
  * vocabulary). The report is then the SAME pure derivation the batch
  * query runs ([[graft.operators.CorpusStats.liftOf]]) over the
  * maintained tables, so streamed docs ≡ batch rebuild after every
  * batch, by construction on the counts and by shared code on the score.
  *
  * Counts are fully additive, so unlike [[RankStream]] nothing is
  * recomputed corpus-wide — this is the clean IVM case. Exactly-once:
  * both count tables version by batch id; a replayed batch
  * short-circuits both merges; a crash between the two merges replays
  * into the same recovery (the pair merge skips, the unigram merge
  * completes). Fresh-checkpoint guard as in [[IvmStream]].
  */
object CollocStream {

  def start(docs: DataFrame, pairRoot: String, uniRoot: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, pairRoot, uniRoot)
      }
      .start()

  /** One micro-batch of (doc_id, text) rows: fold its bigram and unigram
    * counts into the maintained tables. Idempotent per batchId.
    */
  def applyBatch(input: DataFrame, batchId: Long, pairRoot: String,
      uniRoot: String, clusterFiles: Int = 8): Unit = {
    // BOTH tables must agree the checkpoint is not fresh: a wiped
    // pairRoot with a surviving uniRoot (or vice versa) would slip a
    // head-only check and double-count the surviving table's merges,
    // silently corrupting lift scores
    Seq(pairRoot, uniRoot).foreach(VersionedState.requireNotBehind(
      "CollocStream", _, batchId, "pairRoot, uniRoot"))
    val batch = graft.GraftSession.microBatch(input) match {
      case Some(b) => b
      case None => return
    }
    // the exactly-once fold discipline (committed-head base, replay
    // self-read filter, tile-pruned join, persisted deltas) lives in
    // AdditiveFold, shared with RankStream and LineDedupStream
    val (pairD, uniD) = graft.operators.CorpusStats.tokenCounts(batch)
    // batch-scoped registry release: frames registered by this batch
    // free on exit without dropping the caller's cross-batch persists
    graft.CacheRegistry.scoped {
      AdditiveFold.foldInto(pairD, pairRoot, "pr", "n_xy", "n_xy", batchId,
        clusterFiles)
      AdditiveFold.foldInto(uniD, uniRoot, "t", "n", "n", batchId,
        clusterFiles)
    }
  }

  /** The collocation report over the maintained tables — at the LOWEST
    * common committed batch version, not each table's own head: in the
    * crash window between the pair merge and the unigram merge the two
    * heads straddle a batch, and joining them would score bigram counts
    * that include the batch against unigram counts that do not.
    * [[graft.operators.CorpusStats.liftOf]] verbatim over the aligned
    * reads, which is what makes the twin equality structural. (If the
    * lower common version has already been retention-pruned on the
    * other table, the per-root head is the documented best effort.)
    */
  def liveReport(spark: SparkSession, pairRoot: String, uniRoot: String,
      minPair: Int): Option[DataFrame] =
    for {
      vp <- SnapshotTable.latestVersion(pairRoot)
      vu <- SnapshotTable.latestVersion(uniRoot)
    } yield {
      val v = if (vp.drop(1).toLong <= vu.drop(1).toLong) vp else vu
      def at(root: String, own: String) =
        if (SnapshotTable.versions(root).contains(v))
          SnapshotTable.readVersion(spark, root, v)
        else SnapshotTable.readVersion(spark, root, own)
      graft.operators.CorpusStats.liftOf(at(pairRoot, vp), at(uniRoot, vu),
        minPair)
    }
}
