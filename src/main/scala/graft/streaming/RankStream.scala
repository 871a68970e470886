package graft.streaming

import graft.sources.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the PageRank family ([[graft.operators.Graph]]):
  * page-transition edges arrive as micro-batches, the EDGE-COUNT table is
  * maintained incrementally (cost ∝ batch — the IvmStream discipline:
  * additive tile-local merges keyed by batch id), and the published rank
  * vector after every batch is EXACTLY the batch rebuild over all edges
  * seen so far.
  *
  * Why the rank RECOMPUTES from uniform each batch instead of
  * warm-starting from the previous vector: the engine's rank contract is
  * "`iters` exact fixed-point iterations from uniform r0" — that is what
  * the DuckDB oracle pins hash-exact. A warm start (previous vector as
  * r0, the standard incremental-PageRank accelerator) computes a
  * DIFFERENT function of the edge set under a fixed iteration count, and
  * under a run-to-stabilization rule exact integer flooring gives no
  * guarantee that different starting vectors land on the identical
  * integer fixed point — so warm-starting would silently break the
  * streamed ≡ batch-rebuild equality this twin exists to prove. What IS
  * incremental is the expensive part at 100 TB: the edge aggregation
  * (one sessionized scan per batch, merged tile-locally) — the
  * power iteration itself is `iters` joins over the maintained table
  * regardless of how the table was built.
  *
  * Exactly-once: both roots version by batch id. A replayed batch
  * short-circuits BOTH the edge merge (already committed) and the rank
  * recompute/publish (already the rank head — re-publishing would
  * overwrite the live directory under concurrent readers for a no-op);
  * a crash between the edge commit and the rank commit replays into the
  * rank recompute with the edge merge skipping. The fresh-checkpoint
  * guard matches [[IvmStream]]'s.
  */
object RankStream {

  def start(pairs: DataFrame, edgeRoot: String, rankRoot: String,
      checkpointDir: String, iters: Int,
      rankEveryK: Int = 1): StreamingQuery =
    pairs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, edgeRoot, rankRoot, iters,
          rankEveryK = rankEveryK)
      }
      .start()

  /** One micro-batch of (src, dst) transition rows: fold their counts
    * into the edge table, recompute + publish the rank vector.
    * Idempotent per batchId.
    *
    * `rankEveryK` is the 100 TB publication knob: the rank rebuild is
    * the only per-batch cost that is ∝ CORPUS rather than ∝ batch (the
    * exact contract demands `iters` iterations from uniform — a warm
    * start computes a different function, see the class scaladoc), so
    * at K = 1 a corpus-sized graph pays a full power iteration per
    * micro-batch, forever. K > 1 republishes the rank only on batch ids
    * divisible by K: amortized per-batch cost drops to
    * batch + corpus/K, and the published vector is at most K − 1
    * batches behind the edge table — a staleness that is EXPLICIT,
    * bounded, and queryable ([[rankStaleness]]), because the rank
    * table's version id IS the edge version it reflects. The edge fold
    * stays every-batch (∝ batch) regardless, so no data is ever lost —
    * only the publication lags, which is the standard freshness/cost
    * trade of any corpus-scale derived view.
    */
  def applyBatch(input: DataFrame, batchId: Long, edgeRoot: String,
      rankRoot: String, iters: Int, clusterFiles: Int = 8,
      rankEveryK: Int = 1): Unit = {
    require(rankEveryK >= 1, s"rankEveryK must be >= 1, got $rankEveryK")
    // the caller's session: the rank rebuild is ∝ corpus, not ∝ batch, so
    // it compiles even when a small batch's fold runs interpreted
    val spark = input.sparkSession
    VersionedState.requireNotBehind("RankStream", edgeRoot, batchId,
      "edgeRoot, rankRoot")
    val batch = graft.GraftSession.microBatch(input) match {
      case Some(b) => b
      case None =>
        // the edge fold has nothing to do, but a scheduled PUBLICATION
        // must still happen — an empty batch landing on the K boundary
        // would otherwise push the next publish a full K batches out and
        // staleness past the documented K−1 bound
        graft.CacheRegistry.scoped { // the publish's pagerank leaves
          publishRanksIfDue(spark, batchId, edgeRoot, rankRoot, iters,
            rankEveryK)
        }
        return
    }
    // the exactly-once additive fold (committed-head base, replay
    // self-read filter, tile-pruned batch-sized join, persisted deltas)
    // lives in AdditiveFold, shared with CollocStream and LineDedupStream
    val deltas = batch.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n_d"))
      .withColumn("edge_key", concat_ws(" ", col("src"), col("dst")))
    // pagerank registers its lineage leaves in the per-query cache
    // registry; the rank publish is the last consumer. Batch-SCOPED
    // release (the IvmStream precedent: release per batch, or a long
    // stream pins frames forever) — a bare clear() would also drop the
    // caller's own persists (the sessionized pair frame each batch
    // filters), forcing the window pass to re-run every batch.
    graft.CacheRegistry.scoped {
      AdditiveFold.foldInto(deltas, edgeRoot, "edge_key", "n_d", "n",
        batchId, clusterFiles, carried = Seq("src", "dst"))
      publishRanksIfDue(spark, batchId, edgeRoot, rankRoot, iters, rankEveryK)
    }
  }

  /** Publish the rank vector when `batchId` is a scheduled publication
    * point. The rank publishes UNDER THE BOUNDARY'S OWN BATCH ID over
    * the committed edge head's content — after a non-empty boundary fold
    * those coincide (edge head IS v$batchId); after an empty boundary
    * batch the rank id still advances to the boundary, so the id-based
    * staleness bound (edge head − rank head ≤ K−1) holds regardless of
    * empty batches. A replayed or late boundary finds the rank head at
    * or past its id and skips — re-publishing would delete the live
    * directory's files under concurrent liveRanks readers for a no-op.
    */
  private def publishRanksIfDue(spark: org.apache.spark.sql.SparkSession,
      batchId: Long, edgeRoot: String, rankRoot: String, iters: Int,
      rankEveryK: Int): Unit = {
    if (batchId % rankEveryK != 0) return
    if (SnapshotTable.latestVersion(rankRoot)
        .exists(_.drop(1).toLong >= batchId)) return
    SnapshotTable.latestVersion(edgeRoot).foreach { edgeHead =>
      val edges = SnapshotTable.readVersion(spark, edgeRoot, edgeHead)
        .select(col("src"), col("dst"), col("n"))
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      val rank = graft.operators.Graph.pagerank(nodes, edges, iters)
        .select(col("node"), col("out_n"), col("r"))
      SnapshotTable.publish(rank, rankRoot, s"v$batchId")
    }
  }

  /** The rank vector at its last committed version. */
  def liveRanks(spark: org.apache.spark.sql.SparkSession,
      rankRoot: String): Option[DataFrame] =
    SnapshotTable.read(spark, rankRoot)

  /** How many edge batches the published rank vector is behind the edge
    * table (0 = fresh; at most `rankEveryK − 1` always — publication is
    * decoupled from the fold, so an empty batch landing on the K
    * boundary still publishes, under the boundary's own id). Version
    * ids are batch ids on both roots, so staleness is pure metadata;
    * clamped at 0 because an empty boundary advances the rank id past
    * the last fold's edge id (the rank then covers everything
    * committed).
    */
  def rankStaleness(edgeRoot: String, rankRoot: String): Option[Long] =
    for {
      e <- SnapshotTable.latestVersion(edgeRoot)
      r <- SnapshotTable.latestVersion(rankRoot)
    } yield math.max(0L, e.drop(1).toLong - r.drop(1).toLong)
}
