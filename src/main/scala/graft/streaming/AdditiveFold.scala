package graft.streaming

import graft.sources.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** THE additive-IVM fold: one micro-batch's per-key count deltas merged
  * into a maintained [[SnapshotTable]], tile-locally. Shared by every
  * streaming twin that maintains a count table ([[RankStream]] edges,
  * [[CollocStream]] bigrams + unigrams, [[LineDedupStream]] segment df) —
  * the exactly-once discipline lives HERE, once:
  *
  *  - the fold base is the COMMITTED head (what merge's CAS will check
  *    against), never the raw directory listing, which includes in-flight
  *    or orphaned version directories a crashed writer left;
  *  - the `< batchId` filter keeps a REPLAYED batch (head == this
  *    version) from self-reading its own committed output into a
  *    double-counted fold that merge would then short-circuit anyway;
  *  - the previous-table side is tile-pruned to the batch's keys
  *    (a [[SnapshotTable.Prune.Keys]] plan — the changed-tile discovery
  *    merge itself runs), so the fold's join is batch-sized on BOTH
  *    sides: per-batch cost stays ∝ batch at any table size, which a
  *    plain left join against the full table would not (the preserved
  *    side of a left-outer cannot broadcast, so the full table would
  *    shuffle every batch);
  *  - the delta frame is persisted for the fold's duration: the tile
  *    discovery, the fold join and merge's own passes all root it, and
  *    without the persist each consumer recomputes the batch aggregation.
  */
object AdditiveFold {

  /** Fold `deltas0` — (key, carried..., deltaCnt) per-batch counts — into
    * the table at `root`, whose schema is (key, carried..., cnt), under
    * version `v<batchId>`. Idempotent per batchId (merge short-circuits a
    * committed head). `deltaCnt` and `cnt` may be the same name.
    *
    * `localKeys`: the batch's key values when the CALLER already holds
    * them on the driver (its own batch-scale collect) — the fold-base
    * tile discovery then runs as driver binary-search math
    * ([[SnapshotTable.Prune.Keys]]' `local`) instead of a Spark job.
    * Purely a fast path: when absent, or when the table's layout can't
    * take it, the distributed discovery runs exactly as before.
    */
  def foldInto(deltas0: DataFrame, root: String, key: String,
      deltaCnt: String, cnt: String, batchId: Long,
      clusterFiles: Int, carried: Seq[String] = Nil,
      nonNegativeGuard: Option[String] = None,
      extraStatsCols: Seq[String] = Nil,
      localKeys: Option[Iterable[Any]] = None): Unit =
    foldWith(deltas0, root, key, deltaCnt, cnt, batchId, clusterFiles,
      carried, nonNegativeGuard, extraStatsCols, localKeys)((old, delta) =>
      coalesce(old, lit(0L)) + delta)

  /** MIN-fold: new = least(old, delta) — the second mergeable aggregate
    * class the IVM twins need (per-token FIRST occurrence, earliest
    * timestamp). Same exactly-once discipline as the count fold; min is
    * associative/commutative/idempotent, so replays and re-merges are
    * safe by algebra, not just by the version CAS.
    */
  def foldMinInto(deltas0: DataFrame, root: String, key: String,
      deltaCnt: String, cnt: String, batchId: Long,
      clusterFiles: Int, carried: Seq[String] = Nil): Unit =
    foldWith(deltas0, root, key, deltaCnt, cnt, batchId, clusterFiles,
      carried, None, Nil)((old, delta) => least(coalesce(old, delta), delta))

  /** `nonNegativeGuard`: when set, the folded counts are checked for a
    * negative value BEFORE the merge commits and the given message fails
    * the batch by name — a signed fold (edge retractions) must never
    * overdraw a maintained count. The check runs on the fold's own
    * `updated` frame (exactly the rows the merge writes for the batch's
    * keys), so it costs one filter-count over an already-persisted
    * batch-sized frame instead of a post-merge tile read.
    */
  private def foldWith(deltas0: DataFrame, root: String, key: String,
      deltaCnt: String, cnt: String, batchId: Long,
      clusterFiles: Int, carried: Seq[String],
      nonNegativeGuard: Option[String], extraStatsCols: Seq[String],
      localKeys: Option[Iterable[Any]] = None)(
      combine: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column): Unit = {
    val spark = deltas0.sparkSession
    val deltas = deltas0.persist()
    try {
      val prev = SnapshotTable.latestVersion(root)
        .filter(_.drop(1).toLong < batchId)
      val keyAndCarried = col(key) +: carried.map(col)
      // the fold-base tile discovery doubles as merge's changed-tile
      // discovery (same key set, same version) — the plan rides through
      // knownPlan so merge skips its identical job
      var foldPlan: Option[SnapshotTable.Plan] = None
      val updated = prev match {
        case None => deltas.select(keyAndCarried :+ col(deltaCnt).as(cnt): _*)
        case Some(p) =>
          val plan = SnapshotTable.plan(spark, root, p, key,
            SnapshotTable.Prune.Keys(deltas.select(col(key)), localKeys))
          foldPlan = Some(plan)
          deltas
            .join(SnapshotTable.readFiles(spark, root, plan)
              .select(col(key), col(cnt).as("__old")),
              Seq(key), "left")
            .select(keyAndCarried :+
              combine(col("__old"), col(deltaCnt)).as(cnt): _*)
      }
      // additive count tables never use diff fingerprint skipping —
      // footer-based stats (no read-back scan) are enough
      SnapshotTable.merge(updated, root, key, s"v$batchId",
        clusterFiles = Some(clusterFiles), rowFingerprints = false,
        knownPlan = foldPlan,
        extraStatsCols = extraStatsCols)
      // the overdraw guard runs POST-commit (matching the original
      // post-merge tile-read check's crash semantics — the fold commits,
      // the caller's own completion marker does not): when the fold
      // carries cnt stats it is a pure metadata read; otherwise one
      // filter-count over the persisted batch-sized update frame
      nonNegativeGuard.foreach { msg =>
        val ok = SnapshotTable.statsMinLong(root, s"v$batchId", cnt)
          .map(_ >= 0)
          .getOrElse(
            updated.persist().filter(col(cnt) < 0).limit(1).count() == 0)
        require(ok, msg)
      }
    } finally { deltas.unpersist(blocking = false); () }
  }
}
