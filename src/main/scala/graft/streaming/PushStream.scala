package graft.streaming

import graft.operators.PushRank
import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL residual-push PageRank — the streaming wrapper over the
  * spec-proven [[graft.operators.PushRank]] kernels, and the engine's
  * answer to the periodic-publish contract's corpus-proportional rank
  * rebuild ([[RankStream]]): instead of re-running `iters` power
  * iterations over ALL edges every K batches, the rank VALUE vector p
  * and its Bellman RESIDUAL r are maintained as one [[SnapshotTable]],
  * and each edge batch (insertions AND retractions — the signed
  * Zhang/Ohsaka dynamic case) repairs the state with work proportional
  * to the batch's graph neighborhood plus the surviving push frontier,
  * never to the corpus.
  *
  * The invariant that makes both the efficiency and the oracle work:
  * at every commit, `r = b + T(p) − p` — the Bellman residual of the
  * per-edge-floor damped transition operator
  * ([[PushRank.bellmanResidual]]) — holds BIT-FOR-BIT. The maintained
  * side restores it incrementally; the DuckDB oracle can therefore
  * express every intermediate state as a from-scratch recompute, and
  * the serve hash-matches without the oracle replicating any delta
  * algebra. ‖r‖₁ is the LIVE staleness/error certificate:
  * ‖p* − p‖₁ ≤ ‖r‖₁ · 100/(100 − d) (geometric series of the damped
  * operator), strictly stronger than a batch-count staleness.
  *
  * Three uniform-scalar tricks keep per-batch row writes ∝ neighborhood:
  *
  *  - LAZY SHIFT: the teleport share b(nn) and the dangling share
  *    gterm(dang, nn) are uniform across nodes, so their changes (new
  *    nodes, dangling flips, pushed dangling mass) ride in ONE scalar
  *    `shift` with `r_true(v) = r_stored(v) + shift` — a node-set or
  *    dangling-mass change never rewrites the corpus.
  *  - PER-EDGE-FLOOR deltas: every transition term floors ALONE
  *    ([[PushRank]]'s operator), so an edge change alters exactly one
  *    summand and the residual repair is the batch-neighborhood join
  *    `Δr(v) = Σ_u term(p_u, ppm_new) − term(p_u, ppm_old)` over
  *    touched sources' out-edges only (a [[SnapshotTable.Prune.Ranges]]
  *    plan — one key-prefix range per touched source).
  *  - PUSH-ROUND cancellation: a synchronized threshold-push round
  *    changes stored residuals ONLY at active nodes and their
  *    out-neighbors (the uniform gterm shift cancels against `shift` for
  *    everyone else), so each round's write set is the frontier
  *    neighborhood; converged tiles are discovered-and-skipped by the
  *    complement prune ([[SnapshotTable.Prune.Outside]]).
  *
  * Within a batch the seed + `rounds` push rounds evolve an in-memory
  * OVERLAY of changed rows; the state table commits ONCE per batch
  * (tile-local merge), the scalar sidecar (nn, dang, shift) LAST — its
  * head at/past the batch id is the replay short-circuit, and every
  * read below pins to versions `< batchId` (or the batch's own edge
  * version), so a crash replay between any two commits recomputes the
  * identical overlay. Reference for the semantics being maintained:
  * the reference keys its dashboards on visit counts
  * (`RT/app/dws/VisitorStatsApp.java`); rank-over-transitions is the
  * [[graft.operators.Graph]] family's derived authority metric.
  */
object PushStream {

  private val Damp = graft.operators.Graph.Damp

  /** Past this many touched/active sources a per-source driver range
    * list stops being "metadata-scale" — the adaptive reads below fall
    * back to one full scan + semi-join, the right plan when the touched
    * set approaches the corpus (bulk loads, initial convergence). The
    * incremental steady state — the regime this wrapper exists for —
    * stays far below it. A var only as a test seam (like
    * `SnapshotTable.onBeforeCommit`): specs set it to 0 to drive every
    * batch down the distributed path; [[applyBatch]] reads it once.
    */
  private[graft] var RangeListCap = 100000L

  /** The three roots of one maintained push-rank: the additive edge
    * table, the (node, out_n, p, r) state, and the 1-row scalar sidecar
    * (nn, dang, shift).
    */
  final case class Roots(edges: String, state: String, scalars: String)

  def roots(base: String): Roots =
    Roots(base + "_edges", base + "_state", base + "_scalars")

  private def emptyEdges(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("src"), col("id").as("dst"),
      col("id").as("n"))

  private def emptyState(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("node"), col("id").as("out_n"),
      col("id").as("p"), col("id").as("r"))

  /** (src, dst, p_ppm) with out-degrees derived from the frame itself —
    * self-contained so a pruned out-edge read renormalizes exactly. A
    * window sum over src replaces the former self-join (groupBy + join
    * re-evaluated the source subtree twice and cost two exchanges; the
    * window is one exchange, one pass).
    */
  private def ppmOf(e: DataFrame): DataFrame =
    e.select(col("src"), col("dst"),
      expr("(n * 1000000) div (sum(n) OVER (PARTITION BY src))")
        .as("p_ppm"))

  /** Latest version committed strictly BEFORE `batchId` — the replay-safe
    * read pin (the head itself may already be this batch's own commit).
    */
  private def prevOf(root: String, batchId: Long): Option[String] =
    SnapshotTable.versions(root).map(_.drop(1).toLong)
      .filter(_ < batchId).maxOption.map(i => s"v$i")

  /** Env-gated phase tracer (`SPARK_GRAFT_TRACE=1`): stderr lines with
    * per-phase seconds, for attributing a batch's wall time to its
    * sequential driver actions without an event-log round-trip.
    */
  private def traced[T](batchId: Long, label: String)(body: => T): T =
    graft.Trace(s"push b$batchId $label")(body)

  /** One micro-batch of SIGNED edge-count deltas (src, dst, n_d): fold
    * into the edge table, restore the Bellman invariant for the new
    * graph (delta seeding), run `rounds` synchronized threshold-push
    * rounds at `eps`, commit. Idempotent per batchId; `eps`/`rounds`
    * must be stable across replays (same-caller contract as iters).
    */
  def applyBatch(deltas0: DataFrame, batchId: Long, rt: Roots,
      eps: Long, rounds: Int, clusterFiles: Int = 8): Unit = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(eps >= 0, s"eps must be >= 0, got $eps")
    val spark = deltas0.sparkSession
    val cap = RangeListCap
    val committed = SnapshotTable.latestVersion(rt.scalars)
      .map(_.drop(1).toLong)
    committed.foreach { lv =>
      require(batchId >= lv,
        s"PushStream batch $batchId is behind ${rt.scalars}'s v$lv: " +
          "fresh checkpoint against existing tables — wipe all three " +
          "roots and the checkpoint together, or resume the original.")
    }
    if (committed.contains(batchId)) return // scalars commit LAST: done
    val v = s"v$batchId"
    val deltas = deltas0.groupBy(col("src"), col("dst"))
      .agg(sum(col("n_d")).as("n_d"))
      .filter(col("n_d") =!= 0)
      .withColumn("edge_key", concat_ws(" ", col("src"), col("dst")))
      .persist()
    // batch-scoped release (the long-stream discipline): the per-round
    // overlays and helper frames registered below release when the batch
    // ends, while the CALLER's persists (e.g. the sessionized pair frame
    // feeding every batch) survive
    graft.CacheRegistry.scoped { try {
      import spark.implicits._
      // ---- 0. ONE bounded collect decides the regime and feeds every
      // driver-side derivation: in the incremental regime (≤ RangeListCap
      // delta rows — the regime this wrapper exists for) the batch's
      // sources, node set, edge keys and state-tile hits are all driver
      // math over this list, its key frames become LocalRelations
      // (broadcast joins, no pre-jobs), and each tile discovery that
      // previously launched its own Spark job disappears. Past the cap
      // (a bulk load, where the touched set approaches the corpus) the
      // distributed path below runs exactly as before.
      val batchPairs = traced(batchId, "batch_collect") {
        deltas.select(col("src"), col("dst"))
          .limit(cap.toInt + 1).collect() }
      val local = batchPairs.length <= cap

      // ---- 1. additive edge fold (exactly-once inside AdditiveFold) --
      // a retraction may cancel an edge exactly (n = 0 keeps the key,
      // transitions filter it) but never overdraw it — an n < 0 count is
      // a corrupted-upstream contract violation, failed by name (checked
      // inside the fold on its own updated frame: one filter-count on a
      // persisted batch-sized frame instead of a post-merge tile read)
      traced(batchId, "edge_fold") { AdditiveFold.foldInto(
        deltas.select(col("edge_key"), col("src"), col("dst"), col("n_d")),
        rt.edges, "edge_key", "n_d", "n", batchId, clusterFiles,
        carried = Seq("src", "dst"),
        nonNegativeGuard = Some(
          s"PushStream batch $batchId: an edge retraction exceeded the " +
            "maintained count — deltas must never drive an edge below " +
            "zero"),
        // n riding in the stats makes the overdraw guard a metadata
        // read AND lets the n>0 out-edge reads prune all-zero tiles
        extraStatsCols = Seq("n"),
        localKeys = if (local)
          Some(batchPairs.map(r => s"${r.getLong(0)} ${r.getLong(1)}").toSeq)
        else None) }

      // ---- 2. pinned reads + previous scalars -----------------------
      val prevStateV = prevOf(rt.state, batchId)
      val prevEdgeV = prevOf(rt.edges, batchId)
      val (nn0, dang0, shift0) = prevOf(rt.scalars, batchId) match {
        case Some(pv) =>
          val r = SnapshotTable.readVersion(spark, rt.scalars, pv)
            .collect().head
          (r.getAs[Long]("nn"), r.getAs[Long]("dang"), r.getAs[Long]("shift"))
        case None => (0L, 0L, 0L)
      }
      // accumulated changed-tile hint for the single state merge below:
      // every read of prevStateV adds its plan; the union's tiles are a
      // SUPERSET of the overlay's tiles (overlay rows only ever come from
      // those reads or from new nodes, whose tiles ride the stateBatch
      // plan — rewriting an extra tile reproduces identical content), so
      // merge can skip its own discovery job. Any plan without a tile set
      // drops the hint and merge discovers as before.
      var statePlans: Option[SnapshotTable.Plan] =
        prevStateV.map(SnapshotTable.Plan(_, Some(Nil), Some(Set.empty)))
      def readState(pv: String, prune: SnapshotTable.Prune): DataFrame = {
        val plan = SnapshotTable.plan(spark, rt.state, pv, "node", prune)
        statePlans = statePlans.map(_ ++ plan)
        SnapshotTable.readFiles(spark, rt.state, plan)
      }
      def readEdges(version: String, ranges: Seq[(String, String)]) =
        SnapshotTable.readFiles(spark, rt.edges, SnapshotTable.plan(spark,
          rt.edges, version, "edge_key",
          SnapshotTable.Prune.Ranges("edge_key", ranges)))

      // ---- 3. touched sources and their old/new out-edges -----------
      // one "<src> " prefix range per touched source — driver list is
      // batch-scale by the same contract as Prune.Keys' key
      // collect ('!' sorts between the ' ' separator and digit '0', so
      // the range brackets exactly this source's keys). ADAPTIVE: past
      // RangeListCap sources (a bulk load, not an incremental batch) a
      // driver range list would itself be corpus-scale — fall back to
      // one full scan + semi-join, which is the right plan when the
      // touched set IS the corpus
      val srcIds: Array[Long] =
        if (local) batchPairs.map(_.getLong(0)).distinct.sorted
        else traced(batchId, "srcs_collect") {
          deltas.select(col("src")).distinct()
            .limit(cap.toInt + 1).collect().map(_.getLong(0)) }
      val nSrcs = srcIds.length.toLong
      val srcs =
        if (local) srcIds.toSeq.toDF("src")
        else graft.CacheRegistry.persist(deltas.select(col("src")).distinct())
      val srcRanges =
        if (nSrcs > cap) Nil
        else srcIds.sorted.map(s => (s"$s ", s"$s!")).toSeq
      def outEdgesOf(version: String): DataFrame =
        (if (srcRanges.isEmpty && nSrcs > 0)
          SnapshotTable.readVersion(spark, rt.edges, version)
        else readEdges(version, srcRanges))
          .filter(col("n") > 0)
          .join(srcs, Seq("src"), "left_semi")
          .select(col("src"), col("dst"), col("n"))
      val oldE = prevEdgeV.map(outEdgesOf).getOrElse(emptyEdges(spark))
      val newE = outEdgesOf(v)
      // persisted: the fused setup aggregation AND the seed overlay both
      // read the new out-degrees — unpersisted, each would re-run the
      // pruned edge read
      val outNew = graft.CacheRegistry.persist(
        newE.groupBy(col("src")).agg(sum(col("n")).as("out_new")))

      // ---- 4. node set + state rows for the batch's neighborhood ----
      val batchNodeIds: Array[Long] =
        if (local)
          (batchPairs.map(_.getLong(0)) ++ batchPairs.map(_.getLong(1)))
            .distinct
        else Array.empty
      val batchNodes =
        if (local) batchNodeIds.toSeq.toDF("node")
        else graft.CacheRegistry.persist(
          deltas.select(col("src").as("node"))
            .union(deltas.select(col("dst").as("node"))).distinct())
      // ONE tile read of the previous state covers both consumers below
      // (node-set growth wants state ∩ batchNodes; dangling flips want
      // state ∩ srcs ⊆ batchNodes); in the local regime the key→tile
      // discovery is driver binary-search math, zero jobs
      val stateBatch = graft.CacheRegistry.persist(prevStateV.map { pv =>
        readState(pv, SnapshotTable.Prune.Keys(batchNodes,
            if (local) Some(batchNodeIds.toSeq) else None))
          .join(batchNodes, Seq("node"), "left_semi")
      }.getOrElse(emptyState(spark)))

      // ---- 4+5 fused: node-set growth AND dangling flips in ONE job --
      // (previously a count and an aggregation, each its own action):
      // state-row count among the batch's nodes gives the growth by
      // driver subtraction; the dangling-flip sum rides the same pass,
      // restricted to touched sources by the is-src flag
      val isSrc = srcs.select(col("src").as("node"), lit(1).as("__s"))
      val outNewN = outNew.withColumnRenamed("src", "node")
      val setupRow = traced(batchId, "setup_agg") { stateBatch
        .join(isSrc, Seq("node"), "left")
        .join(outNewN, Seq("node"), "left")
        .agg(count(lit(1)).as("n_state"),
          coalesce(sum(when(col("__s") === 1,
            when(coalesce(col("out_new"), lit(0L)) === 0
                && col("out_n") =!= 0, col("p"))
              .when(coalesce(col("out_new"), lit(0L)) =!= 0
                && col("out_n") === 0, -col("p"))
              .otherwise(lit(0L))).otherwise(lit(0L))), lit(0L))
            .as("dflip"))
        .collect().head }
      val nState = setupRow.getLong(0)
      val nBatchNodes =
        if (local) batchNodeIds.length.toLong
        else traced(batchId, "batch_nodes") { batchNodes.count() }
      val newNodes = batchNodes.join(stateBatch.select(col("node")),
        Seq("node"), "left_anti")
      val nn1 = nn0 + (nBatchNodes - nState)
      require(nn1 > 0, "PushStream: empty node set")
      val dangFlip = setupRow.getLong(1)
      val dang1 = dang0 + dangFlip

      // ---- 6. the uniform part of the re-seeded residual ------------
      // r_true = b(nn) + contrib + gterm(dang, nn) − p; b and gterm are
      // uniform, so their change under the new graph is one scalar
      val shift1 = shift0 +
        (PushRank.bOf(nn1) -
          (if (nn0 > 0) PushRank.bOf(nn0) else 0L)) +
        (PushRank.gtermOf(dang1, nn1) -
          (if (nn0 > 0) PushRank.gtermOf(dang0, nn0) else 0L))

      // ---- 7. the per-edge part: Δr(v) over touched out-edges -------
      // term(u,v) = (d·((p_u·ppm) div 1e6)) div 100 floors ALONE, so the
      // exact new-minus-old difference decomposes edge by edge; sources
      // new this batch have p = 0 on both sides (terms 0) and skip
      val pOfSrc = stateBatch
        .join(isSrc, Seq("node"), "left_semi")
        .select(col("node").as("src"), col("p"))
      def termsOf(e: DataFrame, sign: Int): DataFrame =
        ppmOf(e).join(pOfSrc, "src")
          .select(col("dst"),
            (expr(s"($Damp * ((p * p_ppm) div 1000000)) div 100")
              * lit(sign.toLong)).as("t"))
      // signed union + ONE aggregation replaces the former
      // [old-side groupBy] FULL JOIN [new-side groupBy] (three
      // exchanges → one; same exact integers — the per-edge floors
      // apply before the sign, and sums are order-independent)
      // persisted: seedDr feeds BOTH the candidate-node tile discovery
      // and the overlay plan — unpersisted, the whole old/new-edge term
      // subtree would evaluate twice
      val seedDr = graft.CacheRegistry.persist(
        termsOf(newE, 1).unionAll(termsOf(oldE, -1))
          .groupBy(col("dst")).agg(sum(col("t")).as("dr"))
          .select(col("dst").as("node"), col("dr"))
          .filter(col("dr") =!= 0))

      // ---- 8. seed overlay: rows whose stored state changes ---------
      val candNodes = graft.CacheRegistry.persist(
        srcs.select(col("src").as("node"))
          .union(seedDr.select(col("node")))
          .union(newNodes).distinct())
      val stateCand = prevStateV.map { pv =>
        readState(pv, SnapshotTable.Prune.Keys(candNodes))
          .join(candNodes, Seq("node"), "left_semi")
      }.getOrElse(emptyState(spark))
      // a node new this batch starts at p = 0 with the full uniform
      // residual: stored = b + gterm − shift so that r_true = b + gterm
      val newRows = newNodes.select(col("node"), lit(0L).as("out_n"),
        lit(0L).as("p"),
        lit(PushRank.bOf(nn1) + PushRank.gtermOf(dang1, nn1) - shift1)
          .as("r"))
      var overlay = traced(batchId, "seed_overlay") { graft.CacheRegistry.materialize(
        stateCand.unionByName(newRows)
          .join(outNew.withColumnRenamed("src", "node"), Seq("node"), "left")
          .join(isSrc, Seq("node"), "left")
          .select(col("node"),
            when(col("__s") === 1, coalesce(col("out_new"), lit(0L)))
              .otherwise(col("out_n")).as("out_n"),
            col("p"), col("r"))
          .join(seedDr, Seq("node"), "left")
          .select(col("node"), col("out_n"), col("p"),
            (col("r") + coalesce(col("dr"), lit(0L))).as("r"))) }

      // ---- 9. synchronized threshold-push rounds --------------------
      var shift = shift1
      var dang = dang1
      var k = 0
      var drained = false
      while (k < rounds && !drained) {
        k += 1
        // active set: |r_true| > eps — overlay rows by filter, table
        // rows by the complement prune (tiles provably inside the band
        // never load), overlay taking precedence
        val shiftPre = shift
        val fromTable = prevStateV.map { pv =>
          readState(pv,
              SnapshotTable.Prune.Outside("r", -eps - shiftPre, eps - shiftPre))
            .join(overlay.select(col("node")), Seq("node"), "left_anti")
        }.getOrElse(emptyState(spark))
        // the active frame is persisted LAZILY (the bounded collect below
        // is its first action and populates the cache); the round's
        // lineage cut stays with the overlay materialize, so plan depth
        // is still constant per round
        val active = graft.CacheRegistry.persist(
          fromTable.unionByName(overlay)
            .filter(abs(col("r") + lit(shiftPre)) > eps))
        // ONE bounded collect answers FOUR questions that were previously
        // separate jobs: is the round drained, the dangling delta, the
        // positive-out frontier size, and the source list the pruned
        // edge read needs. Past the cap (bulk convergence): one agg job
        // for the scalars, full scan + semi-join for the edges — the
        // right plan when the frontier IS the corpus.
        val actRows = traced(batchId, s"active_collect_r$k") {
          active.select(col("node"), col("out_n"), col("r"))
            .limit(cap.toInt + 1).collect() }
        if (actRows.isEmpty) {
          // an empty active set makes this and all remaining rounds the
          // identity (the oracle's CASE mirrors this as a no-op)
          drained = true
        } else {
          val activeS = active.select(col("node").as("src"),
            col("p").as("p_old"),
            (col("p") + col("r") + lit(shiftPre)).as("p_new"),
            col("out_n"), col("r").as("r_a"))
          // pushed dangling mass re-spreads uniformly: scalar, not rows
          val (dangDelta, nASrcs, aSrcIdsOpt) =
            if (actRows.length <= cap) {
              var dd = 0L
              val b = Array.newBuilder[Long]
              actRows.foreach { r =>
                if (r.getLong(1) == 0L) dd += r.getLong(2) + shiftPre
                else b += r.getLong(0) }
              val ids = b.result()
              (dd, ids.length.toLong, Some(ids))
            } else {
              val aggRow = traced(batchId, s"dang_delta_r$k") { activeS.agg(
                coalesce(sum(when(col("out_n") === 0,
                  col("r_a") + lit(shiftPre))), lit(0L)).as("dd"),
                count(when(col("out_n") > 0, lit(1))).as("npos"))
                .collect().head }
              (aggRow.getLong(0), aggRow.getLong(1), None)
            }
          shift += PushRank.gtermOf(dang + dangDelta, nn1) -
            PushRank.gtermOf(dang, nn1)
          dang += dangDelta
          // exact per-edge new-minus-old deltas over the frontier's
          // out-edges — frontier-scale driver range list in the
          // incremental regime, one full scan + semi-join past
          // RangeListCap (bulk convergence, where the frontier IS the
          // corpus and a range list would be corpus-scale)
          val aEdges =
            if (nASrcs == 0) emptyEdges(spark)
            else {
              val idsOpt = aSrcIdsOpt.orElse(
                if (nASrcs > cap) None
                else Some(traced(batchId, s"asrc_collect_r$k") {
                  activeS.filter(col("out_n") > 0).select(col("src"))
                    .collect().map(_.getLong(0)) }))
              idsOpt match {
                case Some(ids) =>
                  readEdges(v, ids.sorted.map(s => (s"$s ", s"$s!")).toSeq)
                    .filter(col("n") > 0)
                    .join(ids.toSeq.toDF("src"), Seq("src"), "left_semi")
                    .select(col("src"), col("dst"), col("n"))
                case None =>
                  SnapshotTable.readVersion(spark, rt.edges, v)
                    .filter(col("n") > 0)
                    .join(activeS.filter(col("out_n") > 0)
                      .select(col("src")), Seq("src"), "left_semi")
                    .select(col("src"), col("dst"), col("n"))
              }
            }
          // persisted: drR feeds the out-neighbor tile discovery AND
          // both overlay branches (three consumers of the pruned-edge
          // delta subtree)
          val drR = graft.CacheRegistry.persist(
            ppmOf(aEdges).join(activeS, "src")
              .select(col("dst"),
                (expr(s"($Damp * ((p_new * p_ppm) div 1000000)) div 100") -
                  expr(s"($Damp * ((p_old * p_ppm) div 1000000)) div 100"))
                  .as("d"))
              .groupBy(col("dst")).agg(sum(col("d")).as("dr"))
              .select(col("dst").as("node"), col("dr"))
              .filter(col("dr") =!= 0))
          // out-neighbors not yet in the overlay enter it now
          val needFromTable = drR.select(col("node"))
            .join(overlay.select(col("node")), Seq("node"), "left_anti")
          val tableRows = prevStateV.map { pv =>
            readState(pv, SnapshotTable.Prune.Keys(needFromTable))
              .join(needFromTable, Seq("node"), "left_semi")
          }.getOrElse(emptyState(spark))
          // pushed node: p += r_true, stored r ← (incoming dr − shiftPre)
          // (gterm's uniform shift cancels into `shift` for everyone);
          // non-pushed: stored r += dr
          val activeNodes = active.select(col("node"))
          val nextNonActive = overlay
            .join(activeNodes, Seq("node"), "left_anti")
            .unionByName(tableRows
              .join(activeNodes, Seq("node"), "left_anti"))
            .join(drR, Seq("node"), "left")
            .select(col("node"), col("out_n"), col("p"),
              (col("r") + coalesce(col("dr"), lit(0L))).as("r"))
          val nextActive = active.join(drR, Seq("node"), "left")
            .select(col("node"), col("out_n"),
              (col("p") + col("r") + lit(shiftPre)).as("p"),
              (coalesce(col("dr"), lit(0L)) - lit(shiftPre)).as("r"))
          val prevOverlay = overlay
          overlay = traced(batchId, s"overlay_r$k") { graft.CacheRegistry.materialize(
            nextNonActive.unionByName(nextActive)) }
          // materialize cut the lineage and cached the new overlay —
          // the superseded round frames release NOW, or a long drain
          // (bulk convergence) pins O(rounds) corpus-sized copies
          graft.CacheRegistry.releaseMaterialized(prevOverlay)
          graft.CacheRegistry.releaseMaterialized(active)
        }
      }

      // ---- 10. one tile-local state commit + the scalar sidecar -----
      traced(batchId, "state_commit") { prevStateV match {
        case None => SnapshotTable.publish(overlay, rt.state, v,
          statsCols = Seq("node", "r"), clusterFiles = Some(clusterFiles),
          rowFingerprints = false)
        case Some(_) =>
          // statePlans is the union of every prevStateV read's plan — its
          // tiles are a SUPERSET of the overlay's (see its declaration),
          // so merge skips its own key→tile discovery job; an extra tile
          // rewrites to identical content
          SnapshotTable.merge(overlay, rt.state, "node", v,
            clusterFiles = Some(clusterFiles), rowFingerprints = false,
            knownPlan = statePlans)
      } }
      traced(batchId, "scalars_commit") { SnapshotTable.publish(Seq((nn1, dang, shift)).toDF(
        "nn", "dang", "shift"), rt.scalars, v) }
    } finally {
      deltas.unpersist(blocking = false)
    } }
  }

  /** The maintained state at its committed head, with TRUE residuals
    * (stored + shift). None before the first batch.
    */
  def liveState(spark: SparkSession, rt: Roots): Option[DataFrame] =
    for {
      sv <- SnapshotTable.latestVersion(rt.state)
      cv <- SnapshotTable.latestVersion(rt.scalars)
    } yield {
      val shift = SnapshotTable.readVersion(spark, rt.scalars, cv)
        .collect().head.getAs[Long]("shift")
      SnapshotTable.readVersion(spark, rt.state, sv)
        .select(col("node"), col("out_n"), col("p"),
          (col("r") + lit(shift)).as("r"))
    }

  /** ‖r_true‖₁ — the live certificate: the serve's distance to the exact
    * fixpoint is at most this × 100/(100 − d). One map-side aggregation;
    * the per-batch repair never needs it (pushes threshold row-locally).
    */
  def residualMass(spark: SparkSession, rt: Roots): Option[Long] =
    liveState(spark, rt).map(
      _.agg(coalesce(sum(abs(col("r"))), lit(0L)))
        .collect().head.getLong(0))
}
