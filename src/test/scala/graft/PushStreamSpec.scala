package graft

import graft.operators.{PushRank, SnapshotDiff}
import graft.sources.SnapshotTable
import graft.streaming.PushStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental residual-push wrapper's load-bearing laws:
  *
  *  1. after EVERY committed batch — insertions, retractions, new
  *     nodes, dangling flips — the served TRUE residual equals
  *     [[PushRank.bellmanResidual]]'s from-scratch recompute over the
  *     current edge table BIT-FOR-BIT (the invariant the oracle's
  *     from-scratch formulation rests on);
  *  2. exactly-once: a replayed batch and a crash-between-commits
  *     replay (edge fold committed, state/scalars not) both land on the
  *     identical state;
  *  3. the fresh-checkpoint guard rejects a batch id behind the head;
  *  4. an overdrawing retraction fails by name;
  *  5. both sides of `RangeListCap` — the driver-side incremental path
  *     and the distributed fallback — commit identical state and scalars.
  */
class PushStreamSpec extends SparkSpec {
  import spark.implicits._

  private val Eps = 1000000L
  private val Rounds = 3

  /** 21-node deterministic graph (the PushRankSpec fixture): two
    * out-edges per node 0..19 with varied counts, node 20 dangling.
    */
  private def fullEdges: DataFrame =
    (0L until 20L).flatMap { i =>
      Seq((i, (i * 3 + 1) % 20, 1L + i % 3), (i, (i * 7 + 2) % 20, 2L),
        (i, 20L, 1L))
    }.toDF("src", "dst", "n")

  private def freshRoots(tag: String): PushStream.Roots = {
    val rt = PushStream.roots(SnapshotDiff.scratchRoot(tag, sf))
    Seq(rt.edges, rt.state, rt.scalars).foreach(SnapshotDiff.rmTree)
    rt
  }

  /** Batch b of 3: edges with (src+dst) % 3 == b−1, expanded to one
    * (src, dst, n_d) delta row carrying the count.
    */
  private def insBatch(b: Int): DataFrame =
    fullEdges.filter(pmod(col("src") + col("dst"), lit(3)) === (b - 1))
      .select(col("src"), col("dst"), col("n").as("n_d"))

  private def maintainedTrue(rt: PushStream.Roots): Map[Long, (Long, Long, Long)] =
    PushStream.liveState(spark, rt).get
      .collect()
      .map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("out_n"), r.getAs[Long]("p"), r.getAs[Long]("r"))))
      .toMap

  /** From-scratch Bellman residual of the maintained p over the CURRENT
    * committed edge table (n > 0), as (node → (out_n, p, r)).
    */
  private def recomputed(rt: PushStream.Roots): Map[Long, (Long, Long, Long)] = {
    val edges = SnapshotTable.read(spark, rt.edges).get
      .filter(col("n") > 0).select(col("src"), col("dst"), col("n"))
    val pppm = edges
      .join(edges.groupBy(col("src")).agg(sum(col("n")).as("o")), "src")
      .select(col("src"), col("dst"), expr("(n * 1000000) div o").as("p_ppm"))
    val st = PushStream.liveState(spark, rt).get
      .select(col("node"), col("out_n"), col("p"))
    PushRank.bellmanResidual(st, pppm).collect()
      .map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("out_n"), r.getAs[Long]("p"), r.getAs[Long]("r"))))
      .toMap
  }

  test("invariant: served true residual == from-scratch Bellman, every batch") {
    val rt = freshRoots("pushspec_inv")
    (1 to 3).foreach { b =>
      PushStream.applyBatch(insBatch(b), b.toLong, rt, Eps, Rounds)
      assert(maintainedTrue(rt) == recomputed(rt),
        s"invariant broke after insertion batch $b")
    }
    // batch 4: full retraction of the mod-5 class (signed repair), which
    // also flips node 5's sources' terms and leaves some nodes dangling
    val retract = SnapshotTable.read(spark, rt.edges).get
      .filter(pmod(col("src") + col("dst"), lit(5)) === 0 && col("n") > 0)
      .select(col("src"), col("dst"), (-col("n")).as("n_d"))
    PushStream.applyBatch(retract, 4L, rt, Eps, Rounds)
    assert(maintainedTrue(rt) == recomputed(rt),
      "invariant broke after the retraction batch")
    // the retraction seeded SIGNED residuals somewhere along the way and
    // the certificate stays meaningful: mass is finite and nonzero
    val mass = PushStream.residualMass(spark, rt).get
    assert(mass > 0, "residual mass collapsed to zero at eps > 0")
  }

  test("replay and crash-between-commits land on the identical state") {
    val rt = freshRoots("pushspec_replay")
    PushStream.applyBatch(insBatch(1), 1L, rt, Eps, Rounds)
    PushStream.applyBatch(insBatch(2), 2L, rt, Eps, Rounds)
    val before = maintainedTrue(rt)
    // full replay of batch 2: scalars head short-circuits
    PushStream.applyBatch(insBatch(2), 2L, rt, Eps, Rounds)
    assert(maintainedTrue(rt) == before, "full replay changed the state")
    // crash-between-commits: batch 3's EDGE fold committed, state and
    // scalars not — the replay must re-derive the same overlay from
    // reads pinned strictly below the batch id
    val d3 = insBatch(3)
      .groupBy(col("src"), col("dst")).agg(sum(col("n_d")).as("n_d"))
      .withColumn("edge_key", concat_ws(" ", col("src"), col("dst")))
    graft.streaming.AdditiveFold.foldInto(
      d3.select(col("edge_key"), col("src"), col("dst"), col("n_d")),
      rt.edges, "edge_key", "n_d", "n", 3L, 8,
      carried = Seq("src", "dst"))
    assert(SnapshotTable.latestVersion(rt.edges).contains("v3") &&
      SnapshotTable.latestVersion(rt.state).contains("v2"),
      "fixture failed to stage the partial commit")
    PushStream.applyBatch(insBatch(3), 3L, rt, Eps, Rounds)
    assert(maintainedTrue(rt) == recomputed(rt),
      "crash-window replay broke the invariant")
    assert(SnapshotTable.latestVersion(rt.state).contains("v3"))
  }

  test("fresh-checkpoint guard and overdraw retraction fail by name") {
    val rt = freshRoots("pushspec_guard")
    PushStream.applyBatch(insBatch(1), 1L, rt, Eps, Rounds)
    PushStream.applyBatch(insBatch(2), 2L, rt, Eps, Rounds)
    val behind = intercept[IllegalArgumentException] {
      PushStream.applyBatch(insBatch(1), 1L, rt, Eps, Rounds)
    }
    assert(behind.getMessage.contains("fresh checkpoint"))
    val over = intercept[IllegalArgumentException] {
      PushStream.applyBatch(
        Seq((0L, 1L, -1000L)).toDF("src", "dst", "n_d"), 3L, rt, Eps,
        Rounds)
    }
    assert(over.getMessage.contains("retraction"))
  }

  test("thresholded rounds shrink the residual mass batch over batch") {
    val rt = freshRoots("pushspec_mass")
    PushStream.applyBatch(insBatch(1), 1L, rt, Eps, Rounds)
    val m1 = PushStream.residualMass(spark, rt).get
    // replay-free extra rounds: an empty delta batch only pushes
    PushStream.applyBatch(
      spark.range(0).select(col("id").as("src"), col("id").as("dst"),
        col("id").as("n_d")), 2L, rt, Eps, Rounds)
    val m2 = PushStream.residualMass(spark, rt).get
    assert(m2 < m1, s"push rounds did not contract the residual: $m1 -> $m2")
    assert(maintainedTrue(rt) == recomputed(rt),
      "invariant broke under an empty-delta push batch")
  }

  test("both RangeListCap regimes commit identical state and scalars") {
    // bootstrap, insert, a signed retraction of the mod-5 class of the
    // inserted edges, and a replay of that retraction
    val retract = fullEdges
      .filter(pmod(col("src") + col("dst"), lit(3)) < 2 &&
        pmod(col("src") + col("dst"), lit(5)) === 0)
      .select(col("src"), col("dst"), (-col("n")).as("n_d"))
    val batches = Seq(1L -> insBatch(1), 2L -> insBatch(2), 3L -> retract,
      3L -> retract)
    def committed(rt: PushStream.Roots) = {
      val state = SnapshotTable.read(spark, rt.state).get.collect()
        .map(r => (r.getAs[Long]("node"), r.getAs[Long]("out_n"),
          r.getAs[Long]("p"), r.getAs[Long]("r"))).toSet
      val sc = SnapshotTable.read(spark, rt.scalars).get.collect().head
      (state, (sc.getAs[Long]("nn"), sc.getAs[Long]("dang"),
        sc.getAs[Long]("shift")))
    }
    // cap 0 sends every non-empty batch down the distributed branches
    // (frame-driven tile discovery, full-scan edge reads, aggregated
    // round scalars); the default cap keeps this fixture driver-side
    def run(tag: String, cap: Long) = {
      val rt = freshRoots(tag)
      val saved = PushStream.RangeListCap
      PushStream.RangeListCap = cap
      try batches.map { case (b, deltas) =>
        PushStream.applyBatch(deltas, b, rt, Eps, Rounds)
        assert(maintainedTrue(rt) == recomputed(rt),
          s"invariant broke after batch $b at cap $cap")
        committed(rt)
      } finally PushStream.RangeListCap = saved
    }
    val distributed = run("pushspec_cap0", 0L)
    val local = run("pushspec_capdefault", PushStream.RangeListCap)
    batches.indices.foreach { i =>
      assert(distributed(i) == local(i),
        s"regimes disagree after step ${i + 1} (batch ${batches(i)._1})")
    }
    assert(local(2) != local(1), "the retraction batch changed nothing")
  }
}
