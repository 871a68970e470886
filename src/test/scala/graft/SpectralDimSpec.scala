package graft

import org.apache.spark.sql.functions._
import graft.operators.EmbedPca

/** Pins the spectral family's behavior at the d-ceiling: the driver
  * solve stays exact at the largest measured width (d = 1024 — the
  * "Spectral d-ceiling" capture in BASELINE.md), and the maintained-table key
  * packing fails LOUDLY at its documented bound instead of silently
  * merging moments.
  */
class SpectralDimSpec extends SparkSpec {

  test("driver eigen-solve is exact at d = 1024 (rank-1 planted direction)") {
    // rank-1 scatter S = w·wT (n = 1, centered): the power iteration
    // must land exactly on trunc(w_i · 1e6 / max w) — every iteration's
    // renormalization cancels the rank-1 scale factor as exact rationals,
    // so the fixed point is reached at iteration 1 and held
    val d = 1024
    val w = Array.tabulate(d)(i => BigInt((i % 16) + 1))
    val wmax = w.max
    val sx = Array.fill(d)(BigInt(0))
    val tri = for { i <- 0 until d; j <- i until d } yield (i, j, w(i) * w(j))
    val m = EmbedPca.solveFromStats(BigInt(1), sx, tri)
    val expected = w.map(x => x * BigInt(1000000) / wmax)
    assert(m.v.sameElements(expected),
      s"solve diverged from the planted direction at d=$d")
  }

  test("PcaStream rejects d >= 100000 loudly (moment-key packing bound)") {
    val emb = spark.range(1).select(expr(
      "transform(sequence(1, 100000), j -> CAST(0.5 AS DOUBLE))")
      .as("embedding"))
    val root = graft.operators.SnapshotDiff.scratchRoot("dimspec", "guard")
    graft.operators.SnapshotDiff.rmTree(root)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.PcaStream.applyBatch(emb, 1L, root)
    }
    assert(e.getMessage.contains("packing bound"), e.getMessage)
  }
}
