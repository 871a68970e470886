package graft.streaming

import graft.operators.EmbedPca
import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the spectral stage ([[graft.operators.EmbedPca]]):
  * embedding rows arrive as micro-batches and the statistics the
  * eigen-solve reads — row count n, per-dim sums Σx, and the
  * upper-triangle second moments Σxxᵀ — are maintained ADDITIVELY in one
  * SnapshotTable (a vector lands in exactly one micro-batch, so
  * per-batch moment deltas sum to the corpus moments with no
  * retraction: the clean IVM case, like [[CollocStream]]'s counts, and
  * the exact opposite of [[RankStream]]'s corpus-proportional rebuild).
  *
  * Per-batch cost: one batch·d² delta pass plus a merge over a
  * CONSTANT-SIZE key space — 1 + d + d(d+1)/2 keys (d = 64 →
  * 1 + 64 + 2080 = 2145 rows) regardless of corpus size, the smallest
  * maintained state of any twin in the engine. Serving is
  * a collect of those rows into [[EmbedPca.solveFromStats]] VERBATIM,
  * so streamed ≡ batch is structural on the moments (additivity) and
  * shared-code on the solve — checked cross-engine by the
  * `embed_pca_stream_maintained` oracle (the batch query's SQL
  * verbatim).
  *
  * Key packing (single-BIGINT merge key, d < 99999 by construction):
  * kk = 0 → n; kk = (i+1)·10⁵ → Σxᵢ; kk = (i+1)·10⁵ + (j+1) with
  * j ≥ i → Σxᵢxⱼ. Values are BIGINT: |Σxᵢxⱼ| ≤ n·(1000·max|coord|)²,
  * safe past 3e13 rows at unit-norm coordinates. The per-batch deltas
  * accumulate in DECIMAL(38,0) (exact at any batch size — a long sum
  * would wrap silently under non-ANSI Spark), and BOTH the delta and the
  * merged table are guarded to |v| < 2^61 per batch, so every long
  * addition inside the fold is provably exact and a corpus past the
  * bound fails LOUDLY naming the migration (value column →
  * DECIMAL(38,0); [[AdditiveFold]] is type-agnostic) instead of
  * breaking the streamed-equals-batch law silently.
  *
  * Exactly-once: the table versions by batch id; a replayed batch
  * short-circuits the merge ([[AdditiveFold]]'s discipline); the
  * fresh-checkpoint guard rejects a wiped checkpoint against a
  * surviving table.
  */
object PcaStream {

  def start(emb: DataFrame, root: String,
      checkpointDir: String): StreamingQuery =
    emb.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root)
      }
      .start()

  /** All three moment kinds in ONE explode — per row: the d(d+1)/2
    * upper-triangle products, the d coordinate sums, and a count-1 cell
    * — so the batch is scanned once and the delta aggregation is a
    * single map-side-combinable groupBy over ≤ 2 145 keys. The per-row
    * expansion is the codegen'd [[graft.expressions.MomentCells]]
    * kernel, kk-packed exactly as the declarative lambda it replaced
    * (the fold's key space and every committed tile are untouched; the
    * interpreted nested-transform was the spectral family's measured
    * d = 1024 ceiling, see [[graft.expressions.TriMoments]]).
    */
  private val momentSql = "moment_cells(fx)"

  /** One micro-batch of (…, embedding) rows: fold its moment deltas into
    * the maintained table. Idempotent per batchId.
    */
  def applyBatch(input: DataFrame, batchId: Long, root: String,
      clusterFiles: Int = 8): Unit = {
    VersionedState.requireNotBehind("PcaStream", root, batchId, "the table")
    val batch = graft.GraftSession.microBatch(input) match {
      case Some(b) => b
      case None => return
    }
    // persisted cache boundary: without it CollapseProject inlines the
    // floor transform into the pair lambda and re-floors d times per row
    // (the PLANS.md lambda trap EmbedPca documents)
    val fx = batch.select(expr(EmbedPca.floorSql).as("fx")).persist()
    // batch-scoped registry release (CacheRegistry.scoped): frames
    // registered by this batch free on exit without dropping the
    // caller's own cross-batch persists
    graft.CacheRegistry.scoped { try {
      // LOUD at the packing bound, BEFORE the d² explode: kk =
      // (i+1)·10⁵ + (j+1) collides with the next dimension's sum key at
      // d ≥ 10⁵, which would silently merge unrelated moments
      val d = fx.agg(max(size(col("fx")))).collect().head.getInt(0)
      require(d < 100000,
        s"PcaStream: embedding dimension $d exceeds the moment-key " +
          "packing bound (d < 100000) — widen the kk packing before " +
          "ingesting vectors this wide")
      // the per-batch deltas accumulate in DECIMAL(38,0) — exact at any
      // batch size, where a LongType sum would WRAP silently under
      // non-ANSI Spark past the ~3e13-row moment bound — and downcast to
      // the table's BIGINT only after the driver-side magnitude guard
      // below proves they fit with headroom
      val deltas = fx.select(explode(expr(momentSql)).as("m"))
        .select(col("m.kk").as("kk"), col("m.v").as("v"))
        .groupBy(col("kk"))
        .agg(sum(col("v").cast("decimal(38,0)")).as("vd"))
        .persist()
      try {
        requireWithinBound(deltas, "vd",
          s"PcaStream batch $batchId moment delta")
        AdditiveFold.foldInto(
          deltas.select(col("kk"), col("vd").cast("long").as("v")),
          root, "kk", "v", "v", batchId, clusterFiles,
          extraStatsCols = Seq("v"))
      } finally { deltas.unpersist(blocking = false); () }
      // post-fold: the MERGED values stay under the bound too. Induction
      // keeps every long addition exact: |old| < 2^61 (this check, last
      // batch) and |delta| < 2^61 (the check above) mean |old + delta| <
      // 2^62 < Long.Max — no wrap inside the fold — and this check then
      // re-establishes the invariant or fails LOUDLY naming the fix
      // (swap the fold's value column to DECIMAL(38,0)) instead of
      // letting the streamed-equals-batch law break silently.
      // the merged-table magnitude re-check reads the fold's own v
      // stats — pure metadata; a stats-less table (not produced by this
      // fold) falls back to the scan form
      SnapshotTable.latestVersion(root).foreach { v =>
        val what = s"PcaStream maintained moment table after batch $batchId"
        SnapshotTable.statsMaxAbsLong(root, v, "v") match {
          case Some(m) =>
            require(BigDecimal(m) < MomentBound,
              s"$what magnitude $m exceeds the BIGINT headroom bound " +
                s"$MomentBound — the corpus has outgrown the long-valued " +
                "moment table; migrate the fold value column to " +
                "DECIMAL(38,0) (AdditiveFold is type-agnostic)")
          case None => requireWithinBound(
            SnapshotTable.readVersion(batch.sparkSession, root, v), "v", what)
        }
      }
    } finally { fx.unpersist(blocking = false); () } }
  }

  /** |max| headroom bound for the BIGINT moment table: 2^61, so one
    * guarded delta added to one guarded maintained value cannot reach
    * Long overflow (2^61 + 2^61 = 2^62 < 2^63).
    */
  private val MomentBound = BigDecimal(2).pow(61)

  private def requireWithinBound(df: DataFrame, valueCol: String,
      what: String): Unit = {
    val m = df.agg(max(abs(col(valueCol).cast("decimal(38,0)")))).collect()
      .head.getDecimal(0)
    require(m == null || BigDecimal(m).abs < MomentBound,
      s"$what magnitude $m exceeds the BIGINT headroom bound " +
        s"$MomentBound — the corpus has outgrown the long-valued moment " +
        "table; migrate the fold value column to DECIMAL(38,0) " +
        "(AdditiveFold is type-agnostic)")
  }

  /** The solved model off the maintained table — a collect of the
    * constant-size stat rows into the batch eigen-solve verbatim.
    */
  def liveModel(spark: SparkSession, root: String): Option[EmbedPca.Model] =
    SnapshotTable.latestVersion(root).map(v => modelAt(spark, root, v))

  /** The model at a PUBLISHED version — version ids are batch ids, so
    * this is the spectral state as of that batch: the time-travel read
    * the drift monitor (`embed_pc_drift`) diffs consecutive versions
    * with.
    */
  def modelAt(spark: SparkSession, root: String,
      version: String): EmbedPca.Model = {
    val m = SnapshotTable.readVersion(spark, root, version)
      .select(col("kk"), col("v")).collect()
      .map(r => r.getLong(0) -> BigInt(r.getLong(1))).toMap
    val n = m(0L)
    val d = m.keysIterator.map(k => (k / 100000).toInt).max
    val sx = Array.tabulate(d)(i => m((i + 1) * 100000L))
    val tri = for { i <- 0 until d; j <- i until d }
      yield (i, j, m((i + 1) * 100000L + j + 1))
    EmbedPca.solveFromStats(n, sx, tri)
  }
}
