package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental dedup against a PERSISTED corpus index — the re-crawl
  * reality a one-shot dedup ([[Dedup.minhashLsh]]) doesn't model: a new
  * batch must be deduplicated against everything already ingested WITHOUT
  * re-pairing the old corpus against itself.
  *
  * Index layout (parquet, the durable state between crawls):
  *  - `bands/`    — (doc_id, band, sig): the [[Dedup.bandFrame]] LSH
  *    signatures. Band sigs are built from minhash windows 1-9, which are
  *    prefix-stable under the `minhash18` widening, so stored sigs remain
  *    joinable after a signature-width upgrade.
  *  - `shingles/` — (doc_id, sg): the shingle sets Jaccard verification
  *    reads (at warehouse scale this store is the doc-sketch column of the
  *    corpus table itself; it is materialized here to make the index
  *    self-contained).
  *
  * Per-crawl cost: ONE equi-join of the index's band table against the new
  * batch's bands — O(index x batch collisions), never O(corpus²). The old
  * corpus is re-read (a scan), never re-paired (no A x A candidates).
  * Ingesting the batch is an APPEND of its band/shingle rows — the index
  * delta. Each table is logically BASE ∪ DELTAS: [[compactIndex]]
  * periodically folds the deltas into a new atomically-published
  * [[graft.sources.SnapshotTable]] base (bounding file count, collapsing
  * at-least-once replay duplicates, and — with a keepers frame — pruning
  * dropped docs so index rows stay proportional to the RETAINED corpus).
  *
  * Keep/drop semantics: arrival order is priority order — a doc is dropped
  * iff it has a verified match (Jaccard ≥ 0.5) with ANY earlier-arrived
  * doc (earlier batch, or same batch with smaller doc_id), and `dup_of` is
  * its smallest such partner. Because the query splits `documents` into
  * batches BY doc_id (first half = previous crawl), arrival order equals
  * doc_id order and the incremental result is provably identical to the
  * one-shot rule "dropped iff some verified pair (a, doc) with a < doc" —
  * which is exactly what the oracle computes from the full pair table, so
  * the hash match IS the batch-equivalence proof (IncrementalDedupSpec
  * additionally proves it in-engine against [[Dedup.minhashLsh]] pairs).
  */
object IncrementalDedup {

  /** Index root for a given source dir (per-sf so concurrent scale runs
    * never share state).
    */
  private[graft] def indexDir(sfDir: String): String =
    SnapshotDiff.scratchRoot("band_index", sfDir)

  /** Marker a live [[graft.streaming.DedupStream]] plants in the index
    * root so batch maintenance ([[clearIndex]], [[compactIndex]]) cannot
    * delete state out from under a running stream — the next micro-batch
    * would silently restart from an empty index and emit wrong verdicts.
    */
  private val StreamMarker = "_STREAM_ACTIVE"

  private def fsOf(spark: SparkSession, dir: String) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  private[graft] def markStreamActive(spark: SparkSession, idx: String): Unit = {
    val (fs, _) = fsOf(spark, idx)
    fs.create(new org.apache.hadoop.fs.Path(s"$idx/$StreamMarker"), true).close()
  }

  private[graft] def clearStreamMarker(spark: SparkSession, idx: String): Unit = {
    val (fs, _) = fsOf(spark, idx)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/$StreamMarker"), false)
    ()
  }

  private[graft] def streamActive(spark: SparkSession, idx: String): Boolean = {
    val (fs, _) = fsOf(spark, idx)
    fs.exists(new org.apache.hadoop.fs.Path(s"$idx/$StreamMarker"))
  }

  /** Delete the index root — the bootstrap of a fresh crawl sequence.
    * Refuses while a stream is live on this index (marker present);
    * `force` overrides for crash-recovery of a stale marker.
    */
  private[graft] def clearIndex(spark: SparkSession, idx: String,
      force: Boolean = false): Unit = {
    if (!force && streamActive(spark, idx))
      throw new IllegalStateException(
        s"refusing clearIndex($idx): a dedup stream is live on this index " +
          "(stop the stream, or force=true to clear a stale crash marker)")
    val (fs, path) = fsOf(spark, idx)
    fs.delete(path, true)
    ()
  }

  /** Read one flat parquet dir, or a schema-stable empty frame when it
    * does not exist yet. The reader frame lists files at CREATION time,
    * so a frame created here never sees rows appended afterwards —
    * callers rely on that to dedup a batch against the index state
    * BEFORE the batch's own append.
    */
  private def readIndexOr(spark: SparkSession, dir: String,
      empty: DataFrame): DataFrame = {
    val (fs, path) = fsOf(spark, dir)
    if (fs.exists(path)) spark.read.parquet(dir) else empty
  }

  /** One logical index table = the compacted BASE (latest
    * [[graft.sources.SnapshotTable]] version under `<idx>/<table>_base`,
    * absent before the first compaction) ∪ the flat append DELTAS at
    * `<idx>/<table>`. Appends stay cheap (one parquet append per crawl);
    * compaction folds deltas into a new atomically-published base.
    */
  private def indexTable(spark: SparkSession, idx: String, table: String,
      empty: DataFrame): DataFrame = {
    val base = graft.sources.SnapshotTable.read(spark, s"$idx/${table}_base")
      .getOrElse(empty)
    base.unionByName(readIndexOr(spark, s"$idx/$table", empty))
  }

  private def emptyBandsOf(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("doc_id"),
      lit(1).as("band"), lit("").as("sig"))

  private def emptyShinglesOf(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("doc_id"),
      array().cast("array<string>").as("sg"))

  /** Fold the accumulated append deltas (plus the previous base) into ONE
    * atomically-published base version and clear the delta dirs — the
    * maintenance pass that bounds both FILE COUNT (per-crawl appends grow
    * it monotonically; after compaction the index is one snapshot
    * directory per table) and, with `keepers`, ROW COUNT.
    *
    * `keepers` (doc_id column) prunes the index to the RETAINED corpus:
    * dropped docs' band/shingle rows are removed, so index rows are
    * bounded by 3 band rows + 1 shingle row per KEPT doc regardless of how
    * many crawls ingested. Semantics note, documented not hidden: under
    * the any-earlier-doc rule a future doc whose ONLY verified partner
    * was a dropped doc (a chain a<b<c where c matches b but not a) is
    * kept after pruning — pruned compaction implements the
    * "dedup against what you actually retained" policy, which is the
    * production crawl-pipeline contract. Pass `keepers = None` for pure
    * file compaction (replay-duplicate collapse only): that preserves the
    * any-earlier-doc verdicts bit-exactly.
    *
    * Crash safety: the new base publishes atomically FIRST
    * ([[graft.sources.SnapshotTable.publish]]); the delta delete follows.
    * A crash between the two leaves rows present in both base and delta —
    * duplicates the verdict path already tolerates (candidates are
    * distinct-collapsed, verdicts min-aggregated), so recovery is rerun,
    * not repair. Run compaction BETWEEN crawls (it rewrites files a
    * not-yet-executed verdict plan may still reference), and never while
    * a stream is live — the marker guard refuses.
    */
  private[graft] def compactIndex(spark: SparkSession, idx: String,
      keepers: Option[DataFrame] = None): Unit = {
    if (streamActive(spark, idx))
      throw new IllegalStateException(
        s"refusing compactIndex($idx): a dedup stream is live on this index")
    val prune = (df: DataFrame) => keepers match {
      case Some(k) => df.join(k.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      case None => df
    }
    for ((table, empty) <- Seq("bands" -> emptyBandsOf(spark),
        "shingles" -> emptyShinglesOf(spark))) {
      val root = s"$idx/${table}_base"
      val next = "v" + (graft.sources.SnapshotTable.latestVersion(root)
        .map(_.drop(1).toLong + 1).getOrElse(0L))
      graft.sources.SnapshotTable.publish(
        prune(indexTable(spark, idx, table, empty).distinct()), root, next)
      val (fs, _) = fsOf(spark, idx)
      fs.delete(new org.apache.hadoop.fs.Path(s"$idx/$table"), true)
    }
  }

  /** Ingest ONE arriving batch: dedup it against the persisted index state
    * plus the batch itself (within-batch pairs stay oriented by
    * doc_a < doc_b), append the batch's band/shingle rows as the index
    * delta, and return the batch's verdict `(doc_id, is_keeper, dup_of)`.
    * This is the unit both the batch query ([[dedupBatches]]) and the
    * streaming twin ([[graft.streaming.DedupStream]]) run per
    * crawl/micro-batch; the contract is arrival order = doc_id order (ids
    * assigned monotonically across crawls), which is what makes the
    * incremental result provably identical to the one-shot "dropped iff
    * some verified pair (a, doc) with a < doc" rule.
    */
  private[graft] def ingestBatch(spark: SparkSession, docs: DataFrame,
      idx: String): DataFrame = {
    val sh = graft.CacheRegistry.persist(Dedup.shingleFrame(docs))
    val bands = graft.CacheRegistry.persist(Dedup.bandFrame(sh))
    // pre-append index state (empty on the first crawl): compacted base
    // snapshot ∪ the flat deltas appended since the last compaction
    val idxBands = indexTable(spark, idx, "bands", emptyBandsOf(spark))
    val idxSh = indexTable(spark, idx, "shingles", emptyShinglesOf(spark))
    // one join: (index ∪ batch) bands x batch bands only — never re-pairs
    // index x index (doc_b is always a batch doc)
    val drops = Dedup.jaccardVerify(
      Dedup.bandCandidates(idxBands.unionByName(bands), bands),
      idxSh.unionByName(sh), sh)
    // the index delta — appended AFTER the drop plan captured its
    // pre-append file listing, so the verdict stays vs prior state even
    // though it executes lazily at the caller's action
    bands.write.mode("append").parquet(s"$idx/bands")
    sh.write.mode("append").parquet(s"$idx/shingles")
    val dupOf = drops
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("dup_of"))
    docs.select("doc_id")
      .join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"),
        isnull(col("dup_of")).cast("long").as("is_keeper"),
        coalesce(col("dup_of"), lit(-1L)).cast("long").as("dup_of"))
  }

  /** The incremental pass over an (old batch, new batch) pair of document
    * frames: bootstrap a fresh index, ingest the old batch (the previous
    * crawl — its verdict is its own internal dedup, exactly as that crawl
    * would have computed it), then ingest the new batch against the
    * resulting index. Two [[ingestBatch]] calls; phase 2 never generates
    * an old x old candidate.
    */
  private[graft] def dedupBatches(spark: SparkSession, oldDocs: DataFrame,
      newDocs: DataFrame, idx: String): DataFrame = {
    clearIndex(spark, idx)
    val vOld = ingestBatch(spark, oldDocs, idx)
    val vNew = ingestBatch(spark, newDocs, idx)
    vOld.unionByName(vNew).orderBy("doc_id")
  }

  /** Oracled query: documents split at half the max doc id (computed in
    * the plan via a broadcast scalar, no driver collect) — first half is
    * the previous crawl, second half the new batch.
    */
  val incremental: GraftQuery = new GraftQuery {
    val name = "dedup_incremental"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Tables.load(spark, sfDir, "documents")
      val half = docs.agg(floor((max(col("doc_id")) + 1) / 2).cast("long").as("p"))
      val d = docs.crossJoin(broadcast(half))
      val oldDocs = d.filter(col("doc_id") < col("p")).drop("p")
      val newDocs = d.filter(col("doc_id") >= col("p")).drop("p")
      dedupBatches(spark, oldDocs, newDocs, indexDir(sfDir))
    }

    def oracle: Option[String] = Some(Dedup.duckMinhashCtes + """
      , drops AS (
        SELECT doc_b, min(doc_a) AS dup_of
        FROM v WHERE floor(inter * 10000.0 / uni) >= 5000
        GROUP BY doc_b)
      SELECT d.doc_id,
             CAST(CASE WHEN drops.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_keeper,
             CAST(coalesce(drops.dup_of, -1) AS BIGINT) AS dup_of
      FROM documents d
      LEFT JOIN drops ON d.doc_id = drops.doc_b
      ORDER BY d.doc_id
    """)
  }

  val all: Seq[GraftQuery] = Seq(incremental)
}
