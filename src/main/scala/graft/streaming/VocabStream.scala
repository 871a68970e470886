package graft.streaming

import graft.operators.{CorpusStats, InvertedIndex}
import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the Heaps'-law vocabulary-growth diagnostic
  * ([[CorpusStats.vocabGrowth]]): documents arrive as micro-batches and
  * the curve's three sufficient relations maintain incrementally —
  *
  *  - `dl` (doc_id → token count): count-fold, pure inserts (a document
  *    arrives in exactly one batch);
  *  - `firsts` (token → first doc_id): the MIN-fold
  *    ([[AdditiveFold.foldMinInto]]) — per-batch minima fold to corpus
  *    minima because min is associative/commutative/idempotent; this is
  *    the aggregate class the count folds can't express, and the
  *    NOVELTY monitor a live ingest reads (which batch minted which
  *    token — a minting rate that refuses to flatten means garble is
  *    inventing types).
  *
  * The report re-derives via [[CorpusStats.vocabGrowthFrom]] VERBATIM
  * (doc ids are the dl table's keys), so streamed ≡ batch rebuild after
  * every batch — structural on the state, shared-derivation on the
  * report, oracle-checked by `vocab_growth_stream_maintained` (the
  * batch query's SQL verbatim). Note the slice BOUNDARIES move as the
  * corpus grows (deciles are corpus-relative): the report is
  * corpus-sized like the divergence twin's, while the per-batch
  * MAINTENANCE cost stays ∝ batch vocabulary.
  *
  * Exactly-once: both tables version by batch id (replays short-circuit
  * at the merge CAS — and the min algebra makes replays no-ops even
  * without it); fresh-checkpoint guard across BOTH tables (the
  * [[CollocStream]] half-wipe lesson).
  */
object VocabStream {

  private[graft] def dlRoot(root: String) = s"$root/dl"
  private[graft] def firstsRoot(root: String) = s"$root/firsts"

  def start(docs: DataFrame, root: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root)
      }
      .start()

  /** One micro-batch of (doc_id, text) rows: one count-fold + one
    * MIN-fold off a single tokenize pass. Idempotent per batchId.
    */
  def applyBatch(input: DataFrame, batchId: Long, root: String): Unit = {
    val batch = graft.GraftSession.microBatch(input) match {
      case Some(b) => b
      case None => return
    }
    // cross-root guard (the CollocStream half-wipe lesson, tightened by
    // the SearchStream one): dl folds FIRST, so the only legal state
    // with exactly one fresh table is "crash during the FIRST batch,
    // between the folds" — dl a SINGLE-version table at exactly this
    // batch id, firsts fresh. Everything else is a wiped subset, and a
    // batch id behind either head is a fresh checkpoint.
    def head(r: String) = SnapshotTable.latestVersion(r).map(_.drop(1).toLong)
    (head(dlRoot(root)), head(firstsRoot(root))) match {
      case (None, Some(f)) =>
        throw new IllegalArgumentException(
          s"VocabStream batch $batchId: dl table under $root is fresh " +
            s"but firsts is at v$f — dl folds first, so it was wiped " +
            "(fresh checkpoint against partial state); wipe the whole " +
            "vocab root and the checkpoint together.")
      case (Some(d), None) =>
        require(d == batchId &&
          SnapshotTable.versions(dlRoot(root)) == Seq(s"v$d"),
          s"VocabStream batch $batchId: firsts table under $root is " +
            s"fresh beside a dl table at v$d — a wiped firsts table " +
            "(fresh checkpoint against partial state) unless this is " +
            "the first batch's own crash replay; wipe the whole vocab " +
            "root and the checkpoint together.")
      case (Some(d), Some(f)) =>
        require(d >= f && batchId >= d,
          s"VocabStream batch $batchId against dl v$d / firsts v$f " +
            s"under $root: fresh checkpoint against existing tables — " +
            "wipe both tables and the checkpoint together, or resume " +
            "the original.")
      case (None, None) => ()
    }
    val post = InvertedIndex.postings(batch).persist()
    try {
      // the doc registry comes from the BATCH, not the postings: a
      // token-less document (empty/punctuation-only text — exactly what
      // an OCR-garble diagnostic must count) has no posting rows but is
      // still a document of every slice, with dl = 0 (the batch query
      // and its oracle count ALL documents rows)
      val dlDeltas = batch.select(col("doc_id"))
        .join(post.groupBy(col("doc_id")).agg(sum(col("tf")).as("__dl")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("__dl"), lit(0L)).as("dl"))
      AdditiveFold.foldInto(dlDeltas,
        dlRoot(root), "doc_id", "dl", "dl", batchId, clusterFiles = 8)
      AdditiveFold.foldMinInto(
        post.groupBy(col("token")).agg(min(col("doc_id")).as("fd")),
        firstsRoot(root), "token", "fd", "fd", batchId, clusterFiles = 4)
    } finally { post.unpersist(blocking = false); () }
  }

  /** The growth curve over the maintained tables — the batch derivation
    * verbatim. Returns None before the first batch lands.
    */
  def liveCurve(spark: SparkSession, root: String): Option[DataFrame] = for {
    dl <- SnapshotTable.read(spark, dlRoot(root))
    firsts <- SnapshotTable.read(spark, firstsRoot(root))
  } yield CorpusStats.vocabGrowthFrom(
    dl.select(col("doc_id")),
    dl.select(col("doc_id"), col("dl")),
    firsts.select(col("token"), col("fd")))
}
