package graft.streaming

import graft.operators.{InvertedIndex, LsmIndex, Retrieval}
import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Ranked search AS IT DEPLOYS: the corpus arrives as micro-batches, the
  * ingest path maintains (a) the LSM-segment inverted index
  * ([[graft.operators.LsmIndex]] — bytes written ∝ batch) plus (b) ONE
  * additively-maintained BM25 statistics [[SnapshotTable]], and QUERY
  * TIME never rescans the corpus.
  *
  * The stat table is a single kind-prefixed key space (the Delta
  * one-commit-per-batch discipline — one merge, one CAS, one
  * crash-consistency unit per batch, instead of a commit per stat
  * family):
  *
  *  - `a:<metric>` — the 2-row corpus counters (`n_docs`, `total_dl`);
  *  - `d:<token>` — token document frequencies (a document arrives in
  *    exactly one batch, so per-batch postings-row counts sum to corpus
  *    df with no retraction);
  *  - `l:<doc_id zero-padded to 12>` — document lengths (pure inserts;
  *    the padding keeps lexicographic order = numeric order, so
  *    ascending arrival appends to the TAIL tiles instead of rewriting
  *    the whole key range, and candidate-doc pruning stays exact).
  *
  * The prefixes also SEGREGATE in the range-clustered layout (`a:` <
  * `d:` < `l:`), so each serving read prunes to its kind's tiles:
  * query formulation reads only `d:` tiles, the counter row only `a:`,
  * and candidate doc lengths only the `l:` tiles
  * a [[SnapshotTable.Prune.Keys]] plan discovers from the candidate ids.
  *
  * [[serve]] is the query-time path: query terms off the maintained df
  * rows (one TakeOrdered over the vocab relation — query FORMULATION; a
  * real engine takes literal user terms and skips even that), per-term
  * postings off [[LsmIndex.termLookup]]'s pruned segment reads (≤1 file
  * per live segment), candidate doc lengths off candidate tiles, and
  * the math is [[Retrieval.bm25Scores]] / [[Retrieval.topDocs]]
  * VERBATIM — so the maintained ranking is oracle-checked against the
  * relational corpus-scan truth (`search_bm25`'s DuckDB SQL, reused
  * verbatim by `search_bm25_maintained`).
  *
  * Exactly-once: the stat table versions by batch id through
  * [[AdditiveFold]] (replayed batches short-circuit at the merge CAS);
  * the index applies its own idempotent segment discipline. The
  * fresh-checkpoint guard cross-checks BOTH roots (the [[CollocStream]]
  * half-wipe lesson): within a batch the index writes first, so stats
  * ahead of the index, a fresh stat table beside index state not at
  * exactly this batch, or a batch id behind either root all fail
  * loudly.
  *
  * Reference semantic anchor: keyword ranking
  * `RT/app/dws/KeywordStatsApp.java` ranks split words by windowed
  * counts; this operator is the full-relevance upgrade of that stage
  * (tf·idf with length normalization), maintained incrementally.
  */
object SearchStream {

  private[graft] def indexRoot(root: String) = s"$root/index"
  private[graft] def statsRoot(root: String) = s"$root/stats"

  /** doc_id rendered into the `l:` key space: zero-padded so lex order
    * is numeric order (documented bound: ids below 1e12).
    */
  private def dlKey(docId: org.apache.spark.sql.Column) =
    concat(lit("l:"), lpad(docId.cast("string"), 12, "0"))

  /** Contiguous doc-id range batches — the realistic arrival order (new
    * documents take new ids), which is also what keeps each batch's `l:`
    * keys appending to the stat table's TAIL tiles instead of
    * scattering a rewrite across every tile. Shared by the oracled
    * query and the phase probe so both measure the same shape; the
    * min/max bounds are one 1-row driver action.
    */
  def contiguousBatches(docs: DataFrame, n: Int): Seq[DataFrame] = {
    val Array(mn, mx) = docs.agg(min(col("doc_id")), max(col("doc_id")))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val span = mx - mn + 1
    (0 until n).map(b => docs.filter(
      col("doc_id") >= mn + b * span / n &&
        col("doc_id") < mn + (b + 1) * span / n))
  }

  def start(docs: DataFrame, root: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root)
      }
      .start()

  /** One micro-batch of (doc_id, text) rows: a fresh index segment plus
    * ONE additive stat fold. Idempotent per batchId. `maxSegments` is
    * the LSM compaction cap (the lookup-fan-out knob).
    */
  def applyBatch(input: DataFrame, batchId: Long, root: String,
      maxSegments: Int = LsmIndex.MaxSegments): Unit = {
    val batch = graft.GraftSession.microBatch(input) match {
      case Some(b) => b
      case None => return
    }
    val statHead = SnapshotTable.latestVersion(statsRoot(root))
      .map(_.drop(1).toLong)
    val idxMax = LsmIndex.liveSegments(indexRoot(root))
      .flatMap(s => "seg_(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toLong))
      .maxOption
    if (statHead.isEmpty && idxMax.nonEmpty)
      // the only legal fresh-stats state: a crash during the FIRST
      // batch, after its segment add but before the stat fold — which
      // leaves exactly ONE live segment, this batch's. A multi-segment
      // index beside fresh stats is a wiped stat table even when the
      // replayed id matches the newest segment.
      require(idxMax.contains(batchId) &&
          LsmIndex.liveSegments(indexRoot(root)).size == 1,
        s"SearchStream batch $batchId: the stat table under $root is " +
          s"fresh but the index has segments up to ${idxMax.get} — a " +
          "wiped stat table (fresh checkpoint against partial state); " +
          "wipe the whole search root and the checkpoint together.")
    statHead.foreach { sh =>
      require(idxMax.exists(_ >= sh),
        s"SearchStream batch $batchId: the stat table under $root is at " +
          s"v$sh but the index has no segment that far — the index was " +
          "wiped out from under its stat table (fresh checkpoint against " +
          "partial state); wipe the whole search root together.")
    }
    (statHead.toSeq ++ idxMax).maxOption.foreach { mx =>
      require(batchId >= mx,
        s"SearchStream batch $batchId is behind $root's published state " +
          s"at $mx: fresh checkpoint against an existing search root — " +
          "wipe the search root and the checkpoint together, or resume " +
          "the original.")
    }
    // ONE tokenize pass feeds the index segment AND all three stat
    // families; the stat deltas union into ONE fold so the batch
    // commits its statistics atomically
    val post = InvertedIndex.keyedPostings(batch).persist()
    try {
      LsmIndex.applyPostings(post, batchId, indexRoot(root), maxSegments)
      val dfD = post.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .select(concat(lit("d:"), col("token")).as("sk"), col("token"),
          lit(null).cast("long").as("doc_id"), col("cnt"))
      val dlD = post.groupBy(col("doc_id")).agg(sum(col("tf")).as("cnt"))
        .select(dlKey(col("doc_id")).as("sk"),
          lit(null).cast("string").as("token"), col("doc_id"), col("cnt"))
      val aggD = post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
        .select(explode(map(
          lit("a:n_docs"), col("n_docs"),
          lit("a:total_dl"), col("total_dl"))).as(Seq("sk", "cnt")))
        .select(col("sk"), lit(null).cast("string").as("token"),
          lit(null).cast("long").as("doc_id"), col("cnt"))
      AdditiveFold.foldInto(dfD.unionByName(dlD).unionByName(aggD),
        statsRoot(root), "sk", "cnt", "cnt", batchId, clusterFiles = 8,
        carried = Seq("token", "doc_id"))
    } finally { post.unpersist(blocking = false); () }
  }

  /** The rows of the stats table `sr` at `head` that `prune` on the
    * `sk` key can need.
    */
  private def readSk(spark: SparkSession, sr: String, head: String,
      prune: SnapshotTable.Prune): DataFrame =
    SnapshotTable.readFiles(spark, sr,
      SnapshotTable.plan(spark, sr, head, "sk", prune))

  /** The maintained df relation (token, df) at a published head — the
    * query-formulation input, pruned to the `d:` tiles.
    */
  private[graft] def dfRelation(spark: SparkSession, root: String,
      head: String): DataFrame =
    readSk(spark, statsRoot(root), head,
        SnapshotTable.Prune.Range("sk", "d:", "d;"))
      .filter(col("sk").startsWith("d:"))
      .select(col("token"), col("cnt").as("df"))

  /** BM25 per-(doc, term) scores off maintained state for EXPLICIT query
    * terms, every read pinned to the ONE captured `head` — a concurrent
    * ingest fold committing mid-serve must not mix versions within a
    * single ranking. Shared by [[serve]] (df-ranked 3-term formulation)
    * and the hybrid fused read (caller-supplied terms).
    */
  private[graft] def scoredAt(spark: SparkSession, root: String,
      head: String, qtRows: Seq[(String, Long)]): DataFrame =
    scoredAtPanel(spark, root, head,
      qtRows.map { case (t, df) => (0L, t, df) }).drop("qid")

  /** The QUERY-PANEL form of [[scoredAt]] — (qid, token, df) rows for N
    * concurrent queries: each DISTINCT token's postings are looked up
    * ONCE (term lookups stay query-term-bounded, not query-COUNT-
    * bounded), and a posting row fans out to the queries containing its
    * term through the broadcast qterms join — the
    * [[graft.operators.Retrieval]] `search_bm25_multi` discipline moved
    * onto maintained state.
    */
  private[graft] def scoredAtPanel(spark: SparkSession, root: String,
      head: String, panelRows: Seq[(Long, String, Long)]): DataFrame = {
    val sr = statsRoot(root)
    import spark.implicits._
    val qterms = panelRows.toDF("qid", "token", "df")
    val qtRows = panelRows.map { case (_, t, df) => (t, df) }.distinct
    // avgdl via the SAME double-op sequence the corpus derivation uses
    // (long * 1.0 / long), so maintained scores are bit-equal
    val stats = readSk(spark, sr, head,
        SnapshotTable.Prune.Range("sk", "a:", "a;"))
      .groupBy()
      .agg(max(when(col("sk") === "a:n_docs", col("cnt"))).as("n_docs"),
        max(when(col("sk") === "a:total_dl", col("cnt"))).as("total_dl"))
      .select(col("n_docs"),
        (col("total_dl") * lit(1.0) / col("n_docs")).as("avgdl"))
    val postings = qtRows
      .map { case (t, _) => LsmIndex.termLookup(spark, indexRoot(root), t) }
      .reduceOption(_ unionByName _)
      .getOrElse(spark.range(0)
        .select(lit("").as("token"), lit(0L).as("doc_id"), lit(0L).as("tf"))
        .limit(0))
      .select(col("token"), col("doc_id"), col("tf"))
    val cand = graft.CacheRegistry.persist(postings)
    // candidate doc lengths: candidate TILES of the `l:` key range,
    // never the corpus — the join stays candidate-proportional
    val dl = readSk(spark, sr, head,
        SnapshotTable.Prune.Keys(cand.select(dlKey(col("doc_id")).as("sk"))))
      .filter(col("sk").startsWith("l:"))
      .select(col("doc_id"), col("cnt").as("dl"))
    Retrieval.bm25Scores(cand, qterms, dl, stats)
  }

  /** The maintained BM25 ranking — the query-time path. Returns None
    * before the first batch lands.
    */
  def serve(spark: SparkSession, root: String): Option[DataFrame] = for {
    head <- SnapshotTable.latestVersion(statsRoot(root))
  } yield {
    // the ONE corpus-relation pass at query time: the d:-tile
    // TakeOrdered that FORMULATES the 3-term query; the ≤3 collected
    // rows re-emit as a LOCAL frame, so the scoring join's broadcast
    // side costs no second tile read
    val qtRows = Retrieval.queryTerms(dfRelation(spark, root, head))
      .collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    Retrieval.topDocs(scoredAt(spark, root, head, qtRows))
  }
}
