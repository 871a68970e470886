package graft.streaming

import graft.operators.Similarity
import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** ANN serving off MAINTAINED state — the family's missing deployment
  * twin (dedup has incremental, search has the LSM index, PageRank has
  * the periodic publish; IVF rebuilt per query until now). Vectors
  * arrive as micro-batches; the maintained state is ONE [[SnapshotTable]]
  * with a kind-prefixed key space (the SearchStream discipline):
  *
  *  - `m:<cid pad 6>` — the PINNED centroid model: the 16 lowest vec_ids
  *    of the FIRST batch (train-on-first-batch, the standard IVF
  *    bootstrap; with id-ordered arrival these are the corpus's 16
  *    lowest ids — exactly `ann_ivf`'s deterministic seed model). Later
  *    batches READ the stored model and never retrain, so assignment is
  *    stable across the stream's lifetime.
  *  - `c:<cell pad 6>:<vec_id pad 12>` — cell postings: each vector's
  *    full row (v, nrm) under its top-1-cosine cell, assigned with the
  *    same codegen'd [[Similarity.cellRanked]] kernel the batch query
  *    uses. The cell prefix clusters a cell's postings into contiguous
  *    tiles, so a serve reads ONLY the probed cells' tiles.
  *
  * Per-batch cost: one map-only assignment pass over the batch
  * (broadcast centroids) plus one tile-local fold ∝ batch — pure
  * inserts (a vector arrives in exactly one batch), so the fold's
  * tile-pruned join matches nothing and the merge appends.
  *
  * Serve: rank the stored centroids per query (broadcast — the same
  * kernel), read the top-2 probe cells' tiles, cosine-score candidates,
  * top-k per query. Serve ≡ the batch `ann_ivf` scan-and-probe is
  * checked by the `ann_ivf_stream_maintained` oracle — `ann_ivf`'s
  * DuckDB SQL verbatim.
  *
  * Exactly-once: the table versions by batch id ([[AdditiveFold]] —
  * a replayed batch short-circuits at the merge CAS); the
  * fresh-checkpoint guard rejects a wiped checkpoint against a
  * surviving table.
  */
object AnnStream {

  private val Seeds = 16
  private val ProbeCells = 2

  // format_string WIDENS past the pad width (lpad would TRUNCATE a
  // cell ≥ 1e6 / vec_id ≥ 1e12 into a silently wrong sort key while the
  // serve side's %06d widened — range reads would then miss postings);
  // with both key forms built from the same %0Nd, an oversized id keeps
  // its exact prefix and the per-cell range read stays correct at any
  // magnitude — only the fixed-width clustering aesthetic degrades
  private def cellKey(cell: org.apache.spark.sql.Column,
      vecId: org.apache.spark.sql.Column) =
    format_string("c:%06d:%012d", cell, vecId)

  private def padCell(cell: Long): String = f"c:$cell%06d"

  def start(vecs: DataFrame, root: String,
      checkpointDir: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root)
      }
      .start()

  /** The files of `root` at `head` that can hold an `sk` in [lo, hi]. */
  private def readSk(spark: SparkSession, root: String, head: String,
      lo: String, hi: String): DataFrame =
    SnapshotTable.readFiles(spark, root, SnapshotTable.plan(spark, root,
      head, "sk", SnapshotTable.Prune.Range("sk", lo, hi)))

  /** The stored centroid model (cid, cv, cnrm) at a published head. */
  private def centroids(spark: SparkSession, root: String,
      head: String): DataFrame =
    readSk(spark, root, head, "m:", "m;")
      .filter(col("sk").startsWith("m:"))
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nrm").as("cnrm"))

  /** One micro-batch of (vec_id, v, nrm) rows: assign to cells under the
    * pinned model (trained from the first batch), fold the postings —
    * and, first batch only, the model rows — into the maintained table.
    * Idempotent per batchId.
    */
  def applyBatch(input: DataFrame, batchId: Long, root: String,
      clusterFiles: Int = 8): Unit = {
    val head = VersionedState.requireNotBehind("AnnStream", root, batchId,
      "the table").map(lv => s"v$lv")
    val batch = graft.GraftSession.microBatch(input) match {
      case Some(b) => b
      case None => return
    }
    val spark = batch.sparkSession
    val (cents, modelDelta) = head match {
      case Some(h) => (centroids(spark, root, h), None)
      case None =>
        // train-on-first-batch: the model is the Seeds lowest vec_ids of
        // this batch, pinned forever after
        val c = batch.orderBy(col("vec_id")).limit(Seeds)
          .select(col("vec_id").as("cid"), col("v").as("cv"),
            col("nrm").as("cnrm"))
        (c, Some(c.select(
          format_string("m:%06d", col("cid")).as("sk"),
          col("cid").as("vec_id"), col("cid").as("cell"),
          col("cv").cast("array<double>").as("v"), col("cnrm").as("nrm"),
          lit(1L).as("cnt"))))
    }
    val assigned = Similarity.cellRanked(batch, cents)
      .filter(col("crank") === 1)
      .select(cellKey(col("cid"), col("vec_id")).as("sk"),
        col("vec_id"), col("cid").as("cell"),
        // pin the element nullability: parquet reads arrays back as
        // containsNull=true, and the merge schema check would reject a
        // second batch whose source derivation produced containsNull=false
        col("v").cast("array<double>").as("v"), col("nrm"),
        lit(1L).as("cnt"))
    // per-cell posting counters fold alongside (`g:` keys — between the
    // c: postings and the m: model in the sort order): the drift/balance
    // signal stays a METADATA-scale read at any corpus, because reading
    // it back never touches a posting tile ([[cellBalance]]). The
    // assignment persists for the fold's duration — the posting rows and
    // the counter rows both root it, and without the persist the
    // cell-ranking kernel would run twice per batch
    val assignedP = assigned.persist()
    try {
      val deltas = modelDelta.map(_.unionByName(assignedP))
        .getOrElse(assignedP)
        .unionByName(counterRows(assignedP))
      AdditiveFold.foldInto(deltas, root, "sk", "cnt", "cnt", batchId,
        clusterFiles, carried = Seq("vec_id", "cell", "v", "nrm"))
    } finally { assignedP.unpersist(blocking = false); () }
  }

  /** `g:<cell>` counter deltas for an assigned (…, cell, cnt) frame —
    * the same 6-column shape as the posting rows (null vector fields),
    * so the one additive fold carries both.
    */
  private def counterRows(assigned: org.apache.spark.sql.DataFrame) =
    assigned.groupBy(col("cell")).agg(sum(col("cnt")).as("cnt"))
      .select(format_string("g:%06d", col("cell")).as("sk"),
        lit(null).cast("long").as("vec_id"), col("cell"),
        lit(null).cast("array<double>").as("v"),
        lit(null).cast("double").as("nrm"), col("cnt"))

  /** Maintained per-cell posting counts at the committed head — the
    * queryable balance/staleness metric the pinned first-batch model
    * needs: under distribution drift the max/uniform skew grows and an
    * operator can schedule [[recluster]] on it. Reads ONLY the `g:`
    * tiles (≤ model-size rows); None before the first batch.
    */
  def cellBalance(spark: SparkSession, root: String): Option[DataFrame] =
    SnapshotTable.latestVersion(root).map { head =>
      readSk(spark, root, head, "g:", "g;")
        .filter(col("sk").startsWith("g:"))
        .select(col("cell"), col("cnt").as("postings"))
    }

  /** PERIODIC re-cluster publish — the model-maintenance answer to the
    * pinned first-batch centroids: one exact Lloyd step from the stored
    * model over ALL postings ([[Similarity.lloydCenters]] — per-cell
    * exact DECIMAL coordinate sums, scale-free under cosine), a full
    * re-assignment, and ONE atomic publish of the rebuilt key space
    * (new `m:` model, re-assigned `c:` postings, rebuilt `g:` counters).
    * Cost ∝ corpus BY DESIGN — invoked every K ingest batches it
    * amortizes to corpus/K per batch (the RankStream periodic-publish
    * discipline), while serves keep reading the previous version until
    * the publish lands. Cells that lose every member drop out (k-means
    * semantics); cell IDS are stable, so committed serve plans keep
    * their meaning. Idempotent per version id; `AnnReclusterSpec` pins
    * serve ≡ a fresh index rebuilt from the post-Lloyd model.
    */
  def recluster(spark: SparkSession, root: String, batchId: Long,
      clusterFiles: Int = 8): Unit = {
    val headOpt = SnapshotTable.latestVersion(root)
    require(headOpt.nonEmpty, "AnnStream.recluster: nothing ingested yet")
    val head = headOpt.get
    require(batchId >= head.drop(1).toLong,
      s"AnnStream.recluster id $batchId is behind $root's published " +
        s"$head: fresh checkpoint against an existing table")
    if (head.drop(1).toLong >= batchId) return // replay: already current
    val posts = readSk(spark, root, head, "c:", "c;")
      .filter(col("sk").startsWith("c:"))
      .select(col("vec_id"), col("v"), col("nrm"))
    val (newCents, _) =
      Similarity.lloydCenters(posts, centroids(spark, root, head), 1)
    val assigned = Similarity.cellRanked(posts, newCents)
      .filter(col("crank") === 1)
      .select(cellKey(col("cid"), col("vec_id")).as("sk"),
        col("vec_id"), col("cid").as("cell"),
        col("v").cast("array<double>").as("v"), col("nrm"),
        lit(1L).as("cnt"))
      .persist()
    try {
      val model = newCents.select(
        format_string("m:%06d", col("cid")).as("sk"),
        col("cid").as("vec_id"), col("cid").as("cell"),
        col("cv").cast("array<double>").as("v"), col("cnrm").as("nrm"),
        lit(1L).as("cnt"))
      SnapshotTable.publish(
        model.unionByName(assigned).unionByName(counterRows(assigned)),
        root, s"v$batchId", statsCols = Seq("sk"),
        clusterFiles = Some(clusterFiles), rowFingerprints = false)
    } finally { assigned.unpersist(blocking = false); () }
  }

  /** Top-`k` maintained-IVF search for a (vec_id, v, nrm) query panel —
    * the user-supplied-vectors shape of a real serving path. Each query
    * ranks the stored centroids (broadcast, map-only), probes its top-2
    * cells, and scores ONLY those cells' tiles. Returns None before the
    * first batch lands.
    */
  def serve(spark: SparkSession, root: String, queries: DataFrame,
      k: Int = 3): Option[DataFrame] =
    SnapshotTable.latestVersion(root).map { head =>
      val cents = centroids(spark, root, head)
      val probes = Similarity.cellRanked(queries, cents)
        .filter(col("crank") <= ProbeCells)
        .select(col("vec_id"), col("v"), col("nrm"), col("cid").as("cell"))
      val probed = graft.CacheRegistry.persist(probes)
      // the probed-cell set is queries·2 ids — a driver-side bound, the
      // per-term termLookup shape; each cell is one tile-pruned range
      // read, so serve cost stays candidate-proportional at any corpus
      val cells = probed.select(col("cell")).distinct()
        .collect().map(_.getLong(0)).sorted
      val cand = cells.map { c =>
          readSk(spark, root, head, padCell(c) + ":", padCell(c) + ";")
            .filter(col("sk").startsWith(padCell(c) + ":"))
        }
        .reduceOption(_ unionByName _)
        .getOrElse(spark.range(0).select(lit("").as("sk"),
          lit(0L).as("vec_id"), lit(0L).as("cell"),
          array().cast("array<double>").as("v"), lit(0.0).as("nrm"),
          lit(0L).as("cnt")).limit(0))
        .select(col("vec_id"), col("cell"), col("v"), col("nrm"))
      val scored = probed.as("q")
        .join(cand.as("c"),
          col("q.cell") === col("c.cell") &&
            col("q.vec_id") =!= col("c.vec_id"))
        .withColumn("cos_bp", Similarity.cosBp("q", "c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q.vec_id"))
        .orderBy(col("cos_bp").desc, col("c.vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("q.vec_id").as("query_id"),
          col("c.vec_id").as("neighbor_id"),
          col("rank").cast("long").as("rank"), col("cos_bp"))
        .orderBy("query_id", "rank")
    }
}
