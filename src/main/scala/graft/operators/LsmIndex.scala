package graft.operators

import graft.{GraftQuery, Tables}
import graft.sources.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LSM-segment maintenance of the inverted index — the Lucene design
  * proper, complementing [[InvertedIndex.incremental]]'s tile-local MERGE.
  *
  * The tile-merge design bounds an incremental batch's rewrite by its
  * VOCABULARY's tile set — which is the right bound until the batch
  * vocabulary saturates the token alphabet (the 100x blowup measured a
  * half-corpus batch touching 3027 of 4096 tiles; a real corpus's head
  * vocabulary does the same to any batch). Segments remove the residual:
  * a batch writes ONLY its own postings as a fresh immutable segment —
  * bytes written ∝ batch, unconditionally, at any corpus size — and
  * reads pay a per-segment pruned lookup, bounded by size-tiered
  * compaction (merge the smallest segments when the count exceeds the
  * cap; merge cost ∝ the merged segments, amortized logarithmic, never
  * a full-corpus rewrite on the ingest path).
  *
  * Layout: each segment is its own [[SnapshotTable]] (immutable once
  * published, range-clustered on the composite `tok_doc` key so the
  * prefix-range term lookup prunes inside every segment), and the LIVE
  * segment set is a `_SEGMENTS` manifest swapped atomically — the
  * `_LATEST` pattern one level up — with the full commit discipline the
  * table format enforces one level down: every manifest
  * read-modify-write runs under the root's commit lock (a concurrent
  * segment add and a compaction serialize instead of losing each
  * other's swap), the swap generation in the manifest header is
  * monotonic (merged-segment names never collide with retired names or
  * adopt foreign crash orphans), and retired segments outlive their
  * retirement by [[RetireWindow]] swaps via the `_GARBAGE` ledger (a
  * reader that resolved the previous manifest keeps valid paths through
  * a concurrent compaction). Crash anywhere leaves the previous
  * manifest readable; an orphaned unreferenced segment directory is
  * garbage, never a correctness problem (readers only see the manifest).
  * Doc batches are disjoint by construction (a doc arrives once), so the
  * union of segments IS the posting table — no cross-segment merge on
  * read.
  *
  * Exactly-once under foreachBatch replay: segment id = batch id; a
  * replayed batch finds its segment already committed and only re-swaps
  * the manifest idempotently. Fresh-checkpoint guard as in
  * [[graft.streaming.IvmStream]].
  *
  * Reference semantic anchor: dim maintenance
  * `RT/app/function/DimSinkFunction.java:22-76` (incremental upsert);
  * the segment economics follow Lucene's public design.
  */
object LsmIndex {

  /** Live segments beyond this count trigger a smallest-first compaction
    * back down to it (size-tiered: only the smallest segments merge, so
    * ingest never pays a full rewrite).
    */
  private[graft] val MaxSegments = 8

  private def root(sfDir: String): String =
    SnapshotDiff.scratchRoot("lsmidx", sfDir)

  // --- the segment manifest (the _LATEST pattern, one level up) ---
  //
  // Format: an optional `#gen=<n>` header (the MONOTONIC swap
  // generation — it only ever grows, so a merged segment named by it can
  // never collide with a retired name or silently adopt a
  // crash-orphaned directory from a DIFFERENT compaction), then one
  // segment name per line. Every read-modify-write of the manifest runs
  // under the root's commit lock (SnapshotTable.withRootLock — JVM
  // monitor + OS file lock), so a streaming segment add and a
  // concurrent compaction serialize instead of losing each other's
  // swap: the same lost-update guarantee SnapshotTable's CAS enforces
  // one level down. Retired segments are NOT deleted at their swap —
  // they enter the `_GARBAGE` ledger stamped with the retiring
  // generation and are deleted only once the generation has advanced by
  // RetireWindow more swaps, so a reader that resolved the previous
  // manifest mid-scan keeps its file paths valid (the retention window
  // SnapshotTable gives versions, applied to segments).

  private[graft] def liveSegments(root: String): Seq[String] = {
    val m = java.nio.file.Paths.get(root, "_SEGMENTS")
    if (java.nio.file.Files.exists(m))
      java.nio.file.Files.readString(m).split("\n").toSeq
        .map(_.trim).filter(s => s.nonEmpty && !s.startsWith("#"))
    else Seq.empty
  }

  /** The manifest's swap generation: 0 before any swap or for manifests
    * written before the header existed.
    */
  private[graft] def manifestGen(root: String): Long = {
    val m = java.nio.file.Paths.get(root, "_SEGMENTS")
    if (!java.nio.file.Files.exists(m)) 0L
    else java.nio.file.Files.readString(m).split("\n").toSeq
      .flatMap(l => "#gen=(\\d+)".r.findFirstMatchIn(l.trim).map(_.group(1).toLong))
      .headOption.getOrElse(0L)
  }

  private def swapSegments(root: String, segs: Seq[String], gen: Long): Unit = {
    val tmp = java.nio.file.Paths.get(root, "._SEGMENTS.tmp")
    java.nio.file.Files.writeString(tmp,
      (s"#gen=$gen" +: segs).mkString("\n"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(root, "_SEGMENTS"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Retired segments survive this many further manifest swaps before
    * their directories are deleted (readers of the previous manifest
    * keep valid paths through at least one concurrent compaction).
    */
  private[graft] val RetireWindow = 2

  private def garbageLedger(root: String): Seq[(Long, String)] = {
    val g = java.nio.file.Paths.get(root, "_GARBAGE")
    if (!java.nio.file.Files.exists(g)) Seq.empty
    else java.nio.file.Files.readString(g).split("\n").toSeq
      .map(_.trim).filter(_.nonEmpty).flatMap { l =>
        l.split("\t") match {
          case Array(gen, seg) => gen.toLongOption.map(_ -> seg)
          case _ => None
        }
      }
  }

  private def writeGarbage(root: String, entries: Seq[(Long, String)]): Unit = {
    val tmp = java.nio.file.Paths.get(root, "._GARBAGE.tmp")
    java.nio.file.Files.writeString(tmp,
      entries.map { case (g, s) => s"$g\t$s" }.mkString("\n"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(root, "_GARBAGE"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Test seam: runs after a manifest-updating operation has read the
    * manifest to derive its update but BEFORE it takes the root lock —
    * where a competing writer's full add/compact interleaves in the
    * race specs. Production never sets it.
    */
  private[graft] var onBeforeManifestSwap: String => Unit = _ => ()

  /** The manifest read-modify-write, serialized under the root's commit
    * lock. `f(live, gen)` returns the new live set plus the segments it
    * RETIRES (ledgered, their directories deleted RetireWindow swaps
    * later), or None for no-op. Ledger entries are PERMANENT tombstones:
    * a retired name must stay recognizable as retired even after its
    * directory is gone, or a crash-replay of the batch that created it
    * would re-add it to the manifest (double-counting its postings —
    * they live on in the merged segment — and queuing a LIVE segment's
    * directory for deletion). The per-swap re-delete of expired entries
    * is an idempotent no-op per tombstone — bounded by total
    * retirements, one per ~cap batches.
    */
  private def updateManifest(root: String)(
      f: (Seq[String], Long) => Option[(Seq[String], Seq[String])]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    onBeforeManifestSwap(root)
    SnapshotTable.withRootLock(root) {
      val live = liveSegments(root)
      val gen = manifestGen(root)
      f(live, gen).foreach { case (segs, retired) =>
        val newGen = gen + 1
        swapSegments(root, segs, newGen)
        val ledger = garbageLedger(root) ++ retired.map(newGen -> _)
        writeGarbage(root, ledger)
        ledger.filter(_._1 <= newGen - RetireWindow)
          .foreach { case (_, s) => SnapshotDiff.rmTree(s"$root/$s") }
      }
    }
  }

  /** Whether `seg` was ever retired (tombstoned in the garbage ledger).
    * Read under the caller's lock when the answer gates a swap.
    */
  private def isRetired(root: String, seg: String): Boolean =
    garbageLedger(root).exists(_._2 == seg)

  /** Committed row count of a segment, from its `_STATS` metadata (the
    * size-tier key; one small driver read, no scan). Falls back to a
    * count only for stats written before per-file counts existed.
    */
  private def segmentRows(spark: SparkSession, root: String,
      seg: String): Long = {
    val segRoot = s"$root/$seg"
    SnapshotTable.latestVersion(segRoot).map { v =>
      SnapshotTable.readStatsVersion(segRoot, v) match {
        case Some(st) if st.forall(_.count.isDefined) =>
          st.flatMap(_.count).sum
        case _ => SnapshotTable.readVersion(spark, segRoot, v).count()
      }
    }.getOrElse(0L)
  }

  /** One doc micro-batch: publish its postings as segment `seg_<batchId>`
    * (skip if already committed — replay), add it to the manifest, then
    * compact the smallest segments if the live count exceeds
    * `maxSegments`. Bytes written on the ingest path ∝ the batch,
    * unconditionally.
    */
  private[graft] def applyDocBatch(input: DataFrame, batchId: Long,
      root: String, maxSegments: Int = MaxSegments): Unit = {
    val batch = graft.GraftSession.microBatch(input) match {
      case Some(b) => b
      case None => return
    }
    val post = InvertedIndex.keyedPostings(batch).persist()
    try applyPostings(post, batchId, root, maxSegments)
    finally { post.unpersist(blocking = false); () }
  }

  /** [[applyDocBatch]] from an already-derived (and ideally persisted)
    * keyed-postings frame — callers that fold the same batch's postings
    * into sibling tables ([[graft.streaming.SearchStream]]) tokenize
    * ONCE and share the frame.
    */
  private[graft] def applyPostings(post: DataFrame, batchId: Long,
      root: String, maxSegments: Int = MaxSegments): Unit = {
    val spark = post.sparkSession
    val live = liveSegments(root)
    // fresh-checkpoint guard: batch ids only move forward per manifest
    val maxSeen = live.flatMap(s =>
      "seg_(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toLong))
      .maxOption.getOrElse(-1L)
    require(batchId >= maxSeen || live.contains(s"seg_$batchId"),
      s"LSM index batch $batchId is behind $root's newest segment " +
        s"seg_$maxSeen: fresh checkpoint against an existing index — " +
        "wipe both together or resume the original checkpoint.")
    val seg = s"seg_$batchId"
    val segRoot = s"$root/$seg"
    // a TOMBSTONED segment means this batch already ran to completion
    // once AND its own in-batch compaction retired it (crash after the
    // retire-swap, before the checkpoint commit): the batch's postings
    // live on in the merged segment, so the replay is a whole-batch
    // no-op — re-publishing or re-adding would double-count them and
    // the ledger GC would later delete a manifest-referenced directory
    if (isRetired(root, seg)) return
    if (SnapshotTable.latestVersion(segRoot).isEmpty)
      SnapshotTable.publish(post, segRoot, "v1",
        statsCols = Seq("tok_doc"),
        clusterFiles = Some(InvertedIndex.tileCountFor(post.count())),
        rowFingerprints = false)
    // locked read-modify-write: a concurrent compaction's swap can no
    // longer unsee this add (and vice versa) — the manifest re-reads
    // inside the lock, and the tombstone check re-runs there too (a
    // compactor could retire the segment between the fast-path check
    // above and this lock)
    updateManifest(root) { (live, _) =>
      if (live.contains(seg) || isRetired(root, seg)) None
      else Some((live :+ seg, Nil))
    }
    compactSmallest(spark, root, batchId, maxSegments)
  }

  /** Size-tiered compaction: while the manifest holds more than
    * `maxSegments` segments, merge the SMALLEST `excess + 1` of them
    * into one new segment — cost ∝ the merged segments' sizes (the
    * smallest by construction), never the corpus. The compacted segment
    * publishes first, then one atomic manifest swap retires its inputs;
    * a crash in between leaves the old manifest fully readable and the
    * new directory as unreferenced garbage.
    */
  private[graft] def compactSmallest(spark: SparkSession, root: String,
      batchId: Long, maxSegments: Int): Unit = {
    val live = liveSegments(root)
    if (live.size <= maxSegments) return
    val bySize = live.map(s => s -> segmentRows(spark, root, s)).sortBy(_._2)
    val merge = bySize.take(live.size - maxSegments + 1).map(_._1)
    // the merged segment's name carries the manifest's MONOTONIC swap
    // generation: it can never be reused after retirements (the old
    // live.count(_.contains("m")) counter went DOWN when segments
    // retired, so a reused name could silently adopt a crash-orphaned
    // directory from a different compaction). A same-name retry after a
    // crash between publish and swap re-reads the same gen and the same
    // merge set (deterministic from the same manifest), so adopting the
    // committed orphan IS the replay, with identical content.
    val seg = s"seg_${batchId}m${manifestGen(root)}"
    val segRoot = s"$root/$seg"
    if (SnapshotTable.latestVersion(segRoot).isEmpty) {
      val merged = merge.map(s => SnapshotTable.read(spark, s"$root/$s").get)
        .reduce(_ unionByName _).persist()
      try SnapshotTable.publish(merged, segRoot, "v1",
        statsCols = Seq("tok_doc"),
        clusterFiles = Some(InvertedIndex.tileCountFor(merged.count())),
        rowFingerprints = false)
      finally { merged.unpersist(blocking = false); () }
    }
    // retire-swap under the lock, revalidating the inputs: if a racing
    // compactor already retired any of them, OUR merged segment is the
    // stale duplicate — abandon it as unreferenced garbage instead of
    // double-counting its rows in the union
    var abandoned = false
    updateManifest(root) { (nowLive, _) =>
      if (!merge.forall(nowLive.contains)) { abandoned = true; None }
      else Some((nowLive.filterNot(merge.contains) :+ seg, merge))
    }
    if (abandoned) SnapshotDiff.rmTree(segRoot)
  }

  /** The posting table = the union of the live segments (doc batches are
    * disjoint, so no cross-segment reconciliation exists to do).
    */
  private[graft] def readAll(spark: SparkSession, root: String): DataFrame =
    liveSegments(root)
      .map(s => SnapshotTable.read(spark, s"$root/$s").get)
      .reduce(_ unionByName _)

  /** Term lookup: the PREFIX range prune inside every live segment (each
    * segment's stats prune independently), unioned. Read amplification
    * is the LIVE SEGMENT COUNT — bounded by the compaction cap (per
    * segment the prune touches ~1 tile, so a lookup reads at most
    * `maxSegments` files; `LsmIndexSpec` pins this on the executed
    * plan). The cap is the classic LSM knob: raise it and ingest merges
    * less but every lookup fans wider.
    */
  private[graft] def termLookup(spark: SparkSession, root: String,
      term: String): DataFrame =
    liveSegments(root)
      .map(s => InvertedIndex.prefixRead(spark, s"$root/$s", term)
        .filter(col("token") === term))
      .reduce(_ unionByName _)

  /** The index maintained as LSM segments: the corpus arrives as FOUR
    * doc batches (vs [[InvertedIndex.incremental]]'s two, exercising the
    * multi-segment read), with a segment cap of 3 so the size-tiered
    * compaction provably engages inside the oracled query itself. The
    * oracle is the same full-scan truth as the other index queries: hash
    * equality proves segment-maintained ≡ rebuild ≡ scan.
    */
  val lsm: GraftQuery = new GraftQuery {
    val name = "inverted_index_lsm"

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = Tables.load(spark, sfDir, "documents")
      val dir = root(sfDir)
      SnapshotDiff.rmTree(dir)
      (0 until 4).foreach { b =>
        applyDocBatch(docs.filter(pmod(col("doc_id"), lit(4)) === b),
          b.toLong, dir, maxSegments = 3)
      }
      val post = readAll(spark, dir)
      val probes = post.groupBy(col("token")).agg(count(lit(1)).as("df"))
        .orderBy(col("df"), col("token")).limit(3)
        .collect().map(_.getString(0)).toSeq
      probes.map(termLookup(spark, dir, _))
        .reduceOption(_ unionByName _)
        .getOrElse(post.limit(0))
        .select(col("token"), col("doc_id"), col("tf"))
        .orderBy("token", "doc_id")
    }

    def oracle: Option[String] = InvertedIndex.lookup.oracle
  }

  /** Streaming LSM maintenance: each micro-batch of (doc_id, text) rows
    * becomes a segment; compaction rides the same foreachBatch.
    */
  def startIndexStream(docs: DataFrame, root: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDocBatch(batch, batchId, root)
      }
      .start()

  val all: Seq[GraftQuery] = Seq(lsm)
}
