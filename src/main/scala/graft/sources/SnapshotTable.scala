package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType,
  IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A minimal versioned-snapshot TABLE FORMAT — the engine's stand-in for
  * Delta/Iceberg dim-table maintenance in this zero-egress environment
  * (BASELINE names Delta Lake as the production approach; no delta jar
  * exists here, so the format's three load-bearing guarantees are
  * implemented directly over parquet + an atomic marker file):
  *
  *  - ATOMIC PUBLISH: a version is a complete parquet directory
  *    `<root>/v<n>`. Writers never write that path directly — data and
  *    sidecars go to a writer-unique staging directory
  *    (`.stage_v<n>_<nonce>`), and the commit atomically renames it to
  *    `<root>/v<n>` and moves the `_LATEST` marker onto it (write-temp +
  *    ATOMIC_MOVE — readers see the old version or the new one, never a
  *    torn one). A writer crash before the rename leaves an invisible
  *    staging directory (GC'd by the retention sweep once the head
  *    passes it); a replayed batch of a committed version short-circuits
  *    (idempotent replay).
  *  - READER ISOLATION: a reader resolves `_LATEST` once and then reads a
  *    version directory that no concurrent publish mutates (publishes go
  *    to NEW directories). Retention keeps the previous version on disk,
  *    so a reader holding the last resolution keeps working through a
  *    publish — and `readVersion` gives bounded time travel over the
  *    retained window.
  *  - RETENTION: versions beyond the newest [[Retain]] are pruned
  *    oldest-first (numeric `v<n>` order), bounding storage like Delta
  *    VACUUM.
  *
  * FILE-LEVEL DATA SKIPPING (the Delta/Iceberg stats half): [[publish]]
  * can record per-file min/max for chosen columns into a `_STATS` file
  * inside the version directory (written BEFORE the marker move, so a
  * published version always has its stats). [[plan]] consults the stats
  * and [[readFiles]] hands Spark only the files whose [min, max] can
  * satisfy the predicate ([[Prune]]) — a dim point-lookup (the
  * reference reads one HBase row by pk, `RT/utils/DimUtil.java:22-27`)
  * reads ONE file of a pk-clustered snapshot, on the driver with no
  * Spark job ([[pointLookup]]), instead of scanning the
  * table. Skipping composes with, not replaces, parquet row-group
  * pruning: at 100 TB the win is in the task LIST (a 10k-file dim scan
  * becomes a 1-file task), before any scan is scheduled. Stats cover
  * integral, floating and string columns; other types mark the file
  * non-prunable on that column (kept, never wrongly skipped).
  *
  * MULTI-WRITER CONCURRENCY (optimistic, Delta-style): every write path
  * captures the head version its content DERIVED from (the published
  * `_LATEST` at read time — `None` for an empty table) and commits with
  * a compare-and-swap: under a per-root lock (JVM monitor + an OS file
  * lock on `._COMMITLOCK`, so two processes on a shared filesystem
  * arbitrate too), the marker moves only if the head still equals that
  * base. A writer that lost the race gets a [[SnapshotConflictException]]
  * — never a lost update: the winner's committed version stays readable
  * and the loser's data directory stays invisible (the marker never
  * moved onto it). The loser retries by re-reading the new head and
  * re-deriving with a version id past it (see `SnapshotTableSpec`'s
  * two-writer case). Replay is still idempotent: a replay re-captures
  * `base` at call entry, so it commits with base == head and passes.
  *
  * Version-id CONTENTION is safe (not just detected): because every
  * writer stages under a unique nonce, two writers racing to the SAME
  * `v<n>` — the natural head+1 both CAS losers are told to retry with —
  * can never stomp each other's data files. The winner's staging
  * directory is renamed whole under the lock; the loser's is deleted at
  * its failed CAS. The committed version's content is exactly one
  * writer's output, always (Delta's unique-data-file-names +
  * put-if-absent-commit discipline, at directory granularity).
  *
  * Reference semantic anchor: the Phoenix dim upsert
  * (`RT/app/function/DimSinkFunction.java:22-76`) — [[merge]] is its
  * keep-latest write, published as a snapshot version.
  */
object SnapshotTable {

  /** Committed versions kept on disk: the head and the one before it. */
  private val Retain = 2

  /** Per-root commit monitors — same-JVM writers serialize here; the
    * `._COMMITLOCK` file lock inside extends the exclusion to writers in
    * other processes on a shared filesystem.
    */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Test seam: runs before a commit takes the per-root lock, with
    * (root, version). The two-writer spec uses it to interleave a full
    * competing write at the exact moment the CAS must catch — production
    * code never sets it.
    */
  private[graft] var onBeforeCommit: (String, String) => Unit = (_, _) => ()

  /** One canonical spelling per table root for the same-JVM monitor key
    * and the lock-file path: two writers addressing one table via
    * different spellings (trailing slash, relative path, symlink) must
    * land on the SAME monitor, or the second `FileChannel.lock` on the
    * shared `._COMMITLOCK` throws OverlappingFileLockException instead
    * of serializing. `toRealPath` resolves symlinks once the directory
    * exists; before it does (first publish creates it) the normalized
    * absolute path is the best available key.
    */
  private def canonicalRoot(root: String): String = {
    val p = java.nio.file.Paths.get(root).toAbsolutePath.normalize
    try p.toRealPath().toString
    catch { case _: java.io.IOException => p.toString }
  }

  /** Per-root exclusive section for COMPOSITE formats built on snapshot
    * tables (e.g. the LSM index's segment manifest): the same JVM
    * monitor + OS file lock as version commits, so a manifest
    * read-modify-write serializes against every writer of the same root
    * across processes — the lost-update class [[finishCommit]]'s CAS
    * refuses one level down.
    */
  private[graft] def withRootLock[T](root: String)(f: => T): T =
    withCommitLock[T](root)(f)

  private def withCommitLock[T](root: String)(f: => T): T = {
    val canon = canonicalRoot(root)
    val monitor = commitLocks.computeIfAbsent(canon, _ => new Object)
    monitor.synchronized {
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(canon, "._COMMITLOCK"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try { val l = ch.lock(); try f finally l.release() }
      finally ch.close()
    }
  }

  /** THE staged write: every public write entry commits through here.
    *
    * `base` is the CAS base — the head this write's content derives from
    * (`None` = an empty table). Entries that only write pass the head at
    * call entry; entries that READ the table (merge, compact)
    * pass the head they read, so a competing commit in between conflicts
    * instead of being silently overwritten.
    *
    * Replay short-circuit: when `version` IS the committed head the write
    * returns without staging. The marker moves LAST, so a committed
    * `version` means the batch fully applied (foreachBatch's at-least-once
    * replay); re-writing it would overwrite the live directory — under
    * concurrent readers, and for a merge the very files its carry step
    * copies from — to reproduce content the replay contract guarantees is
    * already there. Versions are immutable once committed; a caller
    * wanting DIFFERENT content under the head's id is violating the
    * version discipline, not replaying. `replay = false` (compaction, whose
    * id the caller picks past the head) makes that case an error instead.
    * Any other version must advance past `base`.
    *
    * `fill` writes the data and sidecars into a writer-unique staging
    * directory (`.stage_v<n>_<nonce>` — invisible to readers and to
    * competing writers), and the commit (under the per-root lock, after
    * the CAS base check) atomically renames it to `$root/$version`.
    * Unique attempt names are what make the version id safe to contend
    * for: two writers that both target head+1 never write to the shared
    * path; the CAS loser's stage is deleted, the winner's is renamed (the
    * Delta discipline — unique data-file names plus put-if-absent
    * commits — applied at directory granularity). ANY failure — a write
    * error, a stats pass, a CAS conflict — deletes the stage on the way
    * out, so a failed attempt never leaks a data-sized orphan (each retry
    * would otherwise stage under a fresh nonce and accumulate copies that
    * the sweep can't reclaim on tables whose head never passes the
    * version, e.g. the LSM segment roots that only ever publish v1).
    */
  private def staged(root: String, version: String,
      base: Option[String], replay: Boolean = true)(
      fill: String => Unit): Unit = {
    require(version.matches("v\\d+"), s"version must be v<digits>, got $version")
    if (replay && base.contains(version)) return
    base.foreach(b => require(version.drop(1).toLong > b.drop(1).toLong,
      s"$root: version $version must advance the published $b"))
    val stage =
      s"$root/.stage_${version}_${java.util.UUID.randomUUID().toString.take(8)}"
    try {
      fill(stage)
      finishCommit(root, version, base, Some(stage))
    } catch {
      case e: Throwable =>
        rmTree(new java.io.File(stage)) // idempotent if already cleaned
        throw e
    }
  }

  private def rmTree(f: java.io.File): Unit =
    graft.operators.SnapshotDiff.rmTree(f.getPath)

  /** Write `df` as version `version` (must be `v<digits>`) under `root`
    * and atomically publish it as latest; prune beyond [[Retain]].
    *
    * `statsCols` turns on per-file min/max stats for those columns.
    * `clusterFiles = Some(n)` range-partitions the write by the FIRST
    * stats column into n files — skipping only pays when the key is
    * clustered across files (random placement gives every file the full
    * key range and nothing prunes).
    */
  def publish(df: DataFrame, root: String, version: String,
      statsCols: Seq[String] = Nil, clusterFiles: Option[Int] = None,
      rowFingerprints: Boolean = true): Unit =
    staged(root, version, latestVersion(root))(publishInto(df, _,
      statsCols, clusterFiles, rowFingerprints))

  /** [[publish]]'s body, writing into a stage of [[staged]]. */
  private def publishInto(df: DataFrame, stage: String, statsCols: Seq[String],
      clusterFiles: Option[Int] = None, rowFingerprints: Boolean = true): Unit = {
    require(clusterFiles.isEmpty || statsCols.nonEmpty,
      "clusterFiles requires at least one stats column to cluster by")
    // a clustered publish evaluates `df` TWICE (repartitionByRange's
    // boundary-sampling pass, then the write) — cache an uncached input
    // for the publish's duration so arbitrary caller plans (the additive
    // folds' join output, merge's fallback rewrite) compute once
    val cacheIn = clusterFiles.isDefined &&
      df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val in = if (cacheIn) df.persist() else df
    try {
      val out = clusterFiles match {
        // sortWithinPartitions tightens parquet ROW-GROUP min/max inside
        // each file — at 100 TB a file holds many row groups, and sorted
        // data lets the parquet reader prune within the files the
        // file-level stats kept (no extra shuffle; a per-partition sort
        // rides the exchange's output)
        case Some(n) => in.repartitionByRange(n, col(statsCols.head))
          .sortWithinPartitions(col(statsCols.head))
        case None => in
      }
      graft.Trace(s"publish:write $stage") {
        out.write.mode("overwrite").parquet(stage) }
      writeStats(df.sparkSession, stage, statsCols, rowFingerprints)
    } finally { if (cacheIn) { in.unpersist(blocking = false); () } }
  }

  /** Write `df` into `dir` as `n` files, each row into the file numbered
    * by the int column `slot` (1-based) and sorted by `sortBy` within its
    * file; `drop` names helper columns to leave out of the data. The
    * slot routes through its [[partitionPins]] pin, so every tile gets
    * its own output partition deterministically, with no sampling.
    */
  private def writePinned(df: DataFrame, dir: String, n: Int, slot: Column,
      sortBy: Seq[Column], drop: String*): Unit =
    df.withColumn("__pin", element_at(typedLit(partitionPins(n)), slot))
      .repartition(n, col("__pin"))
      .sortWithinPartitions(sortBy: _*)
      .drop("__pin" +: drop: _*)
      .write.mode("overwrite").parquet(dir)

  /** For each target partition p < n, the smallest non-negative int whose
    * Murmur3 hash (seed 42 — what `repartition(n, col)`'s HashPartitioning
    * applies) lands on p: routing each file id through its pin gives every
    * tile its own output partition deterministically, with no sampling.
    * Coupon-collector cost, ~n·ln(n) driver-side hashes.
    */
  private def partitionPins(n: Int): Array[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val pins = new Array[Int](n)
    val found = new Array[Boolean](n)
    var i = 0
    var remaining = n
    while (remaining > 0) {
      val h = Murmur3Hash(Seq(Literal(i)), 42).eval().asInstanceOf[Int]
      val p = ((h % n) + n) % n
      if (!found(p)) { found(p) = true; pins(p) = i; remaining -= 1 }
      i += 1
    }
    pins
  }

  /** Publish with EXPLICIT file boundaries on `key` — the diff-friendly
    * clustering. [[publish]]'s range clustering re-derives count-balanced
    * boundaries per version, so a single inserted row shifts the content
    * of every later file and a version diff must rescan the table even
    * when almost nothing changed. Pinning the cutpoints to VALUES
    * (typically [[keyBoundaries]] of the previous version) keeps every
    * untouched key region byte-identical across publishes, which is what
    * lets [[diffFiles]] fingerprint-skip its files. Rows past the last
    * cutpoint (monotonically growing keys) land in the last file; a
    * region that accumulates rows makes its file fat — when drift
    * accumulates, re-balance with [[compact]] (boundaries re-derive and
    * the next diff pays one full rescan: the standard cluster-maintenance
    * trade). File `i` holds rows with `boundaries(i-1) <= key <
    * boundaries(i)` (file 0 everything below, nulls included). Stats
    * are on `key`.
    */
  def publishAligned(df: DataFrame, root: String, version: String,
      key: String, boundaries: Seq[Any]): Unit =
    staged(root, version, latestVersion(root)) { stage =>
      require(boundaries.nonEmpty, "publishAligned needs at least one cutpoint")
      writePinned(df, stage, boundaries.size + 1, tileId(col(key),
        boundaries, Some(df.schema(key).dataType)) + 1, Seq(col(key)))
      writeStats(df.sparkSession, stage, Seq(key))
    }

  /** File/tile id of `keyCol` against value cutpoints — the count of
    * boundaries at or below the key, as one codegen'd binary-search
    * kernel ([[graft.expressions.SearchSorted]]): O(log files) per row
    * with a constant-depth plan. The per-boundary `when(...)` fold this
    * replaces was O(files) per row and overflowed the analyzer's stack
    * at the 4096-tile layouts a 100x corpus publishes.
    */
  private def tileId(keyCol: Column, boundaries: Seq[Any],
      keyType: Option[DataType] = None): Column = {
    if (boundaries.isEmpty) return lit(0)
    // the kernel compares within one type family ([[key]]'s): it takes
    // cutpoints of ONE family that is also the key column's. `keyType`
    // absent (internal callers — boundaries decoded from the key's own
    // stats) takes the cutpoints' family. The only coercion is the
    // lossless lift of integral cutpoints onto a floating key (a double
    // key with integer cutpoints is publishAligned's public Seq[Any]
    // contract); a LONG key with double cutpoints, keys outside the three
    // families (decimal, date, timestamp) and mixed or null cutpoints
    // fall to the coercing fold, since casting either side could move a
    // boundary across a key value.
    val keys = boundaries.flatMap(key)
    val target = keys.map(_.family).distinct match {
      case Seq(f) if keys.size == boundaries.size =>
        keyType.map(family) match {
          case None => Some(f)
          case Some(Some(kf)) if kf == f || (kf == "D" && f == "L") => Some(kf)
          case _ => None
        }
      case _ => None
    }
    target match {
      case Some(f) =>
        val arr = f match {
          case "L" => typedLit(keys.collect { case LongKey(l) => l }.toArray)
          case "D" => typedLit(keys.collect {
            case LongKey(l) => l.toDouble
            case DoubleKey(d) => d
          }.toArray)
          case _ => typedLit(keys.collect { case StringKey(s) => s }.toArray)
        }
        call_function("search_sorted", keyCol, arr)
      case None =>
        // the legacy per-boundary fold: correct via lit() coercion,
        // O(boundaries) per row with the documented ~2-4k depth ceiling —
        // every layout THIS library derives (keyBoundaries decodes
        // long/double/string) takes the kernel
        boundaries.map(b => when(keyCol >= lit(b), 1).otherwise(0))
          .reduce(_ + _)
    }
  }

  /** The interior cutpoints of a published version's file layout on
    * `key`, derived from the per-file min stats — metadata only, no scan.
    * Feed these to [[publishAligned]] to publish the NEXT version on the
    * same grid. None when the version has no stats on `key`.
    */
  def keyBoundaries(root: String, version: String,
      key: String): Option[Seq[Any]] =
    layout(root, version).flatMap(_.byMin(key))
      .map(_.drop(1).map(_._2.value))

  /** MERGE INTO analog (Delta `whenMatched update / whenNotMatched
    * insert`, plus an optional matched-delete predicate): apply `updates`
    * (keyed by `pk`) to the CURRENT version and publish the result as
    * `version`, rewriting ONLY the tiles that receive changes — the
    * format's one keep-latest write, the dim sink's upsert by pk.
    * Matched rows are replaced by their update row (or removed when
    * `deleteWhen` holds on the update row); unmatched update rows
    * insert. A NULL `deleteWhen` result means NOT deleted
    * (the SQL MERGE `WHEN MATCHED AND <cond>` contract: an unknown
    * condition does not fire the delete clause) — the row applies as a
    * normal update/insert.
    *
    * 100 TB shape — the whole point of a table-format merge: cost is
    * proportional to the CHANGED data, not the table.
    *   - update rows map to tiles against the current version's
    *     boundaries (broadcast cutpoints, map-only);
    *   - only those tiles are read, merged (AQE broadcasts the batch's
    *     key set when it is actually small) and rewritten, one file per
    *     changed tile;
    *   - every untouched file is carried into the new version by copy —
    *     the local stand-in for a manifest re-reference — and its
    *     `_STATS` line (min/max, count, fingerprint) is reused VERBATIM,
    *     so stats cost is also changed-tiles-only. Carried-over
    *     fingerprints are what let a subsequent [[diff]] skip the same
    *     untouched tiles.
    * Rows past the last boundary merge into the last tile (growing keys
    * fatten it; re-balance with [[compact]], as with [[publishAligned]]).
    * The tile path requires the current version to carry pk stats AND a
    * range-DISJOINT file layout on pk (verified from the stats on the
    * driver — a hash-partitioned table would scatter a key's old row
    * outside the rewritten tile and duplicate it); anything else falls
    * back to a full rewrite published with pk stats, clustered when
    * `clusterFiles` is set (which is also how the first publish and the
    * fallback BOOTSTRAP the tile regime for later batches).
    *
    * Schema rule. `updates` must hold `pk`, and a column it shares with
    * the table must keep its type (a changed type fails by name). The
    * same column set, in any order, merges as above. A different set
    * (the dynamic-DDL path) takes the full rewrite: old and update rows
    * union by name, each side null-filling the columns it lacks, so the
    * table keeps every column it had and the stats header carries over.
    * A replay of the committed head returns before any schema check.
    *
    * DIVERGENCE vs Delta `MERGE INTO` (the interop checklist for a user
    * arriving from Delta — semantic deltas, not missing plumbing):
    *   - MATCHED UPDATE is whole-row replacement: Delta's
    *     `UPDATE SET col = expr` (partial column updates referencing
    *     both source and target) is expressed here by pre-joining the
    *     update frame against [[read]] to build full rows first.
    *   - One update clause + one optional delete predicate, and
    *     `deleteWhen` sees the UPDATE row's columns only; Delta allows
    *     N ordered `WHEN MATCHED [AND cond]` clauses whose conditions
    *     reference source AND target. NULL-condition behavior matches
    *     (unknown does not fire the clause — both follow SQL MERGE).
    *   - DUPLICATE source keys are NOT detected: Delta throws
    *     `MERGE_CARDINALITY_VIOLATION` when two source rows match one
    *     target row; here both rows land (the matched row is removed
    *     once, both updates insert) and the table ends with a duplicate
    *     pk. Dedup the batch by pk first (the CDC dim route keeps the
    *     latest change per key).
    *   - No `WHEN NOT MATCHED BY SOURCE` clause (Delta can delete target
    *     rows absent from the source); full-table deletes go through a
    *     filtered [[publish]].
    *   - Schema evolution is always on and additive (Delta needs
    *     `mergeSchema`), and a column set change rewrites the table.
    *
    * `knownPlan`: a [[plan]] a caller already made against the head this
    * merge reads, e.g. the [[Prune.Keys]] plan of the same update keys;
    * its tile set is used (and the discovery job skipped) only when the
    * plan's version is that head and it has one. The set may be any
    * superset of the update keys' tiles: an extra tile is rewritten with
    * its own content. A subset fails loudly: an update row whose tile is
    * missing from the set has no partition pin, and the write fails on it.
    *
    * `extraStatsCols`: value columns recorded in the per-file stats
    * BESIDE the pk from the FIRST publish on (later merges carry the
    * header forward automatically) — what lets a maintained table's
    * invariant checks (non-negative counts, magnitude bounds) and
    * value-band pruning run on metadata instead of a read-back job.
    */
  def merge(updates: DataFrame, root: String, pk: String, version: String,
      deleteWhen: Option[Column] = None,
      clusterFiles: Option[Int] = None,
      rowFingerprints: Boolean = true,
      knownPlan: Option[Plan] = None,
      extraStatsCols: Seq[String] = Nil): Unit = {
    val spark = updates.sparkSession
    // null predicate = not-deleted (SQL MERGE semantics), not delete:
    // filter(!d) alone would drop null-condition rows
    def inserts(u: DataFrame) =
      deleteWhen.foldLeft(u)((u, d) => u.filter(!coalesce(d, lit(false))))
    val base = latestVersion(root)
    staged(root, version, base) { stage =>
      require(updates.columns.contains(pk),
        s"$root: merge updates lack the pk column $pk")
      base match {
        case None =>
          // first publish: nothing to match, inserts only
          publishInto(inserts(updates), stage,
            (Seq(pk) ++ extraStatsCols).distinct, clusterFiles,
            rowFingerprints = rowFingerprints)
        case Some(vOld) =>
          val current = readVersion(spark, root, vOld)
          val types = current.schema.fields.map(f => f.name -> f.dataType).toMap
          updates.schema.fields.foreach(f => types.get(f.name).foreach(t =>
            require(t == f.dataType, s"$root: merge column ${f.name} changes " +
              s"type from ${t.simpleString} to ${f.dataType.simpleString}")))
          // three consumers read the update set (tile discovery, the
          // matched-key anti join, the insert union) — persist it for the
          // merge's duration rather than re-evaluating an arbitrary source
          // frame three times
          val ups = updates.persist()
          try mergeInto(ups, inserts(ups), root, pk, stage, vOld, current,
            clusterFiles, rowFingerprints,
            knownPlan.filter(_.version == vOld).flatMap(_.tiles), extraStatsCols)
          finally { ups.unpersist(blocking = false); () }
      }
    }
  }

  private def mergeInto(updates: DataFrame, inserts: DataFrame, root: String,
      pk: String, dir: String, vOld: String, current: DataFrame,
      clusterFiles: Option[Int], rowFingerprints: Boolean,
      knownTiles: Option[Set[Int]], extraStatsCols: Seq[String]): Unit = {
    val spark = updates.sparkSession
    // matched rows leave `old`, update rows insert. USING-join semantics
    // move the pk to column 0; restore the table's order or the NEXT
    // merge's schema check rejects its own output (only visible on tables
    // whose pk is not already the first column — every dim was, the
    // inverted index isn't). No broadcast hint: AQE converts to a
    // broadcast join at runtime when the batch's key set is actually
    // small, and a table-scale update set (SnapshotDiff.merged passes
    // one) stays a shuffle join instead of OOMing the driver. Columns
    // only one side has null-fill on the other; new ones go last.
    val cols = current.columns ++ updates.columns.filterNot(current.columns.contains)
    def applied(old: DataFrame) = old
      .join(updates.select(col(pk)), Seq(pk), "left_anti")
      .unionByName(inserts, allowMissingColumns = true)
      .select(cols.map(col).toIndexedSeq: _*)
    val lay = layout(root, vOld)
    // a column-set change rewrites every file: carried files would keep
    // the old schema
    val sameCols = updates.columns.toSet == current.columns.toSet
    lay.filter(_ => sameCols).flatMap(l => l.tiles(pk).map(t => (l, t))) match {
      case Some((l, (filesByTile, cuts))) =>
        // tile id of each update row against the broadcast cutpoints
        val tile = tileId(col(pk), cuts.map(_.value))
        // the layout is tiled, so a Keys plan always carries its tile set
        val changed = knownTiles.getOrElse(planOn(spark, root, vOld, pk,
          Prune.Keys(updates), l).tiles.get)
        val (chFiles, keepFiles) = filesByTile.zipWithIndex
          .partition { case (_, i) => changed(i) }
        val newFiles = if (chFiles.isEmpty) {
          // no-op merge: clone the version (copies + verbatim sidecars)
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
          Nil
        } else {
          val oldChanged = readFiles(spark, root,
            Plan(vOld, Some(chFiles.map(_._1)), None))
          val denseIx = chFiles.map(_._2).zipWithIndex.toMap
          val tileToDense = element_at(
            typedLit(filesByTile.indices.map(i =>
              denseIx.getOrElse(i, -1)).toArray), tile + 1)
          graft.Trace(s"merge:write $dir") {
            writePinned(applied(oldChanged), dir, chFiles.size,
              tileToDense + 1, Seq(col(pk))) }
          dataFiles(dir)
        }
        // untouched files are carried with their sidecar lines verbatim;
        // fresh tiles get new lines with the same columns and sizing
        val kept = keepFiles.map(_._1)
        copyFiles(root, vOld, dir, kept)
        writeSidecar(dir, l.header.mkString("\t"),
          l.linesOf(kept.toSet) ++ (if (newFiles.isEmpty) Nil else
            computeStatsLines(spark, dir, newFiles, l.header, rowFingerprints)))
      case None =>
        // full-rewrite fallback, preserving the table's existing stats
        // header — a one-off non-tile-mergeable batch must not silently
        // drop the extra stats columns later guards/prunes rely on
        publishInto(applied(current), dir,
          lay.map(_.header).getOrElse((Seq(pk) ++ extraStatsCols).distinct),
          clusterFiles, rowFingerprints)
    }
  }

  /** Whether a [[merge]] into `root`'s version `v` would take the
    * tile-local path on `pk`: the version's layout is tiled on `pk`
    * ([[Layout.tiles]]). A caller that sizes `clusterFiles` from its data
    * needs the size only when it is not (a hash layout, whose per-file pk
    * ranges overlap, or no stats): merge then takes its full rewrite.
    */
  def tileMergeable(root: String, version: String, pk: String): Boolean =
    layout(root, version).exists(_.tiles(pk).isDefined)

  private def copyFiles(root: String, vFrom: String, dstDir: String,
      files: Seq[String]): Unit =
    files.foreach { f =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$root/$vFrom/$f"),
        java.nio.file.Paths.get(s"$dstDir/$f"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

  /** The parquet data files directly under `dir`, by name. */
  private def dataFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).toSeq.sorted

  /** Write the `_STATS` sidecar into `dir`: one header line, then the
    * per-file body lines, sorted.
    */
  private def writeSidecar(dir: String, header: String,
      lines: Seq[String]): Unit = {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/_STATS"),
      header + "\n" + lines.sorted.mkString("\n") + "\n")
    ()
  }

  /** The `_STATS` sidecar of `dir` as its header and non-empty body
    * lines; None when the version has none.
    */
  private def readSidecar(dir: String): Option[(String, Seq[String])] = {
    val p = java.nio.file.Paths.get(s"$dir/_STATS")
    if (!java.nio.file.Files.exists(p)) None
    else {
      val lines = java.nio.file.Files.readString(p).split("\n").toSeq
      Some((lines.head, lines.tail.filter(_.nonEmpty)))
    }
  }

  /** The `_STATS` of a freshly written stage over `statsCols`, before its
    * commit (a published version never lacks its stats); none when
    * `statsCols` is empty. File names survive the commit rename unchanged
    * — sidecar lines carry names, not paths.
    */
  private def writeStats(spark: SparkSession, stage: String,
      statsCols: Seq[String], rowFingerprints: Boolean = true): Unit =
    if (statsCols.nonEmpty) writeSidecar(stage, statsCols.mkString("\t"),
      computeStatsLines(spark, stage, Nil, statsCols, rowFingerprints))

  /** OPTIMIZE-style maintenance: rewrite the CURRENT version as new
    * version `version`, clustered — the compaction pass a streaming dim
    * sink needs once unclustered writes have fragmented the table (an
    * unclustered full-rewrite [[merge]] writes task-count files; a point
    * lookup on a fragmented table keeps many small files no matter how
    * good the stats are).
    * Data is byte-identical by construction (same rows, new layout +
    * fresh stats), the rewrite publishes through the same atomic marker
    * move as any version — readers see the old layout or the new one,
    * never a half-compacted state — and retention ages the fragmented
    * version out. The rewrite range-clusters by the lead column of
    * `statsCols` (which must be non-empty) into `targetFiles` files.
    *
    * `version` is the CALLER's to choose because this format has one
    * publisher per table root: a streaming dim sink names versions by
    * batch id, so maintenance must run through the same sequence (e.g.
    * a dedicated micro-batch, or between stream incarnations using the
    * next unused id) — an auto-picked latest+1 would collide with the
    * next batch's own version and overwrite the directory the merge is
    * reading. Returns the new version id, or None when nothing is
    * published to compact.
    */
  def compact(spark: SparkSession, root: String, version: String,
      targetFiles: Int, statsCols: Seq[String]): Option[String] = {
    require(statsCols.nonEmpty,
      "compact needs at least one stats column to cluster by")
    latestVersion(root).map { v =>
      staged(root, version, Some(v), replay = false)(publishInto(
        readVersion(spark, root, v), _, statsCols, Some(targetFiles)))
      version
    }
  }

  /** Export the latest published version as a PLAIN parquet directory
    * plus a `_MANIFEST.json` — the open-format interop boundary: a
    * 100 TB user arrives with Delta/Iceberg, and this is the neutral
    * exchange surface both sides read. `dir` is immediately readable by
    * ANY parquet engine (`spark.read.parquet`, DuckDB `read_parquet`,
    * Delta `CONVERT TO DELTA parquet.`dir``, Iceberg's `add_files`) —
    * the manifest and `_`-prefixed sidecars are ignored by parquet
    * readers per the Hadoop hidden-file convention. Data files and the
    * `_STATS` skipping sidecar are copied BYTE-IDENTICAL; the manifest
    * records provenance (source root, version, schema as Spark
    * schema-JSON, file list) so [[importTable]] restores the snapshot —
    * files and stats — bit-for-bit without a rewrite or a scan. Any other
    * file in the version directory (an older release's Bloom-filter
    * sidecar) is not exported.
    * Returns the exported version id (None on an unpublished root).
    */
  def exportTable(spark: SparkSession, root: String,
      dir: String): Option[String] =
    latestVersion(root).map { v =>
      import java.nio.file.{Files, Paths, StandardCopyOption}
      Files.createDirectories(Paths.get(dir))
      // CRASH-SAFE re-export ordering: copy the new version's files in
      // (part names are UUID-fresh, never colliding with a previous
      // export's), swap the manifest to the new list ATOMICALLY, and
      // only then delete the previous export's stale parts. A crash at
      // any point leaves an IMPORTABLE directory: before the manifest
      // swap the old manifest still lists the old parts (all present —
      // nothing was deleted yet, and importTable skips stats that
      // disagree with the manifest's list); after it, the new export is
      // complete and only stale extras remain. The raw
      // `spark.read.parquet(dir)` surface is consistent except inside
      // this window — the manifest is the consistency boundary, exactly
      // as in any manifest-based table format.
      val listed = dataFiles(s"$root/$v")
      (Seq("_STATS").filter(n =>
        new java.io.File(s"$root/$v/$n").isFile) ++ listed).foreach { n =>
        Files.copy(Paths.get(s"$root/$v/$n"), Paths.get(s"$dir/$n"),
          StandardCopyOption.REPLACE_EXISTING); ()
      }
      val schemaJson = readVersion(spark, root, v).schema.json
      val fileList = listed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
      val tmp = Paths.get(s"$dir/._MANIFEST.json.tmp")
      Files.writeString(tmp,
        s"""{"format":"graft-snapshot-export","version":"$v",""" +
          s""""files":$fileList,"schema":$schemaJson}""")
      Files.move(tmp, Paths.get(s"$dir/_MANIFEST.json"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      // post-swap cleanup: every managed data file the NEW manifest does
      // not list is stale (a previous export's parts, including ones a
      // crashed export orphaned without any manifest)
      dataFiles(dir).filterNot(listed.contains)
        .foreach(n => Files.delete(Paths.get(s"$dir/$n")))
      v
    }

  /** The data-file list of an export directory's `_MANIFEST.json`, if
    * present and parseable. Whitespace-tolerant around the key and
    * array — the manifest is the open-interop boundary and may have
    * been regenerated by an external JSON tool.
    */
  private def manifestFiles(dir: String): Option[Seq[String]] = {
    val f = new java.io.File(s"$dir/_MANIFEST.json")
    if (!f.isFile) None
    else "\"files\"\\s*:\\s*\\[([^\\]]*)\\]".r
      .findFirstMatchIn(java.nio.file.Files.readString(f.toPath))
      .map(_.group(1).split(",").toSeq.map(_.trim)
        .filter(_.nonEmpty).map(_.stripPrefix("\"").stripSuffix("\"")))
  }

  /** Import an [[exportTable]] directory as `root`'s next published
    * version: the manifest's data files and its `_STATS` sidecar are
    * copied back byte-identical and committed — a full round trip
    * (publish → export → import) reproduces the original version's
    * files, skipping metadata included, with no rewrite and no scan. Any
    * other file (an older release's Bloom-filter sidecar) is ignored. A
    * directory without `_MANIFEST.json` fails by name: a foreign parquet
    * table goes in through [[publish]].
    *
    * Commits under the same CAS as every writer — importing into a root
    * a concurrent writer advanced raises [[SnapshotConflictException]].
    */
  def importTable(dir: String, root: String, version: String): Unit =
    staged(root, version, latestVersion(root)) { stage =>
      import java.nio.file.{Files, Paths, StandardCopyOption}
      require(new java.io.File(s"$dir/_MANIFEST.json").isFile,
        s"$dir: no _MANIFEST.json — importTable reads exportTable directories")
      // copy ONLY the manifest's data-file list (not whatever .parquet
      // happens to sit in the directory — a foreign or stale stray file
      // must not ride into the committed version uncovered by _STATS)
      val listed = manifestFiles(dir).getOrElse(Seq.empty)
      require(listed.nonEmpty, s"$dir/_MANIFEST.json: no data files listed")
      listed.foreach(n => require(new java.io.File(s"$dir/$n").isFile,
        s"$dir: manifest lists $n but the file is missing"))
      // stats carry over only when they AGREE with the manifest's file
      // list — a crashed re-export can leave newer stats beside an older
      // manifest, and stats naming files the version does not contain
      // would corrupt pruning; skipping them degrades safely to an
      // unpruned (still correct) table
      val stats = readSidecar(dir).filter { case (_, lines) =>
        val mentioned = "[A-Za-z0-9._-]+\\.parquet".r
          .findAllIn(lines.mkString("\n")).toSet
        mentioned.nonEmpty && mentioned.subsetOf(listed.toSet)
      }.map(_ => "_STATS")
      Files.createDirectories(Paths.get(stage))
      (listed ++ stats).foreach { n =>
        Files.copy(Paths.get(s"$dir/$n"), Paths.get(s"$stage/$n"),
          StandardCopyOption.REPLACE_EXISTING); ()
      }
    }

  /** The marker move + retention half of a commit (stats, if any, must
    * already be in place — a published version never lacks its stats).
    *
    * The CAS: under the per-root lock, the marker moves only if the
    * committed head still equals `base` — the head this write derived
    * from. Anything else means a competing writer committed since the
    * derivation read: throw [[SnapshotConflictException]] and leave the
    * winner's head untouched (this write's directory stays invisible).
    * Replays need no exemption: a genuine replay re-captures `base` at
    * call entry, so it commits with base == head and passes — while a
    * SECOND writer that raced to the same version id (base behind the
    * head) conflicts here instead of silently "passing" as a fake
    * replay, which would have blessed the very lost-update the CAS
    * exists to prevent (its overwrite already stomped the winner's
    * directory; the loud failure is what makes the stomp recoverable).
    */
  private def finishCommit(root: String, version: String,
      base: Option[String], stage: Option[String] = None): Unit = {
    onBeforeCommit(root, version)
    withCommitLock(root) {
      val head = latestVersion(root)
      if (head != base) {
        // CAS loser: its staged files never became visible — delete them
        // so a lost race leaves no orphan bytes behind
        stage.foreach(s => rmTree(new java.io.File(s)))
        throw new SnapshotConflictException(root, base, head)
      }
      // versions are immutable and the head only moves FORWARD: a commit
      // at or below the head (base == head, so the CAS passed — a caller
      // re-using a retained version's id) would rmTree committed data
      // below and move the marker backwards. Reject it loudly before any
      // destructive step; genuine replays never reach here (the
      // committed-head short-circuits return at call entry).
      head.filter(h => version.drop(1).toLong <= h.drop(1).toLong)
        .foreach { h =>
          stage.foreach(s => rmTree(new java.io.File(s)))
          throw new IllegalArgumentException(
            s"$root: commit version $version must advance the committed " +
              s"head $h — re-committing a retained version id would " +
              "destroy committed data under its readers")
        }
      stage.foreach { s =>
        val dst = java.nio.file.Paths.get(s"$root/$version")
        // an existing destination is a crash orphan (a writer that
        // renamed but died before its marker move): committed heads are
        // never re-targeted (the replay short-circuit returns before
        // staging, head == base here, and the advance check above puts
        // version STRICTLY past the head), and no competing writer can
        // be mid-write INTO dst — everyone writes to a unique stage.
        // Clear it under the lock and rename over it.
        if (java.nio.file.Files.exists(dst)) rmTree(dst.toFile)
        java.nio.file.Files.move(java.nio.file.Paths.get(s), dst,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        ()
      }
      val tmp = java.nio.file.Paths.get(s"$root/._LATEST.tmp")
      java.nio.file.Files.writeString(tmp, version)
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(s"$root/_LATEST"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      prune(root)
    }
  }

  /** The currently published version id, if any. */
  def latestVersion(root: String): Option[String] = {
    val marker = java.nio.file.Paths.get(s"$root/_LATEST")
    if (java.nio.file.Files.exists(marker))
      Some(java.nio.file.Files.readString(marker).trim)
    else None
  }

  /** Retained version directories, numerically ascending. In-flight
    * writes stage under dot-prefixed directories and never appear here;
    * the only non-committed entry possible is a crash orphan (renamed
    * but died before its marker move). Use [[latestVersion]] for the
    * committed head.
    */
  def versions(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName).sortBy(_.drop(1).toLong).toSeq

  /** Read the latest published snapshot (None before the first publish —
    * unpublished version directories are never visible).
    */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    latestVersion(root).map(v => readVersion(spark, root, v))

  /** Bounded time travel: read a specific retained version. */
  def readVersion(spark: SparkSession, root: String, version: String): DataFrame =
    GraftParquet.read(spark, s"$root/$version")

  /** Per-file column stats of one published data file. Values are the
    * typed encodings of [[encode]]; `None` min/max for a column means the
    * file is non-prunable on it. `count`/`fingerprint` (row count and an
    * order-independent content fingerprint — the sum over rows of a
    * 64-bit full-row hash, carried exactly as a decimal) exist on stats
    * written since they were introduced; older `_STATS` parse with None.
    */
  final case class FileStats(file: String,
      mins: Map[String, String], maxs: Map[String, String],
      count: Option[Long] = None, fingerprint: Option[String] = None)

  /** A stats or query value tagged with its type family — the typed half
    * of the format's ONE key order. Integral widths share the long
    * family and float/double the double family, as in the stats encoding;
    * [[compare]] orders values within a family and refuses across them.
    */
  private sealed abstract class Key(val family: String) { def value: Any }
  private final case class LongKey(value: Long) extends Key("L")
  private final case class DoubleKey(value: Double) extends Key("D")
  private final case class StringKey(value: String) extends Key("S")

  /** The key of a runtime value; None for null and unsupported types. */
  private def key(v: Any): Option[Key] = v match {
    case l: Long => Some(LongKey(l))
    case i: Int => Some(LongKey(i.toLong))
    case s: Short => Some(LongKey(s.toLong))
    case b: Byte => Some(LongKey(b.toLong))
    case d: Double => Some(DoubleKey(d))
    case f: Float => Some(DoubleKey(f.toDouble))
    case s: String => Some(StringKey(s))
    case _ => None
  }

  /** The family of a column type, as [[key]] classifies its values: "L"
    * integral, "D" floating, "S" string; None for every other type.
    */
  private def family(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("L")
    case FloatType | DoubleType => Some("D")
    case StringType => Some("S")
    case _ => None
  }

  /** Typed, order-preserving-per-type encoding for stats values. Strings
    * are Base64-wrapped (raw strings could contain the field separator);
    * null and unknown runtime types become the non-prunable marker.
    */
  private def encode(v: Any): String = key(v) match {
    case Some(StringKey(s)) => "S:" + java.util.Base64.getEncoder
      .encodeToString(s.getBytes("UTF-8"))
    case Some(k) => s"${k.family}:${k.value}"
    case None => "X"
  }

  private def decode(encoded: String): Option[Key] = encoded.take(2) match {
    case "L:" => Some(LongKey(encoded.drop(2).toLong))
    case "D:" => Some(DoubleKey(encoded.drop(2).toDouble))
    case "S:" => Some(StringKey(new String(
      java.util.Base64.getDecoder.decode(encoded.drop(2)), "UTF-8")))
    case _ => None
  }

  /** The one key order of this format, and Spark's: doubles compare as
    * Spark SQL does (NaN largest, -0.0 equals 0.0 — the `search_sorted`
    * kernel's rule), strings by unsigned UTF-8 bytes (UTF8String order,
    * which parquet's binary footer stats share; Java's `String.compareTo`
    * compares UTF-16 code units and disagrees on supplementary-plane
    * characters). None across families — callers must then keep a file,
    * never guess a coercion.
    */
  private def compare(a: Key, b: Key): Option[Int] = (a, b) match {
    case (LongKey(x), LongKey(y)) => Some(java.lang.Long.compare(x, y))
    case (DoubleKey(x), DoubleKey(y)) =>
      Some(graft.expressions.SearchSorted.cmpDouble(x, y))
    case (StringKey(x), StringKey(y)) =>
      Some(UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y)))
    case _ => None
  }

  private def lt(a: Key, b: Key): Boolean = compare(a, b).exists(_ < 0)

  /** Count of `sorted` entries at or below `k` (all one family with it). */
  private def upperBound(sorted: IndexedSeq[Key], k: Key): Int = {
    var lo = 0; var hi = sorted.length
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (compare(sorted(m), k).exists(_ <= 0)) lo = m + 1 else hi = m
    }
    lo
  }

  /** Per-file stats lines for a version directory — all files when
    * `files` is empty, else just the named ones (the merge path computes
    * stats for freshly written tiles only, carrying the rest verbatim):
    * one read of the files, min/max per (file, column), collected to the
    * driver (one row per FILE — metadata-sized at any table size) as
    * tab-separated typed values.
    */
  private def computeStatsLines(spark: SparkSession, dir: String,
      files: Seq[String], cols: Seq[String],
      rowFingerprints: Boolean = true): Seq[String] = {
    // fingerprint-free tables take the FOOTER path: per-file min/max and
    // row counts read from the parquet metadata on the driver — zero
    // Spark jobs, which on the commit-heavy streaming twins was a
    // measured ~0.2 s read-back scan per commit. Any non-whitelisted
    // type or missing chunk statistics falls back to the scan below.
    if (!rowFingerprints)
      footerStatsLines(spark, dir, files, cols) match {
        case Some(lines) => return lines
        case None => ()
      }
    // a fresh stage reads by its file list: as a directory, Spark warns
    // "All paths were ignored" on the dot-prefixed stage name. A list
    // past the parallel-listing threshold would launch a listing job, so
    // a stage with more files than that keeps the directory read.
    val names = if (files.nonEmpty) files else dataFiles(dir)
    val df =
      if (files.isEmpty && (names.isEmpty || names.size > spark.conf.get(
          "spark.sql.sources.parallelPartitionDiscovery.threshold", "32").toInt))
        GraftParquet.read(spark, dir)
      else GraftParquet.read(spark, names.map(f => s"$dir/$f"): _*)
    // content fingerprint: sum of a full-row 64-bit hash, accumulated in
    // DECIMAL (exact, order-independent, and safe under ANSI overflow
    // checking). Only atomic columns hash — a nested type anywhere drops
    // the fingerprint for the whole version (diff then rescans, never
    // mis-skips).
    val hashable = df.schema.fields.filter(f => f.dataType match {
      case _: org.apache.spark.sql.types.ArrayType => false
      case _: org.apache.spark.sql.types.MapType => false
      case _: org.apache.spark.sql.types.StructType => false
      case _ => true
    }).map(f => col(f.name))
    val fpAggs =
      if (hashable.length == df.schema.size)
        Seq(count(lit(1)).as("__cnt"),
          sum(xxhash64(hashable.toIndexedSeq: _*).cast("decimal(38,0)")).as("__fp"))
      else Seq(count(lit(1)).as("__cnt"), first(lit(null)).as("__fp"))
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"))) ++ fpAggs
    val rows = graft.Trace(s"stats:compute $dir") { df
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() }
    rows.toSeq.map { r =>
      val base = r.getString(0).split('/').last
      ((base +: cols.flatMap(c => Seq(
        encode(r.get(r.fieldIndex(s"__min_$c"))),
        encode(r.get(r.fieldIndex(s"__max_$c")))))) ++ Seq(
        r.getLong(r.fieldIndex("__cnt")).toString,
        if (rowFingerprints)
          Option(r.get(r.fieldIndex("__fp"))).map(_.toString).getOrElse("X")
        else "X"))
        .mkString("\t")
    }
  }

  /** Early-bail marker for [[footerStatsLines]] — any condition the
    * footer path cannot prove exact (non-whitelisted type, missing or
    * unusable chunk statistics) routes the whole call to the scan path.
    */
  private object FooterBail extends scala.util.control.ControlThrowable

  /** Per-file stats lines from the parquet FOOTERS alone — no Spark job.
    *
    * Exactness contract (the reason for the strict whitelist): stats
    * feed correctness-relevant pruning ([[plan]]'s file and tile choice,
    * keyBoundaries' tile cutpoints), so footer values must equal what
    * the scan-path `min`/`max` aggregation would produce, bit for bit.
    *  - signed INT32/INT64 (no logical annotation or signed int
    *    annotation): parquet chunk stats are exact minima/maxima;
    *  - BINARY + string annotation: parquet orders binary stats by
    *    unsigned lexicographic bytes — the SAME order as Spark SQL's
    *    UTF8String min/max (UTF-8 byte order), and parquet-mr drops
    *    chunk stats entirely past its size cap rather than truncating,
    *    so a present value is the true bound;
    *  - everything else (floats — NaN poisons footer stats; dates,
    *    decimals, unsigned ints — encoding mismatch) bails to the scan.
    * All-null columns encode as the non-prunable marker, exactly like
    * the scan path's null min/max. The fingerprint column is always
    * `X` here — callers opt into this path only for tables that never
    * use diff fingerprint skipping.
    */
  private def footerStatsLines(spark: SparkSession, dir: String,
      files0: Seq[String], cols: Seq[String]): Option[Seq[String]] = {
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
    import scala.jdk.CollectionConverters._
    val names = if (files0.nonEmpty) files0 else dataFiles(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      val lines = names.map { name =>
        val footer = GraftParquet.footer(conf,
          new org.apache.hadoop.fs.Path(s"$dir/$name"))
        val schema = footer.getFileMetaData.getSchema
        val blocks = footer.getBlocks.asScala.toSeq
        val rowCount = blocks.map(_.getRowCount).sum
        val encodedCols = cols.flatMap { c =>
          if (!schema.containsField(c)) throw FooterBail
          val t = schema.getType(Array(c): _*)
          if (!t.isPrimitive) throw FooterBail
          val pt = t.asPrimitiveType()
          val fam: Char = pt.getPrimitiveTypeName match {
            case PrimitiveType.PrimitiveTypeName.INT32 |
                 PrimitiveType.PrimitiveTypeName.INT64 =>
              pt.getLogicalTypeAnnotation match {
                case null => 'L'
                case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                  if i.isSigned => 'L'
                case _ => throw FooterBail
              }
            case PrimitiveType.PrimitiveTypeName.BINARY =>
              pt.getLogicalTypeAnnotation match {
                case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => 'S'
                case _ => throw FooterBail
              }
            case _ => throw FooterBail
          }
          var minL = 0L; var maxL = 0L
          var minB: Binary = null; var maxB: Binary = null
          var sawValue = false
          blocks.foreach { b =>
            val cc = b.getColumns.asScala
              .find(_.getPath.toDotString == c).getOrElse(throw FooterBail)
            val st = cc.getStatistics
            if (st == null || st.isEmpty) throw FooterBail
            if (st.hasNonNullValue) {
              if (fam == 'L') {
                val mn = st.genericGetMin.asInstanceOf[Number].longValue()
                val mx = st.genericGetMax.asInstanceOf[Number].longValue()
                if (!sawValue || mn < minL) minL = mn
                if (!sawValue || mx > maxL) maxL = mx
              } else {
                val mn = st.genericGetMin.asInstanceOf[Binary]
                val mx = st.genericGetMax.asInstanceOf[Binary]
                if (minB == null || mn.compareTo(minB) < 0) minB = mn
                if (maxB == null || mx.compareTo(maxB) > 0) maxB = mx
              }
              sawValue = true
            } else if (!st.isNumNullsSet ||
                st.getNumNulls != cc.getValueCount) throw FooterBail
          }
          if (!sawValue) Seq("X", "X") // all-null: non-prunable marker
          else if (fam == 'L') Seq(encode(minL), encode(maxL))
          else Seq(
            encode(new String(minB.getBytes, "UTF-8")),
            encode(new String(maxB.getBytes, "UTF-8")))
        }
        ((name +: encodedCols) ++ Seq(rowCount.toString, "X"))
          .mkString("\t")
      }
      Some(lines)
    } catch {
      case FooterBail => None
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Min over all files of `version`'s decoded LONG min-stat on `col` —
    * None when stats are absent or any file's value is not a decodable
    * long (callers then fall back to a scan-based check).
    */
  def statsMinLong(root: String, version: String,
      column: String): Option[Long] =
    readStatsVersion(root, version)
      .flatMap(sts => allLongs(sts.map(_.mins.get(column)))).map(_.min)

  /** Max over all files of |min|/|max| decoded LONG stats on `col` —
    * the metadata form of a magnitude-bound guard. None as above.
    */
  def statsMaxAbsLong(root: String, version: String,
      column: String): Option[Long] =
    readStatsVersion(root, version)
      .flatMap(sts => allLongs(sts.flatMap(fs =>
        Seq(fs.mins.get(column), fs.maxs.get(column)))))
      .map(_.map(math.abs).max)

  /** The decoded longs of `encoded` — None when it is empty or any entry
    * is not a decodable long.
    */
  private def allLongs(encoded: Seq[Option[String]]): Option[Seq[Long]] = {
    val longs = encoded.flatMap(_.flatMap(decode))
      .collect { case LongKey(l) => l }
    if (encoded.isEmpty || longs.size != encoded.size) None else Some(longs)
  }

  /** The published version's per-file stats, if recorded. */
  def readStats(root: String): Option[Seq[FileStats]] =
    latestVersion(root).flatMap(v => readStatsVersion(root, v))

  /** Per-file stats of a specific retained version, if recorded. */
  def readStatsVersion(root: String, version: String): Option[Seq[FileStats]] =
    layout(root, version).map(_.stats)

  /** One version's `_STATS`, read and parsed once per [[plan]], [[merge]]
    * or [[tileMergeable]] call: the header, the raw body lines (merge
    * carries an untouched file's line verbatim) and the parsed per-file
    * stats, with the key orders derived from them.
    */
  private final class Layout(val header: Seq[String], val lines: Seq[String]) {
    val stats: Seq[FileStats] = lines.map { line =>
      val f = line.split("\t")
      val tail = f.drop(1 + 2 * header.size)
      FileStats(f(0),
        header.zipWithIndex.map { case (c, i) => c -> f(1 + 2 * i) }.toMap,
        header.zipWithIndex.map { case (c, i) => c -> f(2 + 2 * i) }.toMap,
        tail.headOption.map(_.toLong),
        tail.lift(1).filter(_ != "X"))
    }

    def linesOf(files: Set[String]): Seq[String] =
      lines.zip(stats).collect { case (l, fs) if files(fs.file) => l }

    /** (file, min, max) on `column` in ascending min order — None unless
      * every file has [min, max] stats on `column`, all in one family.
      */
    def byMin(column: String): Option[IndexedSeq[(String, Key, Key)]] = {
      val ranges = stats.map(fs => for {
        lo <- fs.mins.get(column).flatMap(decode)
        hi <- fs.maxs.get(column).flatMap(decode)
      } yield (fs.file, lo, hi))
      val known = ranges.flatten
      val oneFamily = known.forall { case (_, lo, hi) =>
        compare(lo, known.head._2).isDefined &&
          compare(hi, known.head._2).isDefined
      }
      if (known.size < ranges.size || !oneFamily) None
      else Some(known.sortWith((a, b) => lt(a._2, b._2)).toIndexedSeq)
    }

    /** The pk TILE order, when the layout has one: at least two files
      * whose [min, max] ranges on `pk` are strictly disjoint (with a
      * unique pk, equal adjacent bounds would be one value in two files).
      * Returns the files by ascending min and the interior cutpoints —
      * tile i holds `cut(i-1) <= pk < cut(i)`, as [[tileId]] assigns.
      * Merge rewrites such a layout tile-locally; hash layouts and missing
      * stats have no tiles.
      */
    def tiles(pk: String): Option[(IndexedSeq[String], IndexedSeq[Key])] =
      byMin(pk)
        .filter(fs => fs.size >= 2 &&
          fs.zip(fs.tail).forall { case (a, b) => lt(a._3, b._2) })
        .map(fs => (fs.map(_._1), fs.tail.map(_._2)))
  }

  private def layout(root: String, version: String): Option[Layout] =
    readSidecar(s"$root/$version").map { case (header, lines) =>
      new Layout(header.split("\t").toSeq, lines)
    }

  /** A pruning predicate for [[plan]]. Pruning is file-granular: a plan
    * keeps every file that can hold a matching row (a file without
    * comparable stats is always kept), so callers still apply their row
    * predicate.
    */
  sealed trait Prune
  object Prune {

    /** Rows whose pk is among `frame`'s pk values — a batch-sized key
      * set, the same contract as merge's update set. The key-to-tile
      * discovery is one metadata-scale job over `frame`, or, when `local`
      * holds the same keys on the driver in the cutpoints' family, a
      * driver-side binary search with no job. Prunes only a layout with
      * tiles on pk; any other plan is the whole version.
      */
    final case class Keys(frame: DataFrame,
        local: Option[Iterable[Any]] = None) extends Prune

    /** Rows with `lo <= column <= hi`. */
    final case class Range(column: String, lo: Any, hi: Any) extends Prune

    /** Rows whose string `column` lies in ANY of the inclusive `ranges`
      * (batch-scale by contract, like [[Keys]]); zero ranges hold zero
      * rows.
      */
    final case class Ranges(column: String,
        ranges: Seq[(String, String)]) extends Prune

    /** Rows with `column` OUTSIDE [lo, hi] — the complement prune: a
      * file is skipped only when its stats prove every row lies inside
      * the band (the residual table's active-set discovery: tiles whose
      * |r| is provably under the push threshold never load).
      */
    final case class Outside(column: String, lo: Any, hi: Any) extends Prune
  }

  /** What a pruned read of `version` touches.
    *  - `files`: the kept data files; None reads the whole version
    *    directory (no stats to prune with, or a [[Prune.Keys]] prune of a
    *    layout without tiles).
    *  - `tiles`: the kept files' indices in the pk tile order
    *    ([[Layout.tiles]]) — what [[merge]]'s `knownPlan` consumes. None
    *    when the layout has no tiles on pk.
    */
  final case class Plan(version: String, files: Option[Seq[String]],
      tiles: Option[Set[Int]]) {

    /** The union of two plans of one version — what a caller that read
      * through both has touched. An unknown side makes the union unknown.
      */
    def ++(o: Plan): Plan = {
      require(version == o.version, s"plans of $version and ${o.version}")
      Plan(version, for { a <- files; b <- o.files } yield (a ++ b).distinct,
        for { a <- tiles; b <- o.tiles } yield a ++ b)
    }
  }

  /** THE pruning planner: which files of `root`'s `version` can hold the
    * rows `prune` selects, and their tile ids in `pk`'s tile order. One
    * `_STATS` read; no Spark job, except a [[Prune.Keys]] discovery that
    * cannot run on the driver. Read the result with [[readFiles]].
    */
  def plan(spark: SparkSession, root: String, version: String, pk: String,
      prune: Prune): Plan =
    layout(root, version) match {
      case Some(l) => planOn(spark, root, version, pk, prune, l)
      case None => prune match {
        case Prune.Ranges(_, rs) if rs.isEmpty => Plan(version, Some(Nil), None)
        case _ => Plan(version, None, None)
      }
    }

  private def planOn(spark: SparkSession, root: String, version: String,
      pk: String, prune: Prune, l: Layout): Plan = {
    val tiled = l.tiles(pk)
    def cmp(a: Option[Key], b: Option[Key]): Option[Int] =
      for { x <- a; y <- b; c <- compare(x, y) } yield c
    // the files whose decoded [min, max] on `column` pass `test`
    def keep(column: String)(test: (Option[Key], Option[Key]) => Boolean) = {
      val kept = l.stats.filter(fs => test(fs.mins.get(column).flatMap(decode),
        fs.maxs.get(column).flatMap(decode))).map(_.file)
      val keptSet = kept.toSet
      Plan(version, Some(kept), tiled.map { case (files, _) =>
        files.indices.filter(i => keptSet(files(i))).toSet })
    }
    prune match {
      case Prune.Keys(frame, local) => tiled match {
        case None => Plan(version, None, None)
        case Some((files, cuts)) =>
          val hit = local.flatMap(localTiles(cuts, _)).getOrElse(
            graft.Trace(s"plan:tiles $root $version") {
              frame.select(tileId(col(pk), cuts.map(_.value))
                .as("__tile")).distinct().collect().map(_.getInt(0)).toSet })
          Plan(version, Some(files.indices.filter(hit).map(files)), Some(hit))
      }
      case Prune.Range(column, lo, hi) => keep(column) { (mn, mx) =>
        !(cmp(mx, key(lo)).exists(_ < 0) || cmp(mn, key(hi)).exists(_ > 0)) }
      case Prune.Outside(column, lo, hi) => keep(column) { (mn, mx) =>
        !(cmp(mn, key(lo)).exists(_ >= 0) && cmp(mx, key(hi)).exists(_ <= 0)) }
      case Prune.Ranges(column, ranges) =>
        // ranges sort once; each file then binary-searches the sorted
        // lowers, and a prefix max over the uppers answers "does any range
        // starting at or below the file's max end at or above its min" in
        // O(1): files·log(ranges) driver work at any table size
        val sorted = ranges.map { case (a, b) => (StringKey(a), StringKey(b)) }
          .sortWith((x, y) => lt(x._1, y._1))
        val los: IndexedSeq[Key] = sorted.map(_._1).toIndexedSeq
        val maxHi = sorted.map(_._2).scanLeft(StringKey(""))((m, h) =>
          if (lt(m, h)) h else m).tail.toIndexedSeq
        keep(column) {
          case (Some(mn: StringKey), Some(mx: StringKey)) =>
            val j = upperBound(los, mx) - 1
            j >= 0 && !lt(maxHi(j), mn)
          case _ => ranges.nonEmpty // other stats: keep
        }
    }
  }

  /** Tile ids of driver-side keys — the scalar mirror of [[tileId]]'s
    * kernel, bit for bit: the count of cutpoints at or below the key,
    * nulls in tile 0. None when a key is outside the cutpoints' family
    * (a guessed coercion could diverge from the kernel's).
    */
  private def localTiles(cuts: IndexedSeq[Key],
      keys: Iterable[Any]): Option[Set[Int]] = {
    val ids = keys.iterator.map {
      case null => Some(0)
      case k => key(k).filter(compare(_, cuts.head).isDefined)
        .map(upperBound(cuts, _))
    }.toSeq
    if (ids.forall(_.isDefined)) Some(ids.flatten.toSet) else None
  }

  /** The frame of a [[plan]]: exactly its files (a schema-preserving
    * empty frame when none survive), or the whole version.
    */
  def readFiles(spark: SparkSession, root: String, plan: Plan): DataFrame =
    plan.files match {
      case None => readVersion(spark, root, plan.version)
      case Some(fs) if fs.isEmpty =>
        readVersion(spark, root, plan.version).filter(lit(false))
      case Some(fs) =>
        GraftParquet.read(spark, fs.map(f => s"$root/${plan.version}/$f"): _*)
    }

  /** Dim point-lookup (reference: `RT/utils/DimUtil.java:22-27`, one
    * HBase row by pk), served on the driver with no Spark job. The
    * stats-pruned [[plan]] keeps the files that can hold `value` (one on
    * a pk-clustered snapshot); [[GraftParquet.readOnDriver]] reads exactly
    * those files here, applying parquet row-group stats and the
    * `pkCol = value` filter while reading, and returns the matching rows
    * as a `LocalRelation` frame, whose `collect()` starts no job.
    *
    * The rows are read when this is called, not at the frame's action.
    * A plan that keeps no file gives a schema-preserving empty frame; a
    * version without `_STATS` reads every data file.
    */
  def pointLookup(spark: SparkSession, root: String, pkCol: String,
      value: Any): Option[DataFrame] =
    latestVersion(root).map { v =>
      plan(spark, root, v, pkCol, Prune.Range(pkCol, value, value)).files
        .getOrElse(dataFiles(s"$root/$v")) match {
        case Nil => readVersion(spark, root, v).filter(lit(false))
        case fs => GraftParquet.readOnDriver(spark,
          fs.map(f => s"$root/$v/$f"), col(pkCol) === lit(value))
      }
    }

  /** CHANGE DATA FEED between two retained versions (the Delta
    * `table_changes` / Iceberg incremental-read analog): every row that
    * is in `vNew` but not `vOld` (`insert`), in `vOld` but not `vNew`
    * (`delete`), or present in both with different content
    * (`update_preimage` + `update_postimage` — both images, the Delta CDF
    * contract). Rows are identified by `pk` (must be unique and non-null
    * per version); sameness is a 64-bit full-row hash.
    *
    * 100 TB shape: the naive version diff is two full scans plus a
    * table-sized shuffle. When both versions carry per-file count +
    * content fingerprints in `_STATS` ([[publish]] has recorded them
    * since fingerprints were introduced), [[diffFiles]] first matches
    * identical files pair-wise ON THE DRIVER — same min/max, row count
    * and fingerprint — and the scan reads only the UNMATCHED files on
    * each side. A clustered table whose changes concentrate in a few
    * tiles (the common dim-update pattern) diffs by scanning just those
    * tiles; a layout whose tile boundaries line up between versions
    * ([[publishAligned]]'s value cutpoints, [[merge]]'s tile-local
    * rewrite, and [[publish]]'s range clustering for stable key
    * populations) is what lets untouched tiles fingerprint-match. Missing
    * or incomparable stats on either side fall back to the full diff —
    * skipping is an optimization, never a correctness dependence (up to
    * the 64-bit fingerprint, the same confidence bar as the row-sameness
    * hash).
    */
  def diff(spark: SparkSession, root: String, vOld: String, vNew: String,
      pk: String): DataFrame = {
    val oldDf = readVersion(spark, root, vOld)
    val newDf = readVersion(spark, root, vNew)
    require(oldDf.schema == newDf.schema,
      s"diff requires identical schemas; $vOld vs $vNew differ")
    val kept = diffFiles(root, vOld, vNew)
    def side(version: String, files: Option[Seq[String]]) =
      readFiles(spark, root, Plan(version, files, None))
    val dataCols = oldDf.columns.toSeq.map(col)
    def keyed(df: DataFrame, h: String, row: String) =
      df.select(col(pk).as("__pk"),
        xxhash64(dataCols: _*).as(h), struct(dataCols: _*).as(row))
    val j = graft.CacheRegistry.persist(
      keyed(side(vOld, kept.map(_._1)), "__oh", "__orow")
        .join(keyed(side(vNew, kept.map(_._2)), "__nh", "__nrow"),
          Seq("__pk"), "full_outer"))
    val changed = j.filter(col("__oh").isNotNull && col("__nh").isNotNull &&
      col("__oh") =!= col("__nh"))
    Seq(
      j.filter(col("__oh").isNull)
        .select(col("__nrow.*")).withColumn("_change_type", lit("insert")),
      j.filter(col("__nh").isNull)
        .select(col("__orow.*")).withColumn("_change_type", lit("delete")),
      changed.select(col("__orow.*"))
        .withColumn("_change_type", lit("update_preimage")),
      changed.select(col("__nrow.*"))
        .withColumn("_change_type", lit("update_postimage")))
      .reduce(_ unionByName _)
  }

  /** The driver-side file-matching half of [[diff]]: the UNMATCHED files
    * of each version (old, new), or None when either side lacks complete
    * count+fingerprint stats (→ full diff). Matching is multiset-exact:
    * a (mins, maxs, count, fingerprint) key pairs one old file with one
    * new file per occurrence.
    */
  private[graft] def diffFiles(root: String, vOld: String,
      vNew: String): Option[(Seq[String], Seq[String])] = {
    def key(fs: FileStats): Option[(Map[String, String], Map[String, String],
        Long, String)] =
      for { c <- fs.count; f <- fs.fingerprint } yield (fs.mins, fs.maxs, c, f)
    for {
      so <- readStatsVersion(root, vOld)
      sn <- readStatsVersion(root, vNew)
      if so.forall(key(_).isDefined) && sn.forall(key(_).isDefined)
    } yield {
      def unmatched(mine: Seq[FileStats], other: Seq[FileStats]) = {
        val budget = scala.collection.mutable.Map.empty[Any, Int]
        other.foreach { fs =>
          budget.updateWith(key(fs).get)(n => Some(n.getOrElse(0) + 1)); ()
        }
        mine.filter { fs =>
          val k = key(fs).get
          if (budget.getOrElse(k, 0) > 0) { budget(k) -= 1; false } else true
        }.map(_.file)
      }
      (unmatched(so, sn), unmatched(sn, so))
    }
  }

  /** Delete retained-window stragglers: keep the newest [[Retain]]
    * version directories by numeric order, remove the rest. Never touches
    * the published version.
    */
  private def prune(root: String): Unit = {
    val head = latestVersion(root)
    val keep = head.toSet
    val dir = new java.io.File(root)
    versions(root).reverse.drop(Retain).filterNot(keep)
      .foreach(v => rmTree(new java.io.File(dir, v)))
    // stale staging directories: a stage whose embedded version id is
    // STRICTLY below the committed head can never win its CAS (its base
    // is at least two commits behind), so it is a crashed writer's
    // orphan or a doomed straggler — GC it with the retention sweep.
    // Strictly-below, not at-or-below: a stage AT the head is usually
    // the same-id race's still-writing loser, and deleting it mid-write
    // would turn its clean SnapshotConflictException into an opaque
    // task IOException; it becomes GC-able one commit later. (A doomed
    // straggler two versions behind can still lose its stage mid-write
    // — it was going to conflict regardless, and recovery is the same
    // re-derive-and-retry.)
    val headId = head.map(_.drop(1).toLong)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".stage_v"))
      .foreach { f =>
        val vid = "^\\.stage_v(\\d+)_".r.findFirstMatchIn(f.getName)
          .map(_.group(1).toLong)
        if (vid.exists(v => headId.exists(_ > v))) rmTree(f)
      }
  }
}

/** A commit lost its optimistic-concurrency race: the table head moved
  * past the snapshot this write derived from (see the MULTI-WRITER
  * CONCURRENCY section of [[SnapshotTable]]'s scaladoc). The winner's
  * version is intact; the loser's data directory never became visible.
  * Recovery: re-read the head, re-derive the write, retry with a version
  * id past the new head.
  */
final class SnapshotConflictException(val root: String,
    val expected: Option[String], val found: Option[String])
  extends RuntimeException(
    s"concurrent publish on $root: this write derived from head " +
      s"${expected.getOrElse("<empty table>")} but the committed head is " +
      s"now ${found.getOrElse("<empty table>")} — re-read the head and " +
      "retry with a version id past it")
