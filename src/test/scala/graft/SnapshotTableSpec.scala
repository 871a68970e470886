package graft

import org.apache.spark.sql.functions._

/** The snapshot table format's three guarantees: atomic publish (a torn
  * writer leaves the published view untouched), reader isolation across a
  * publish (retention keeps the resolved version on disk), and idempotent
  * replay. This is the crash-mid-publish proof the dim-sink path (K4)
  * rests on.
  */
class SnapshotTableSpec extends SparkSpec {
  import graft.sources.SnapshotTable

  private def freshRoot(tag: String): String = {
    val root = s"${sys.props("java.io.tmpdir")}/graft_snap_$tag"
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
    }
    rm(new java.io.File(root))
    root
  }

  /** The head of `root`, pruned to the files whose [min, max] on `c` can
    * hold a value in [lo, hi].
    */
  private def readRange(root: String, c: String, lo: Any, hi: Any) = {
    val v = SnapshotTable.latestVersion(root).get
    SnapshotTable.readFiles(spark, root,
      SnapshotTable.plan(spark, root, v, c, SnapshotTable.Prune.Range(c, lo, hi)))
  }

  /** The files [[SnapshotTable.pointLookup]] reads for `c = v` on the
    * head of `root`: those its Range plan keeps.
    */
  private def lookupFiles(root: String, c: String, v: Any): Seq[String] = {
    val head = SnapshotTable.latestVersion(root).get
    SnapshotTable.plan(spark, root, head, c, SnapshotTable.Prune.Range(c, v, v))
      .files.get
  }

  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("id", "val")
  }

  test("a crash between data write and marker move never tears the published view") {
    val root = freshRoot("torn")
    SnapshotTable.publish(df(Seq(1L -> "a", 2L -> "b")), root, "v1")
    assert(SnapshotTable.latestVersion(root).contains("v1"))
    // simulate the crash: v2's directory exists, PARTIALLY written (a
    // non-parquet fragment), and the marker move never happened
    val torn = new java.io.File(s"$root/v2")
    torn.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/v2/part-00000.parquet"), "garbage bytes")
    val seen = SnapshotTable.read(spark, root).get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(SnapshotTable.latestVersion(root).contains("v1"),
      "an unpublished version directory must be invisible")
    assert(seen == Set(1L -> "a", 2L -> "b"))
  }

  test("reader resolved before a publish keeps its version through it (isolation + retention)") {
    val root = freshRoot("iso")
    SnapshotTable.publish(df(Seq(1L -> "a")), root, "v1")
    val resolvedBefore = SnapshotTable.latestVersion(root).get
    SnapshotTable.publish(df(Seq(1L -> "b")), root, "v2")
    // retention 2 keeps v1 on disk: the old resolution still reads cleanly
    val old = SnapshotTable.readVersion(spark, root, resolvedBefore)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(old == Set(1L -> "a"), "pre-publish resolution must stay readable")
    val now = SnapshotTable.read(spark, root).get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(now == Set(1L -> "b"))
    // a third publish prunes v1 (beyond the retained window), keeps v2
    SnapshotTable.publish(df(Seq(1L -> "c")), root, "v3")
    assert(!new java.io.File(s"$root/v1").exists(), "v1 beyond retention must be pruned")
    assert(new java.io.File(s"$root/v2").exists(), "v2 within retention must survive")
  }

  test("merge keeps the latest row per pk, replays idempotently, widens the column set") {
    val root = freshRoot("keeplatest")
    SnapshotTable.merge(df(Seq(1L -> "a", 2L -> "b")), root, "id", "v1")
    SnapshotTable.merge(df(Seq(2L -> "B", 3L -> "c")), root, "id", "v2")
    def snap() = SnapshotTable.read(spark, root).get
      .select("id", "val").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val after = snap()
    assert(after == Set(1L -> "a", 2L -> "B", 3L -> "c"))
    // replay of the SAME batch leaves the committed version as it is
    SnapshotTable.merge(df(Seq(2L -> "B", 3L -> "c")), root, "id", "v2")
    assert(snap() == after, "replayed batch must reproduce the identical snapshot")
    // a wider column set: the new column appears, old rows null-fill
    import spark.implicits._
    val widened = Seq((4L, "d", "extra"), (1L, "A", "upd")).toDF("id", "val", "note")
    SnapshotTable.merge(widened, root, "id", "v3")
    val table = SnapshotTable.read(spark, root).get
    assert(table.columns.toSeq == Seq("id", "val", "note"))
    val rows = table.collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(rows == Set((1L, "A", Some("upd")), (2L, "B", None), (3L, "c", None),
      (4L, "d", Some("extra"))))
  }

  test("merge with a narrowed column set keeps the table's columns and stats header; the pk is required") {
    import spark.implicits._
    val root = freshRoot("narrow")
    val wide = (1L to 40L).map(i => (i, s"v$i", s"n$i")).toDF("id", "val", "note")
    SnapshotTable.publish(wide, root, "v1",
      statsCols = Seq("id", "note"), clusterFiles = Some(4))
    // the update set lacks `note`: updated and inserted rows null-fill it,
    // untouched rows keep theirs, and the table keeps the column
    SnapshotTable.merge(df(Seq(3L -> "V3", 41L -> "v41")), root, "id", "v2",
      clusterFiles = Some(4))
    val table = SnapshotTable.read(spark, root).get
    assert(table.columns.toSeq == Seq("id", "val", "note"))
    val rows = table.collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.getString(2)))).toMap
    assert(rows.size == 41 && rows(3L) == ("V3", None) &&
      rows(41L) == ("v41", None) && rows(7L) == ("v7", Some("n7")))
    val header = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/v2/_STATS")).split("\n").head
    assert(header == "id\tnote", s"the stats header must carry over, got $header")
    assert(SnapshotTable.tileMergeable(root, "v2", "id"))
    // an update set without the pk fails by name; the head stays
    val noPk = intercept[IllegalArgumentException] {
      SnapshotTable.merge(Seq("x").toDF("val"), root, "id", "v3")
    }
    assert(noPk.getMessage.contains("lack the pk column id"), noPk.getMessage)
    assert(SnapshotTable.latestVersion(root).contains("v2"))
  }

  test("merge fails by name on a shared column whose type changed; a replay of the head is not checked") {
    import spark.implicits._
    val root = freshRoot("retype")
    SnapshotTable.publish(df(Seq(1L -> "a", 2L -> "b")), root, "v1",
      statsCols = Seq("id"), clusterFiles = Some(2))
    val retyped = Seq((2L, 20L)).toDF("id", "val")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.merge(retyped, root, "id", "v2")
    }
    assert(e.getMessage.contains("column val changes type from string to bigint"),
      e.getMessage)
    assert(SnapshotTable.latestVersion(root).contains("v1"))
    assert(!new java.io.File(root).listFiles().exists(_.getName.startsWith(".stage_")),
      "a rejected merge must leave no stage behind")
    // the replay short-circuit runs first: re-sending the committed head's
    // id returns without reading the table
    SnapshotTable.merge(retyped, root, "id", "v1")
    assert(SnapshotTable.read(spark, root).get.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set(1L -> "a", 2L -> "b"))
  }

  test("file-level skipping: a point lookup on a clustered snapshot reads ONE file of eight") {
    import spark.implicits._
    val root = freshRoot("skip")
    val dim = spark.range(10000L).select(col("id"),
      concat(lit("name_"), col("id")).as("val"))
    SnapshotTable.publish(dim, root, "v1",
      statsCols = Seq("id"), clusterFiles = Some(8))
    // stats exist, one entry per data file, and don't break plain readers
    val stats = SnapshotTable.readStats(root).get
    assert(stats.size == 8, s"expected 8 file-stats entries, got ${stats.size}")
    assert(SnapshotTable.read(spark, root).get.count() == 10000L,
      "_STATS must be invisible to a normal parquet read")
    // the point lookup reads exactly the files of its plan: one
    val hitFiles = lookupFiles(root, "id", 4321L)
    assert(hitFiles.size == 1,
      s"point lookup should prune to 1 file, reads ${hitFiles.size}")
    val hit = SnapshotTable.pointLookup(spark, root, "id", 4321L).get
    assert(hit.collect().map(_.getString(1)).toSeq == Seq("name_4321"))
    // a selective range prunes to the covering subset, result identical
    // to the unpruned filter
    val ranged = readRange(root, "id", 1000L, 1999L)
    assert(ranged.inputFiles.length < 8,
      s"range read should skip files, scans ${ranged.inputFiles.length}")
    val got = ranged.filter(col("id").between(1000L, 1999L)).count()
    assert(got == 1000L)
    // out-of-range lookups are provably empty without scanning anything
    val miss = SnapshotTable.pointLookup(spark, root, "id", -5L).get
    assert(miss.count() == 0L)
    // string stats: prune on a string pk too
    val sroot = freshRoot("skipstr")
    val sdim = spark.range(1000L)
      .select(format_string("k%04d", col("id")).as("k"), col("id").as("v"))
    SnapshotTable.publish(sdim, sroot, "v1",
      statsCols = Seq("k"), clusterFiles = Some(4))
    val sFiles = lookupFiles(sroot, "k", "k0777")
    assert(sFiles.size == 1,
      s"string point lookup should prune to 1 file, reads ${sFiles.size}")
    val shit = SnapshotTable.pointLookup(spark, sroot, "k", "k0777").get
    assert(shit.collect().map(_.getLong(1)).toSeq == Seq(777L))
  }

  test("a point lookup starts no Spark job, collect included: hit, misses, empty version, no _STATS") {
    // even ids only: an odd key is a miss inside a kept file's range
    val base = spark.range(0L, 2000L, 2L)
      .select(col("id"), format_string("k%04d", col("id")).as("k"))
    Seq[(String, Any, Any, Any)](("id", 778L, 777L, -5L),
        ("k", "k0778", "k0777", "a")).foreach { case (pk, hit, inside, outside) =>
      val root = freshRoot(s"nojob_$pk")
      SnapshotTable.publish(base, root, "v1",
        statsCols = Seq(pk), clusterFiles = Some(4))
      val empty = freshRoot(s"nojob_empty_$pk")
      SnapshotTable.publish(base.filter(lit(false)), empty, "v1",
        statsCols = Seq(pk))
      // no stats: the lookup reads every data file of the version
      val unpruned = freshRoot(s"nojob_nostats_$pk")
      SnapshotTable.publish(base.repartition(3), unpruned, "v1")
      assert(lookupFiles(root, pk, inside).size == 1 &&
        lookupFiles(root, pk, outside).isEmpty,
        s"$pk: precondition: one miss inside a file's range, one outside all")
      assert(SnapshotTable.readStats(unpruned).isEmpty,
        s"$pk: precondition: a publish without statsCols writes no _STATS")
      Seq(("hit", root, hit, 1), ("miss inside a file", root, inside, 0),
          ("miss outside every file", root, outside, 0),
          ("empty version", empty, hit, 0),
          ("no _STATS", unpruned, hit, 1)).foreach { case (name, r, key, n) =>
        val (rows, jobs) = jobsStartedBy(
          SnapshotTable.pointLookup(spark, r, pk, key).get.collect())
        assert(jobs == 0, s"$pk $name: the lookup started $jobs Spark job(s)")
        assert(rows.length == n && rows.forall(_.getAs[Any](pk) == key),
          s"$pk $name: ${rows.mkString(";")}")
      }
    }
  }

  test("diff emits exact change rows; fingerprint matching skips untouched tiles") {
    val root = freshRoot("diff")
    val v1 = spark.range(8000L).select(col("id"), (col("id") % 97).as("v"))
    SnapshotTable.publish(v1, root, "v1",
      statsCols = Seq("id"), clusterFiles = Some(8))
    // v2 on v1's file grid: update one key run, delete another, append new
    // keys past the max — three tiles' worth of change in an 8-tile table
    val v2 = v1
      .filter(!col("id").between(200, 204))
      .withColumn("v",
        when(col("id").between(100, 109), col("v") + 1000).otherwise(col("v")))
      .unionByName(spark.range(8000L, 8010L).select(col("id"), lit(-1L).as("v")))
    val bounds = SnapshotTable.keyBoundaries(root, "v1", "id").get
    SnapshotTable.publishAligned(v2, root, "v2", "id", bounds)
    val d = SnapshotTable.diff(spark, root, "v1", "v2", "id")
    // exact change classes
    val got = d.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    val want =
      (8000L to 8009L).map(k => (k, -1L, "insert")).toSet ++
        (200L to 204L).map(k => (k, k % 97, "delete")) ++
        (100L to 109L).map(k => (k, k % 97, "update_preimage")) ++
        (100L to 109L).map(k => (k, k % 97 + 1000, "update_postimage"))
    assert(got == want, s"diff rows off: extra=${got -- want} missing=${want -- got}")
    // the scan evidence: changes live in the tile holding 100-204 and the
    // last tile (inserts past the old max) — every other tile pair
    // fingerprint-matches on the driver and is never read. diffFiles IS
    // the skip decision (the scan frames are built from exactly these
    // lists); df.inputFiles would be vacuous here — the internal persist
    // substitutes a cached relation and hides the file scans. The
    // got == want equality above is what proves no changed tile was
    // wrongly skipped.
    val (keptOld, keptNew) = SnapshotTable.diffFiles(root, "v1", "v2").get
    assert(keptOld.size <= 3 && keptNew.size <= 3,
      s"diff should scan only changed tiles of 8, kept " +
        s"${keptOld.size} old + ${keptNew.size} new")
    // an identical republish diffs to zero rows without scanning anything
    // (v3 retires v1; only v2 and v3 are read from here on)
    SnapshotTable.publishAligned(v2, root, "v3", "id", bounds)
    val (k3o, k3n) = SnapshotTable.diffFiles(root, "v2", "v3").get
    assert(k3o.isEmpty && k3n.isEmpty,
      s"identical versions must fingerprint-match every tile, kept " +
        s"${k3o.size}/${k3n.size}")
    assert(SnapshotTable.diff(spark, root, "v2", "v3", "id").count() == 0L)
  }

  test("merge rewrites only changed tiles; carried files and stats are verbatim") {
    val root = freshRoot("merge")
    val base = spark.range(8000L).select(col("id"), (col("id") % 97).as("v"))
    SnapshotTable.publish(base, root, "v1",
      statsCols = Seq("id"), clusterFiles = Some(8))
    // one merge batch carrying all three clauses: matched-update (keys
    // 100-109), matched-delete (keys 300-302, flagged v < 0), and
    // not-matched insert (keys past the max) — changes land in the first
    // and last of 8 tiles
    val ups = spark.range(100L, 110L).select(col("id"), lit(5000L).as("v"))
      .unionByName(spark.range(300L, 303L).select(col("id"), lit(-1L).as("v")))
      .unionByName(spark.range(8000L, 8005L).select(col("id"), lit(7L).as("v")))
    SnapshotTable.merge(ups, root, "id", "v2",
      deleteWhen = Some(col("v") < 0))
    val got = SnapshotTable.read(spark, root).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0L until 8000L).filterNot(k => k >= 300L && k <= 302L)
      .map(k => if (k >= 100L && k < 110L) (k, 5000L) else (k, k % 97))
      .toSet ++ (8000L until 8005L).map(k => (k, 7L))
    assert(got == want,
      s"merged rows off: extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
    // physical carry-over: untouched tiles keep their v1 file names (a
    // byte copy), and their _STATS lines are reused verbatim
    def names(v: String) = new java.io.File(s"$root/$v").listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getName).toSet
    val carried = names("v1") intersect names("v2")
    assert(carried.size >= 5 && names("v2").size >= carried.size + 1,
      s"expected >=5 carried + fresh changed files, carried ${carried.size} " +
        s"of ${names("v2").size}")
    def lines(v: String) = java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$root/$v/_STATS"))
      .split("\n").drop(1).filter(l => carried(l.split("\t").head)).toSet
    assert(lines("v1") == lines("v2"),
      "carried files must keep their stats lines verbatim")
    // composition: a diff across the merge skips every carried tile and
    // reports exactly the merge's deltas
    val (ko, kn) = SnapshotTable.diffFiles(root, "v1", "v2").get
    assert(ko.size <= 3 && kn.size <= 3,
      s"diff after merge should scan changed tiles only, kept ${ko.size}/${kn.size}")
    val byType = SnapshotTable.diff(spark, root, "v1", "v2", "id")
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 5L, "delete" -> 3L,
      "update_preimage" -> 10L, "update_postimage" -> 10L), s"diff classes: $byType")
    // at-least-once replay: re-merging the committed batch is a no-op
    // (a naive re-apply would overwrite the files the carry copies from)
    SnapshotTable.merge(ups, root, "id", "v2",
      deleteWhen = Some(col("v") < 0))
    val replayed = SnapshotTable.read(spark, root).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(replayed == want, "replayed merge must leave the table unchanged")
  }

  test("compact rewrites a fragmented table into a clustered version, data intact") {
    val root = freshRoot("compact")
    // a fragmented table: 16 files of unclustered rows, then an
    // unclustered merge, a full rewrite into task-count files
    val dim = spark.range(2000L).select(col("id"),
      format_string("c%04d", (col("id") * 7919) % 2000).as("code"))
    SnapshotTable.publish(dim.repartition(16), root, "v1")
    SnapshotTable.merge(
      spark.range(5L).select(col("id"), lit("cXXXX").as("code")),
      root, "id", "v2")
    assert(!SnapshotTable.tileMergeable(root, "v2", "id"),
      "sanity: the unclustered merge must leave a non-tiled layout")
    val before = SnapshotTable.read(spark, root).get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    // linear compaction: 4 files, stats + clustering on id (version is
    // caller-owned — the next unused id in this root's sequence)
    val v3 = SnapshotTable.compact(spark, root, "v3", 4, statsCols = Seq("id"))
    assert(v3.contains("v3") && SnapshotTable.latestVersion(root).contains("v3"))
    assert(SnapshotTable.readStats(root).get.size == 4)
    val after = SnapshotTable.read(spark, root).get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before, "compaction must not change the data")
    val hitFiles = lookupFiles(root, "id", 1234L)
    assert(hitFiles.size == 1,
      s"compacted point lookup should prune to 1 file, reads ${hitFiles.size}")
    assert(SnapshotTable.pointLookup(spark, root, "id", 1234L).get.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      before.filter(_._1 == 1234L).toSeq)

    // a stale/colliding version id fails loudly instead of overwriting
    intercept[IllegalArgumentException] {
      SnapshotTable.compact(spark, root, "v3", 4, statsCols = Seq("id"))
    }
    // compaction range-clusters by the lead stats column: none is an error
    val noStats = intercept[IllegalArgumentException] {
      SnapshotTable.compact(spark, root, "v4", 4, statsCols = Nil)
    }
    assert(noStats.getMessage.contains("stats column"), noStats.getMessage)
    assert(SnapshotTable.latestVersion(root).contains("v3"))
  }

  test("merge on a non-tiled layout falls back to a clustered full rewrite that keeps the stats header and bootstraps the tile regime") {
    val root = freshRoot("fallback")
    // UNCLUSTERED layout: per-file pk ranges overlap, so a merge cannot
    // take the tile path and must fall back to the full rewrite
    val dim = spark.range(20000L).select(
      ((col("id") * 7919) % 20000).as("id"),
      format_string("n%05d", (col("id") * 104729) % 20000).as("nat"))
      .repartition(8)
    SnapshotTable.publish(dim, root, "v1",
      statsCols = Seq("id", "nat"))
    assert(!SnapshotTable.tileMergeable(root, "v1", "id"),
      "sanity: the fixture must force merge's fallback path")
    def rows(v: String) = SnapshotTable.readVersion(spark, root, v).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ups = spark.range(3L).select(col("id"), lit("nYYYYY").as("nat"))
      .unionByName(spark.range(20000L, 20002L).select(col("id"), lit("nNEW").as("nat")))
    val want2 = rows("v1") ++ (0L until 3L).map(_ -> "nYYYYY") ++
      (20000L until 20002L).map(_ -> "nNEW")
    SnapshotTable.merge(ups, root, "id", "v2",
      clusterFiles = Some(8))
    val header = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/v2/_STATS")).split("\n").head
    assert(header == "id\tnat",
      s"the fallback rewrite must keep the table's stats header, got $header")
    assert(SnapshotTable.tileMergeable(root, "v2", "id"),
      "a clustered fallback rewrite must bootstrap the tile regime")
    assert(rows("v2") == want2, "fallback rows must equal the keep-latest result")
    // the next merge takes the tile path: untouched v2 files carry over
    val ups3 = spark.range(100L, 103L).select(col("id"), lit("nZZZZZ").as("nat"))
    // v3 retires v1; only v2 and v3 are read from here on
    SnapshotTable.merge(ups3, root, "id", "v3")
    def names(v: String) = new java.io.File(s"$root/$v").listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getName).toSet
    val carried = names("v2") intersect names("v3")
    assert(carried.size >= 5,
      s"the second merge must carry untouched tiles, carried ${carried.size} " +
        s"of ${names("v3").size}")
    assert(rows("v3") == want2 ++ (100L until 103L).map(_ -> "nZZZZZ"))
  }

  test("merge treats a NULL delete predicate as not-deleted (SQL MERGE semantics)") {
    val root = freshRoot("nulldel")
    SnapshotTable.publish(
      df(Seq(1L -> "a", 2L -> "b", 3L -> "c")), root, "v1",
      statsCols = Seq("id"), clusterFiles = Some(2))
    // when() without otherwise(): TRUE for "del", NULL for everything else
    val ups = df(Seq(1L -> "del", 2L -> "b2", 4L -> "d"))
    SnapshotTable.merge(ups, root, "id", "v2",
      deleteWhen = Some(when(col("val") === "del", lit(true))))
    val got = SnapshotTable.read(spark, root).get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(2L -> "b2", 3L -> "c", 4L -> "d"),
      s"null-predicate rows must apply as updates/inserts, got $got")
  }

  test("two interleaved writers: the stale one conflicts; no committed version is lost") {
    import graft.sources.SnapshotConflictException
    val root = freshRoot("race")
    SnapshotTable.publish(df(Seq(1L -> "a", 2L -> "b")), root, "v1",
      statsCols = Seq("id"), clusterFiles = Some(2))

    // Writer A (a streaming merge) reads head v1 and derives v2. The
    // onBeforeCommit seam fires at the instant A is about to commit —
    // there, writer B (a compactor) runs its ENTIRE read-derive-commit
    // against the same v1 head and wins the race with v3. A's CAS must
    // then see head v3 ≠ its base v1 and throw, leaving v3 intact.
    var bRan = false
    graft.sources.SnapshotTable.onBeforeCommit = (r, v) =>
      if (r == root && v == "v2" && !bRan) {
        bRan = true // one-shot: B's own commit re-enters this hook
        SnapshotTable.merge(df(Seq(3L -> "fromB")), root, "id", "v3")
      }
    val lost =
      try { SnapshotTable.merge(df(Seq(2L -> "fromA")), root, "id", "v2"); None }
      catch { case e: SnapshotConflictException => Some(e) }
      finally graft.sources.SnapshotTable.onBeforeCommit = (_, _) => ()
    assert(bRan, "the interleave seam must have run writer B")
    val e = lost.getOrElse(fail("the stale writer must raise a conflict"))
    assert(e.expected.contains("v1") && e.found.contains("v3"))
    assert(SnapshotTable.latestVersion(root).contains("v3"),
      "the winner's committed head must survive the loser's attempt")
    val afterRace = SnapshotTable.read(spark, root).get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterRace == Set(1L -> "a", 2L -> "b", 3L -> "fromB"),
      s"B's committed version must be intact, got $afterRace")

    // A's recovery per the documented contract: re-read the head, re-derive,
    // retry past it — both writers' rows are then present; nothing was lost.
    SnapshotTable.merge(df(Seq(2L -> "fromA")), root, "id", "v4")
    val got = SnapshotTable.read(spark, root).get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(1L -> "a", 2L -> "fromA", 3L -> "fromB"),
      s"retry against the new head must merge both writers' rows, got $got")
    assert(SnapshotTable.latestVersion(root).contains("v4"))
  }

  test("export/import round trip: plain-parquet boundary, byte-identical restore") {
    val root = freshRoot("exp")
    val rows = (1L to 200L).map(i => i -> s"val_$i")
    SnapshotTable.publish(df(rows), root, "v1",
      statsCols = Seq("id"), clusterFiles = Some(4))
    val exp = freshRoot("expdir")
    assert(SnapshotTable.exportTable(spark, root, exp).contains("v1"))

    // the export is a PLAIN parquet table: any engine reads it directly
    val plain = spark.read.parquet(exp)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(plain == rows.toSet, "export dir must read as plain parquet")

    // byte-identical restore into a fresh root, no rewrite, no scan
    val root2 = freshRoot("imp")
    SnapshotTable.importTable(exp, root2, "v1")
    val got = SnapshotTable.read(spark, root2).get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == rows.toSet)
    def filesOf(r: String) = Option(new java.io.File(s"$r/v1").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length()).sortBy(_._1).toSeq
    assert(filesOf(root2) == filesOf(root),
      "imported data files must be byte-identical (names and sizes)")
    // skipping sidecars survive the round trip: point lookups still prune
    val all = SnapshotTable.read(spark, root2).get.inputFiles.length
    val hit = SnapshotTable.pointLookup(spark, root2, "id", 7L).get
    assert(hit.count() == 1L && lookupFiles(root2, "id", 7L).size < all,
      "carried _STATS must keep pruning after import")
  }

  test("a legacy _BLOOM sidecar is ignored: import, read, lookup, merge and compact never fail on it") {
    val root = freshRoot("legacybloom")
    val rows = (1L to 400L).map(i => i -> f"n${(i * 7919) % 400}%05d")
    SnapshotTable.publish(df(rows), root, "v1",
      statsCols = Seq("id"), clusterFiles = Some(4))
    val exp = freshRoot("legacybloomexp")
    assert(SnapshotTable.exportTable(spark, root, exp).contains("v1"))
    // the sidecar as older releases wrote it: a `bits=<n>` header, then
    // one `col\tfile\tbase64\tfamily` line per (column, file). All-zero
    // filters: a reader that still honoured them would skip every file
    def writeBloom(dir: String): Unit = {
      val zeros = java.util.Base64.getEncoder.encodeToString(new Array[Byte](16))
      val files = new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).sorted
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/_BLOOM"),
        "bits=128\n" + files.map(f => s"val\t$f\t$zeros\tS").mkString("\n") + "\n")
      ()
    }
    writeBloom(exp)
    writeBloom(s"$root/v1")
    def bloomIn(r: String, v: String) = new java.io.File(s"$r/$v/_BLOOM").exists()
    def got(r: String) = SnapshotTable.read(spark, r).get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    val imported = freshRoot("legacybloomimp")
    SnapshotTable.importTable(exp, imported, "v1")
    assert(got(imported) == rows.toSet && !bloomIn(imported, "v1"))

    assert(got(root) == rows.toSet)
    val (k, v) = rows(6)
    assert(SnapshotTable.pointLookup(spark, root, "val", v).get.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq(k -> v),
      "a lookup on the old bloom column must ignore the sidecar")
    SnapshotTable.merge(df(Seq(k -> "merged", 401L -> "new")), root, "id", "v2")
    val merged = rows.toSet - (k -> v) + (k -> "merged") + (401L -> "new")
    assert(got(root) == merged && !bloomIn(root, "v2"))
    SnapshotTable.compact(spark, root, "v3", 2, statsCols = Seq("id"))
    assert(got(root) == merged && !bloomIn(root, "v3"))
  }

  test("a stats commit reads its stage by file list: no 'All paths were ignored' warning") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val source = "org.apache.spark.sql.execution.datasources.DataSource"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("stage-warn", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName == source) {
          seen.add(e.getMessage.getFormattedMessage); ()
        }
    }
    // the session first: starting Spark reconfigures log4j2, which would
    // drop an appender attached before it. The appender joins the logger
    // config the DataSource logger already resolves to: a config of its
    // own would copy the root's additivity (off) and silence the console
    // for that logger for the rest of the JVM
    spark.conf.get("spark.app.name")
    val config = LogManager.getLogger(source).asInstanceOf[Logger].get()
    appender.start()
    config.addAppender(appender, null, null)
    val root = freshRoot("stagewarn")
    val hidden = freshRoot("stagewarn_probe") + "/.hidden"
    try {
      // control: a dot-prefixed directory read does log the warning
      df(Seq(1L -> "a")).write.parquet(hidden)
      spark.read.parquet(hidden).collect()
      SnapshotTable.publish(
        spark.range(400L).select(col("id"), (col("id") % 7).as("v")), root,
        "v1", statsCols = Seq("id"), clusterFiles = Some(4))
    } finally { config.removeAppender(appender.getName); appender.stop() }
    val ignored = seen.toArray.map(_.toString)
      .filter(_.contains("All paths were ignored"))
    assert(ignored.exists(_.contains(".hidden")),
      s"control: the appender must see Spark's warning, saw ${seen.size} lines")
    assert(SnapshotTable.readStats(root).get.size == 4)
    assert(!ignored.exists(_.contains(".stage_")),
      s"a stats pass must not read its stage as a directory: ${ignored.mkString("; ")}")
  }

  test("importTable fails by name on a directory without _MANIFEST.json") {
    val root = freshRoot("nomanifest")
    val dir = freshRoot("nomanifestdir")
    df((1L to 100L).map(i => i -> s"v$i")).write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.importTable(dir, root, "v1")
    }
    assert(e.getMessage.contains(s"$dir: no _MANIFEST.json"), e.getMessage)
    assert(SnapshotTable.latestVersion(root).isEmpty)
    assert(Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .forall(f => !f.getName.startsWith(".stage_") && !f.getName.startsWith("v")),
      "a refused import must leave no stage and no version")
  }

  test("replay republish of the committed head passes the CAS (idempotence kept)") {
    val root = freshRoot("replaycas")
    SnapshotTable.publish(df(Seq(1L -> "a")), root, "v1")
    SnapshotTable.publish(df(Seq(1L -> "b")), root, "v2")
    // a foreachBatch replay re-publishes v2 identically: the replay
    // re-captures its base at call entry (= the committed v2 head), so
    // it commits with base == head and passes — no same-id exemption
    // involved (that exemption would also bless a racing second writer)
    SnapshotTable.publish(df(Seq(1L -> "b")), root, "v2")
    assert(SnapshotTable.latestVersion(root).contains("v2"))
    val got = SnapshotTable.read(spark, root).get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(1L -> "b"))
  }

  test("two writers racing to the SAME version id: the stale one conflicts") {
    import graft.sources.SnapshotConflictException
    val root = freshRoot("sameid")
    SnapshotTable.publish(df(Seq(1L -> "a")), root, "v1",
      statsCols = Seq("id"), clusterFiles = Some(2))
    // Writer A derives v2 from head v1; at the instant it is about to
    // commit, writer B runs a FULL read-derive-commit also targeting v2
    // (the id-collision the retry recipe makes likely). B wins; A's CAS
    // must throw — before the fix the head==version exemption let A
    // "pass" as a fake replay even though B's files had been stomped.
    var bRan = false
    graft.sources.SnapshotTable.onBeforeCommit = (r, v) =>
      if (r == root && v == "v2" && !bRan) {
        bRan = true
        SnapshotTable.merge(df(Seq(3L -> "fromB")), root, "id", "v2")
      }
    val lost =
      try { SnapshotTable.merge(df(Seq(2L -> "fromA")), root, "id", "v2"); None }
      catch { case e: SnapshotConflictException => Some(e) }
      finally graft.sources.SnapshotTable.onBeforeCommit = (_, _) => ()
    assert(bRan)
    assert(lost.isDefined,
      "a second writer committing the same id must conflict, not pass as a replay")
    assert(SnapshotTable.latestVersion(root).contains("v2"))
  }

  test("re-export into the same directory leaves no stale data files") {
    val root = freshRoot("reexp")
    val exp = freshRoot("reexpdir")
    SnapshotTable.publish(df((1L to 50L).map(i => i -> s"a$i")), root, "v1",
      statsCols = Seq("id"), clusterFiles = Some(3))
    SnapshotTable.exportTable(spark, root, exp)
    SnapshotTable.merge(df((51L to 90L).map(i => i -> s"b$i")), root, "id", "v2")
    SnapshotTable.exportTable(spark, root, exp)
    // the advertised plain-parquet surface: any engine reads the dir raw.
    // A stale v1 part file left behind would double rows here.
    val plain = spark.read.parquet(exp)
    assert(plain.count() == 90,
      s"re-export must replace the previous export's files, got ${plain.count()} rows")
    // and the manifest-driven import restores exactly the head
    val back = freshRoot("reexpback")
    SnapshotTable.importTable(exp, back, "v1")
    assert(SnapshotTable.read(spark, back).get.count() == 90)
  }

  test("readMatchingTiles: batch keys' rows included, untouched tiles pruned") {
    val root = freshRoot("rmt")
    val rows = (1L to 400L).map(i => i -> s"v$i")
    SnapshotTable.publish(df(rows), root, "v1",
      statsCols = Seq("id"), clusterFiles = Some(8))
    import spark.implicits._
    val keys = Seq(7L, 8L, 399L).toDF("id")
    def readKeys(keys: org.apache.spark.sql.DataFrame) =
      SnapshotTable.readFiles(spark, root, SnapshotTable.plan(spark, root,
        "v1", "id", SnapshotTable.Prune.Keys(keys)))
    val got = readKeys(keys)
    val scanned = got.inputFiles.length
    assert(scanned < 8 && scanned >= 1,
      s"a 3-key probe must read a strict subset of the 8 tiles, read $scanned")
    val hit = got.filter(col("id").isin(7L, 8L, 399L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(hit == Set(7L -> "v7", 8L -> "v8", 399L -> "v399"),
      "every probed key's current row must be present in the pruned read")
    // absent keys: the read still covers their WOULD-BE tiles (no more)
    val none = readKeys(Seq(1000L).toDF("id"))
    assert(none.inputFiles.length <= 1)
  }

  test("supplementary-plane string keys: driver-side tile and range pruning agree with a full scan") {
    import spark.implicits._
    // UTF-8 byte order (Spark's) puts ASCII < U+FF21 < U+1F600; Java's
    // UTF-16 order puts U+1F600's surrogate pair BEFORE U+FF21
    val families = Seq("a", "Ａ", "😀")
    val keys = for (p <- families; i <- 0 until 100) yield f"$p$i%03d"
    val dim = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    def rows(df: org.apache.spark.sql.DataFrame, ks: Seq[String]) =
      df.filter(col("k").isin(ks: _*)).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    val probe = Seq("a099", "Ａ000", "Ａ099", "😀000",
      "😀001", "😀050", "😀099")
    val emoji = keys.filter(_.startsWith(families(2))).take(11)
    // one file per family (cutpoints in both non-ASCII families), and a
    // count-balanced layout whose files straddle the family borders
    val aligned = freshRoot("utf8aligned")
    SnapshotTable.publishAligned(dim, aligned, "v1", "k",
      families.tail.map(_ + "000"))
    val clustered = freshRoot("utf8clustered")
    SnapshotTable.publish(dim, clustered, "v1",
      statsCols = Seq("k"), clusterFiles = Some(4))
    Seq(aligned, clustered).foreach { root =>
      val cuts = SnapshotTable.keyBoundaries(root, "v1", "k").get
        .map(_.asInstanceOf[String])
      assert(families.tail.forall(f => cuts.exists(_.startsWith(f))),
        s"precondition: cutpoints must reach both non-ASCII families: $cuts")
      val full = SnapshotTable.readVersion(spark, root, "v1")
      val want = rows(full, probe)
      assert(want.size == probe.size)
      // the key frame fails if evaluated: only the driver-side path may
      // answer the plan
      val unevaluable = probe.toDF("k")
        .select(raise_error(lit("distributed discovery ran")).cast("string").as("k"))
      val tiles = SnapshotTable.plan(spark, root, "v1", "k",
        SnapshotTable.Prune.Keys(unevaluable, Some(probe)))
      assert(tiles.tiles.isDefined, s"$root: the layout is range-disjoint in " +
        "Spark's order, so the driver-side path must apply")
      assert(rows(SnapshotTable.readFiles(spark, root, tiles), probe) == want,
        s"$root: the local Keys plan must hold every probed key's row")
      probe.foreach { k =>
        assert(rows(SnapshotTable.pointLookup(spark, root, "k", k).get,
          Seq(k)) == want.filter(_._1 == k), s"$root: pointLookup lost $k")
      }
      assert(rows(SnapshotTable.readFiles(spark, root, SnapshotTable.plan(
        spark, root, "v1", "k",
        SnapshotTable.Prune.Ranges("k", Seq(emoji.head -> emoji.last)))),
        emoji) == rows(full, emoji),
        s"$root: a Ranges plan must keep every file holding the range")
    }
  }

  private def stageDirs(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".stage_"))
      .map(_.getName).toSeq

  test("same-id race: committed content is exactly one writer's output; the loser's stage is removed") {
    import graft.sources.SnapshotConflictException
    val root = freshRoot("stomp")
    SnapshotTable.publish(df(Seq(1L -> "a")), root, "v1",
      statsCols = Seq("id"), clusterFiles = Some(2))
    // Writer A fully STAGES its v2 before the seam fires; writer B then
    // runs a complete write-and-commit of its own v2. Pre-staging, B's
    // mode-overwrite stomped A's files in the shared $root/v2 and the
    // committed directory could interleave both writers' parts; with
    // writer-unique stages the committed v2 must be byte-exactly B's.
    var bRan = false
    SnapshotTable.onBeforeCommit = (r, v) =>
      if (r == root && v == "v2" && !bRan) {
        bRan = true
        SnapshotTable.publish(df(Seq(1L -> "a", 3L -> "fromB")), root, "v2",
          statsCols = Seq("id"), clusterFiles = Some(2))
      }
    val lost =
      try { SnapshotTable.merge(df(Seq(2L -> "fromA")), root, "id", "v2"); None }
      catch { case e: SnapshotConflictException => Some(e) }
      finally SnapshotTable.onBeforeCommit = (_, _) => ()
    assert(bRan && lost.isDefined)
    val got = SnapshotTable.read(spark, root).get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(1L -> "a", 3L -> "fromB"),
      s"committed v2 must be exactly the winner's rows, got $got")
    assert(stageDirs(root).isEmpty,
      s"the CAS loser's stage must be deleted, found ${stageDirs(root)}")
  }

  test("two threads contending through different root spellings serialize and both land") {
    import graft.sources.SnapshotConflictException
    val canonical = freshRoot("spell")
    // same table, three spellings: plain, trailing slash, dot segment —
    // pre-normalization each spelling got its own JVM monitor, so two
    // threads reached the OS file lock together and the second threw
    // OverlappingFileLockException instead of waiting
    val spellings = Seq(canonical, canonical + "/", canonical + "/./")
    SnapshotTable.publish(df(Seq(0L -> "seed")), canonical, "v1")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // all three threads collectively drive the head to v7 — conflicts
    // retry, and a publish that silently short-circuits because another
    // thread won the same id (the committed-head replay exemption) just
    // loops; the test's target is that no interleave through ANY
    // spelling pair ever throws OverlappingFileLockException
    val target = 7L
    val threads = (0 until 3).map { t =>
      new Thread(() => {
        def headId =
          SnapshotTable.latestVersion(spellings(t)).get.drop(1).toLong
        var attempts = 0
        while (headId < target && attempts < 200) {
          attempts += 1
          val h = headId
          try SnapshotTable.publish(df(Seq(h + 1 -> s"t$t")),
            spellings(t), s"v${h + 1}")
          catch {
            // the one failure mode under test: pre-normalization, two
            // spellings reached the OS lock together and threw this
            case e: java.nio.channels.OverlappingFileLockException =>
              errs.add(e)
            // everything else retries: CAS conflicts (expected), and a
            // straggler whose stage the sweep GC'd mid-write (documented
            // — it was going to conflict regardless)
            case _: Throwable => ()
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"contending spellings must serialize: ${errs}")
    assert(SnapshotTable.latestVersion(canonical).contains(s"v$target"),
      "the threads must collectively advance the head to the target")
    assert(stageDirs(canonical).isEmpty,
      s"every stage must end renamed (winner) or deleted (loser/GC), " +
        s"found ${stageDirs(canonical)}")
  }

  test("publishAligned coerces mixed-family cutpoints (double key + int bounds, long key + double bounds)") {
    import spark.implicits._
    val root1 = freshRoot("mixdk")
    // double key with Integer cutpoints — pre-fix SearchSorted rejected
    // the long-array bounds against the double key at analysis
    val dd = (1 to 100).map(i => (i / 10.0, i.toLong)).toDF("score", "id")
    SnapshotTable.publishAligned(dd, root1, "v1", "score",
      boundaries = Seq(3, 7))
    val r1 = SnapshotTable.read(spark, root1).get
    assert(r1.count() == 100 && r1.inputFiles.length == 3)
    // file contents respect the numeric boundary semantics
    val perFile = readRange(root1, "score", 8.0, 9.0)
    assert(perFile.inputFiles.length == 1,
      "a selective double predicate must prune to the single covering tile")
    // long key with Double cutpoints — the lossy direction must stay on
    // the coercing fold, and stay correct
    val root2 = freshRoot("mixlk")
    val ld = (1L to 100L).map(i => (i, s"r$i")).toDF("id", "val")
    SnapshotTable.publishAligned(ld, root2, "v1", "id",
      boundaries = Seq(30.5, 70.5))
    val r2 = SnapshotTable.read(spark, root2).get
    assert(r2.count() == 100 && r2.inputFiles.length == 3)
  }

  test("a failed staged write cleans its stage up (no data-sized orphans on retry-heavy tables)") {
    val root = freshRoot("stfail")
    SnapshotTable.publish(df(Seq(1L -> "a")), root, "v1")
    import spark.implicits._
    val poison = Seq(1L -> "x").toDF("id", "val")
      .withColumn("val", when(col("id") === 1L,
        raise_error(lit("boom"))).otherwise(col("val")))
    intercept[Exception] {
      SnapshotTable.publish(poison, root, "v2")
    }
    assert(stageDirs(root).isEmpty,
      s"a failed write must delete its stage, found ${stageDirs(root)}")
    assert(SnapshotTable.latestVersion(root).contains("v1"),
      "the failed publish must leave the committed head untouched")
    assert(SnapshotTable.read(spark, root).get.count() == 1)
  }

  test("re-committing a retained (non-head) version id is rejected before destroying data") {
    val root = freshRoot("regress")
    SnapshotTable.publish(df(Seq(1L -> "a")), root, "v1")
    SnapshotTable.publish(df(Seq(1L -> "b")), root, "v2")
    SnapshotTable.publish(df(Seq(1L -> "c")), root, "v3") // retains v2
    assert(new java.io.File(s"$root/v2").exists())
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.publish(df(Seq(1L -> "EVIL")), root, "v2")
    }
    assert(e.getMessage.contains("must advance"),
      s"head-regressing commit must fail loudly, got: ${e.getMessage}")
    // committed data untouched: head still v3, the retained v2 readable
    assert(SnapshotTable.latestVersion(root).contains("v3"))
    val v2 = SnapshotTable.readVersion(spark, root, "v2")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v2 == Set(1L -> "b"),
      "the retained version's committed files must survive the rejected commit")
    assert(stageDirs(root).isEmpty)
  }

  test("publishAligned with a key type outside the kernel families takes the coercing fold") {
    import spark.implicits._
    val root = freshRoot("decim")
    // decimal key + integer cutpoints: the kernel's type check would
    // reject decimal vs array<long> at analysis; the fold coerces
    val dd = (1 to 60).map(i => (BigDecimal(i) / 10, i.toLong))
      .toDF("score", "id")
    SnapshotTable.publishAligned(dd, root, "v1", "score",
      boundaries = Seq(2, 4))
    val r = SnapshotTable.read(spark, root).get
    assert(r.count() == 60 && r.inputFiles.length == 3)
  }

  test("a crash-orphaned stage directory is invisible and GC'd once the head passes it") {
    val root = freshRoot("stgc")
    SnapshotTable.publish(df(Seq(1L -> "a")), root, "v1")
    // simulate a writer that crashed mid-stage for v2
    val dead = new java.io.File(s"$root/.stage_v2_deadbeef")
    dead.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${dead.getPath}/part-0.parquet"), "junk")
    assert(SnapshotTable.read(spark, root).get.count() == 1,
      "a staged directory must never be visible to readers")
    SnapshotTable.publish(df(Seq(1L -> "b")), root, "v2") // head reaches v2
    assert(dead.exists(), "a stage AT the head is not yet GC-able (same-id grace)")
    SnapshotTable.publish(df(Seq(1L -> "c")), root, "v3") // head passes v2
    assert(!dead.exists(),
      "the retention sweep must GC a stage strictly behind the head")
  }
}
