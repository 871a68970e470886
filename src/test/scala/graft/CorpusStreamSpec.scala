package graft

import graft.operators.{CorpusStats, Graph}
import graft.sources.SnapshotTable
import graft.streaming.{CollocStream, RankStream}
import org.apache.spark.sql.functions._

/** Streaming twins for the two round-9 operator families that lacked
  * one: PageRank over streamed edge batches and collocation mining over
  * streamed document batches. The law, checked after EVERY batch:
  * streamed state ≡ the batch operator rebuilt over all input so far.
  * Plus the exactly-once proofs: replayed batches change nothing, and a
  * fresh-checkpoint restart against existing tables fails loudly.
  */
class CorpusStreamSpec extends SparkSpec {

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"corpstream_$tag").toString

  // -- PageRank over streamed edges ----------------------------------

  private def pairsOf(rows: Seq[(Long, Long)]) = {
    import spark.implicits._
    rows.toDF("src", "dst")
  }

  private def rankRows(df: org.apache.spark.sql.DataFrame) =
    df.select("node", "out_n", "r").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("streamed edge batches: published ranks equal the batch rebuild after every batch") {
    val dir = freshDir("rank")
    val (edgeRoot, rankRoot) = (s"$dir/edges", s"$dir/ranks")
    val iters = 3
    // page-graph shaped batches, overlapping edges across batches so the
    // additive fold is actually exercised (not just inserts)
    val batches = Seq(
      Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 2L, 4L -> 1L),
      Seq(1L -> 2L, 3L -> 4L, 4L -> 5L, 5L -> 1L, 2L -> 3L),
      Seq(5L -> 6L, 6L -> 1L, 1L -> 2L, 2L -> 6L))
    var seen = Seq.empty[(Long, Long)]
    batches.zipWithIndex.foreach { case (b, i) =>
      RankStream.applyBatch(pairsOf(b), i.toLong + 1, edgeRoot, rankRoot,
        iters)
      seen = seen ++ b
      val edges = pairsOf(seen).groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("n"))
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      val rebuild = Graph.pagerank(nodes, edges, iters)
        .select(col("node"), col("out_n"), col("r"))
      assert(rankRows(RankStream.liveRanks(spark, rankRoot).get) ==
        rankRows(rebuild),
        s"after batch ${i + 1} streamed ranks must equal the batch rebuild")
      graft.CacheRegistry.clear()
    }
    // replay of the last batch: both tables must come out identical
    val before = rankRows(RankStream.liveRanks(spark, rankRoot).get)
    val edgesBefore = SnapshotTable.read(spark, edgeRoot).get
      .collect().map(_.toString).sorted.toSeq
    RankStream.applyBatch(pairsOf(batches.last), batches.size.toLong,
      edgeRoot, rankRoot, iters)
    assert(rankRows(RankStream.liveRanks(spark, rankRoot).get) == before,
      "a replayed batch must republish the identical rank vector")
    assert(SnapshotTable.read(spark, edgeRoot).get
      .collect().map(_.toString).sorted.toSeq == edgesBefore,
      "a replayed batch must not double-count edges")
    // fresh-checkpoint restart (renumbered batch ids) fails loudly
    val e = intercept[IllegalArgumentException] {
      RankStream.applyBatch(pairsOf(batches.head), 0L, edgeRoot, rankRoot,
        iters)
    }
    assert(e.getMessage.contains("fresh checkpoint"))
  }

  // -- Collocations over streamed documents --------------------------

  private def docsOf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def liftRows(df: org.apache.spark.sql.DataFrame) =
    df.select("x", "y", "n_xy", "n_x", "n_y", "lift_bp").collect()
      .map(_.toString).toSet

  test("streamed doc batches: collocation report equals the batch rebuild after every batch") {
    val dir = freshDir("colloc")
    val (pairRoot, uniRoot) = (s"$dir/pairs", s"$dir/uni")
    val minPair = 2
    val batches = Seq(
      Seq(1L -> "the quick brown fox jumps over the lazy dog",
        2L -> "the quick brown fox runs fast"),
      Seq(3L -> "machine learning systems learn from data",
        4L -> "the quick brown cat sleeps"),
      Seq(5L -> "machine learning models need quick data",
        6L -> "brown fox and lazy dog again the quick brown fox"))
    var seen = Seq.empty[(Long, String)]
    batches.zipWithIndex.foreach { case (b, i) =>
      CollocStream.applyBatch(docsOf(b), i.toLong + 1, pairRoot, uniRoot)
      seen = seen ++ b
      val rebuild = CorpusStats.collocationsOf(docsOf(seen), minPair)
      assert(liftRows(CollocStream.liveReport(spark, pairRoot, uniRoot,
          minPair).get) == liftRows(rebuild),
        s"after batch ${i + 1} the maintained report must equal the rebuild")
      graft.CacheRegistry.clear()
    }
    // the maintained tables merged tile-locally (not full rewrites):
    // later versions must carry files from earlier ones
    def names(root: String, v: String) =
      new java.io.File(s"$root/$v").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert((names(uniRoot, "v2") intersect names(uniRoot, "v3")).nonEmpty,
      "unigram maintenance must carry untouched tiles across batches")
    // replay idempotence
    val before = liftRows(
      CollocStream.liveReport(spark, pairRoot, uniRoot, minPair).get)
    CollocStream.applyBatch(docsOf(batches.last), batches.size.toLong,
      pairRoot, uniRoot)
    assert(liftRows(CollocStream.liveReport(spark, pairRoot, uniRoot,
      minPair).get) == before,
      "a replayed batch must not double-count")
  }

  test("a wiped pair table with a surviving unigram table fails the fresh-checkpoint guard") {
    val dir = freshDir("collocguard")
    val (pairRoot, uniRoot) = (s"$dir/pairs", s"$dir/uni")
    CollocStream.applyBatch(
      docsOf(Seq(1L -> "alpha beta alpha", 2L -> "beta gamma")),
      5L, pairRoot, uniRoot)
    operators.SnapshotDiff.rmTree(pairRoot) // the half-wipe the guard exists for
    val e = intercept[IllegalArgumentException] {
      CollocStream.applyBatch(docsOf(Seq(3L -> "delta beta")),
        0L, pairRoot, uniRoot)
    }
    assert(e.getMessage.contains("fresh checkpoint"),
      "a batch id behind EITHER table's head must fail loudly")
    // an empty batch behind the head fails by name too, not silently
    val empty = intercept[IllegalArgumentException] {
      CollocStream.applyBatch(docsOf(Seq.empty), 0L, pairRoot, uniRoot)
    }
    assert(empty.getMessage.contains("CollocStream batch 0 is behind"),
      empty.getMessage)
  }

  // -- kill-and-resume through real checkpoints (the LsmIndex recipe) --

  test("the rank stream survives a kill-and-resume on its checkpoint") {
    import spark.implicits._
    val work = freshDir("rankrestart")
    val in = s"$work/in"; val ckpt = s"$work/ckpt"
    val (edgeRoot, rankRoot) = (s"$work/edges", s"$work/ranks")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val iters = 3
    val chunk1 = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 2L)
    val chunk2 = Seq(3L -> 4L, 4L -> 1L, 1L -> 2L)
    val schema = chunk1.toDF("src", "dst").schema
    def start() = RankStream.start(
      spark.readStream.schema(schema).parquet(in), edgeRoot, rankRoot,
      ckpt, iters)
    chunk1.toDF("src", "dst").coalesce(1).write.mode("append").parquet(in)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    chunk2.toDF("src", "dst").coalesce(1).write.mode("append").parquet(in)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // the resumed stream continued the edge table (not restarted it):
    // published ranks equal the rebuild over BOTH chunks
    val edges = pairsOf(chunk1 ++ chunk2).groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val rebuild = Graph.pagerank(nodes, edges, iters)
      .select(col("node"), col("out_n"), col("r"))
    assert(rankRows(RankStream.liveRanks(spark, rankRoot).get) ==
      rankRows(rebuild),
      "post-restart ranks must reflect all edges across both runs")
    graft.CacheRegistry.clear()
  }

  test("the colloc stream survives a kill-and-resume on its checkpoint") {
    import spark.implicits._
    val work = freshDir("collocrestart")
    val in = s"$work/in"; val ckpt = s"$work/ckpt"
    val (pairRoot, uniRoot) = (s"$work/pairs", s"$work/uni")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val minPair = 2
    val chunk1 = Seq(1L -> "the quick brown fox", 2L -> "the quick dog")
    val chunk2 = Seq(3L -> "quick brown fox again", 4L -> "the brown fox")
    val schema = chunk1.toDF("doc_id", "text").schema
    def start() = CollocStream.start(
      spark.readStream.schema(schema).parquet(in), pairRoot, uniRoot, ckpt)
    chunk1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    chunk2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val rebuild = CorpusStats.collocationsOf(docsOf(chunk1 ++ chunk2), minPair)
    assert(liftRows(CollocStream.liveReport(spark, pairRoot, uniRoot,
        minPair).get) == liftRows(rebuild),
      "post-restart report must reflect all documents across both runs")
    graft.CacheRegistry.clear()
  }

  // -- periodic rank publication (the corpus-scale knob) ---------------

  test("an empty batch on the K boundary still publishes: staleness never exceeds K-1") {
    import spark.implicits._
    val dir = freshDir("rankempty")
    val (edgeRoot, rankRoot) = (s"$dir/edges", s"$dir/ranks")
    val iters = 3
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    // batch 1 folds (no publish at K=2); batch 2 is EMPTY and lands on
    // the boundary — pre-fix the early return skipped the publish and
    // staleness could reach 2K-1
    RankStream.applyBatch(pairsOf(Seq(1L -> 2L, 2L -> 3L)), 1L,
      edgeRoot, rankRoot, iters, rankEveryK = 2)
    assert(RankStream.liveRanks(spark, rankRoot).isEmpty)
    RankStream.applyBatch(empty, 2L, edgeRoot, rankRoot, iters,
      rankEveryK = 2)
    assert(SnapshotTable.latestVersion(rankRoot).contains("v2"),
      "the empty boundary batch must publish ranks under the boundary id")
    assert(RankStream.rankStaleness(edgeRoot, rankRoot).contains(0L))
    // the published vector is the exact ranks of the head's edge set
    val edges = pairsOf(Seq(1L -> 2L, 2L -> 3L))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    assert(rankRows(RankStream.liveRanks(spark, rankRoot).get) ==
      rankRows(Graph.pagerank(nodes, edges, iters)
        .select(col("node"), col("out_n"), col("r"))))
    // one more non-boundary fold: staleness 1 = K-1, never more
    RankStream.applyBatch(pairsOf(Seq(3L -> 1L)), 3L, edgeRoot, rankRoot,
      iters, rankEveryK = 2)
    assert(RankStream.rankStaleness(edgeRoot, rankRoot).contains(1L))
    graft.CacheRegistry.clear()
  }

  test("rankEveryK: edges fold every batch, ranks publish every K, staleness is recorded") {
    val dir = freshDir("rankk")
    val (edgeRoot, rankRoot) = (s"$dir/edges", s"$dir/ranks")
    val iters = 3
    val batches = Seq(
      Seq(1L -> 2L, 2L -> 3L), Seq(3L -> 1L, 1L -> 2L),
      Seq(2L -> 1L, 3L -> 2L), Seq(1L -> 3L, 2L -> 3L))
    batches.zipWithIndex.foreach { case (b, i) =>
      RankStream.applyBatch(pairsOf(b), i.toLong + 1, edgeRoot, rankRoot,
        iters, rankEveryK = 2)
      graft.CacheRegistry.clear()
    }
    // edge table is fully current (head v4); ranks last published at v4
    assert(SnapshotTable.latestVersion(edgeRoot).contains("v4"))
    assert(SnapshotTable.latestVersion(rankRoot).contains("v4"))
    assert(RankStream.rankStaleness(edgeRoot, rankRoot).contains(0L))
    // one more batch: edges advance, ranks hold → staleness 1, and the
    // published vector equals the rebuild over the PREFIX (batches 1-4)
    RankStream.applyBatch(pairsOf(Seq(3L -> 4L, 4L -> 1L)), 5L,
      edgeRoot, rankRoot, iters, rankEveryK = 2)
    assert(RankStream.rankStaleness(edgeRoot, rankRoot).contains(1L),
      "the version ids must record the publication lag")
    val prefix = pairsOf(batches.flatten).groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    val nodes = prefix.select(col("src").as("node"))
      .union(prefix.select(col("dst").as("node"))).distinct()
    val rebuild = Graph.pagerank(nodes, prefix, iters)
      .select(col("node"), col("out_n"), col("r"))
    assert(rankRows(RankStream.liveRanks(spark, rankRoot).get) ==
      rankRows(rebuild),
      "published ranks must be the exact ranks of the edge PREFIX they version")
    graft.CacheRegistry.clear()
  }

  // -- Distribution drift over streamed documents ---------------------

  private def srcDocsOf(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  private def klRows(df: org.apache.spark.sql.DataFrame) =
    df.select("source", "n_tokens", "vocab", "kl_x1e6").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("streamed doc batches: drift report equals the batch rebuild after every batch") {
    val root = freshDir("div") + "/counts"
    val batches = Seq(
      Seq((1L, "alpha beta alpha", "s0"), (2L, "beta gamma", "s1")),
      Seq((3L, "alpha alpha delta", "s0"), (4L, "gamma gamma beta", "s1")),
      Seq((5L, "zeta zeta zeta", "s2"), (6L, "alpha beta", "s0")))
    var seen = Seq.empty[(Long, String, String)]
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.streaming.DivergenceStream.applyBatch(srcDocsOf(b), i.toLong + 1, root)
      seen = seen ++ b
      assert(klRows(graft.streaming.DivergenceStream.liveReport(spark, root).get) ==
        klRows(CorpusStats.divergenceOf(srcDocsOf(seen))),
        s"after batch ${i + 1} streamed drift must equal the batch rebuild")
      graft.CacheRegistry.clear()
    }
    // replayed last batch: counts unchanged
    val before = klRows(graft.streaming.DivergenceStream.liveReport(spark, root).get)
    graft.streaming.DivergenceStream.applyBatch(
      srcDocsOf(batches.last), batches.size.toLong, root)
    assert(klRows(graft.streaming.DivergenceStream.liveReport(spark, root).get) == before,
      "a replayed batch must not double-count tokens")
    // fresh-checkpoint restart fails loudly
    val e = intercept[IllegalArgumentException] {
      graft.streaming.DivergenceStream.applyBatch(srcDocsOf(batches.head), 0L, root)
    }
    assert(e.getMessage.contains("fresh checkpoint"))
    graft.CacheRegistry.clear()
  }

  // -- Streaming PCA over embedding batches ----------------------------

  private def embOf(rows: Seq[(Long, Seq[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def batchSolve(rows: Seq[(Long, Seq[Float])]) = {
    val fx = embOf(rows)
      .select(expr(operators.EmbedPca.floorSql).as("fx")).persist()
    try operators.EmbedPca.solveOver(fx)
    finally { fx.unpersist(blocking = false); () }
  }

  test("streamed embedding batches: maintained model equals the batch solve after every batch") {
    val root = freshDir("pca") + "/moments"
    val batches = Seq(
      Seq(1L -> Seq(1.0f, 0.1f, 0.0f), 2L -> Seq(-1.0f, 0.2f, 0.1f)),
      Seq(3L -> Seq(2.0f, -0.1f, 0.05f), 4L -> Seq(-2.0f, 0.3f, 0.0f)),
      Seq(5L -> Seq(1.5f, 0.0f, -0.1f), 6L -> Seq(-1.7f, 0.25f, 0.02f)))
    var seen = Seq.empty[(Long, Seq[Float])]
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.streaming.PcaStream.applyBatch(embOf(b), i.toLong + 1, root)
      seen = seen ++ b
      val rebuild = batchSolve(seen)
      val live = graft.streaming.PcaStream.liveModel(spark, root).get
      assert(live.v.toSeq == rebuild.v.toSeq,
        s"after batch ${i + 1} the served eigenvector must equal the rebuild")
      assert(live.sn.map(_.toSeq).toSeq == rebuild.sn.map(_.toSeq).toSeq,
        s"after batch ${i + 1} the scaled scatter matrix must equal the rebuild")
      graft.CacheRegistry.clear()
    }
    // the constant-state claim, mechanically: the maintained table holds
    // EXACTLY 1 + d + d(d+1)/2 rows (d = 3 → 10) no matter how many
    // batches landed — the scaladoc's "smallest state of any twin"
    assert(graft.sources.SnapshotTable.read(spark, root).get.count() == 10L,
      "moment table must stay at 1 + d + d(d+1)/2 rows")
    // replay idempotence: the moment fold short-circuits a committed head
    val before = graft.streaming.PcaStream.liveModel(spark, root).get.v.toSeq
    graft.streaming.PcaStream.applyBatch(embOf(batches.last),
      batches.size.toLong, root)
    assert(graft.streaming.PcaStream.liveModel(spark, root).get.v.toSeq ==
      before, "a replayed batch must not double-count moments")
    // fresh-checkpoint restart fails loudly
    val e = intercept[IllegalArgumentException] {
      graft.streaming.PcaStream.applyBatch(embOf(batches.head), 0L, root)
    }
    assert(e.getMessage.contains("fresh checkpoint"))
    graft.CacheRegistry.clear()
  }

  test("the pca stream survives a kill-and-resume on its checkpoint") {
    import spark.implicits._
    val work = freshDir("pcarestart")
    val in = s"$work/in"; val ckpt = s"$work/ckpt"
    val root = s"$work/moments"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val chunk1 = Seq(1L -> Seq(1.0f, 0.1f, 0.0f), 2L -> Seq(-1.0f, 0.2f, 0.1f))
    val chunk2 = Seq(3L -> Seq(2.0f, -0.1f, 0.05f), 4L -> Seq(-2.0f, 0.3f, 0.0f))
    val schema = embOf(chunk1).schema
    def start() = graft.streaming.PcaStream.start(
      spark.readStream.schema(schema).parquet(in), root, ckpt)
    embOf(chunk1).coalesce(1).write.mode("append").parquet(in)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    embOf(chunk2).coalesce(1).write.mode("append").parquet(in)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(graft.streaming.PcaStream.liveModel(spark, root).get.v.toSeq ==
      batchSolve(chunk1 ++ chunk2).v.toSeq,
      "post-restart model must reflect all vectors across both runs")
    graft.CacheRegistry.clear()
  }

  test("the divergence stream survives a kill-and-resume on its checkpoint") {
    import spark.implicits._
    val work = freshDir("divrestart")
    val in = s"$work/in"; val ckpt = s"$work/ckpt"; val root = s"$work/counts"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val chunk1 = Seq((1L, "alpha beta alpha", "s0"), (2L, "beta gamma", "s1"))
    val chunk2 = Seq((3L, "zeta zeta", "s2"), (4L, "alpha delta", "s0"))
    val schema = srcDocsOf(chunk1).schema
    def start() = graft.streaming.DivergenceStream.start(
      spark.readStream.schema(schema).parquet(in), root, ckpt)
    srcDocsOf(chunk1).coalesce(1).write.mode("append").parquet(in)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    srcDocsOf(chunk2).coalesce(1).write.mode("append").parquet(in)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(klRows(graft.streaming.DivergenceStream.liveReport(spark, root).get) ==
      klRows(CorpusStats.divergenceOf(srcDocsOf(chunk1 ++ chunk2))),
      "post-restart report must reflect all documents across both runs")
    graft.CacheRegistry.clear()
  }
}
