package graft
import org.apache.spark.sql.SparkSession

/** Benchmark harness. One JSON line on stdout:
  * `{"metric":"total","value":…,"queries":{…},…}`.
  *
  * Reproducibility contract (the per-round gate reads these numbers, so a
  * noisy capture must not look like a plan regression):
  *  - queries run in sorted-name order — adding a query never reshuffles
  *    which one runs first;
  *  - the session-shared frames ([[operators.Warmup.sharedFrames]]) are
  *    materialized in an untimed warmup and reported as their own
  *    `shared_build` field (per-frame seconds in the result file's
  *    `shared_frames`), so no timed query is charged their build;
  *  - each query runs twice; `queries`/`value` keep run 1 (comparable to
  *    BASELINE.md's single-run harness), `queries_min`/`total_min` report
  *    the per-query min — the load-robust number to read under container
  *    CPU contention.
  * Per-query persists are released between runs; shared frames stay warm
  * for the whole suite (their cost is the `shared_build` line).
  */
object Bench {

  /** Shared-frame release schedule: query name → key-prefix families to
    * release AFTER that query's second run (the query is the family's
    * last consumer in sorted-name order). Derived empirically by
    * `tools.SharedConsumers` — rerun it and refresh this map whenever a
    * query is added/renamed; a stale map shows up as a non-empty
    * `shared_rebuilds` field in the capture, never as wrong results.
    */
  private val releaseAfter: Map[String, Seq[String]] = Map(
    "ann_opq_recall" -> Seq("opq_vecs:emb", "pq_ranked:opqe", "pq_sub:8:opqe"),
    "ann_opq_recall_clustered" -> Seq("opq_vecs:clu", "pq_ranked:opqc",
      "pq_sub:8:opqc"),
    "ann_pq_m16_recall" -> Seq("pq_sub:16:emb"),
    "ann_pq_m16_recall_clustered" -> Seq("pq_sub:16:clu"),
    "ann_pq_recall_clustered" -> Seq("pq_ranked:clu", "pq_sub:8:clu"),
    "ann_pq_rerank_recall" -> Seq("pq_ranked:emb", "pq_sub:8:emb"),
    "ann_prefix_recall_clustered" -> Seq("clu_vecs"),
    "dedup_ngram_jaccard" -> Seq("ngram_sk"),
    "embed_outliers" -> Seq("clusterCurate"),
    "embed_pc_projection" -> Seq("embed_fx"),
    "knn_classify" -> Seq("knn"),
    "pagerank_stream_periodic" -> Seq("pageevents", "pagepairs"),
    "pipeline_manifest" -> Seq("pm_dup_losers", "pm_sem_losers",
      "pm_span_losers", "vecs"),
    "search_hybrid_rrf" -> Seq("doc_embed"),
    "search_snippets" -> Seq("bm25dl"),
    "span_coverage" -> Seq("doc_toks", "span_pairs"),
    "text_stats" -> Seq("bpe_counts"),
    "visitor_stats" -> Seq("enriched"),
    "vocab_growth" -> Seq("bm25tf"),
  )

  /** The three /proc/loadavg load averages (1/5/15 min), or NaNs where
    * unreadable (non-Linux) — the contention telemetry a gate reads to
    * flag a noisy capture instead of ingesting 10x-contended numbers as
    * if they were plan regressions.
    */
  private def loadAvg(): Seq[Double] =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case scala.util.control.NonFatal(_) => Seq.fill(3)(Double.NaN) }

  private def jsonArr(xs: Seq[Double]): String =
    xs.map(x => if (x.isNaN) "null" else x.toString).mkString("[", ",", "]")

  def main(args: Array[String]): Unit = {
    val wallT0 = System.nanoTime()
    // capture the PRE-RUN load: this is the other-tenant noise baseline
    // (the end-of-run value mostly measures our own 32 threads)
    val loadStart = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // production-rehearsal lever: a 1000-executor cluster runs 2-4k
    // shuffle partitions; overriding here lets the same harness measure
    // the static-partition overhead AQE coalescing is expected to absorb
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    // scale-lever measurement: SPARK_GRAFT_APPROX_DISTINCT=true flips the
    // session-wide approx-distinct flag so the lever's benefit is a
    // captured number, not a claim (results then deviate from the oracle
    // by design — bench-only, never for Verify)
    sys.env.get("SPARK_GRAFT_APPROX_DISTINCT")
      .foreach(v => spark.conf.set(operators.AggMode.Flag, v))
    // the result file is written only on success below — remove any copy
    // from a previous run up front so an aborted run leaves NO file and a
    // gate reading it fails loudly instead of consuming stale numbers
    val benchOut = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"))
    try java.nio.file.Files.deleteIfExists(benchOut)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"bench: failed to clear $benchOut: $e") }
    // untimed warmup: janino/codegen framework, parquet reader and shuffle
    // machinery initialization are per-session costs, not per-query costs —
    // pay them before the first timer starts
    try {
      spark.range(1000).selectExpr("sum(id) AS s").count()
      spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().count()
    } catch { case _: Throwable => () }
    val sharedFrames =
      try operators.Warmup.sharedFrames(spark, sfDir)
      catch { case _: Throwable => Nil }
    val sharedBuild =
      if (sharedFrames.isEmpty) -1.0 else sharedFrames.map(_._2).sum
    // optional comma-separated subset for targeted profiling
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // returns (seconds, succeeded) — a failed run must never win the
    // min-of-2 (a fast crash would otherwise report as the query's best
    // time and a perf gate could pass on a broken capture)
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      CacheRegistry.beginQuery(name)
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable => if (!errors.contains(name)) errors += name; false }
        finally { CacheRegistry.endQuery(); CacheRegistry.clear() }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val (run1, ok1) = runOnce(name, fn)
        val (run2, ok2) = runOnce(name, fn)
        // family-scoped release boundary: once a shared frame's LAST
        // consumer (sorted order — tools.SharedConsumers derives the map)
        // has run, the frame stops competing for executor storage with
        // the families still to come. A stale map cannot corrupt results
        // — a released-too-early frame rebuilds lazily — but the event
        // lands in `shared_rebuilds` so the capture flags its own noise.
        releaseAfter.get(name).foreach(CacheRegistry.releaseShared)
        // no successful run → a loud 1e9 sentinel (valid JSON, impossible
        // as a real duration), so a gate reading total_min FAILS instead
        // of seeing a fast crash as the query's best time
        val best = Seq(run1 -> ok1, run2 -> ok2).collect { case (t, true) => t }
          .minOption.getOrElse(1e9)
        (name, run1, best)
      }
    val sharedRebuilds = CacheRegistry.rebuiltAfterRelease
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // millisecond precision everywhere: full double repr at 175 queries
    // x 2 maps pushed the line past the driver artifact's tail window,
    // truncating the blob's head — 3dp keeps the whole record in the tail
    def fmt(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def json(kv: Seq[(String, Double)]) =
      kv.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val qs = json(results.map { case (k, v, _) => (k, v) })
    val qsMin = json(results.map { case (k, _, m) => (k, m) })
    CacheRegistry.clearAll()
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val totalMin = results.map(_._3).sum
    // contention telemetry: pre/post load averages, total harness wall
    // time (includes session + warmup + both runs — a contended machine
    // inflates it far beyond sum(queries)), and a mechanical verdict a
    // gate can act on without re-running: the PRE-run 1-min load is
    // other-tenant noise (our own threads haven't started), so a capture
    // starting above the threshold is flagged up front
    val loadEnd = loadAvg()
    val loadThreshold = sys.env.get("SPARK_GRAFT_LOAD_THRESHOLD")
      .map(_.toDouble).getOrElse(1.5)
    val contended = !loadStart.head.isNaN && loadStart.head > loadThreshold
    val wallSec = (System.nanoTime() - wallT0) / 1e9
    // lever stamp: a capture taken with approx-distinct on (faster by
    // design, oracle-deviating) or a nonstandard shuffle-partition count
    // must be distinguishable from a default capture, so gates can reject
    // or segregate lever-mode numbers instead of ingesting them silently
    val approxLever = sys.env.get("SPARK_GRAFT_APPROX_DISTINCT")
      .map(v => "\"" + v + "\"").getOrElse("null")
    // the file record and the stdout summary share every field but the
    // per-query maps, built once (one ts_ms for both)
    val head = s""""metric":"total","value":${fmt(total)},"unit":"sec","shared_build":${fmt(sharedBuild)},"total_min":${fmt(totalMin)}"""
    val tail = s""""errors":$errs,"sf":"$sfDir","ts_ms":${System.currentTimeMillis()},"harness_wall_sec":${fmt(wallSec)},"loadavg_start":${jsonArr(loadStart)},"loadavg_end":${jsonArr(loadEnd)},"load_threshold":$loadThreshold,"host_cpus":${Runtime.getRuntime.availableProcessors()},"contended":$contended,"shared_rebuilds":$sharedRebuilds,"levers":{"approx_distinct":$approxLever,"shuffle_partitions":$shufflePartitions,"cpus":$cpus}"""
    val line = s"""{$head,"queries":$qs,"queries_min":$qsMin,"shared_frames":${json(sharedFrames)},$tail}"""
    // stdout goes through sbt, which interleaves its own log lines — also
    // land the result in a file so a gate never depends on log scraping
    try java.nio.file.Files.write(benchOut, (line + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"bench: failed to write $benchOut: $e") }
    // stdout emits SHORT self-contained lines instead of one giant blob:
    // a driver that keeps only the tail of the run output then always
    // holds complete rows — per-family records first, the compact
    // summary (no per-query maps — those live in the family lines and
    // in the benchOut file) as the very LAST stdout act after
    // spark.stop()'s shutdown logging. Three rounds of head-truncated
    // single-line captures motivated this shape.
    val familyLines = results
      .groupBy { case (n, _, _) => n.takeWhile(_ != '_') }
      .toSeq.sortBy(_._1)
      .map { case (fam, rs) =>
        val q = json(rs.map { case (k, v, _) => (k, v) })
        val qm = json(rs.map { case (k, _, m) => (k, m) })
        s"""{"metric":"family","family":"$fam","value":${fmt(rs.map(_._2).sum)},"value_min":${fmt(rs.map(_._3).sum)},"n":${rs.size},"queries":$q,"queries_min":$qm}"""
      }
    val summary = s"""{$head,"n_queries":${results.size},$tail}"""
    spark.stop()
    familyLines.foreach(println)
    println(summary)
  }
}
