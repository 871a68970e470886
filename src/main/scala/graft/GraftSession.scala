package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Local testing runs `local[32]` (single JVM); on a real cluster the same
  * settings apply except `master`, and shuffle partitions should be sized to
  * ~2-3x total cores (AQE coalesces the excess at runtime, so a high static
  * value is safe at 100 TB while 32 keeps local runs snappy).
  */
object GraftSession {

  /** Standard builder. AQE is on so skewed shuffles re-plan at runtime
    * (skew-join splitting + partition coalescing), which is the main
    * defence this engine relies on when a key distribution at 100 TB
    * differs from the test scale factors.
    */
  def builder(appName: String = "graft", master: String = "local[32]"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // NOTE (r13 optimization round, measured and REJECTED): setting
      // coalescePartitions.parallelismFirst=false (+ advisory sizes 16m
      // and 64m) was A/B-measured over the full 189-query suite at sf0.1
      // and LOST badly (total_min 237 → 333 s): this engine's shuffles
      // are CPU-dense per byte (shingle/posting/vector arrays), so
      // byte-sized coalescing serializes reduce work that the default
      // parallelism-first split keeps on all cores. On a 100 TB cluster
      // the advisory size governs — shuffles there are large enough that
      // both settings coalesce to byte-bounded partitions anyway.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime bloom-filter pushdown: on a selective join (dedup anti-joins,
      // contamination, dim-filtered facts) the build side's keys prune the
      // probe-side SCAN — at 100 TB this skips whole row groups before the
      // shuffle, with no query-code change
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // let AQE coalesce INSIDE cached plans: off (the default), every
      // persisted frame materializes at the static shuffle-partition
      // count and each InMemoryTableScan consumer pays that many tasks —
      // the dominant overhead in the 2048-partition production rehearsal
      // (rolling_actives 22.7 s → ~1 s class). The cache is still a
      // single materialization, so range-boundary-sharing persists
      // (DistNtileSpec) are unaffected.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // testdata events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
      // timestamp type, so surface it as Long and let Tables normalize.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def getOrCreate(appName: String = "graft", master: String = "local[32]"): SparkSession = {
    val spark = builder(appName, master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply the configs a driver-created session (Verify/Bench contract mains
    * build their own) still needs for the testdata to load correctly.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // static conf in builder sessions; settable at runtime too — see the
    // builder note (AQE coalescing inside cached plans)
    try spark.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    catch { case scala.util.control.NonFatal(e) =>
      // a session that cannot take this conf runs with cached-plan AQE
      // coalescing off — a silent perf divergence from builder sessions,
      // so leave a signal instead of discarding the failure
      System.err.println(
        s"graft: could not enable cached-plan AQE coalescing: $e") }
    spark
  }
}
