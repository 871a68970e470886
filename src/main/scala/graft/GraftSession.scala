package graft

import graft.expressions.GraftExtensions
import org.apache.spark.sql.SparkSession

/** The one place an engine session is configured: [[getOrCreate]] builds
  * every session the engine owns (Verify, Bench, Demo, the tools, the
  * tests) with the confs below and the native functions of
  * [[graft.expressions.GraftExtensions]], which its `newSession()` and
  * streaming clones inherit. [[tune]] brings a session built elsewhere to
  * the same runtime settings and functions; without it, a query that
  * calls a native function fails analysis with an error naming it.
  *
  * AQE, its partition coalescing, its skew-join splitting and the runtime
  * Bloom filter are Spark defaults, so none is set here; `GraftSessionSpec`
  * pins them, so a Spark upgrade that flips one fails by name. On a real
  * cluster the same settings apply except `master`, and shuffle partitions
  * should be sized to ~2-3x total cores (AQE coalesces the excess at
  * runtime, so a high static value is safe at 100 TB).
  */
object GraftSession {

  private val confs = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // Spark has no nanos timestamp type: a parquet TIMESTAMP(NANOS) column
    // reads as a Long and `Tables.normalizeEvents` lands it on the events
    // contract. The sf0.001, sf0.01 and sf0.1 fixtures store `events.ts` as
    // timestamp[us]; this stays for nanos input, which ParquetReadSpec writes.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // let AQE coalesce INSIDE cached plans: off (the default), every
    // persisted frame materializes at the static shuffle-partition
    // count and each InMemoryTableScan consumer pays that many tasks —
    // the dominant overhead in the 2048-partition production rehearsal
    // (rolling_actives 22.7 s → ~1 s class). The cache is still a
    // single materialization, so range-boundary-sharing persists
    // (DistNtileSpec) are unaffected.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.ui.enabled" -> "false")

  // Not set, measured and rejected: coalescePartitions.parallelismFirst=
  // false (+ advisory sizes 16m and 64m) lost over the full 189-query suite
  // at sf0.1 (total_min 237 → 333 s). This engine's shuffles are CPU-dense
  // per byte (shingle/posting/vector arrays), so byte-sized coalescing
  // serializes reduce work that the parallelism-first split keeps on all
  // cores; at 100 TB both settings coalesce to byte-bounded partitions.

  /** The engine's session. Shuffle partitions follow the session's
    * `defaultParallelism` (the core count of `local[n]`) unless
    * `SPARK_GRAFT_SHUFFLE_PARTITIONS` is set: the production-rehearsal
    * lever, which runs a cluster-scale static partition count to show that
    * results are partition-count-invariant.
    */
  def getOrCreate(appName: String = "graft", master: String = "local[32]"): SparkSession = {
    val spark = SparkSession.builder().appName(appName).master(master)
      .config(confs.toMap).withExtensions(new GraftExtensions).getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS",
        spark.sparkContext.defaultParallelism.toString))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply the runtime confs to a session built outside [[getOrCreate]]
    * (UI off is a static conf, which only the builder can set), and
    * register each native function the session lacks.
    */
  def tune(spark: SparkSession): Unit = {
    confs.foreach { case (k, v) => if (spark.conf.isModifiable(k)) spark.conf.set(k, v) }
    val registry = spark.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (name, info, build) =>
      if (!registry.functionExists(name)) registry.registerFunction(name, info, build)
    }
  }
}
