package graft

import graft.expressions.GraftExtensions
import org.apache.spark.sql.{DataFrame, GraftPlanUtil, SparkSession}

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
  *
  * Micro-batches ([[microBatch]]): every `foreachBatch` twin runs a batch
  * of at most [[RangeListCap]] rows in an [[interpreted]] clone of its
  * session, with whole-stage codegen off and Spark's expression factories
  * interpreted. At ~100 rows a batch's cost is per-plan, not per-row, and
  * Spark's generated-code cache (100 entries, a static conf) cannot hold
  * the ~600 classes a tick of three twins compiled, so every tick
  * recompiled them: about 28 % of a traced tick. Interpreted, a tick
  * compiles about a dozen classes, the schema-keyed helpers Spark compiles
  * in any session. A batch past the cap runs in its own session and
  * compiles as before, since its per-row work is what codegen pays for;
  * so does work a batch does not bound (`RankStream`'s rank publish, the
  * push rounds of an empty push batch). AQE stays on in both.
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
    registerFunctions(spark)
  }

  private def registerFunctions(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (name, info, build) =>
      if (!registry.functionExists(name)) registry.registerFunction(name, info, build)
    }
  }

  /** The one regime value. A micro-batch of at most this many rows runs
    * interpreted ([[microBatch]]), and the push twin reads a key set of at
    * most this many keys through the driver (`PushStream`); past it the
    * work approaches the corpus (bulk loads, initial convergence) and
    * takes the compiled, distributed plans. A var only as a test seam
    * (like `SnapshotTable.onBeforeCommit`).
    *
    * As the interpreted bound it is measured, not only inherited: a tick
    * of the CDC, IVM and push twins over fresh parquet batches of 100,
    * 1k, 10k and 100k rows took 5.8, 5.4, 6.7 and 18.5 s interpreted and
    * 7.7, 7.3, 8.4 and 19.9 s compiled (medians of 4 alternating ticks,
    * `local[4]` on a 4-vCPU VM). Interpreted rows cost more, but at 100k
    * rows that still does not outweigh compiling the 210-260 classes
    * such a tick's plans need.
    */
  private[graft] var RangeListCap = 100000L

  /** Where a `foreachBatch` twin runs `batch`, decided once per batch by
    * one bounded count of its rows (a take of at most `RangeListCap + 1`,
    * itself interpreted): None for an empty batch; the batch re-homed into
    * the [[interpreted]] clone of its session when it has at most
    * [[RangeListCap]] rows; the batch unchanged past the cap. A twin takes
    * its session from the returned frame, so every frame, merge and
    * publish it derives runs where the batch does. The take runs the jobs
    * of the `isEmpty` check it replaces; a twin that had none (push, CDC)
    * gains one. Past the cap it reads `RangeListCap + 1` rows where
    * `isEmpty` read one: 40-90 ms against 23-54 ms on a one-file batch of
    * 100k to 1M rows.
    */
  def microBatch(batch: DataFrame): Option[DataFrame] = {
    val small = GraftPlanUtil.rehome(batch, interpreted(batch.sparkSession))
    // a take, as `isEmpty` runs it: one job over a one-partition batch,
    // where `limit(…).count()` adds a shuffle to one partition
    small.select().limit(RangeListCap.toInt + 1).collect().length match {
      case 0 => None
      case n if n <= RangeListCap => Some(small)
      case _ => Some(batch)
    }
  }

  /** A session of `spark`'s SparkContext and cache that plans no
    * generated code: whole-stage codegen off, and
    * `spark.sql.codegen.factoryMode` (internal; its values name how
    * projections, predicates and orderings are built) at `NO_CODEGEN`, so
    * they are interpreted rather than compiled. A few helpers Spark always
    * compiles (cached-column readers, the partial aggregate's row joiner,
    * shuffle orderings) depend only on schemas, and each session compiles
    * its own copy: so the clone is kept, and reused batch after batch, for
    * as long as `spark` is reachable. It is `spark.newSession()`, which
    * holds no reference to `spark`, so a weak key releases it with `spark`
    * (a stopped stream's session) and no count of sessions bounds it.
    *
    * Every call makes the clone current: its runtime confs become exactly
    * `spark`'s and its query-execution listeners exactly `spark`'s, so a
    * conf set, or a listener registered or removed, on `spark` after one
    * batch holds for the next. It resolves the native functions; functions
    * and temp views registered on `spark` itself are not carried, and no
    * twin uses one.
    */
  private[graft] def interpreted(spark: SparkSession): SparkSession =
    clones.synchronized {
      val clone = clones.computeIfAbsent(spark, { s =>
        val c = s.newSession(); registerFunctions(c); c })
      GraftPlanUtil.setConfs(clone, spark.conf.getAll ++ Seq(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
      GraftPlanUtil.setListeners(clone, spark)
      clone
    }

  private val clones = new java.util.WeakHashMap[SparkSession, SparkSession]
}
