package graft

import org.apache.spark.sql.DataFrame

/** Tracks DataFrames persisted inside query builders so harnesses running
  * many queries in one session (Verify/Bench) can release cached partitions
  * between queries — an unpaired `persist()` would otherwise pin shingle
  * arrays in storage memory for the rest of the session.
  */
object CacheRegistry {
  /** One release unit: the frames [[persist]] and the cached internal-row
    * RDDs backing [[materialize]]'s lineage cuts, released together.
    */
  private final class Frames {
    val dfs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val rdds = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
    def release(): Unit = {
      dfs.foreach(_.unpersist(blocking = false))
      dfs.clear()
      rdds.foreach(_.unpersist(blocking = false))
      rdds.clear()
    }
  }
  // per-query frames: registered outside any scope, released by clear()
  private val perQuery = new Frames
  // each thread's open [[scoped]] blocks, innermost first: Structured
  // Streaming runs each query's batches on its own thread, so two twins'
  // scopes can be open at once and must not release each other's frames
  private val scopes = ThreadLocal.withInitial[List[Frames]](() => Nil)
  private val sharedDfs = scala.collection.mutable.Map.empty[String, DataFrame]

  private def current: Frames = scopes.get.headOption.getOrElse(perQuery)

  def persist(df: DataFrame): DataFrame = synchronized {
    current.dfs += df
    df.persist()
  }

  /** A persisted frame SHARED across queries in one harness session (e.g.
    * the enriched events derivation feeding the whole log suite — the DWD
    * layer materialized once for its DWS/ADS consumers, as the reference
    * stages through a Kafka topic). Built on its key's first call; later
    * calls return the live frame. Survives per-query [[clear]]; released
    * by [[clearAll]].
    */
  def shared(key: String)(build: => DataFrame): DataFrame = synchronized {
    sharedDfs.getOrElseUpdate(key, build.persist())
  }

  /** Eagerly materialize `df` behind a lineage LEAF and register the cache
    * with this registry. For iterative algorithms whose frame references
    * itself each round: the self-referencing logical plan grows
    * exponentially without truncation, and `localCheckpoint` — the stock
    * answer — caches storage the registry cannot see (freed only when the
    * ContextCleaner notices the GC'd RDD, which across a 50-query harness
    * session accumulates into storage pressure `clear()` exists to
    * prevent). Re-rooting on the physical plan's own internal-row RDD
    * ([[org.apache.spark.sql.GraftPlanUtil.cutLineage]]) cuts the plan to
    * a `LogicalRDD` leaf while the persist stays registry-managed, and —
    * unlike the stock `createDataFrame(df.rdd, schema)` round-trip —
    * never converts rows to the external format.
    *
    * The cut is the `localCheckpoint` sequence
    * ([[org.apache.spark.sql.GraftPlanUtil.cutLineageEager]]): rows stay
    * internal (the previous `createDataFrame(df.rdd, …)` form paid an
    * InternalRow→Row conversion on materialization and the reverse on
    * every read), the cached RDD is registry-tracked so [[clear]] /
    * [[scoped]] still release it, and the executed plan's output
    * partitioning survives onto the new leaf — downstream consumers
    * keyed the same way plan no fresh exchange.
    */
  def materialize(df: DataFrame): DataFrame = {
    val (cut, rdd) = org.apache.spark.sql.GraftPlanUtil.cutLineageEager(df)
    synchronized { current.rdds += rdd }
    cut
  }

  /** Release ONE materialized frame early (before its scope/query
    * boundary) — the iterative-drain discipline: a long push loop that
    * supersedes its overlay every round must free the superseded copy
    * NOW, or a bulk convergence pins O(rounds) corpus-sized caches.
    * Resolves the frame's backing cut RDD (the [[materialize]] leaf) and
    * unpersists it; falls back to a plain Dataset unpersist for frames
    * from [[persist]].
    */
  def releaseMaterialized(df: DataFrame): Unit = {
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => synchronized {
        (perQuery :: scopes.get).foreach(_.rdds.filterInPlace(_ ne l.rdd))
        l.rdd.unpersist(blocking = false)
        ()
      }
      case _ => df.unpersist(blocking = false); ()
    }
  }

  /** Batch-scoped release: run `body`, then unpersist ONLY the per-query
    * frames registered INSIDE it. The streaming `applyBatch` templates
    * release their internal frames every batch (the long-stream
    * discipline — RankStream's pagerank leaves, PushStream's per-round
    * overlays), but a bare [[clear]] there also drops the CALLER's
    * persists — e.g. a query that materializes the sessionized pair
    * frame once and feeds each micro-batch a filter of it would silently
    * lose the cache after batch 1 and re-run the window pass per batch.
    * Scoping the release to the batch's own registrations keeps the
    * discipline (nothing batch-local outlives the batch) while letting
    * multi-batch drivers share ingest-side frames. A scope owns what its
    * own thread registers inside it (an inner scope's frames release at
    * the inner exit), so two twins' batches running at once on their own
    * stream threads never release each other's frames.
    */
  def scoped[T](body: => T): T = {
    val frames = new Frames
    scopes.set(frames :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      synchronized(frames.release())
    }
  }

  /** Test visibility: the column names of each registered per-query
    * persist — specs pin persist BUDGETS for composed operators (e.g.
    * distNtileScores: one wide base + N slim rank frames, never N wide
    * ones) without reaching into Spark's cache manager.
    */
  private[graft] def registeredSchemas: Seq[Seq[String]] = synchronized {
    perQuery.dfs.map(_.schema.fieldNames.toSeq).toSeq
  }

  /** Release per-query persists (between queries in Verify/Bench). */
  def clear(): Unit = synchronized(perQuery.release())

  /** Release everything, shared frames included (end of harness run). */
  def clearAll(): Unit = synchronized {
    clear()
    sharedDfs.values.foreach(_.unpersist(blocking = false))
    sharedDfs.clear()
  }
}
