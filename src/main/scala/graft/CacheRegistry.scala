package graft

import org.apache.spark.sql.DataFrame

/** Tracks DataFrames persisted inside query builders so harnesses running
  * many queries in one session (Verify/Bench) can release cached partitions
  * between queries — an unpaired `persist()` would otherwise pin shingle
  * arrays in storage memory for the rest of the session.
  */
object CacheRegistry {
  private val registered = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  // cached internal-row RDDs backing materialize()'s lineage cuts — they
  // release on the same clear()/scoped boundaries as the DataFrame persists
  private val registeredRdds =
    scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
  private val sharedDfs = scala.collection.mutable.Map.empty[String, DataFrame]
  private var currentQuery: Option[String] = None
  private val accessLog =
    scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[String]]
  private val releasedKeys = scala.collection.mutable.Set.empty[String]
  private val rebuilt = scala.collection.mutable.ArrayBuffer.empty[String]

  def persist(df: DataFrame): DataFrame = synchronized {
    registered += df
    df.persist()
  }

  /** A persisted frame SHARED across queries in one harness session (e.g.
    * the enriched events derivation feeding the whole log suite — the DWD
    * layer materialized once for its DWS/ADS consumers, as the reference
    * stages through a Kafka topic). Survives per-query [[clear]]; released
    * by [[clearAll]] or a [[releaseShared]] boundary.
    */
  def shared(key: String)(build: => DataFrame): DataFrame = synchronized {
    currentQuery.foreach(q =>
      accessLog.getOrElseUpdate(key, scala.collection.mutable.Set.empty) += q)
    // a rebuild after an explicit release means the release schedule's
    // last-consumer map is STALE (a later query still reads this frame):
    // correctness is unaffected (the frame rebuilds lazily) but the
    // consumer's timing silently absorbs the rebuild — so the event is
    // recorded and surfaced in the bench capture's `shared_rebuilds`
    if (!sharedDfs.contains(key) && releasedKeys.contains(key)) rebuilt += key
    sharedDfs.getOrElseUpdate(key, build.persist())
  }

  /** Harness attribution scope: shared-frame accesses between
    * [[beginQuery]] and [[endQuery]] are logged under `name` — the data
    * [[tools.SharedConsumers]] derives the bench release schedule from.
    */
  def beginQuery(name: String): Unit = synchronized { currentQuery = Some(name) }
  def endQuery(): Unit = synchronized { currentQuery = None }

  /** (shared key → query names that accessed it) for this session. */
  private[graft] def sharedAccesses: Map[String, Set[String]] = synchronized {
    accessLog.map { case (k, v) => k -> v.toSet }.toMap
  }

  /** Keys rebuilt after an explicit release — nonempty means the release
    * schedule is stale and should be regenerated ([[tools.SharedConsumers]]).
    */
  private[graft] def rebuiltAfterRelease: Seq[String] = synchronized {
    rebuilt.toSeq
  }

  /** Family-scoped release boundary: unpersist shared frames whose key
    * matches a prefix (exactly, or `prefix:`-qualified — keys embed the
    * fixture dir and subspace counts as `:`-suffixes). Called by Bench
    * after a frame family's LAST consumer has run, so long-lived shared
    * frames stop competing for executor storage with the families still
    * to come (the in-suite eviction effect that inflated the PQ family
    * ~2x vs isolated). Returns the released keys.
    */
  def releaseShared(keyPrefixes: Seq[String]): Seq[String] = synchronized {
    val hit = sharedDfs.keysIterator
      .filter(k => keyPrefixes.exists(p => k == p || k.startsWith(p + ":")))
      .toSeq
    hit.foreach { k =>
      sharedDfs(k).unpersist(blocking = false)
      sharedDfs.remove(k)
      releasedKeys += k
    }
    hit
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
    */
  def materialize(df: DataFrame): DataFrame = materializeCounted(df)._1

  /** [[materialize]] that also returns the row count its eager
    * materialization already paid for — callers that next ask "is it
    * empty?" (the push rounds' drain check) read the returned count
    * instead of launching a second job against the cache.
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
  def materializeCounted(df: DataFrame): (DataFrame, Long) = {
    val (cut, rdd, n) = org.apache.spark.sql.GraftPlanUtil.cutLineageEager(df)
    synchronized { registeredRdds += rdd }
    (cut, n)
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
        val i = registeredRdds.indexWhere(_ eq l.rdd)
        if (i >= 0) registeredRdds.remove(i)
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
    * multi-batch drivers share ingest-side frames.
    */
  def scoped[T](body: => T): T = {
    val (mark, rddMark) = synchronized { (registered.size, registeredRdds.size) }
    try body
    finally synchronized {
      // frames registered within the scope release; earlier ones stay
      registered.drop(mark).foreach(_.unpersist(blocking = false))
      registered.remove(mark, registered.size - mark)
      registeredRdds.drop(rddMark).foreach(_.unpersist(blocking = false))
      registeredRdds.remove(rddMark, registeredRdds.size - rddMark)
    }
  }

  /** Test visibility: the column names of each registered per-query
    * persist — specs pin persist BUDGETS for composed operators (e.g.
    * distNtileScores: one wide base + N slim rank frames, never N wide
    * ones) without reaching into Spark's cache manager.
    */
  private[graft] def registeredSchemas: Seq[Seq[String]] = synchronized {
    registered.map(_.schema.fieldNames.toSeq).toSeq
  }

  /** Release per-query persists (between queries in Verify/Bench). */
  def clear(): Unit = synchronized {
    registered.foreach(_.unpersist(blocking = false))
    registered.clear()
    registeredRdds.foreach(_.unpersist(blocking = false))
    registeredRdds.clear()
  }

  /** Release everything, shared frames included (end of harness run).
    * Also resets the release/rebuild/access bookkeeping so a second
    * harness run in the same JVM starts clean (a key released last run
    * must not count as "rebuilt after release" when the next run builds
    * it fresh).
    */
  def clearAll(): Unit = synchronized {
    clear()
    sharedDfs.values.foreach(_.unpersist(blocking = false))
    sharedDfs.clear()
    releasedKeys.clear()
    rebuilt.clear()
    accessLog.clear()
    currentQuery = None
  }
}
