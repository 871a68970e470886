package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** Plan-surgery helpers that need `private[sql]` access — placed in the
  * Spark SQL package for that reason only; everything used is plain
  * Apache Spark API (`QueryExecution.toRdd`, `LogicalRDD.fromDataset`,
  * `Dataset.ofRows` — the same sequence `Dataset.localCheckpoint` runs).
  */
object GraftPlanUtil {

  /** Cut `df`'s lineage to a `LogicalRDD` leaf, eagerly materialized,
    * WITHOUT leaving Spark's internal row format and WITHOUT losing the
    * physical plan's output partitioning/ordering.
    *
    * Three properties the stock `createDataFrame(df.rdd, schema)` cut
    * lacks, each measured against this engine's iterative operators:
    *  - rows stay `InternalRow` (the stock form converts every row to an
    *    external Row on the way out and back on every read);
    *  - the RDD itself is the cache (one execution, then reads);
    *  - `LogicalRDD.fromDataset` re-declares the executed plan's output
    *    partitioning and ordering on the new leaf, so a downstream join
    *    or aggregation keyed the same way plans NO fresh exchange — the
    *    stock cut resets to UnknownPartitioning and every consumer
    *    re-shuffles. Execution happens BEFORE `fromDataset` reads the
    *    plan's partitioning, so under AQE it reflects the FINAL plan,
    *    never the unoptimized initial one.
    *
    * Returns (cut frame, the cached internal-row RDD — callers own its
    * unpersist, `graft.CacheRegistry` tracks it).
    */
  def cutLineageEager(df: Dataset[Row]): (Dataset[Row], RDD[_]) = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    // the session's SQL confs reach every task, as in a tracked action:
    // AQE's stage jobs and the count run outside one, and without this
    // their tasks see Spark's defaults (codegen on, whatever the session)
    val rdd: RDD[InternalRow] =
      execution.SQLExecution.withSQLConfPropagated(cdf.sparkSession) {
        // per-partition copy: operators reuse mutable UnsafeRow buffers
        val r = cdf.queryExecution.toRdd.map(_.copy())
        r.persist(StorageLevel.MEMORY_AND_DISK)
        r.count() // executes the plan once; the RDD is now the cache
        r
      }
    val leaf = execution.LogicalRDD.fromDataset(rdd, cdf, isStreaming = false)
    (classic.Dataset.ofRows(cdf.sparkSession, leaf), rdd)
  }

  /** Make `spark`'s runtime SQL confs exactly `confs`: set what differs,
    * unset what `confs` lacks; a conf already at its value is not touched.
    */
  def setConfs(spark: SparkSession, confs: Map[String, String]): Unit = {
    val conf = spark.sessionState.conf
    conf.getAllConfs.keysIterator.filterNot(confs.contains).foreach(conf.unsetConf)
    confs.foreach { case (k, v) =>
      if (conf.getConfString(k, null) != v) conf.setConfString(k, v)
    }
  }

  /** Make `spark`'s query-execution listeners exactly `from`'s, in order
    * (`listListeners` is Spark-private); left alone when they already are.
    */
  def setListeners(spark: SparkSession, from: SparkSession): Unit = {
    val want = from.listenerManager.listListeners()
    val own = spark.listenerManager
    if (!own.listListeners().sameElements(want)) {
      own.clear()
      want.foreach(own.register)
    }
  }

  /** `df`'s analyzed plan as a frame of `spark`: every frame derived from
    * it plans and runs under `spark`'s confs.
    */
  def rehome(df: Dataset[Row], spark: SparkSession): Dataset[Row] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)
}
