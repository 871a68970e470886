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
    // per-partition copy: operators reuse mutable UnsafeRow buffers
    val rdd: RDD[InternalRow] = cdf.queryExecution.toRdd.map(_.copy())
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count() // executes the plan once; the RDD is now the cache
    val leaf = execution.LogicalRDD.fromDataset(rdd, cdf, isStreaming = false)
    (classic.Dataset.ofRows(cdf.sparkSession, leaf), rdd)
  }
}
