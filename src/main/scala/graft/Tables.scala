package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Role mapping onto the reference warehouse (FIXTURES.md §4):
  * orders→order_info, lineitem→order_detail, customer→DIM_USER_INFO,
  * nation+region→DIM_BASE_PROVINCE, part→DIM_SKU_INFO snowflake,
  * events→behavior log stream, documents/embeddings→LLM-pipeline extension.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Normalize an events frame to the engine contract regardless of how the
    * fixture stores `ts`: a micros `ts` timestamp plus a full-precision
    * `ts_ns` long for deterministic tie-breaking. Fixture generations have
    * stored `ts` either as parquet TIMESTAMP(NANOS) — which Spark cannot
    * represent and reads as Long nanos under legacy.parquet.nanosAsLong —
    * or as a plain micros timestamp; both land on the identical contract
    * (micros precision carries the full information in the second case).
    */
  def normalizeEvents(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      df.withColumn("ts_ns", col("ts"))
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case _ =>
      df.withColumn("ts_ns",
          unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * lit(1000L))
        .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
  }

  /** Read one table; `events` goes through [[normalizeEvents]]. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = GraftParquet.read(spark, path(sfDir, name))
    if (name == "events") normalizeEvents(df) else df
  }

  /** Register every table as a temp view (names match the DuckDB oracle's). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
