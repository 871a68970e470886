package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming pipelines mirroring the reference's app topology:
  * each Flink app becomes one streaming query; the Kafka topics between
  * apps become file-staged directories in this zero-egress environment
  * (the transforms are source-agnostic — swap `readStream.parquet` for
  * `readStream.format("kafka")` + `from_json` on a cluster).
  */
object Pipelines {

  /** Streaming source over a directory of events parquet files (stand-in
    * for the Kafka ODS topic — file-source streaming picks up new files per
    * micro-batch, the staging-table pattern from SURVEY §7.1). The schema
    * comes from a one-off batch read of the dir (file-source streams need
    * it up front), and ts is then normalized exactly like the batch loader.
    */
  def eventsStream(spark: SparkSession, eventsDir: String): DataFrame = {
    val stored = spark.read.parquet(eventsDir).schema
    graft.Tables.normalizeEvents(
      spark.readStream.schema(stored).parquet(eventsDir))
  }

  /** A1 as a live query: watermarked 10 s tumbling visitor-stats window
    * (the reference's 11 s watermark; `RT/app/dws/VisitorStatsApp.java:129,146`).
    * Append output emits each window once the watermark passes — the same
    * "final rows only" contract the reference gets from tumble windows.
    */
  def visitorStatsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "11 seconds")
      .groupBy(window(col("ts"), "10 seconds"), col("event_type"))
      .agg(
        count(lit(1)).as("pv_ct"),
        approx_count_distinct(col("user_id")).as("uv_ct_approx"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("dur_sum"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("event_type"), col("pv_ct"), col("uv_ct_approx"), col("dur_sum"))

  /** T2→A1 composition, the reference's one subtle timing contract: a
    * jump-out record is emitted up to the CEP wait AFTER its event time,
    * yet must land in a still-open visitor-stats window — the reference
    * guarantees it by staging jump-outs through a topic
    * (`dwm_user_jump_detail`) and windowing the STAGED stream by its
    * original event time under an 11 s watermark
    * (`RT/app/dws/VisitorStatsApp.java:30-34`). Same topology here: the
    * [[graft.streaming.StatefulOps.sessionBounces]] output is staged (file
    * dir = topic analog), and this second query windows the staged records
    * on the bounce's ORIGINAL entry timestamp — so emission delay in the
    * first query can never make a bounce late for its window. uj_ct parity
    * with the batch `visitor_stats` is asserted in StreamingPipelineSpec.
    */
  def bounceWindowStream(bounces: DataFrame): DataFrame =
    bounces
      .withColumn("ts", timestamp_micros(expr("tsNs div 1000")))
      .withWatermark("ts", "11 seconds")
      .groupBy(window(col("ts"), "10 seconds"))
      .agg(count(lit(1)).as("uj_ct"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        col("uj_ct"))

  /** J1 as a live query: the stream-stream interval join building the
    * order wide table (`RT/app/dwd/OrderWideApp.java:80-88`). Watermarks on
    * BOTH sides plus the time-bound join condition let Spark evict join
    * state — exactly the reference's ±bound state retention, but enforced
    * by the engine. Inner join, append mode, inclusive bounds.
    */
  def orderWideStream(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    // watermarks require TIMESTAMP (not NTZ); session is pinned UTC so the
    // cast is lossless
    val o = orders.withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .withWatermark("o_orderdate", "30 days")
    val l = lineitem.withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .withWatermark("l_shipdate", "30 days")
    o.join(l, expr(
      """o_orderkey = l_orderkey AND
         l_shipdate >= o_orderdate - INTERVAL 60 DAYS AND
         l_shipdate <= o_orderdate + INTERVAL 60 DAYS"""))
  }

  /** J2 as a live query: payment⋈order with the asymmetric bound (payment
    * only AFTER the order, up to +90 days — the reference's −15 min/0
    * contract shape at date grain).
    */
  def paymentWideStream(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val o = orders.withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .withWatermark("o_orderdate", "30 days")
    val l = lineitem.withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .withWatermark("l_shipdate", "30 days")
    o.join(l, expr(
      """o_orderkey = l_orderkey AND
         l_shipdate >= o_orderdate AND
         l_shipdate <= o_orderdate + INTERVAL 90 DAYS"""))
  }

  /** A2 as a live query: per-sku tumbling product stats over the detail
    * stream (2-day watermark ≙ the reference's 2 s at date grain). Distinct
    * order counts use HLL — exact `count(DISTINCT)` is not available in
    * streaming aggregation, which is precisely the documented
    * `AggMode` scale trade-off.
    */
  def productStatsStream(lineitem: DataFrame): DataFrame =
    lineitem
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .withWatermark("l_shipdate", "2 days")
      .groupBy(window(col("l_shipdate"), "1 day"), col("l_partkey"))
      .agg(
        count(lit(1)).as("detail_ct"),
        approx_count_distinct(col("l_orderkey")).as("order_ct_approx"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast(DecimalType(38, 2)).as("order_amount"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("dt"),
        col("l_partkey").as("sku_id"),
        col("detail_ct"), col("order_ct_approx"), col("order_amount"))

  /** A3 as a live query: the SQL-form tumbling province aggregation over
    * the order stream with stream-static dim enrichment (dims broadcast —
    * the reference's ProvinceStatsSQLApp topology). Exact COUNT(DISTINCT)
    * is unavailable in streaming aggregation, so the distinct order count
    * is HLL — the documented AggMode trade-off; money is emitted as BIGINT
    * cents like the batch twin.
    */
  def provinceStatsStream(orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    val o = orders.withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .withWatermark("o_orderdate", "1 day")
    o.join(customer, o("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(window(col("o_orderdate"), "1 day"),
        col("n_nationkey"), col("n_name"), col("r_name"))
      .agg(
        count(lit(1)).as("order_ct"),
        approx_count_distinct(col("o_orderkey")).as("order_ct_approx"),
        (sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100).cast("long")
          .as("order_amount_cents"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("n_nationkey").as("province_id"), col("n_name").as("province_name"),
        col("r_name").as("region_name"),
        col("order_ct"), col("order_ct_approx"), col("order_amount_cents"))
  }

  /** Native session windows as a live query: watermarked `session_window`
    * aggregation per user — Structured Streaming assembles and emits each
    * session once the watermark passes its end (append mode), the engine
    * analog of the reference's gap-based sessionization heuristics.
    */
  def sessionStatsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "11 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("ev_ct"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("value_sum"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("ev_ct"), col("value_sum"))

  /** A4 as a live query: tokenizer UDF + explode + running word counts over
    * a document stream (update/complete-mode aggregation — the word count
    * has no event time, matching the reference's keyword table refresh).
    */
  def keywordStream(docs: DataFrame): DataFrame = {
    docs.selectExpr("doc_id", "split_words(text) AS word")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("ct"), approx_count_distinct(col("doc_id")).as("doc_ct_approx"))
  }

  /** Files a CDC dim's first publish range-clusters into (the streaming
    * twins' `clusterFiles` default): the layout every later batch merges
    * into tile by tile.
    */
  private val DimClusterFiles = 8

  /** P6/K2-K5 as a live query: config-driven CDC routing inside
    * foreachBatch. The envelope must carry an `op_seq` column (change
    * sequence from the source log) so same-key changes within one batch
    * resolve deterministically. Sink contracts:
    *
    *  - kafka route: each micro-batch OVERWRITES `out/kafka/<table>/batch=<id>`
    *    — a retried batch rewrites the same directory, so the append stream
    *    is idempotent under foreachBatch's at-least-once replay.
    *  - dim (hbase) route: keep-latest merge by the config pk — the
    *    reference's Phoenix `upsert into`
    *    (`RT/app/function/DimSinkFunction.java:22-76`) — published as a
    *    versioned snapshot `out/dim/<table>/v<batchId>` with an atomically
    *    moved `_LATEST` marker, so readers never observe a partial rewrite
    *    and a replayed batch short-circuits on the committed version. One
    *    [[graft.sources.SnapshotTable.merge]] call per batch: the first
    *    publish clusters into [[DimClusterFiles]] files with pk stats, so
    *    every later batch rewrites only the tiles it touches, and a
    *    `sink_columns` change (dynamic DDL) takes merge's full rewrite.
    *    Nothing diffs the dim, so its fresh tiles take footer stats
    *    without row fingerprints (no stats scan per batch); a
    *    [[graft.sources.SnapshotTable.diff]] over its versions still
    *    answers exactly, through the full diff. Compaction stays
    *    optional maintenance. A routed row without its pk (Phoenix
    *    rejects a null PK) fails the batch by table and pk before
    *    anything is written: dim routes run before kafka routes.
    *
    * An empty batch writes nothing; a batch of at most
    * [[graft.GraftSession.RangeListCap]] rows runs interpreted
    * ([[graft.GraftSession.microBatch]]).
    */
  def routeCdcBatch(input: DataFrame, batchId: Long, config: DataFrame, outDir: String): Unit = {
    // config table is tiny by contract; dim routes first, so a batch a
    // dim rejects writes nothing
    val cfg = config.collect().sortBy(_.getAs[String]("sink_type") == "kafka")
    // a dim's versions are this stream's batch ids, so a batch behind a
    // dim's head is a restart on a fresh checkpoint: fail it by name
    // before anything is derived or written. A replay (batchId == head)
    // passes and short-circuits in the dim's merge below.
    cfg.filter(_.getAs[String]("sink_type") != "kafka").foreach(row =>
      VersionedState.requireNotBehind("CDC dim route",
        s"$outDir/dim/${row.getAs[String]("sink_table")}", batchId,
        "the dim table"))
    // an empty batch routes nothing: no kafka directory, no dim version
    val batch = graft.GraftSession.microBatch(input) match {
      case Some(b) => b
      case None => return
    }
    val live = batch.filter(col("type") =!= "delete")
    cfg.foreach { row =>
      val (src, op, sinkType, sinkTable, cols, pk) = (
        row.getAs[String]("source_table"), row.getAs[String]("operate_type"),
        row.getAs[String]("sink_type"), row.getAs[String]("sink_table"),
        row.getAs[String]("sink_columns").split(",").toSeq, row.getAs[String]("sink_pk"))
      // a dim row without its pk fails the first job that reads it, so
      // the check costs no job of its own
      def field(c: String) =
        if (sinkType == "kafka" || c != pk) element_at(col("after"), c)
        else coalesce(element_at(col("after"), c), raise_error(lit(
          s"CDC dim route: a row for $sinkTable has no $pk (null primary key)")))
      val routed = live
        .filter(col("tableName") === src && col("type") === op)
        .select(col("op_seq") +: cols.map(c => field(c).as(c)): _*)
      if (sinkType == "kafka") {
        routed.drop("op_seq").write.mode("overwrite")
          .parquet(s"$outDir/kafka/$sinkTable/batch=$batchId")
      } else { // dim upsert: within-batch latest by op_seq, then the
        // snapshot-table keep-latest merge + atomic versioned publish
        // (graft.sources.SnapshotTable — the Delta-substitute format)
        val wNew = org.apache.spark.sql.expressions.Window
          .partitionBy(col(pk)).orderBy(col("op_seq").desc)
        val newest = routed.withColumn("_rn", row_number().over(wNew))
          .filter(col("_rn") === 1).drop("_rn", "op_seq")
        graft.sources.SnapshotTable.merge(newest, s"$outDir/dim/$sinkTable",
          pk, s"v$batchId", clusterFiles = Some(DimClusterFiles),
          rowFingerprints = false)
      }
    }
  }

  /** Read a dim table at its last atomically published version. */
  def readDim(spark: SparkSession, outDir: String,
      table: String): Option[DataFrame] =
    graft.sources.SnapshotTable.read(spark, s"$outDir/dim/$table")
}
