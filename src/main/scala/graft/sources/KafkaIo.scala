package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

/** Kafka source/sink builders + the JSON envelope parse paths — the
  * reference's `RT/utils/MyKafkaUtil.java:18-63` re-expressed on Structured
  * Streaming:
  *
  *  - S1 `getKafkaConsumer(topic, groupId)`   → [[KafkaIo.source]]
  *  - S2 `getKafkaDDL(topic, groupId)`        → [[KafkaIo.source]] +
  *    [[KafkaIo.parseJson]] + `createOrReplaceTempView` at the call site
  *  - K1 `getKafkaProducer(topic)`            → [[KafkaIo.sink]]
  *  - K2 `getKafkaProducer(KafkaSerializationSchema)` (dynamic topic from
  *    the routed record)                       → [[KafkaIo.dynamicSink]]
  *
  * This environment has no Kafka broker or connector jar (zero egress), so
  * these builders are compiled + config-tested but only run on a cluster
  * with `spark-sql-kafka-0-10` on the classpath. Everything downstream of
  * the `value` string is broker-independent and IS unit-tested
  * (`KafkaIoSpec`): the envelope parse functions below accept any string
  * column, which is exactly why the file-staged pipelines in
  * [[graft.streaming.Pipelines]] exercise the same transforms end-to-end.
  *
  * 100 TB design: one Kafka partition maps to one Spark input partition;
  * `minPartitions` widens hot topics beyond their partition count. Parsing
  * stays in whole-stage codegen (`from_json` on the value string), and the
  * dirty-record split is a null-check on the parse result — no UDFs, no
  * per-record try/catch on the driver.
  */
object KafkaIo {

  /** S1/S2: streaming source over `topics`, values as strings. */
  def source(
      spark: SparkSession,
      brokers: String,
      topics: String,
      groupId: String,
      startingOffsets: String = "latest",
      minPartitions: Option[Int] = None): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topics)
      .option("kafka.group.id", groupId)
      .option("startingOffsets", startingOffsets)
    minPartitions.foreach(n => r.option("minPartitions", n.toString))
    r.load().selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value",
      "topic", "partition", "offset", "timestamp")
  }

  /** K1: fixed-topic producer. `df` must carry a `value` string column
    * (and optionally `key`).
    */
  def sink(df: DataFrame, brokers: String, topic: String,
      checkpointDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)

  /** K2: dynamic-topic producer — no `topic` option; each row routes by its
    * own `topic` column (the reference's `KafkaSerializationSchema` reading
    * `sink_table` off the routed record). [[routedForKafka]] builds the
    * required (topic, value) shape.
    */
  def dynamicSink(df: DataFrame, brokers: String,
      checkpointDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("checkpointLocation", checkpointDir)

  /** Shape a routed CDC record for [[dynamicSink]]: topic from the config's
    * sink table, value = JSON of all payload columns.
    */
  def routedForKafka(routed: DataFrame, sinkTable: Column): DataFrame =
    routed.select(sinkTable.as("topic"),
      to_json(struct(routed.columns.map(col): _*)).as("value"))

  // ---------------------------------------------------------------------
  // JSON envelope parse paths (broker-independent, unit-tested)
  // ---------------------------------------------------------------------

  /** The behavior-log envelope (reference log schema `README.md:118-225`):
    * nested `common`/`page`/`start`/`err` objects plus `displays`/`actions`
    * arrays and an epoch-millis `ts`.
    */
  val logEnvelopeSchema: StructType = StructType(Seq(
    StructField("common", StructType(Seq(
      StructField("ar", StringType), StructField("ba", StringType),
      StructField("ch", StringType), StructField("is_new", StringType),
      StructField("md", StringType), StructField("mid", StringType),
      StructField("os", StringType), StructField("uid", StringType),
      StructField("vc", StringType)))),
    StructField("page", StructType(Seq(
      StructField("during_time", LongType), StructField("item", StringType),
      StructField("item_type", StringType), StructField("last_page_id", StringType),
      StructField("page_id", StringType), StructField("source_type", StringType)))),
    StructField("start", StructType(Seq(
      StructField("entry", StringType), StructField("loading_time", LongType),
      StructField("open_ad_id", LongType), StructField("open_ad_ms", LongType),
      StructField("open_ad_skip_ms", LongType)))),
    StructField("displays", ArrayType(StructType(Seq(
      StructField("display_type", StringType), StructField("item", StringType),
      StructField("item_type", StringType), StructField("order", LongType),
      StructField("pos_id", LongType))))),
    StructField("actions", ArrayType(StructType(Seq(
      StructField("action_id", StringType), StructField("item", StringType),
      StructField("item_type", StringType), StructField("ts", LongType))))),
    StructField("err", StructType(Seq(
      StructField("error_code", LongType), StructField("msg", StringType)))),
    StructField("ts", LongType)))

  /** The 5-field CDC envelope produced by the reference's custom Debezium
    * deserializer (`RT/app/function/CustomerDeserialization.java:17-72`):
    * fixed envelope, schema-dynamic before/after maps.
    */
  val cdcEnvelopeSchema: StructType = StructType(Seq(
    StructField("database", StringType),
    StructField("tableName", StringType),
    StructField("type", StringType),
    StructField("before", MapType(StringType, StringType)),
    StructField("after", MapType(StringType, StringType))))

  /** Parse a string `value` column against `schema`; malformed JSON yields a
    * null struct (Spark's PERMISSIVE mode), which [[splitDirty]] routes to
    * the dirty side — the reference's side-output
    * (`RT/app/dwd/BaseLogApp.java:46-62`).
    */
  def parseJson(raw: DataFrame, schema: StructType,
      valueCol: String = "value"): DataFrame =
    raw.withColumn("parsed", from_json(col(valueCol), schema))

  /** P1 dirty split: a parse is clean when the struct materialized AND the
    * given required probe field is present.
    */
  def splitDirty(parsed: DataFrame, requiredField: String): (DataFrame, DataFrame) = {
    val ok = col("parsed").isNotNull && col(s"parsed.$requiredField").isNotNull
    (parsed.filter(ok), parsed.filter(!ok))
  }

  /** The reference's BaseLogApp 3-way split of a parsed log stream:
    * start / display (exploded) / page records
    * (`RT/app/dwd/BaseLogApp.java:94-144`).
    */
  def splitLog(clean: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val start = clean.filter(col("parsed.start").isNotNull)
      .select(col("parsed.common").as("common"), col("parsed.start").as("start"),
        col("parsed.ts").as("ts"))
    val displays = clean
      .filter(col("parsed.start").isNull && col("parsed.displays").isNotNull)
      .select(col("parsed.common").as("common"), col("parsed.page.page_id").as("page_id"),
        col("parsed.ts").as("ts"), explode(col("parsed.displays")).as("display"))
    val page = clean.filter(col("parsed.start").isNull && col("parsed.page").isNotNull)
      .select(col("parsed.common").as("common"), col("parsed.page").as("page"),
        col("parsed.ts").as("ts"))
    (start, displays, page)
  }

  /** Parse + normalize the CDC stream to the shape
    * [[graft.streaming.Pipelines.routeCdcBatch]] consumes: envelope fields
    * + `op_seq` from the Kafka offset (the change-log sequence within a
    * partition — same-key changes resolve by log order).
    */
  def cdcStream(raw: DataFrame): DataFrame =
    parseJson(raw, cdcEnvelopeSchema)
      .filter(col("parsed").isNotNull && col("parsed.tableName").isNotNull)
      .select(col("parsed.database").as("database"),
        col("parsed.tableName").as("tableName"),
        col("parsed.type").as("type"),
        col("parsed.before").as("before"),
        col("parsed.after").as("after"),
        col("offset").as("op_seq"))
}
