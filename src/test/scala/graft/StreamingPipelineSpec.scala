package graft

import graft.streaming.Pipelines
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming pipelines vs batch semantics + the CDC router's sinks. */
class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("streaming visitor stats (complete mode) equals batch aggregation") {
    val dir = java.nio.file.Files.createTempDirectory("eventsdir")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("part-0.parquet"))
    val stream = Pipelines.visitorStatsStream(Pipelines.eventsStream(spark, dir.toString))
    val q = stream.writeStream.format("memory").queryName("vss")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val got = spark.table("vss")
      val batch = Pipelines.visitorStatsStream(Tables.load(spark, sf, "events"))
      val g = got.orderBy("stt", "event_type").collect().toSeq
      val b = batch.orderBy("stt", "event_type").collect().toSeq
      assert(g == b)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch interval join") {
    def stage(name: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"stage_$name")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/$name.parquet"), dir.resolve("part-0.parquet"))
      dir.toString
    }
    val o = spark.readStream
      .schema(Tables.load(spark, sf, "orders").schema).parquet(stage("orders"))
    val l = spark.readStream
      .schema(Tables.load(spark, sf, "lineitem").schema).parquet(stage("lineitem"))
    val q = Pipelines.orderWideStream(o, l)
      .writeStream.format("memory").queryName("ows").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ows").count()
      val oB = Tables.load(spark, sf, "orders")
      val lB = Tables.load(spark, sf, "lineitem")
      val batch = oB.join(lB,
        oB("o_orderkey") === lB("l_orderkey") &&
          lB("l_shipdate") >= date_add(oB("o_orderdate"), -60) &&
          lB("l_shipdate") <= date_add(oB("o_orderdate"), 60)).count()
      assert(streamed == batch)
    } finally q.stop()
  }

  test("payment stream join: shipments before the order are excluded") {
    def stage(name: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"pstage_$name")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/$name.parquet"), dir.resolve("part-0.parquet"))
      dir.toString
    }
    val o = spark.readStream
      .schema(Tables.load(spark, sf, "orders").schema).parquet(stage("orders"))
    val l = spark.readStream
      .schema(Tables.load(spark, sf, "lineitem").schema).parquet(stage("lineitem"))
    val q = Pipelines.paymentWideStream(o, l)
      .writeStream.format("memory").queryName("pws").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("pws")
      assert(streamed.filter(col("l_shipdate") < col("o_orderdate")).count() == 0)
      val oB = Tables.load(spark, sf, "orders")
      val lB = Tables.load(spark, sf, "lineitem")
      val batch = oB.join(lB,
        oB("o_orderkey") === lB("l_orderkey") &&
          lB("l_shipdate") >= oB("o_orderdate") &&
          lB("l_shipdate") <= date_add(oB("o_orderdate"), 90)).count()
      assert(streamed.count() == batch)
    } finally q.stop()
  }

  test("streaming product stats (complete mode) equals the batch aggregation") {
    val dir = java.nio.file.Files.createTempDirectory("psdocs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/lineitem.parquet"), dir.resolve("part-0.parquet"))
    val l = spark.readStream
      .schema(Tables.load(spark, sf, "lineitem").schema).parquet(dir.toString)
    val q = Pipelines.productStatsStream(l)
      .writeStream.format("memory").queryName("pss")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("pss").orderBy("dt", "sku_id").collect().toSeq
      val batch = Pipelines.productStatsStream(Tables.load(spark, sf, "lineitem"))
        .orderBy("dt", "sku_id").collect().toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming keyword counts equal the batch keyword stats") {
    val dir = java.nio.file.Files.createTempDirectory("kwdocs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"), dir.resolve("part-0.parquet"))
    val docs = spark.readStream
      .schema(Tables.load(spark, sf, "documents").schema).parquet(dir.toString)
    val q = Pipelines.keywordStream(docs)
      .writeStream.format("memory").queryName("kws").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("kws").select("word", "ct")
        .orderBy("word").collect().toSeq
      val batch = graft.operators.KeywordStats.keywordStats.run(spark, sf)
        .select("word", "ct").orderBy("word").collect().toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  /** RawEvent stream over a staged events dir, whatever ts storage form the
    * fixture uses (eventsStream normalizes it).
    */
  private def rawEventStream(dir: String) =
    graft.streaming.Pipelines.eventsStream(spark, dir)
      .withColumnRenamed("ts_ns", "tsNs")
      .select("user_id", "event_id", "ts", "tsNs")
      .withWatermark("ts", "1 second")

  /** Append a far-future (2025-01-01) event matching the staged files'
    * schema so the stream's watermark advances past every pending timer.
    */
  private def appendWatermarkSentinel(dir: String): Unit = {
    val base = spark.read.parquet(s"$sf/events.parquet")
    val tsCol = base.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => lit(1735689600L * 1000000000L)
      case dt => lit(java.time.LocalDateTime.of(2025, 1, 1, 0, 0)).cast(dt)
    }
    base.limit(1)
      .withColumn("ts", tsCol)
      .withColumn("event_id", lit(-1L)).withColumn("user_id", lit(-1L))
      .write.mode("append").parquet(dir)
  }

  test("streaming sessionization bounce set equals the batch bounce flags") {
    import graft.streaming.{RawEvent, StatefulOps, UserBounce}
    val dir = java.nio.file.Files.createTempDirectory("sessdocs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("part-0.parquet"))
    val raw = rawEventStream(dir.toString).as[RawEvent]
    val q = StatefulOps.sessionBounces(raw)
      .writeStream.format("memory").queryName("sb").outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance the watermark far past every pending 10-min timer
      appendWatermarkSentinel(dir.toString)
      q.processAllAvailable()
      val streamed = spark.table("sb").as[UserBounce].collect()
        .filter(_.user_id >= 0).map(b => (b.user_id, b.tsNs)).toSet
      val batch = graft.operators.LogStats.enriched(spark, sf)
        .filter(col("bounce_flag") === 1)
        .select(col("user_id"), col("ts_ns")).as[(Long, Long)].collect().toSet
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("composed UV/UJ pipeline: staged bounce stream windows to the batch uj_ct") {
    import graft.streaming.StatefulOps
    import graft.streaming.RawEvent
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // phase 1 — UserJumpDetailApp analog: raw events -> sessionBounces ->
    // staged parquet dir (the dwm_user_jump_detail topic)
    val evDir = java.nio.file.Files.createTempDirectory("ujevents")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), evDir.resolve("part-0.parquet"))
    val stage = java.nio.file.Files.createTempDirectory("ujstage").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ujckpt").toString
    val raw = rawEventStream(evDir.toString).as[RawEvent]
    // foreachBatch append (not the parquet streaming sink): the streaming
    // sink's _spark_metadata log would make the phase-2 file source ignore
    // any file not in the log — including the watermark sentinel below
    val q1 = StatefulOps.sessionBounces(raw)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.UserBounce], _: Long) =>
        df.write.mode("append").parquet(stage)
      }
      .option("checkpointLocation", ckpt).outputMode("append").start()
    q1.processAllAvailable()
    // watermark sentinel: flushes every pending 10-min bounce timer
    appendWatermarkSentinel(evDir.toString)
    q1.processAllAvailable()
    q1.stop()
    // phase 2 — VisitorStatsApp analog: the staged bounces, windowed by
    // their ORIGINAL entry timestamp under the 11 s watermark
    val bounceSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("tsNs", LongType)))
    val q2 = Pipelines.bounceWindowStream(
        spark.readStream.schema(bounceSchema).parquet(stage))
      .writeStream.format("memory").queryName("ujw").outputMode("append").start()
    try {
      q2.processAllAvailable()
      // far-future sentinel bounce advances the watermark past every real
      // window (its own window never closes, so it is never emitted)
      import spark.implicits._
      Seq((-1L, 1735689600L * 1000000000L)).toDF("user_id", "tsNs")
        .write.mode("append").parquet(stage)
      q2.processAllAvailable()
      val streamed = spark.table("ujw")
        .select("stt", "uj_ct").as[(String, Long)].collect().toMap
      val batch = graft.operators.LogStats.visitorStats.run(spark, sf)
        .groupBy("stt").agg(sum("uj_ct").as("uj"))
        .filter(col("uj") > 0)
        .select("stt", "uj").as[(String, Long)].collect().toMap
      assert(streamed == batch,
        s"missing=${(batch.toSet -- streamed.toSet).take(3)} " +
          s"extra=${(streamed.toSet -- batch.toSet).take(3)}")
    } finally q2.stop()
  }

  test("cdc router: idempotent kafka batches + seq-ordered dim upsert") {
    val out = java.nio.file.Files.createTempDirectory("cdcroute").toString
    val cfg = Seq(
      ("order_info", "insert", "kafka", "dwd_order_info", "id,total_amount", "id"),
      ("order_info", "update", "hbase", "dim_order_info", "id,total_amount", "id"))
      .toDF("source_table", "operate_type", "sink_type", "sink_table", "sink_columns", "sink_pk")
    def env(seq: Long, id: String, typ: String, amount: String) =
      ("graft", "order_info", typ, seq, Map("id" -> id, "total_amount" -> amount))
    val cols = Seq("database", "tableName", "type", "op_seq", "after")
    // batch 0: includes TWO updates for id=2 — op_seq decides the winner
    val batch1 = Seq(
      env(1, "1", "insert", "10"), env(2, "2", "update", "20"),
      env(3, "2", "update", "21"), env(4, "3", "delete", "30"))
      .toDF(cols: _*)
    Pipelines.routeCdcBatch(batch1, 0L, cfg, out)
    // replayed batch 0 (foreachBatch at-least-once): must be idempotent
    Pipelines.routeCdcBatch(batch1, 0L, cfg, out)
    val batch2 = Seq(env(5, "2", "update", "25"), env(6, "4", "insert", "40"))
      .toDF(cols: _*)
    Pipelines.routeCdcBatch(batch2, 1L, cfg, out)

    val kafka = spark.read.parquet(s"$out/kafka/dwd_order_info")
    // replay did not duplicate; delete (id=3) filtered everywhere
    assert(kafka.select("id").as[String].collect().sorted.toSeq == Seq("1", "4"))
    assert(!kafka.columns.contains("type"))
    val dim = Pipelines.readDim(spark, out, "dim_order_info").get
    val dimRows = dim.collect().map(r => r.getAs[String]("id") -> r.getAs[String]("total_amount")).toMap
    assert(dimRows == Map("2" -> "25")) // within-batch seq then latest batch win
  }

  test("cdc dim route: a batch behind the dim's head fails as a fresh checkpoint") {
    val out = java.nio.file.Files.createTempDirectory("cdcfresh").toString
    val cfg = Seq(("t", "update", "hbase", "dim_t", "id,val", "id"))
      .toDF("source_table", "operate_type", "sink_type", "sink_table",
        "sink_columns", "sink_pk")
    val cols = Seq("database", "tableName", "type", "op_seq", "after")
    def batch(id: String, v: String) =
      Seq(("g", "t", "update", 1L, Map("id" -> id, "val" -> v))).toDF(cols: _*)
    Pipelines.routeCdcBatch(batch("k1", "a"), 5L, cfg, out)
    // a replay of the head batch still short-circuits
    Pipelines.routeCdcBatch(batch("k1", "a"), 5L, cfg, out)
    val root = s"$out/dim/dim_t"
    // a restart on a fresh checkpoint re-numbers batch ids from 0
    val e = intercept[IllegalArgumentException] {
      Pipelines.routeCdcBatch(batch("k2", "b"), 1L, cfg, out)
    }
    assert(e.getMessage.contains("fresh checkpoint"), e.getMessage)
    val stages = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith(".stage_")).map(_.getName)
    assert(stages.isEmpty, s"rejected batch left stages ${stages.mkString(",")}")
    assert(graft.sources.SnapshotTable.latestVersion(root).contains("v5"))
    assert(Pipelines.readDim(spark, out, "dim_t").get.collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq == Seq("k1" -> "a"))
  }

  test("cdc dim sink merges tile-locally from its second batch, and still after a compaction") {
    val out = java.nio.file.Files.createTempDirectory("cdcmerge").toString
    val cfg = Seq(("t", "update", "hbase", "dim_t", "id,val", "id"))
      .toDF("source_table", "operate_type", "sink_type", "sink_table",
        "sink_columns", "sink_pk")
    val cols = Seq("database", "tableName", "type", "op_seq", "after")
    def mkBatch(seq0: Long, ids: Seq[Int], v: String) =
      ids.zipWithIndex.map { case (id, i) =>
        ("g", "t", "update", seq0 + i, Map("id" -> f"k$id%04d", "val" -> v))
      }.toDF(cols: _*)
    val root = s"$out/dim/dim_t"
    def names(v: String) = new java.io.File(s"$root/$v").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    def dim() = Pipelines.readDim(spark, out, "dim_t").get.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // the first batch publishes clustered with pk stats: no compaction
    // stands between it and the tile-local regime
    Pipelines.routeCdcBatch(mkBatch(0L, 0 until 200, "a"), 0L, cfg, out)
    assert(graft.sources.SnapshotTable.tileMergeable(root, "v0", "id"))
    // the second batch (two keys in one tile) carries untouched files
    Pipelines.routeCdcBatch(mkBatch(500L, Seq(20, 21), "b"), 1L, cfg, out)
    val carried1 = names("v0") intersect names("v1")
    assert(carried1.size >= 2 && carried1.size < names("v0").size,
      s"the second batch should carry untouched tiles, carried ${carried1.size} " +
        s"of ${names("v0").size}")
    // compaction stays optional maintenance (version id from the sink's
    // own sequence, per compact's coordination contract); batches after
    // it still merge tile-locally
    graft.sources.SnapshotTable.compact(spark, root, "v100",
      targetFiles = 4, statsCols = Seq("id"))
    Pipelines.routeCdcBatch(mkBatch(1000L, Seq(10, 11), "c"), 101L, cfg, out)
    assert(graft.sources.SnapshotTable.latestVersion(root).contains("v101"))
    val carried = names("v100") intersect names("v101")
    assert(carried.size >= 2,
      s"merge regime should carry untouched tiles, carried ${carried.size} " +
        s"of ${names("v100").size}")
    val d = dim()
    assert(d.size == 200 && d("k0010") == "c" && d("k0011") == "c" &&
      d("k0020") == "b" && d("k0000") == "a" && d("k0199") == "a",
      s"merged dim content off: ${d.toSeq.sortBy(_._1).take(3)}")
  }

  test("cdc dim route: footer stats carry no fingerprints, and a diff of its versions is still exact") {
    val out = java.nio.file.Files.createTempDirectory("cdcstats").toString
    val cfg = Seq(("t", "update", "hbase", "dim_t", "id,val", "id"))
      .toDF("source_table", "operate_type", "sink_type", "sink_table",
        "sink_columns", "sink_pk")
    val cols = Seq("database", "tableName", "type", "op_seq", "after")
    def mkBatch(seq0: Long, ids: Seq[Int], v: String) =
      ids.zipWithIndex.map { case (id, i) =>
        ("g", "t", "update", seq0 + i, Map("id" -> f"k$id%04d", "val" -> v))
      }.toDF(cols: _*)
    val root = s"$out/dim/dim_t"
    Pipelines.routeCdcBatch(mkBatch(0L, 0 until 200, "a"), 0L, cfg, out)
    // two updates in one tile and one key past the max
    Pipelines.routeCdcBatch(mkBatch(500L, Seq(20, 21, 300), "b"), 1L, cfg, out)
    Seq("v0", "v1").foreach { v =>
      val stats = graft.sources.SnapshotTable.readStatsVersion(root, v).get
      assert(stats.nonEmpty && stats.forall(_.fingerprint.isEmpty),
        s"$v: the CDC dim's _STATS must carry no row fingerprints: $stats")
    }
    assert(graft.sources.SnapshotTable.diffFiles(root, "v0", "v1").isEmpty,
      "without fingerprints a diff must take the full diff")
    val d = graft.sources.SnapshotTable.diff(spark, root, "v0", "v1", "id")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(d.sorted.toSeq == Seq(
      ("k0020", "a", "update_preimage"), ("k0020", "b", "update_postimage"),
      ("k0021", "a", "update_preimage"), ("k0021", "b", "update_postimage"),
      ("k0300", "b", "insert")), d.mkString(";"))
  }

  test("cdc dim route: a row without its pk fails the batch by table and pk before anything is written") {
    val out = java.nio.file.Files.createTempDirectory("cdcnullpk").toString
    val cfg = Seq(
      ("t", "update", "kafka", "dwd_t", "order_id,val", "order_id"),
      ("t", "update", "hbase", "dim_nullpk", "order_id,val", "order_id"))
      .toDF("source_table", "operate_type", "sink_type", "sink_table",
        "sink_columns", "sink_pk")
    val cols = Seq("database", "tableName", "type", "op_seq", "after")
    def row(seq: Long, after: Map[String, String]) = ("g", "t", "update", seq, after)
    Pipelines.routeCdcBatch(Seq(row(1L, Map("order_id" -> "o1", "val" -> "a")))
      .toDF(cols: _*), 0L, cfg, out)
    // Phoenix rejects a null PK: two malformed rows must not both land
    // (an anti-join merge keeps every null-pk row), nor one of them
    val bad = Seq(row(2L, Map("val" -> "x")), row(3L, Map("val" -> "y")),
      row(4L, Map("order_id" -> "o2", "val" -> "b"))).toDF(cols: _*)
    val e = intercept[Exception](Pipelines.routeCdcBatch(bad, 1L, cfg, out))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msgs.contains("dim_nullpk") && msgs.contains("order_id"), msgs)
    val root = s"$out/dim/dim_nullpk"
    assert(graft.sources.SnapshotTable.latestVersion(root).contains("v0"))
    assert(!new java.io.File(root).listFiles().exists(_.getName.startsWith(".stage_")))
    assert(!new java.io.File(s"$out/kafka/dwd_t/batch=1").exists(),
      "the rejected batch must write no kafka batch either")
    assert(Pipelines.readDim(spark, out, "dim_nullpk").get.collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq == Seq("o1" -> "a"))
  }

  test("streaming session windows (complete mode) equal batch aggregation") {
    val dir = java.nio.file.Files.createTempDirectory("sessdir")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("part-0.parquet"))
    val stream = Pipelines.sessionStatsStream(Pipelines.eventsStream(spark, dir.toString))
    val q = stream.writeStream.format("memory").queryName("sss")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val got = spark.table("sss").orderBy("user_id", "stt").collect().toSeq
      val batch = Pipelines.sessionStatsStream(Tables.load(spark, sf, "events"))
        .orderBy("user_id", "stt").collect().toSeq
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming province stats (complete mode) equals batch aggregation") {
    val dir = java.nio.file.Files.createTempDirectory("ordersdir")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/orders.parquet"), dir.resolve("part-0.parquet"))
    val oStream = spark.readStream
      .schema(Tables.load(spark, sf, "orders").schema).parquet(dir.toString)
    val c = Tables.load(spark, sf, "customer")
    val n = Tables.load(spark, sf, "nation")
    val r = Tables.load(spark, sf, "region")
    val q = Pipelines.provinceStatsStream(oStream, c, n, r)
      .writeStream.format("memory").queryName("pss")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val got = spark.table("pss").orderBy("stt", "province_id").collect().toSeq
      val batch = Pipelines
        .provinceStatsStream(Tables.load(spark, sf, "orders"), c, n, r)
        .orderBy("stt", "province_id").collect().toSeq
      assert(got == batch)
    } finally q.stop()
  }

  test("dim DDL evolution: a new sink column appears mid-stream (K5)") {
    // the config table is re-read per micro-batch (the reference streams
    // table_process via CDC), so widening sink_columns between batches is
    // the dynamic-DDL path: the keep-latest merge unions by name with
    // missing columns allowed, and earlier rows surface NULL for the new
    // column — no rewrite of existing dim data.
    val out = java.nio.file.Files.createTempDirectory("cdcevo").toString
    def cfg(cols: String) =
      Seq(("order_info", "update", "hbase", "dim_evo", cols, "id"))
        .toDF("source_table", "operate_type", "sink_type", "sink_table", "sink_columns", "sink_pk")
    def env(seq: Long, id: String, m: Map[String, String]) =
      ("graft", "order_info", "update", seq, m)
    val cols = Seq("database", "tableName", "type", "op_seq", "after")
    Pipelines.routeCdcBatch(
      Seq(env(1, "1", Map("id" -> "1", "total_amount" -> "10"))).toDF(cols: _*),
      0L, cfg("id,total_amount"), out)
    Pipelines.routeCdcBatch(
      Seq(env(2, "2", Map("id" -> "2", "total_amount" -> "20", "order_priority" -> "1-URGENT")))
        .toDF(cols: _*),
      1L, cfg("id,total_amount,order_priority"), out)
    val dim = Pipelines.readDim(spark, out, "dim_evo").get
    assert(dim.columns.toSet == Set("id", "total_amount", "order_priority"))
    val rows = dim.collect()
      .map(r => r.getAs[String]("id") ->
        (r.getAs[String]("total_amount"), Option(r.getAs[String]("order_priority"))))
      .toMap
    assert(rows == Map("1" -> (("10", None)), "2" -> (("20", Some("1-URGENT")))))
  }
}
