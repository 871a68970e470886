package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{CacheRegistry, SparkEntry, Tables}
import graft.operators.{Packing, PipelineManifest, PushRank}
import graft.sources.SnapshotTable
import graft.streaming.{IvmStream, Pipelines, PushStream}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The three workloads. Each sets up (staging, bootstrap, one untimed
  * warm pass), runs its closed loop with one client until the time is up,
  * then checks every output; a mismatch fails the ops it covers. Returns
  * the named check outcomes.
  */
object Workloads {

  private def check(name: String, ok: Boolean, detail: String = ""): Map[String, Any] =
    Map("name" -> name, "ok" -> ok, "detail" -> detail)

  /** Files under `roots`: path → size (directories as -1). */
  private def listing(roots: Seq[String]): Map[String, Long] =
    roots.filter(r => new File(r).exists).flatMap { r =>
      val s = Files.walk(Paths.get(r))
      try s.iterator().asScala.map { p =>
        val f = p.toFile
        p.toString -> (if (f.isDirectory) -1L else f.length())
      }.toList
      finally s.close()
    }.toMap

  private def bytesUnder(roots: Seq[String]): Long =
    listing(roots).values.filter(_ >= 0).sum

  /** Table roots (directories holding a `_LATEST` marker) under `roots`:
    * live data files in their published versions, and retained versions.
    */
  private def liveState(roots: Seq[String]): (Int, Int) = {
    val markers = listing(roots).keys.filter(_.endsWith("/_LATEST")).toSeq
    val tables = markers.map(_.stripSuffix("/_LATEST"))
    val live = tables.map { t =>
      SnapshotTable.latestVersion(t).map { v =>
        Option(new File(s"$t/$v").listFiles()).getOrElse(Array.empty)
          .count(_.getName.endsWith(".parquet"))
      }.getOrElse(0)
    }.sum
    (live, tables.map(t => SnapshotTable.versions(t).size).sum)
  }

  private def sameRows(a: Array[Row], b: Array[Row]): Boolean =
    a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted)

  // ---------------------------------------------------------------- dashboard

  private val Dims = Seq("customer" -> "c_custkey", "part" -> "p_partkey")

  /** Panel cycles (dashboard) and ticks (stream_ingest) a run times at
    * least, whatever `--seconds` says, so each run's median has more than
    * one sample of every op.
    */
  private val MinRounds = 2

  def dashboard(c: Ctx): Seq[Map[String, Any]] = {
    val spark = c.spark
    val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
    val order = c.plan.get("panel_order").elements.asScala.map(_.asText).toSeq
    val lookups = c.plan.get("lookups").elements.asScala
      .map(n => (n.get(0).asText, n.get(1).asText, n.get(2).asLong)).toIndexedSeq
    val perPanel = c.plan.get("lookups_per_panel").asInt
    // staging: the DIM tables published with per-file pk stats, range
    // clustered so a point lookup prunes to one file
    def dimRoot(t: String) = s"${c.work}/dims/$t"
    c.phase("staging")(Dims.foreach { case (t, pk) =>
      SnapshotTable.publish(Tables.load(spark, c.warehouse, t), dimRoot(t), "v1",
        statsCols = Seq(pk), clusterFiles = Some(8))
    })
    val dimFiles = Dims.map { case (t, _) =>
      t -> new File(s"${dimRoot(t)}/v1").listFiles().count(_.getName.endsWith(".parquet"))
    }.toMap
    var next = 0
    val looked = scala.collection.mutable.ArrayBuffer.empty[(OpRec, String, Long, Array[Row])]
    def cycle(timed: Boolean): Unit = order.foreach { name =>
      val q = byName(name)
      if (timed) {
        val (rec, res) = c.op("panel", name, 0L, () => CacheRegistry.clear()) {
          val df = c.span("run")(q.run(spark, c.warehouse))
          (df.schema, c.span("collect")(df.collect()))
        }
        res.foreach { case (schema, rows) => c.recordResult(name, rec.id, schema, rows) }
      } else try q.run(spark, c.warehouse).collect() finally CacheRegistry.clear()
      (0 until perPanel).foreach { _ =>
        val (t, pk, key) = lookups(next % lookups.size)
        next += 1
        def lookup() = SnapshotTable.pointLookup(spark, dimRoot(t), pk, key).get.collect()
        if (timed) {
          val (rec, res) = c.op("lookup", t, 0L) {
            c.ledger.foreach(_.note("dim_files_live", dimFiles(t).toDouble))
            c.span("lookup")(lookup())
          }
          res.foreach(rows => looked += ((rec, t, key, rows)))
        } else lookup()
      }
    }
    c.phase("warm")(cycle(timed = false))
    var cycles = 0
    do { cycle(timed = true); cycles += 1 } while (c.timeLeft || cycles < MinRounds)

    // checks: every lookup returns exactly its source parquet row; every
    // panel result goes to the DuckDB oracle
    val source = Dims.map { case (t, pk) =>
      t -> spark.read.parquet(s"${c.warehouse}/$t.parquet").collect()
        .map(r => r.getAs[Long](pk) -> r).toMap
    }.toMap
    var bad = 0
    looked.foreach { case (rec, t, key, rows) =>
      val want = source(t).get(key)
      val ok = rows.length == 1 && want.exists { w =>
        w.schema.fieldNames.forall(f => w.getAs[Any](f) == rows(0).getAs[Any](f))
      }
      if (!ok) { bad += 1; rec.fail(s"lookup $t[$key] returned ${rows.mkString(";")}") }
    }
    c.dumpResults(q => byName(q).oracle.get, c.warehouse)
    Seq(check("lookups_equal_source_rows", bad == 0, s"$bad of ${looked.size} differ"))
  }

  // ------------------------------------------------------------ stream_ingest

  private val Eps = 1000000L
  private val Rounds = 1

  def streamIngest(c: Ctx): Seq[Map[String, Any]] = {
    val spark = c.spark
    import spark.implicits._
    val stream = s"${c.inputs}/stream"
    def file(log: String, b: Int) = f"$stream/$log/b$b%04d.parquet"
    def cuts(k: String) = c.plan.get(k).elements.asScala.map(_.asLong).toIndexedSeq
    val logCuts = Map("cdc" -> cuts("cdc_cuts"), "edges" -> cuts("edge_cuts"))
    val nBatches = logCuts("cdc").size - 1
    // the twins a tick drives, in order, and the log each one reads
    val twins = Seq("cdc", "ivm", "push")
    val logOf = Map("cdc" -> "cdc", "ivm" -> "cdc", "push" -> "edges")
    val logs = logOf.values.toSeq.distinct
    def rowsOf(b: Int) = logs.map(l => logCuts(l)(b + 1) - logCuts(l)(b)).sum
    val dimLookups = c.plan.get("dim_lookups").elements.asScala
      .map(_.elements.asScala.map(_.asText).toSeq).toIndexedSeq

    val root = s"${c.work}/twins"
    val cdcOut = s"$root/cdc"
    val (ivmDim, ivmView) = (s"$root/ivm/dim", s"$root/ivm/view")
    val dimRoot = s"$cdcOut/dim/dim_order_info"
    val pushRt = PushStream.roots(s"$root/push/rank")
    val twinRoots = Map("cdc" -> Seq(cdcOut), "ivm" -> Seq(s"$root/ivm"),
      "push" -> Seq(s"$root/push"))
    val allRoots = twins.flatMap(twinRoots)
    val cfg = Seq(
      ("order_info", "insert", "kafka", "dwd_order_info", "id,user_id,total_amount", "id"),
      ("order_info", "update", "hbase", "dim_order_info", "id,total_amount", "id"))
      .toDF("source_table", "operate_type", "sink_type", "sink_table", "sink_columns", "sink_pk")
    // the dim updates a CDC batch carries, typed and latest-per-key: the
    // IVM twin's input
    def ivmInput(cdc: DataFrame) = cdc.filter(col("type") === "update")
      .select(col("op_seq"),
        expr("CAST(substring(after['id'], 2) AS BIGINT)").as("id"),
        expr("CAST(CAST(after['total_amount'] AS DECIMAL(18,2)) * 100 AS BIGINT)").as("amt"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("op_seq").desc)))
      .filter(col("_rn") === 1).drop("_rn", "op_seq")
    val bucket = pmod(col("id"), lit(16L))

    /** One twin's micro-batch: apply (commit) then serve the live view;
      * traced runs list the twin's roots around the commit.
      */
    def twin(name: String, in: DataFrame, id: Long): Unit = {
      val before = c.ledger.map(_ => listing(twinRoots(name)))
      c.span(s"$name.apply")(name match {
        case "cdc" => Pipelines.routeCdcBatch(in, id, cfg, cdcOut)
        case "ivm" => IvmStream.applyBatch(ivmInput(in), id, ivmDim, ivmView,
          "id", bucket, Seq("amt"), clusterFiles = 8)
        case "push" => PushStream.applyBatch(in, id, pushRt, Eps, Rounds)
      })
      before.foreach { b =>
        val after = listing(twinRoots(name))
        val fresh = after.filter { case (p, s) => s >= 0 && p.endsWith(".parquet") && !b.get(p).contains(s) }
        val commits = after.keys.count { p =>
          !b.contains(p) && after(p) < 0 &&
            p.split('/').last.matches("(v|seg_)\\d+")
        }
        c.ledger.get.note("commits", commits.toDouble)
        c.ledger.get.note("files_written", fresh.size.toDouble)
        c.ledger.get.note("bytes_written", fresh.values.sum.toDouble)
      }
      c.span(s"$name.serve")(name match {
        case "cdc" => Pipelines.readDim(spark, cdcOut, "dim_order_info").get.collect()
        case "ivm" => IvmStream.liveView(spark, ivmView).get.collect()
        case "push" => PushStream.liveState(spark, pushRt).get.collect()
      })
    }
    def tick(b: Int, id: Long): Unit = {
      val in = logs.map(l => l -> spark.read.parquet(file(l, b))).toMap
      c.ledger.foreach(_.note("input_bytes",
        logs.map(l => new File(file(l, b)).length()).sum.toDouble))
      twins.foreach(t => twin(t, in(logOf(t)), id))
      c.ledger.foreach { l =>
        val (files, versions) = liveState(allRoots)
        l.note("files_live", files.toDouble)
        l.note("versions_live", versions.toDouble)
      }
    }

    // setup: bootstrap every twin with batch 0 and serve each view once
    // (the untimed warm pass), then cluster the CDC dim with pk stats so
    // later batches take the tile-local merge path. Twin versions:
    // bootstrap v1, compaction v2, batch b at v(b + 2).
    c.phase("bootstrap")(tick(0, 1L))
    c.phase("compact")(SnapshotTable.compact(spark, dimRoot, "v2",
      targetFiles = 8, statsCols = Seq("id")))
    // the reference's DimUtil lookups: the enrichment stream reads single
    // rows of the dim the CDC route keeps, by primary key
    def lookup(key: String) = SnapshotTable.pointLookup(spark, dimRoot, "id", key).get.collect()
    c.phase("bootstrap")(dimLookups(0).foreach(lookup))
    var b = 1
    val ticks = scala.collection.mutable.ArrayBuffer.empty[OpRec]
    val looked = scala.collection.mutable.ArrayBuffer.empty[(OpRec, Int, String, Array[Row])]
    do {
      val bb = b
      ticks += c.op("tick", s"b$bb", rowsOf(bb))(tick(bb, bb + 2L))._1
      val dimFiles = c.ledger.map(_ => liveState(Seq(dimRoot))._1.toDouble)
      dimLookups(bb).foreach { key =>
        val (rec, res) = c.op("lookup", "dim_order_info", 0L) {
          dimFiles.foreach(n => c.ledger.get.note("dim_files_live", n))
          c.span("lookup")(lookup(key))
        }
        res.foreach(rows => looked += ((rec, bb, key, rows)))
      }
      b += 1
    } while ((c.timeLeft || ticks.size < MinRounds) && b < nBatches)
    c.extra("state_b") = bytesUnder(allRoots)

    // checks: each served view equals its batch form over everything
    // ingested so far
    val last = b - 1
    def all(log: String) = spark.read.parquet((0 to last).map(file(log, _)): _*)
    def attempt(name: String)(ok: => (Boolean, String)): Map[String, Any] =
      try { val (o, d) = ok; check(name, o, d) }
      catch { case NonFatal(e) => check(name, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    // each lookup returns the latest update of its key as of its tick
    val updates = (0 to last).flatMap { bb =>
      spark.read.parquet(file("cdc", bb)).filter(col("type") === "update")
        .select(col("op_seq"), expr("after['id']"), expr("after['total_amount']"))
        .collect().map(r => (bb, r.getLong(0), r.getString(1), r.getString(2)))
    }
    val badLookups = looked.filter { case (rec, bb, key, rows) =>
      val want = updates.filter(u => u._1 <= bb && u._3 == key).sortBy(_._2).lastOption.map(_._4)
      val got = rows.map(r => r.getAs[String]("total_amount")).toSeq
      val ok = want.exists(w => got == Seq(w))
      if (!ok) rec.fail(s"lookup $key after b$bb returned ${got.mkString(";")}, want $want")
      !ok
    }
    val lookupCheck = check("lookups_equal_keep_latest", badLookups.isEmpty,
      s"${badLookups.size} of ${looked.size} differ")
    val stateChecks = twins.flatMap {
      case "cdc" => Seq(attempt("cdc_dim_equals_keep_latest") {
        val want = all("cdc").filter(col("type") === "update")
          .select(col("op_seq"), expr("after['id']").as("id"),
            expr("after['total_amount']").as("total_amount"))
          .withColumn("_rn", row_number().over(
            Window.partitionBy(col("id")).orderBy(col("op_seq").desc)))
          .filter(col("_rn") === 1).select("id", "total_amount").collect()
        val got = Pipelines.readDim(spark, cdcOut, "dim_order_info").get
          .select("id", "total_amount").collect()
        (sameRows(want, got), s"${got.length} dim rows, ${want.length} expected")
      })
      case "ivm" => Seq(attempt("ivm_view_equals_batch_aggregate") {
        val want = ivmInput(all("cdc")).groupBy(bucket.as("bucket"))
          .agg(count(lit(1)).as("n_rows"), sum(col("amt")).as("amt"))
          .select("bucket", "n_rows", "amt").collect()
        val got = IvmStream.liveView(spark, ivmView).get
          .select("bucket", "n_rows", "amt").collect()
        (sameRows(want, got), s"${got.length} buckets")
      })
      case "push" => Seq(
        attempt("push_edges_equal_batch_sum") {
          val want = all("edges").groupBy("src", "dst").agg(sum(col("n_d")).as("n"))
            .filter(col("n") =!= 0).collect()
          val got = SnapshotTable.read(spark, pushRt.edges).get
            .select("src", "dst", "n").filter(col("n") =!= 0).collect()
          (sameRows(want, got), s"${got.length} edges, ${want.length} expected")
        },
        attempt("push_residual_equals_bellman") {
          val state = PushStream.liveState(spark, pushRt).get
          val edges = SnapshotTable.read(spark, pushRt.edges).get.select("src", "dst", "n")
          val want = PushRank.bellmanResidual(state.select("node", "out_n", "p"),
            PushRank.transitions(edges)).select("node", "r").collect()
          val got = state.select("node", "r").collect()
          (sameRows(want, got), s"${got.length} nodes")
        })
    }
    val failed = stateChecks.filterNot(_("ok").asInstanceOf[Boolean]).map(_("name").toString)
    if (failed.nonEmpty) ticks.foreach(_.fail(s"state check failed: ${failed.mkString(", ")}"))
    stateChecks :+ lookupCheck
  }

  // ----------------------------------------------------------- curation_batch

  def curationBatch(c: Ctx): Seq[Map[String, Any]] = {
    val spark = c.spark
    val input = s"${c.work}/curation/input"
    val ids = c.plan.get("curation_doc_ids").elements.asScala.map(_.asLong).toSeq
    // staging: every table unchanged except documents, which is the plan's
    // seed-chosen subset (one file, like the other tables)
    c.phase("staging") {
      Files.createDirectories(Paths.get(input))
      Tables.all.filter(_ != "documents").foreach { t =>
        Files.copy(Paths.get(s"${c.warehouse}/$t.parquet"), Paths.get(s"$input/$t.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      val tmp = s"${c.work}/curation/documents_subset"
      spark.read.parquet(s"${c.warehouse}/documents.parquet")
        .filter(col("doc_id").isin(ids: _*)).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$input/documents.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }

    // one curation job: the LlmPipeline chain — survivors with its
    // stage-to-parquet hook, sequence packing, the published corpus
    def job(out: String): Unit = {
      def staged(name: String, df: DataFrame): DataFrame = {
        c.span(s"stage.$name")(df.write.mode("overwrite").parquet(s"$out/stage_$name"))
        CacheRegistry.clear()
        val back = spark.read.parquet(s"$out/stage_$name")
        back.count()
        back
      }
      val hook: (String, DataFrame) => DataFrame = {
        case ("dedup", df) => staged("dedup", df)
        case ("quality", df) => staged("quality", df)
        case (stage, df) if Set("raw", "exact", "sampled", "mixed")(stage) => df.count(); df
        case (_, df) => df
      }
      val assigned = c.span("run")(PipelineManifest.survivors(spark, input, hook))
      val packed = Packing.withPackedOffsets(assigned, Seq("split"))
      c.span("publish")(packed.write.mode("overwrite").partitionBy("split")
        .parquet(s"$out/corpus"))
    }
    c.phase("warm") { job(s"${c.work}/curation/warm"); CacheRegistry.clearAll() }
    var k = 0
    val jobs = scala.collection.mutable.ArrayBuffer.empty[(OpRec, String)]
    do {
      val out = s"${c.work}/curation/job$k"
      jobs += ((c.op("job", "curation", ids.size.toLong,
        () => CacheRegistry.clearAll())(job(out))._1, out))
      k += 1
    } while (c.timeLeft)

    // check: each published corpus, reduced to the pipeline_manifest
    // form, against the manifest's DuckDB oracle on the staged input
    jobs.foreach { case (rec, out) =>
      if (rec.ok) {
        val m = spark.read.parquet(s"$out/corpus").groupBy(col("split"))
          .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).cast("long").as("tokens"),
            md5(concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
              _.cast("string")))).as("kept_id_md5"))
          .orderBy("split")
        c.recordResult("pipeline_manifest", rec.id, m.schema, m.collect())
      }
    }
    c.dumpResults(_ => PipelineManifest.manifest.oracle.get, input)
    Seq.empty
  }
}
