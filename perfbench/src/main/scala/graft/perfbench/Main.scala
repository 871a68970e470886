package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}

/** One op of a timed loop and what the benchmark learned about it. */
final class OpRec(val id: Int, val kind: String, val name: String,
    val ms: Double, var ok: Boolean, val rowsIn: Long, var detail: String) {
  def fail(why: String): Unit = { ok = false; if (detail.isEmpty) detail = why }
  def toMap: Map[String, Any] = Map("id" -> id, "kind" -> kind, "name" -> name,
    "ms" -> ms, "ok" -> ok, "rows_in" -> rowsIn, "detail" -> detail)
}

/** A query result the run wants checked against its DuckDB oracle: the
  * rows are dumped to `dump`, and every op in `ops` fails if they differ.
  */
final case class OracleCheck(query: String, sql: String, tablesDir: String,
    dump: String, ops: Seq[Int])

/** State shared by a workload's setup, timed loop and checks. */
final class Ctx(val spark: SparkSession, val work: String, val inputs: String,
    val plan: JsonNode, val seconds: Double, val ledger: Option[Ledger]) {
  val ops: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer.empty
  val oracle: mutable.ArrayBuffer[OracleCheck] = mutable.ArrayBuffer.empty
  val extra: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  private var nextId = 0
  var cachePeak = 0L
  var firstOpMs = 0L
  var timedStartNs = 0L
  var timedEndNs = 0L

  def warehouse: String = s"$inputs/warehouse"

  /** Run one timed op: wall time covers `body` only; the cache sample and
    * `cleanup` (releasing what the op cached) run after the clock stops.
    */
  def op[T](kind: String, name: String, rowsIn: Long,
      cleanup: () => Unit = () => ())(body: => T): (OpRec, Option[T]) = {
    val id = nextId
    nextId += 1
    if (firstOpMs == 0L) { firstOpMs = System.currentTimeMillis(); timedStartNs = System.nanoTime() }
    val row = ledger.map(_.begin(id, kind, name))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val endMs = System.currentTimeMillis()
    cachePeak = math.max(cachePeak,
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    try cleanup() catch { case NonFatal(_) => () }
    timedEndNs = System.nanoTime()
    row.foreach(r => ledger.get.end(r, startMs, endMs, ms))
    val rec = new OpRec(id, kind, name, ms, out.isRight, rowsIn,
      out.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").getOrElse(""))
    ops += rec
    (rec, out.toOption)
  }

  /** Time one named part of the set-up (recorded in the run record). */
  val phases: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** Whether the timed loop should start another op. */
  def timeLeft: Boolean = (System.nanoTime() - timedStartNs) / 1e9 < seconds

  def span[T](name: String)(body: => T): T = ledger match {
    case Some(l) => l.span(name)(body)
    case None => body
  }

  /** Order-independent digest of a result's rows. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Keep one copy of each distinct result per query and map the ops that
    * produced it, so each distinct answer is oracle-checked once.
    */
  private val results = mutable.LinkedHashMap.empty[(String, String),
    (org.apache.spark.sql.types.StructType, Array[Row], mutable.ArrayBuffer[Int])]

  def recordResult(query: String, op: Int, schema: org.apache.spark.sql.types.StructType,
      rows: Array[Row]): Unit =
    results.getOrElseUpdate((query, digest(rows)),
      (schema, rows, mutable.ArrayBuffer.empty))._3 += op

  /** Dump every distinct result and register its oracle check. */
  def dumpResults(sqlOf: String => String, tablesDir: String): Unit =
    results.zipWithIndex.foreach { case (((q, _), (schema, rows, ids)), i) =>
      val path = s"$work/results/$q-$i"
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(path)
      oracle += OracleCheck(q, sqlOf(q), tablesDir, path, ids.toSeq)
    }
}

/** Benchmark entry: one workload, one seed, one measured loop. Inputs
  * come from the seed-driven generator (`perfbench/gen.py`); the run
  * record goes to `<work>/result.json`, which `perfbench/run.py` checks and
  * summarizes.
  *
  * Usage: `Main <workload> <seed> <seconds> <trace 0|1> <work dir> <cores>`
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, coresS) = args
    val cores = coresS.toInt
    val inputs = s"$work/inputs"
    val plan = new ObjectMapper().readTree(new java.io.File(s"$inputs/plan.json"))
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .appName(s"graft-perfbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    graft.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    val ledger = if (traceS == "1") Some(new Ledger(spark)) else None
    ledger.foreach(_.install())
    val ctx = new Ctx(spark, work, inputs, plan, secondsS.toDouble, ledger)
    ctx.phases("session") = (System.nanoTime() - t0) / 1e9
    val checks = workload match {
      case "dashboard" => Workloads.dashboard(ctx)
      case "stream_ingest" => Workloads.streamIngest(ctx)
      case "curation_batch" => Workloads.curationBatch(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val timedS = (ctx.timedEndNs - ctx.timedStartNs) / 1e9
    val checksS = (System.nanoTime() - ctx.timedEndNs) / 1e9
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    graft.CacheRegistry.clearAll()
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seedS.toLong, "trace" -> (traceS == "1"),
      "cores" -> cores,
      "setup_s" -> (ctx.firstOpMs - jvmStart) / 1000.0,
      "timed_s" -> timedS,
      "jvm_checks_s" -> checksS,
      "setup_phases" -> ctx.phases,
      "cache_peak_b" -> ctx.cachePeak,
      "ops" -> ctx.ops.map(_.toMap),
      "checks" -> checks,
      "oracle" -> ctx.oracle.map(o => Map("query" -> o.query, "sql" -> o.sql,
        "tables" -> o.tablesDir, "dump" -> o.dump, "ops" -> o.ops)))
    record ++= ctx.extra
    ledger.foreach { l =>
      record("ledger") = l.rows.map(r => Map("id" -> r.id, "kind" -> r.kind,
        "name" -> r.name, "c" -> r.c))
      record("spans") = l.spans.map(s => Map("op" -> s.op, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs))
    }
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(s"$work/result.json"), record)
    spark.stop()
  }
}
