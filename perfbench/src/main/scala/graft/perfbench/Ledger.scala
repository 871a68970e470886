package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One op's counters, keyed by ledger field name. */
final class OpRow(val id: Int, val kind: String, val name: String) {
  val c: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = c(k) = math.max(c.getOrElse(k, 0.0), v)
  /** (start, end) epoch ms of each job the op ran. */
  val jobs: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** A timed region inside an op: name, parent span id (-1 at the op's
  * top level), and its nanoTime bounds.
  */
final case class Span(op: Int, id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long)

/** The traced run's recorder. Everything is observed from outside the
  * engine: a SparkListener (jobs, stages, tasks, cached blocks), a
  * QueryExecutionListener (planning phases and the final plan's file-scan
  * metrics), the code generator's compile log, and spans the benchmark
  * places around its own calls into the engine. Ops run one at a time,
  * so an event belongs to the op that is open when it is delivered; the
  * bus is drained before an op's row is closed.
  */
final class Ledger(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val OpKey = "perfbench.op"
  private val SpanKey = "perfbench.span"

  @volatile private var cur: OpRow = null
  private val open = mutable.Map.empty[String, OpRow]
  private val jobOp = mutable.Map.empty[Int, (OpRow, Long)]
  private val stageOp = mutable.Map.empty[Int, OpRow]
  private val blocks = mutable.Map.empty[String, Long]
  private val dropped = mutable.Set.empty[String]
  private val seenRdds = mutable.Set.empty[Int]
  private var cachedBytes = 0L
  val rows: mutable.ArrayBuffer[OpRow] = mutable.ArrayBuffer.empty
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val spanStack = mutable.Stack.empty[(Int, String)]
  private var nextSpan = 0
  private var classesAtBegin = 0L

  private def at[T](f: OpRow => T): Unit = synchronized {
    val r = cur
    if (r != null) f(r)
  }

  private object jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Ledger.this.synchronized {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(OpKey))).flatMap(open.get).foreach { r =>
        jobOp(e.jobId) = (r, e.time)
        e.stageIds.foreach(s => stageOp(s) = r)
        r.add("jobs", 1)
        props.flatMap(p => Option(p.getProperty(SpanKey))).foreach { s =>
          r.add(s"twin.${s.takeWhile(_ != '.')}.jobs", 1)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Ledger.this.synchronized {
      jobOp.remove(e.jobId).foreach { case (r, t0) => r.jobs += ((t0, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Ledger.this.synchronized {
        stageOp.get(e.stageInfo.stageId).foreach(_.add("stages", 1))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Ledger.this.synchronized {
      stageOp.get(e.stageId).foreach { r =>
        r.add("tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          r.add("task_run_ms", m.executorRunTime.toDouble)
          r.add("task_cpu_ms", m.executorCpuTime / 1e6)
          r.add("gc_ms", m.jvmGCTime.toDouble)
          r.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
          r.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
          r.add("spill_b", m.diskBytesSpilled.toDouble)
          r.add("result_b", m.resultSize.toDouble)
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Ledger.this.synchronized {
        val info = e.blockUpdatedInfo
        info.blockId.asRDDId.foreach { b =>
          val key = b.name
          val old = blocks.getOrElse(key, 0L)
          if (info.storageLevel.isValid) {
            val size = info.memSize + info.diskSize
            if (!blocks.contains(key)) {
              if (dropped.remove(key)) at(_.add("cache_rebuilds", 1))
              if (seenRdds.add(b.rddId)) at(_.add("cache_builds", 1))
            }
            blocks(key) = size
            cachedBytes += size - old
          } else if (blocks.contains(key)) {
            blocks.remove(key)
            dropped += key
            cachedBytes -= old
          }
          at(_.max("cache_peak_b", cachedBytes.toDouble))
        }
      }
  }

  private object queries extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      at { r =>
        r.add("actions", 1)
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        r.add("analysis_ms", ms("analysis"))
        r.add("optimizer_ms", ms("optimization"))
        r.add("physical_ms", ms("planning"))
        scans(qe.executedPlan).foreach { s =>
          def metric(k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          r.add("scan_files", metric("numFiles"))
          r.add("scan_b", metric("filesSize"))
          r.add("scan_rows", metric("numOutputRows"))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      at(_.add("actions", 1))
  }

  /** File scans of an executed plan: AQE's final plan, its query stages
    * and subqueries; a reused exchange is counted where it first ran.
    */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case _: ReusedExchangeExec => Nil
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  private val CodegenLine = """Code generated in ([0-9.]+) ms""".r.unanchored

  /** Compile times come from the code generator's own log line (the
    * metrics histogram samples, it does not sum); the logger is routed to
    * this tap only, so the console stays quiet.
    */
  private def tapCodegenLog(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val tap = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case CodegenLine(ms) => at(_.add("codegen_ms", ms.toDouble))
        case _ => ()
      }
    }
    tap.start()
    val cfg = ctx.getConfiguration
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(tap, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }

  def install(): Unit = {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    tapCodegenLog()
  }

  def begin(id: Int, kind: String, name: String): OpRow = {
    val r = new OpRow(id, kind, name)
    // blocks cached before the op (shared frames) count toward its peak
    synchronized { open(id.toString) = r; cur = r; r.max("cache_peak_b", cachedBytes.toDouble) }
    classesAtBegin = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
    sc.setLocalProperty(OpKey, id.toString)
    r
  }

  /** Close an op: drain the bus, then derive the wall-time fields. */
  def end(r: OpRow, startMs: Long, endMs: Long, wallMs: Double): Unit = {
    sc.setLocalProperty(OpKey, null)
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      r.add("codegen_classes",
        (CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - classesAtBegin).toDouble)
      r.add("wall_ms", wallMs)
      r.add("job_gap_ms", math.max(0.0, wallMs - union(r.jobs.toSeq, startMs, endMs)))
      open.remove(r.id.toString)
      cur = null
      rows += r
    }
  }

  /** Length of the union of job intervals, clipped to the op. */
  private def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var total = 0L
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total.toDouble
  }

  /** A named span; jobs started inside carry its name, so per-twin job
    * counts are exact.
    */
  def span[T](name: String)(body: => T): T = {
    val r = cur
    if (r == null) return body
    val id = { nextSpan += 1; nextSpan }
    val parent = spanStack.headOption.map(_._1).getOrElse(-1)
    spanStack.push((id, name))
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spanStack.pop()
      sc.setLocalProperty(SpanKey, spanStack.headOption.map(_._2).orNull)
      val ms = (t1 - t0) / 1e6
      synchronized {
        spans += Span(r.id, id, parent, name, t0, t1)
        name.split('.') match {
          case Array(twin, "apply") => r.add(s"twin.$twin.commit_ms", ms)
          case Array(twin, "serve") => r.add(s"twin.$twin.serve_ms", ms)
          case _ => ()
        }
      }
    }
  }

  /** Add a counter to the open op (the benchmark's own observations,
    * e.g. directory listings around a commit).
    */
  def note(k: String, v: Double): Unit = at(_.add(k, v))
}
