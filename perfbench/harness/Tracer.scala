package perfbench

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of a workload (always recorded: these are the
  * end-to-end samples). */
final case class OpRec(id: Int, kind: String, name: String, typ: String,
    cycle: Int, startMs: Long, ms: Double, cpuMs: Double, stealShare: Double,
    ok: Boolean, err: String) {
  def toMap: Map[String, Any] = Map("id" -> id, "kind" -> kind, "name" -> name,
    "type" -> typ, "cycle" -> cycle, "start_ms" -> startMs, "ms" -> ms,
    "cpu_ms" -> cpuMs, "steal_share" -> stealShare, "ok" -> ok, "err" -> err)
}

/** Timings and, when `on`, the in-memory trace: spans the harness opens
  * around its calls into each layer, plus Spark job/stage, query
  * execution and streaming progress records from listeners it registers.
  * Nothing is written until the run ends. Span nesting: run -> op ->
  * harness layer call -> Spark job -> stage. Each op runs under its own
  * job group; since ops run one at a time, the analysis also ties jobs
  * that engine thread pools start outside the group to the op by time. */
final class Tracer(val on: Boolean) {
  val ops = ArrayBuffer.empty[OpRec]
  var windowStartMs = 0L
  var windowEndMs = 0L
  private var deadlineNs = 0L
  private var windowSeconds = 0.0
  private var current: Option[Int] = None
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private val records = ArrayBuffer.empty[Map[String, Any]]
  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val jobEnds = ArrayBuffer.empty[Map[String, Any]]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val plans = ArrayBuffer.empty[Map[String, Any]]
  private val progress = ArrayBuffer.empty[Map[String, Any]]
  private var spark: SparkSession = _

  def setWindow(seconds: Double): Unit = windowSeconds = seconds

  def attach(s: SparkSession): Unit = {
    spark = s
    if (on) {
      s.sparkContext.addSparkListener(new Listener)
      s.listenerManager.register(new QeListener)
      s.streams.addListener(new StreamListener)
    }
  }

  def window(body: => Unit): Unit = {
    windowStartMs = System.currentTimeMillis()
    deadlineNs = System.nanoTime() + (windowSeconds * 1e9).toLong
    body
    windowEndMs = System.currentTimeMillis()
  }

  def inWindow: Boolean = System.nanoTime() < deadlineNs

  /** (steal, total) CPU ticks of the machine from /proc/stat, (0, 0)
    * where there is none: the share of CPU time the hypervisor gave to
    * other guests while an op ran, reported as a diagnostic of the host. */
  private def hostTicks(): (Long, Long) =
    scala.util.Try {
      val f = Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f.sum)
    }.getOrElse((0L, 0L))

  /** CPU time of the whole JVM (every thread: tasks, JIT, GC). */
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def processCpuNs(): Long = os.getProcessCpuTime

  /** Time one op. A throwing op is recorded as failed, not rethrown:
    * the run goes on and the failure is counted. */
  def op(kind: String, name: String, typ: String, cycle: Int)(body: => Unit): Unit = {
    val id = ops.size
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    current = Some(id)
    val startMs = System.currentTimeMillis()
    val s0 = hostTicks()
    val c0 = processCpuNs()
    val t0 = System.nanoTime()
    val err = try { body; "" } catch { case e: Throwable =>
      Option(e.getMessage).getOrElse(e.toString).take(500) }
    val t1 = System.nanoTime()
    val c1 = processCpuNs()
    val s1 = hostTicks()
    current = None
    sc.clearJobGroup()
    val steal = if (s1._2 > s0._2) (s1._1 - s0._1).toDouble / (s1._2 - s0._2) else 0.0
    ops += OpRec(id, kind, name, typ, cycle, startMs, (t1 - t0) / 1e6, (c1 - c0) / 1e6,
      steal, err.isEmpty, err)
  }

  /** A harness-timed call into a layer. `detached` spans run outside
    * any op (extra calls made only to measure a layer). */
  def span[T](layer: String, name: String, attrs: Map[String, Any] = Map.empty,
      detached: Boolean = false)(body: => T): T =
    if (!on) body
    else {
      val parent = if (detached) None else current
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try body
      finally {
        spans += Map("layer" -> layer, "name" -> name, "op" -> parent.getOrElse(-1),
          "start_ms" -> t0, "ms" -> (System.nanoTime() - n0) / 1e6) ++ attrs
      }
    }

  def record(kind: String, m: Map[String, Any]): Unit =
    if (on) records += (m + ("kind" -> kind))

  /** Wait for the listener bus to deliver every queued event. */
  def drain(s: SparkSession): Unit =
    if (on) org.apache.spark.PerfbenchBridge.waitForListeners(s.sparkContext)

  def dump(): Map[String, Any] =
    if (!on) Map.empty
    else this.synchronized {
      Map("spans" -> spans.toSeq, "records" -> records.toSeq,
        "jobs" -> jobs.toSeq, "job_ends" -> jobEnds.toSeq,
        "stages" -> stages.toSeq,
        "plans" -> plans.toSeq, "progress" -> progress.toSeq)
    }

  private class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += Map("job" -> e.jobId, "start_ms" -> e.time, "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobEnds += Map("job" -> e.jobId, "end_ms" -> e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        val m = i.taskMetrics
        val base = Map[String, Any]("stage" -> i.stageId, "attempt" -> i.attemptNumber(),
          "start_ms" -> i.submissionTime.getOrElse(0L),
          "end_ms" -> i.completionTime.getOrElse(0L), "tasks" -> i.numTasks)
        stages += (if (m == null) base else base ++ Map(
          "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime, "input_bytes" -> m.inputMetrics.bytesRead,
          "input_records" -> m.inputMetrics.recordsRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> m.diskBytesSpilled,
          "output_bytes" -> m.outputMetrics.bytesWritten))
      }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private class QeListener extends QueryExecutionListener {
    private def metric(p: SparkPlan, k: String): Long =
      p.metrics.get(k).map(_.value).getOrElse(0L)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      val startMs = qe.tracker.phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
      var filesRead = 0L; var rowsScanned = 0L; var outFiles = 0L; var outBytes = 0L
      scala.util.Try {
        Plans.foreach(qe.executedPlan) {
          case w: DataWritingCommandExec =>
            outFiles += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
            outBytes += w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
          case p if p.nodeName.contains("Scan") =>
            filesRead += metric(p, "numFiles")
            rowsScanned += metric(p, "numOutputRows")
          case _ =>
        }
      }
      Tracer.this.synchronized {
        plans += Map("start_ms" -> startMs, "func" -> funcName, "phases" -> phases,
          "exec_ms" -> durationNs / 1e6, "files_read" -> filesRead,
          "rows_scanned" -> rowsScanned, "output_files" -> outFiles,
          "output_bytes" -> outBytes)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val state = p.stateOperators.toSeq
      Tracer.this.synchronized {
        progress += Map("query" -> Option(p.name).getOrElse(""), "batch" -> p.batchId,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "batch_ms" -> p.batchDuration,
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "rows" -> p.numInputRows,
          "state_rows" -> state.map(_.numRowsTotal).sum,
          "state_bytes" -> state.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> state.map(_.commitTimeMs).sum)
      }
    }
  }
}
