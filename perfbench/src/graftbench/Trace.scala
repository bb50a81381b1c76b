package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.MetricsListener

/** Listener output not yet claimed by a span: counts and times keyed by
  * metric name, and the wall intervals (epoch ms) of finished Spark jobs.
  */
object Pending {
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(key: String, v: Double): Unit = synchronized { counts(key) += v }
  def started(job: Int, ms: Long): Unit = synchronized {
    counts("jobs") += 1; jobStart(job) = ms
  }
  def ended(job: Int, ms: Long): Unit = synchronized {
    jobStart.remove(job).foreach(s => jobs += (s -> ms))
  }
  def drain(): (Map[String, Double], Seq[(Long, Long)]) = synchronized {
    val out = (counts.toMap, jobs.toSeq)
    counts.clear(); jobs.clear()
    out
  }
}

/** Jobs, stages, tasks and executor metrics; installed by the traced
  * session's `spark.extraListeners`.
  */
final class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Pending.started(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Pending.ended(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Pending.add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Pending.add("tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      Pending.add("task_cpu_s", m.executorCpuTime / 1e9)
      Pending.add("gc_s", m.jvmGCTime / 1e3)
      Pending.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      Pending.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      Pending.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }
}

/** Analysis, optimization and physical-planning time of every query
  * execution, from `QueryExecution.tracker`; installed by the traced
  * session's `spark.sql.queryExecutionListeners`.
  */
final class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Seq("analysis", "optimization", "planning").foreach { p =>
      qe.tracker.phases.get(p).foreach(s => Pending.add(s"${p}_s", s.durationMs / 1e3))
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  /** Counts claimed while this span was the innermost open one. */
  val self: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val jobs: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's own calls into the engine's modules.
  *
  * At every span boundary the listener bus is drained and everything the
  * listeners, the counting filesystem and the pipeline's [[MetricsListener]]
  * recorded since the last boundary is claimed by the innermost open span.
  * One client thread runs every operation, so that span caused it.
  * A disabled tracer runs the bodies and records nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var open: List[Span] = Nil
  private var fsLast = CountingFileSystem.snapshot()
  private val scans: Option[MetricsListener] =
    if (enabled) Some(graft.pipeline.Metrics.register(spark)) else None
  /** Index of the operation new root spans belong to; -1 in set-up. */
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      claim()
      val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), op,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      open ::= s
      try body
      finally {
        claim()
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
      }
    }

  private def claim(): Unit = {
    Bridge.waitListenerBusEmpty(spark)
    val (counts, jobs) = Pending.drain()
    val fs = CountingFileSystem.snapshot()
    val fsDelta = fs.map { case (k, v) => s"fs.$k" -> (v - fsLast(k)).toDouble }
    fsLast = fs
    val scanned = scans.toSeq.flatMap(_.drain())
    open.headOption.foreach { s =>
      (counts ++ fsDelta).foreach { case (k, v) => s.self(k) += v }
      s.self("scan_bytes") += scanned.map(_.bytesRead.max(0L)).sum.toDouble
      s.self("files_read") += scanned.map(_.filesRead.max(0L)).sum.toDouble
      s.jobs ++= jobs
    }
  }

  def children(s: Span): Seq[Span] = spans.toSeq.filter(_.parent == s.id)
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Counts of `s` and all its descendants. */
  def total(s: Span, key: String): Double = subtree(s).map(_.self(key)).sum

  /** Duration minus the part its children cover (they run one after
    * another on the client thread).
    */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  /** Wall seconds of `s` during which no Spark job was running. */
  def driverOnlySeconds(s: Span): Double = {
    val ivs = subtree(s).flatMap(_.jobs)
      .map { case (a, b) => (a.max(s.startMs), b.min(s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = s.startMs
    ivs.foreach { case (a, b) =>
      val from = a.max(reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (s.seconds - covered / 1e3).max(0.0)
  }

  /** Every span as one JSON line: name, op, parent, start, end, self time. */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    val counts = s.self.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds},""" +
      s""""self_seconds":${selfSeconds(s)},"self_counts":{$counts}}"""
  }
}
