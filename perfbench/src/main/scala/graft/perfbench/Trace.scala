package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark's driver thread. A top-level span is
  * one closed-loop operation; its `kind` (apply, read, compact, changes,
  * refresh, curate) is inherited by every span opened inside it. Spans of
  * the same operation share `top`, the operation's span id. */
final class Span(val id: Int, val parent: Int, val top: Int, val kind: String,
    val name: String, val measured: Boolean) {
  var t0Ns = 0L
  var t1Ns = 0L
  var t0Ms = 0L
  var t1Ms = 0L
  def seconds: Double = (t1Ns - t0Ns) / 1e9
  def ms: Double = (t1Ns - t0Ns) / 1e6
}

/** Span recorder. Spans are kept in memory and turned into the ledger once
  * the run ends. With `traced` on, every span also sets the
  * `perfbench.span` local property, so the Spark jobs it submits carry the
  * span id to [[JobLedger]]; untraced runs only take the two clock reads. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  /** Whether new top-level spans fall inside the measured phase. */
  var measuring = false

  def span[A](kind: String, name: String)(body: => A): A = {
    val parent = stack.headOption
    val id = spans.size
    val s = new Span(id, parent.map(_.id).getOrElse(-1), parent.map(_.top).getOrElse(id),
      parent.map(_.kind).getOrElse(kind), name, parent.map(_.measured).getOrElse(measuring))
    spans += s
    stack = s :: stack
    if (traced) spark.sparkContext.setLocalProperty(Tracer.Prop, id.toString)
    s.t0Ms = System.currentTimeMillis()
    s.t0Ns = System.nanoTime()
    try body
    finally {
      s.t1Ns = System.nanoTime()
      s.t1Ms = System.currentTimeMillis()
      stack = stack.tail
      if (traced) spark.sparkContext.setLocalProperty(Tracer.Prop,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** A child span around a call into one module's public function. */
  def call[A](name: String)(body: => A): A = span("", name)(body)

  /** Top-level operations of the measured phase. */
  def ops: Seq[Span] = spans.iterator.filter(s => s.parent < 0 && s.measured).toSeq

  /** Innermost span whose wall interval holds `ms`, or -1. */
  def spanAt(ms: Long): Int = {
    var best = -1
    var i = 0
    while (i < spans.size) {
      val s = spans(i)
      if (s.t0Ms <= ms && ms <= s.t1Ms) best = i // children follow parents
      i += 1
    }
    best
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Executor-side counters for one span, filled by [[JobLedger]]. */
final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
  var outputRows = 0L
  var planMs = 0L
  var filesRead = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** The benchmark's SparkListener: attributes each job to the span that was
  * open when it was submitted (the `perfbench.span` local property) and
  * sums its stages' task metrics onto that span. */
final class JobLedger extends SparkListener {
  private val jobSpan = new ConcurrentHashMap[Int, Integer]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  val bySpan = new ConcurrentHashMap[Int, SpanCounters]()

  def counters(span: Int): SpanCounters = bySpan.computeIfAbsent(span, _ => new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Tracer.Prop)))
    val span = p.map(_.toInt).getOrElse(-1)
    jobSpan.put(e.jobId, span)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageSpan.put(_, span))
    counters(span).synchronized { counters(span).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val span = Option(jobSpan.get(e.jobId)).map(_.intValue).getOrElse(-1)
    val t0 = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
    val c = counters(span)
    c.synchronized { c.jobIntervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = Option(stageSpan.get(e.stageId)).map(_.intValue).getOrElse(-1)
    val m = e.taskMetrics
    val c = counters(span)
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRows += m.outputMetrics.recordsWritten
      }
    }
  }
}

/** The benchmark's QueryExecutionListener: Catalyst phase times from
  * `qe.tracker.phases` and the scan nodes' file counts. Callbacks arrive
  * on the listener bus after the query, so each record keeps its phase's
  * wall start; the ledger attributes it to the span open at that time. */
final class PlanLedger extends QueryExecutionListener {
  /** (wall ms the phase started, phase ms) */
  val phases = new ConcurrentLinkedQueue[(Long, Long)]()
  /** (wall ms planning started, files read by the plan's file scans) */
  val files = new ConcurrentLinkedQueue[(Long, Long)]()
  private object helper extends AdaptiveSparkPlanHelper

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    ph.values.foreach(s => phases.add((s.startTimeMs, s.durationMs)))
    val at = ph.get("planning").map(_.startTimeMs)
      .orElse(ph.values.map(_.startTimeMs).maxOption)
    at.foreach { t =>
      val n = try {
        helper.collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum
      } catch { case scala.util.control.NonFatal(_) => 0L }
      files.add((t, n))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Folds the listeners' records into per-span counters once the bus has
  * drained, then into the per-kind ledger. */
object Ledger {

  /** Union length of `[a, b]` intervals clipped to `[lo, hi]`. */
  def unionMs(iv: collection.Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  def attributePlans(tracer: Tracer, jobs: JobLedger, plans: PlanLedger): Unit = {
    plans.phases.asScala.foreach { case (t, ms) =>
      val s = tracer.spanAt(t)
      val c = jobs.counters(s)
      c.synchronized { c.planMs += ms }
    }
    plans.files.asScala.foreach { case (t, n) =>
      val s = tracer.spanAt(t)
      val c = jobs.counters(s)
      c.synchronized { c.filesRead += n }
    }
  }

  /** Kinds whose operations write table files; only they report output bytes. */
  val Writing = Set("apply", "compact", "refresh")

  /** Per-kind ledger over the measured phase's operations: every value is
    * a mean per operation of that kind, except `slot_util`. */
  def perKind(tracer: Tracer, jobs: JobLedger, slots: Int,
      kinds: Seq[String]): collection.Map[String, Double] = {
    val ops = tracer.ops
    val children = tracer.spans.groupBy(_.top)
    val out = mutable.LinkedHashMap.empty[String, Double]
    kinds.foreach { k =>
      val ks = ops.filter(_.kind == k)
      val n = ks.size
      var jobsN, tasks, taskMs, shuffle, inB, outB, files, planMs = 0.0
      var spanMs, execMs, selfMs = 0.0
      ks.foreach { op =>
        val members = children.getOrElse(op.id, Seq(op))
        val cs = members.flatMap(m => Option(jobs.bySpan.get(m.id)))
        jobsN += cs.map(_.jobs).sum
        tasks += cs.map(_.tasks).sum
        taskMs += cs.map(_.taskMs).sum
        shuffle += cs.map(_.shuffleBytes).sum
        inB += cs.map(_.inputBytes).sum
        outB += cs.map(_.outputBytes).sum
        files += cs.map(_.filesRead).sum
        planMs += cs.map(_.planMs).sum
        val ex = unionMs(cs.flatMap(_.jobIntervals), op.t0Ms, op.t1Ms).toDouble
        execMs += ex
        spanMs += op.ms
        val kids = members.filter(_.parent == op.id).map(s => (s.t0Ns, s.t1Ns))
        selfMs += op.ms - unionMs(kids, op.t0Ns, op.t1Ns) / 1e6
      }
      def per(x: Double) = if (n == 0) 0.0 else x / n
      out(s"$k.ops") = n
      out(s"$k.span_ms") = per(spanMs)
      out(s"$k.self_ms") = per(selfMs)
      out(s"$k.jobs") = per(jobsN)
      out(s"$k.tasks") = per(tasks)
      out(s"$k.exec_ms") = per(execMs)
      out(s"$k.task_ms") = per(taskMs)
      out(s"$k.slot_util") = if (execMs <= 0) 0.0 else taskMs / (execMs * slots)
      out(s"$k.shuffle_bytes") = per(shuffle)
      out(s"$k.input_bytes") = per(inB)
      if (Writing(k)) out(s"$k.output_bytes") = per(outB)
      out(s"$k.files_read") = per(files)
      out(s"$k.plan_ms") = per(planMs)
      out(s"$k.gap_ms") = per(spanMs - execMs)
    }
    out
  }

  /** Counters of one top-level operation, for the repeatability check. */
  def opCounters(tracer: Tracer, jobs: JobLedger, op: Span): Map[String, Long] = {
    val members = tracer.spans.filter(_.top == op.id)
    val cs = members.flatMap(m => Option(jobs.bySpan.get(m.id)))
    Map("jobs" -> cs.map(_.jobs).sum, "tasks" -> cs.map(_.tasks).sum,
      "shuffle_bytes" -> cs.map(_.shuffleBytes).sum,
      "input_rows" -> cs.map(_.inputRows).sum,
      "output_rows" -> cs.map(_.outputRows).sum,
      "files_read" -> cs.map(_.filesRead).sum)
  }
}
