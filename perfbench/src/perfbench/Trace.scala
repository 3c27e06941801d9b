package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bridge

/** Spark work attributed to one span. Written by the listener thread,
  * read by the client thread after [[Tracer.drain]]. */
final class Counters {
  var jobs, stages, tasks, tasksFailed, stagesRetried = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes = 0L
  var planMs = 0.0
  var queries, lshCandidates = 0L
  /** (start ms, end ms, spark.job.description) of every finished job. */
  val jobIntervals = ArrayBuffer[(Long, Long, String)]()
}

final class Span(val id: Int, val name: String, val parent: Int,
    val op: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  var heapPeakMb: Double = 0.0
  val c = new Counters
}

/** Span recorder. A span wraps one call into a layer's public function
  * (and the action that materializes its lazy result). While a span is
  * open, the client thread carries the job tag `perfbench-span-<id>`;
  * Spark copies it into every job and SQL execution the span launches,
  * so the listener can attribute work without touching
  * `spark.job.description`, which graft's TxLog rewrites per phase.
  * Every span carries the run id; spans of one operation share `op`.
  *
  * Detached (the default), `span` only runs its body: the untraced runs
  * pay nothing. Spans stay in memory until [[toJson]]. */
final class Tracer(spark: SparkSession, runId: String) {
  private val sc = spark.sparkContext
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with nanosecond resolution, comparable with the
    * listener event times. */
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var opIndex = -1
  private var attached = false
  private val jobSpan = mutable.Map[Int, (Span, Long, String)]()
  private val stageSpan = mutable.Map[Int, Span]()
  private val execSpan = mutable.Map[Long, Span]()
  private val TagPrefix = "perfbench-span-"

  private def spanOfTags(tags: Iterable[String]): Option[Span] =
    tags.collectFirst { case t if t.startsWith(TagPrefix) =>
      spans(t.stripPrefix(TagPrefix).toInt)
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val label = props.flatMap(p =>
        Option(p.getProperty("spark.job.description"))).getOrElse("")
      spanOfTags(tags).foreach { s =>
        jobSpan(e.jobId) = (s, e.time, label)
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (s, start, label) =>
        s.c.jobs += 1
        s.c.jobIntervals += ((start, e.time, label))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach { s =>
          s.c.stages += 1
          if (e.stageInfo.attemptNumber() > 0) s.c.stagesRetried += 1
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        s.c.tasks += 1
        if (e.reason != Success) s.c.tasksFailed += 1
        Option(e.taskMetrics).foreach { m =>
          s.c.runMs += m.executorRunTime
          s.c.cpuNs += m.executorCpuTime
          s.c.gcMs += m.jvmGCTime
          s.c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.c.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => synchronized {
        spanOfTags(x.jobTags).foreach(execSpan(x.executionId) = _)
      }
      case x: SparkListenerSQLExecutionEnd => synchronized {
        for (s <- execSpan.remove(x.executionId);
             qe <- Bridge.queryExecution(x)) queryFinished(s, qe)
      }
      case _ =>
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Planning time (analysis + optimization + physical planning, from
    * the query's own tracker) and the LSH candidate count of the final
    * plan. */
  private def queryFinished(s: Span, qe: QueryExecution): Unit = {
    val plan = qe.executedPlan
    s.c.queries += 1
    s.c.planMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    // the MinHash-LSH candidate join is the equi-join on (band, bh)
    s.c.lshCandidates += PlanWalk.collectWithSubqueries(plan) {
      case j: BaseJoinExec if Set("band", "bh").subsetOf(
          j.leftKeys.flatMap(_.references.map(_.name)).toSet) =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }

  def isAttached: Boolean = attached

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(listener)
    attached = false
  }

  /** Wait until the listener has seen every posted event. */
  def drain(): Unit = Bridge.drain(sc)

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  /** A top-level operation: the unit whose latency the workload
    * reports. Resets the heap peak so the op's own peak is recorded. */
  def op[A](name: String)(f: => A): A = {
    opIndex += 1
    if (attached) heapPools.foreach(_.resetPeakUsage())
    span(name) {
      val r = f
      if (attached) stack.head.heapPeakMb =
        heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
      r
    }
  }

  def span[A](name: String)(f: => A): A =
    if (!attached) f
    else {
      val s = synchronized {
        val s = new Span(spans.size, name, stack.headOption.map(_.id)
          .getOrElse(-1), opIndex, nowMs)
        spans += s
        s
      }
      stack.headOption.foreach(p => sc.removeJobTag(TagPrefix + p.id))
      sc.addJobTag(TagPrefix + s.id)
      stack = s :: stack
      try f
      finally {
        s.endMs = nowMs
        stack = stack.tail
        sc.removeJobTag(TagPrefix + s.id)
        stack.headOption.foreach(p => sc.addJobTag(TagPrefix + p.id))
      }
    }

  /** Every recorded span, for the run record. Call after [[drain]]. */
  def toJson: Seq[Json.Obj] = spans.toSeq.map { s =>
    val c = s.c
    Json.obj(
      "run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "heap_peak_mb" -> s.heapPeakMb,
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "tasks_failed" -> c.tasksFailed, "stages_retried" -> c.stagesRetried,
      "executor_run_ms" -> c.runMs, "executor_cpu_ns" -> c.cpuNs,
      "gc_ms" -> c.gcMs, "shuffle_write_bytes" -> c.shuffleWrite,
      "shuffle_read_bytes" -> c.shuffleRead, "spill_bytes" -> c.spill,
      "input_bytes" -> c.inputBytes, "plan_ms" -> c.planMs,
      "queries" -> c.queries, "lsh_candidates" -> c.lshCandidates,
      "job_intervals" -> c.jobIntervals.toSeq.map {
        case (a, b, l) => Seq(a, b, l)
      })
  }
}
