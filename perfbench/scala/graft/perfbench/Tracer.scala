package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, InputAdapter, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark's public listener events for the traced passes: jobs (with
  * the row's job group), stages with their tasks' metrics summed, every
  * query execution's planning phases and final-plan census, and streaming
  * micro-batch progress. Events stay raw here; `perfbench/metrics.py` turns
  * them into spans and per-layer metrics. */
final class Tracer(spark: SparkSession) {
  private val J = Json
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val jobEnds = new ConcurrentLinkedQueue[String]()
  private val stages = new ConcurrentLinkedQueue[String]()
  private val qes = new ConcurrentLinkedQueue[String]()
  private val progress = new ConcurrentLinkedQueue[String]()

  /** Task metrics summed per (stage, attempt) as tasks end. */
  private final class TaskSums {
    var tasks, failed = 0L
    var runMs, cpuNs, gcMs, delayMs, busyMs = 0L
    var shuffleRead, shuffleWrite, spill, input, output, outputRecords = 0L
  }
  private val sums = new java.util.concurrent.ConcurrentHashMap[(Int, Int), TaskSums]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.add(J.obj("job" -> J.num(e.jobId), "group" -> J.str(group),
        "t0" -> J.num(e.time), "stages" -> J.arr(e.stageIds.map(J.num))))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add(J.obj("job" -> J.num(e.jobId), "t1" -> J.num(e.time),
        "ok" -> J.bool(e.jobResult == JobSucceeded)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = sums.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new TaskSums)
      val info = e.taskInfo
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (info.failed || info.killed) s.failed += 1
        s.busyMs += info.duration
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          // the delay the live UI shows: wall time of the task that is
          // neither running nor (de)serializing nor fetching its result
          s.delayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
          s.output += m.outputMetrics.bytesWritten
          s.outputRecords += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(J.obj("stage" -> J.num(i.stageId), "attempt" -> J.num(i.attemptNumber()),
        "t0" -> i.submissionTime.map(J.num).getOrElse("null"),
        "t1" -> i.completionTime.map(J.num).getOrElse("null"),
        "ok" -> J.bool(i.failureReason.isEmpty)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe)
    private def record(func: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs).map { case (n, p) =>
        J.obj("phase" -> J.str(n), "t0" -> J.num(p.startTimeMs), "t1" -> J.num(p.endTimeMs))
      }
      val census = try Tracer.census(qe.executedPlan) catch { case _: Throwable => Map.empty[String, Int] }
      qes.add(J.obj("func" -> J.str(func), "phases" -> J.arr(phases),
        "census" -> J.obj(census.toSeq.sortBy(_._1).map { case (k, v) => k -> J.num(v) }: _*)))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val durations = p.durationMs.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> J.num(v.longValue) }
      progress.add(J.obj("run" -> J.str(p.runId.toString), "batch" -> J.num(p.batchId),
        "t" -> J.num(java.time.Instant.parse(p.timestamp).toEpochMilli),
        "batch_ms" -> J.num(p.batchDuration), "input_rows" -> J.num(p.numInputRows),
        "state_rows" -> J.num(p.stateOperators.map(_.numRowsTotal).sum),
        "durations" -> J.obj(durations: _*)))
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Detaching drops the listener from the bus, and a removed listener
    * never sees events still queued for it, so the queue drains first. */
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def toJson: String = {
    val taskSums = sums.asScala.toSeq.sortBy(_._1).map { case ((st, at), s) =>
      J.obj("stage" -> J.num(st), "attempt" -> J.num(at), "tasks" -> J.num(s.tasks),
        "failed" -> J.num(s.failed), "busy_ms" -> J.num(s.busyMs), "run_ms" -> J.num(s.runMs),
        "cpu_ns" -> J.num(s.cpuNs), "gc_ms" -> J.num(s.gcMs), "delay_ms" -> J.num(s.delayMs),
        "shuffle_read" -> J.num(s.shuffleRead), "shuffle_write" -> J.num(s.shuffleWrite),
        "spill" -> J.num(s.spill), "input" -> J.num(s.input), "output" -> J.num(s.output),
        "output_records" -> J.num(s.outputRecords))
    }
    J.obj("jobs" -> J.arr(jobs.asScala.toSeq), "job_ends" -> J.arr(jobEnds.asScala.toSeq),
      "stages" -> J.arr(stages.asScala.toSeq), "tasks" -> J.arr(taskSums),
      "qe" -> J.arr(qes.asScala.toSeq), "progress" -> J.arr(progress.asScala.toSeq))
  }
}

object Tracer {
  /** Job group of one traced row; child threads inherit it. */
  def group(pass: Int, name: String): String = s"perfbench/$pass/$name"

  /** Operator census of a final physical plan, adaptive stages and
    * subqueries included. An operator counts as non-codegen when no
    * whole-stage-codegen subtree holds it; plan plumbing (adaptive and
    * stage wrappers, exchanges, codegen boundaries) is not counted. */
  def census(root: SparkPlan): Map[String, Int] = {
    val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = {
      p match {
        case _: ReusedExchangeExec => counts("reused_exchanges") += 1
        case _: Exchange => counts("exchanges") += 1
        case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec =>
          counts("cartesian_bnlj") += 1
        case _ =>
      }
      p match {
        case _: SortAggregateExec => counts("sort_aggregates") += 1
        case _ =>
      }
      val plumbing = p match {
        case _: WholeStageCodegenExec | _: InputAdapter | _: AdaptiveSparkPlanExec |
             _: QueryStageExec | _: Exchange | _: ReusedExchangeExec => true
        case _ => false
      }
      if (!plumbing && !inCodegen) counts("non_codegen_ops") += 1
      val inner: Seq[(SparkPlan, Boolean)] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan -> false)
        case s: QueryStageExec => Seq(s.plan -> false)
        case w: WholeStageCodegenExec => Seq(w.child -> true)
        case i: InputAdapter => Seq(i.child -> false)
        case _ => p.children.map(_ -> inCodegen)
      }
      inner.foreach { case (c, cg) => walk(c, cg) }
      p.subqueries.foreach(walk(_, false))
    }
    walk(root, inCodegen = false)
    counts.toMap
  }
}
