package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** A span: name, start, end (epoch nanoseconds) and the span that caused
 * it. Spans stay in memory and are written once, at the end of the run. */
final class Span(val id: Int, val kind: String, val name: String,
    val parent: Option[Int], val start: Long) {
  var end: Long = start
  val attrs: mutable.Map[String, Any] = mutable.LinkedHashMap.empty

  def toMap: Map[String, Any] = Map("id" -> id, "kind" -> kind, "name" -> name,
    "parent" -> parent.orNull, "start_ns" -> start, "end_ns" -> end, "attrs" -> attrs)
}

final class Tracer {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]

  def now: Long = epoch0 + (System.nanoTime() - nano0)

  def open(kind: String, name: String, parent: Option[Span]): Span = {
    val s = new Span(spans.size, kind, name, parent.map(_.id), now)
    spans += s
    s
  }

  def close(s: Span): Unit = s.end = now
}

/** The traced run's view into Spark: a `SparkListener` for stages and
 * tasks, and a `QueryExecutionListener` for planning phases and operator
 * row counts. Stages reach their query through the per-query job group;
 * query executions through the window of the phase they started in (one
 * client thread, so phases never overlap). */
final class Listeners(spark: SparkSession) {
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val taskRunMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val executions = mutable.ArrayBuffer.empty[Map[String, Any]]

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.foreach(id => e.stageIds.foreach(groupOfStage(_) = id))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskMetrics != null)
        taskRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskMetrics.executorRunTime
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val runs = taskRunMs.remove(si.stageId).getOrElse(mutable.ArrayBuffer.empty).sorted
      for (group <- groupOfStage.get(si.stageId); t0 <- si.submissionTime;
           t1 <- si.completionTime) stages += Map(
        "group" -> group, "start_ns" -> t0 * 1000000L, "end_ns" -> t1 * 1000000L,
        "name" -> s"stage ${si.stageId}.${si.attemptNumber()}",
        "tasks" -> si.numTasks,
        "task_run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "task_cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
        "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
        "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "spill_disk_bytes" -> (if (m == null) 0L else m.diskBytesSpilled),
        "spill_memory_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled),
        "task_max_ms" -> runs.lastOption.getOrElse(0L),
        "task_median_ms" -> (if (runs.isEmpty) 0L else runs(runs.size / 2)),
        "failed" -> si.failureReason.isDefined)
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs, failed = false)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(funcName, qe, 0L, failed = true)
  })

  private object Plans extends AdaptiveSparkPlanHelper

  private def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").fold(0L)(_.value)

  private def record(funcName: String, qe: QueryExecution, durationNs: Long,
      failed: Boolean): Unit = try {
    val phases = qe.tracker.phases
    val plan = qe.executedPlan
    val writes = Plans.collect(plan) { case w: DataWritingCommandExec => w.cmd.metrics }
    def metric(name: String) = writes.map(_.get(name).fold(0L)(_.value)).sum
    val start = if (phases.isEmpty) System.currentTimeMillis() - durationNs / 1000000L
      else phases.values.map(_.startTimeMs).min
    val phaseEnd = if (phases.isEmpty) start else phases.values.map(_.endTimeMs).max
    val rec = Map[String, Any](
      "func" -> funcName, "failed" -> failed,
      "start_ns" -> start * 1000000L,
      "end_ns" -> math.max(phaseEnd * 1000000L, start * 1000000L + durationNs),
      "analysis_ms" -> phases.get("analysis").fold(0L)(_.durationMs),
      "optimization_ms" -> phases.get("optimization").fold(0L)(_.durationMs),
      "planning_ms" -> phases.get("planning").fold(0L)(_.durationMs),
      "join_rows" -> Plans.collect(plan) { case j: BaseJoinExec => rows(j) }.sum,
      "scan_rows" -> Plans.collect(plan) {
        case s: DataSourceScanExec => rows(s)
        case s: BatchScanExec => rows(s)
      }.sum,
      "file_write" -> writes.nonEmpty,
      "written_files" -> metric("numFiles"),
      "written_bytes" -> metric("numOutputBytes"))
    synchronized(executions += rec)
  } catch { case e: Exception => System.err.println(s"perfbench: trace record failed: $e") }

  /** Turn stage and query-execution records into child spans of the phase
   * (build, plan, exec, verify) they ran in. Call after `spark.stop()`,
   * which drains the listener bus. */
  def attach(tracer: Tracer): Seq[Map[String, Any]] = synchronized {
    // listener times are whole milliseconds
    def within(s: Span, at: Long) = s.start - 1000000L <= at && at <= s.end + 1000000L
    val byParent = tracer.spans.groupBy(_.parent)
    def phaseOf(query: Option[Span], at: Long): Option[Span] =
      query.flatMap(q => byParent.getOrElse(Some(q.id), Nil)
        .find(within(_, at))).orElse(query)
    val queries = tracer.spans.filter(_.kind == "query")
    val byId = queries.map(q => q.id.toString -> q).toMap
    def child(kind: String, rec: Map[String, Any], parent: Option[Span]) =
      parent.map(p => Map("id" -> -1, "kind" -> kind, "name" -> rec.getOrElse("name", kind),
        "parent" -> p.id, "start_ns" -> rec("start_ns"), "end_ns" -> rec("end_ns"),
        "attrs" -> (rec - "start_ns" - "end_ns" - "group" - "name")))
    val stageSpans = stages.flatMap { s =>
      child("stage", s, phaseOf(byId.get(s("group").toString), s("start_ns").asInstanceOf[Long]))
    }
    val qeSpans = executions.flatMap { e =>
      val at = e("start_ns").asInstanceOf[Long]
      val q = queries.find(within(_, at))
      child("execution", e, phaseOf(q, at))
    }
    (stageSpans ++ qeSpans).toSeq
  }
}
