package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One timed interval of the benchmark: workload, setup, pass, operation,
  * or an operation's build / exec half. Times are nanoseconds since the
  * tracer's origin; `parent` is -1 for the root. */
final class Span(val id: Int, val name: String, val kind: String,
    val parent: Int, val startNs: Long) {
  var endNs: Long = -1L
}

/** In-memory span recorder. Spans are kept until the run ends and are
  * then written out with the listener's job, stage and SQL records. */
final class Tracer {
  val originNs: Long = System.nanoTime()
  val originMs: Long = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]

  def nowNs: Long = System.nanoTime() - originNs

  def open(name: String, kind: String, parent: Span): Span = synchronized {
    val s = new Span(spans.size, name, kind,
      if (parent == null) -1 else parent.id, nowNs)
    spans += s
    s
  }

  def close(s: Span): Double = {
    s.endNs = nowNs
    (s.endNs - s.startNs) / 1e9
  }

  def json: Seq[Json.Obj] = synchronized {
    spans.toSeq.map(s => Json.obj(
      "id" -> s.id, "name" -> s.name, "kind" -> s.kind,
      "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
  }
}

/** The benchmark's own SparkListener. It records every job with the span
  * tag its submitting thread carried (`Harness.SpanProperty`), every
  * completed stage's aggregated task metrics, and every SQL execution's
  * interval. Attribution of untagged jobs and of SQL executions to spans
  * (by time) happens offline, in `perfbench/trace.py`. */
final class JobRecorder extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[Json.Obj]
  private val stages = mutable.ArrayBuffer.empty[Json.Obj]
  private val sqlStart = mutable.LinkedHashMap.empty[Long, Long]
  private val sqlEnd = mutable.Map.empty[Long, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, Int, Seq[Int])]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Harness.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    jobStart(e.jobId) = (e.time, tag, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, tag, stageIds) =>
      jobs += Json.obj("id" -> e.jobId, "span" -> tag, "start_ms" -> t0,
        "end_ms" -> e.time, "stages" -> stageIds,
        "ok" -> (e.jobResult == JobSucceeded))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val fields = Seq[(String, Any)](
      "id" -> i.stageId, "attempt" -> i.attemptNumber(), "tasks" -> i.numTasks) ++
      (if (m == null) Nil else Seq[(String, Any)](
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_rows" -> m.inputMetrics.recordsRead,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "output_rows" -> m.outputMetrics.recordsWritten))
    stages += Json.obj(fields: _*)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlStart(s.executionId) = s.time }
    case s: SparkListenerSQLExecutionEnd => synchronized { sqlEnd(s.executionId) = s.time }
    case _ =>
  }

  def json: Json.Obj = synchronized {
    Json.obj(
      "jobs" -> jobs.toSeq,
      "stages" -> stages.toSeq,
      "sql" -> sqlStart.toSeq.map { case (id, t0) =>
        Json.obj("id" -> id, "start_ms" -> t0, "end_ms" -> sqlEnd.getOrElse(id, t0))
      })
  }
}

/** Node counts of a final executed plan (adaptive stages included). */
object PlanShape {
  val Keys: Seq[String] = Seq("exchanges", "smj", "bhj", "bnlj")

  def count(plan: SparkPlan): Map[String, Long] = {
    val n = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ =>
        p match {
          case _: ShuffleExchangeLike => n("exchanges") += 1
          case _: SortMergeJoinExec => n("smj") += 1
          case _: BroadcastHashJoinExec => n("bhj") += 1
          case _: BroadcastNestedLoopJoinExec => n("bnlj") += 1
          case _ =>
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(plan)
    Keys.map(k => k -> n(k)).toMap
  }
}

/** The records the harness writes are plain Scala maps and sequences;
  * Jackson writes them, with locale-independent number formatting. */
object Json {
  type Obj = ListMap[String, Any]

  def obj(fields: (String, Any)*): Obj = ListMap(fields: _*)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
