package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-mode recorder. Spans (run → operation → build/execute phase) are
  * opened by the harness on its single client thread; Spark jobs and stages
  * become their children through the local property [[Trace.SpanProp]],
  * which the harness sets to the open phase's id. Catalyst phase times come
  * from the `QueryExecution` each action hands to the listener. Everything
  * stays in memory until [[dump]] at the end of the run.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), mutable.Map[String, Any]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val executions = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 1L

  /** Record a finished span; returns its id (0 is the run root). */
  def span(kind: String, name: String, parent: Long, startMs: Long,
      endMs: Long, id: Long = -1): Long = synchronized {
    val sid = if (id >= 0) id else newId()
    spans += Map("id" -> sid, "parent" -> parent, "kind" -> kind,
      "name" -> name, "start" -> startMs, "end" -> endMs)
    sid
  }

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = mutable.Map("id" -> e.jobId, "parent" -> spanOf(e.properties),
      "start" -> e.time, "end" -> e.time, "streaming_frame" -> streamingFrame(e.stageInfos))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_("end") = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmit((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val key = (si.stageId, si.attemptNumber())
    val st = stages.getOrElseUpdate(key, newStage(key))
    st("start") = si.submissionTime.getOrElse(stageSubmit.getOrElse(key, 0L))
    st("end") = si.completionTime.getOrElse(System.currentTimeMillis())
    st("tasks_planned") = si.numTasks
  }

  private def newStage(key: (Int, Int)): mutable.Map[String, Any] =
    mutable.Map("id" -> key._1, "attempt" -> key._2,
      "job" -> stageJob.getOrElse(key._1, -1), "tasks" -> 0, "retries" -> 0,
      "run_ms" -> 0L, "cpu_ns" -> 0L, "gc_ms" -> 0L, "wait_ms" -> 0L,
      "scan_bytes" -> 0L, "scan_rows" -> 0L, "write_bytes" -> 0L,
      "shuffle_write_bytes" -> 0L, "shuffle_read_bytes" -> 0L,
      "fetch_wait_ms" -> 0L, "spill_bytes" -> 0L)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    val st = stages.getOrElseUpdate(key, newStage(key))
    def add(k: String, v: Long): Unit = st(k) = st(k).asInstanceOf[Long] + v
    st("tasks") = st("tasks").asInstanceOf[Int] + 1
    val ti = e.taskInfo
    if (ti.attemptNumber > 0 || ti.failed || ti.killed)
      st("retries") = st("retries").asInstanceOf[Int] + 1
    stageSubmit.get(key).foreach(s => add("wait_ms", math.max(0L, ti.launchTime - s)))
    val m = e.taskMetrics
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("scan_bytes", m.inputMetrics.bytesRead)
      add("scan_rows", m.inputMetrics.recordsRead)
      add("write_bytes", m.outputMetrics.bytesWritten)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    execution(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    execution(funcName, qe, ok = false)

  private def execution(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (name, p) =>
      name -> Seq(p.startTimeMs, p.endTimeMs) }
    val plan = scala.util.Try(nodes(qe.executedPlan)).getOrElse(Nil)
    val exchanges = plan.count {
      case _: org.apache.spark.sql.execution.exchange.Exchange => true
      case _ => false
    }
    var files = 0L
    plan.foreach { n =>
      if (n.metrics.contains("numOutputBytes"))
        files += n.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }
    synchronized {
      executions += Map("func" -> funcName, "ok" -> ok, "phases" -> phases,
        "exchanges" -> exchanges, "files_written" -> files)
    }
  }

  /** Results of the run's traced layers, as plain JSON-able values. */
  def dump(): Map[String, Any] = synchronized {
    Map("spans" -> spans.toList, "jobs" -> jobs.values.map(_.toMap).toList,
      "stages" -> stages.values.map(_.toMap).toList,
      "executions" -> executions.toList)
  }
}

object Trace {
  val SpanProp = "graftbench.span"
  val StreamingPackage = "graft.streaming."

  /** The first `graft.streaming` frame of the call stack that submitted a
    * job, or null. Spark keeps that stack, cut to `spark.callstack.depth`
    * frames, as each stage's `details`; the harness JVM of a traced run
    * raises the depth so the frames of the caller are kept.
    */
  def streamingFrame(stages: Seq[StageInfo]): String =
    stages.iterator.flatMap(_.details.linesIterator)
      .collectFirst { case l if l.contains(StreamingPackage) =>
        l.substring(l.indexOf(StreamingPackage)).takeWhile(_ != '(') }.orNull

  /** Every physical node, looking through adaptive plans, query stages and
    * command wrappers, so exchanges and writes inside them are counted.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      nodes(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      s +: nodes(s.plan)
    case c: org.apache.spark.sql.execution.CommandResultExec =>
      c +: nodes(c.commandPhysicalPlan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      Seq(r)
    case other =>
      other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
