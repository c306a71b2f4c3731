package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.SparkAccess
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Records what Spark did on behalf of each traced query execution.
  *
  * Jobs are attributed to a query execution by the job tag the harness sets
  * around it; stages to the job that submitted them; SQL executions (with
  * planning time and the per-operator metrics of their final adaptive plans)
  * by the job tags they started with. Stream progress is attributed to the execution running
  * when it arrives. Everything stays in memory until [[perExec]] and
  * [[spans]] read it after the listener bus is drained.
  */
final class Tracer extends SparkListener {
  final class Job(val id: Int, val tag: String, val startMs: Long, val stageIds: Seq[Int]) {
    var endMs: Long = startMs
    var ended = false
  }
  final class Stage(val id: Int, val jobId: Int, val startMs: Long) {
    var endMs: Long = startMs
    val taskMs = mutable.ArrayBuffer.empty[Long]
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val qes = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]
  private val sqlTag = mutable.Map.empty[Long, String]
  private val streamRows = mutable.ArrayBuffer.empty[(String, Map[String, Double])]
  @volatile var currentTag: String = ""

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags"))).toSeq
      .flatMap(_.split(",")).find(_.startsWith(Tracer.TagPrefix)).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    jobs(e.jobId) = new Job(e.jobId, tag, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j => j.endMs = e.time; j.ended = true }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    // a shared map stage is listed by several jobs but runs once, under the
    // earliest still-running job that needs it
    val jobId = jobs.values.filter(j => !j.ended && j.stageIds.contains(info.stageId))
      .map(_.id).minOption.getOrElse(-1)
    stages((info.stageId, info.attemptNumber())) =
      new Stage(info.stageId, jobId, info.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages.get((info.stageId, info.attemptNumber()))
      .foreach(_.endMs = info.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stages.get((e.stageId, e.stageAttemptId)).foreach { st =>
      st.taskMs += e.taskInfo.duration
      val s = st.sums
      s("run_ms") += m.executorRunTime
      s("cpu_ns") += m.executorCpuTime
      s("gc_ms") += m.jvmGCTime
      s("input_bytes") += m.inputMetrics.bytesRead
      s("input_rows") += m.inputMetrics.recordsRead
      s("output_bytes") += m.outputMetrics.bytesWritten
      s("output_rows") += m.outputMetrics.recordsWritten
      s("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      s("shuffle_records") += m.shuffleWriteMetrics.recordsWritten
      s("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      s("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      s("spill_bytes") += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val tag = s.jobTags.find(_.startsWith(Tracer.TagPrefix)).getOrElse("")
      synchronized { sqlTag(s.executionId) = tag }
    case end: SparkListenerSQLExecutionEnd =>
      SparkAccess.queryExecution(end).foreach(qe => recordPlan(end.executionId, qe))
    case _ =>
  }

  private def recordPlan(executionId: Long, qe: QueryExecution): Unit = {
    val planMs = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    val m = mutable.Map("plan_ms" -> planMs).withDefaultValue(0.0)
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def metric(p: SparkPlan, name: String): Double =
      p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case _: ShuffleExchangeLike => m("exchanges") += 1
        case w: DataWritingCommandExec =>
          m("files_written") += metric(w, "numFiles")
          m("commit_ms") += metric(w, "taskCommitTime") + metric(w, "jobCommitTime")
        case _ =>
      }
      m("agg_ms") += metric(p, "aggTime")
      m("sort_ms") += metric(p, "sortTime")
      m("join_build_ms") += metric(p, "buildTime")
      m("scan_ms") += metric(p, "scanTime")
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case _: ReusedExchangeExec => // its metrics belong to the reused exchange
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    synchronized { qes += executionId -> m.toMap }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val row = Map(
        "batches" -> 1.0,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0.0),
        "planning_ms" -> d.getOrElse("queryPlanning", 0.0),
        "addbatch_ms" -> d.getOrElse("addBatch", 0.0),
        "commit_ms" -> (d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal.toDouble).sum)
      Tracer.this.synchronized { streamRows += currentTag -> row }
    }
  }

  private def sumMaps(ms: Iterable[Map[String, Double]]): Map[String, Double] =
    ms.flatten.groupMapReduce(_._1)(_._2)(_ + _)

  /** Layer totals per traced query execution tag. */
  def perExec: Map[String, Map[String, Double]] = synchronized {
    val stagesByTag = stages.values.groupBy(s => jobs.get(s.jobId).map(_.tag).getOrElse(""))
    val jobsByTag = jobs.values.groupBy(_.tag)
    val qeByTag = qes.groupBy { case (id, _) => sqlTag.getOrElse(id, "") }
    val streamByTag = streamRows.groupBy(_._1)
    (jobsByTag.keySet ++ qeByTag.keySet ++ streamByTag.keySet).filter(_.nonEmpty).map { tag =>
      val st = stagesByTag.getOrElse(tag, Nil)
      val skew = st.filter(_.taskMs.size >= 2).map { s =>
        val sorted = s.taskMs.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med > 0) sorted.last / med else 1.0
      }.maxOption.getOrElse(1.0)
      val base = Map(
        "jobs" -> jobsByTag.getOrElse(tag, Nil).size.toDouble,
        "stages" -> st.size.toDouble,
        "tasks" -> st.map(_.taskMs.size).sum.toDouble,
        "skew_x" -> skew)
      val streams = sumMaps(streamByTag.getOrElse(tag, Nil).map(_._2)).map { case (k, v) => ("stream_" + k) -> v }
      tag -> (base ++ sumMaps(st.map(_.sums.toMap)) ++ sumMaps(qeByTag.getOrElse(tag, Nil).map(_._2)) ++ streams)
    }.toMap
  }

  /** Job and stage spans: (kind, id, tag or parent job, start ms, end ms). */
  def spans: Seq[(String, Int, String, Long, Long)] = synchronized {
    jobs.values.toSeq.map(j => ("job", j.id, j.tag, j.startMs, j.endMs)) ++
      stages.values.toSeq.map(s => ("stage", s.id, s.jobId.toString, s.startMs, s.endMs))
  }
}

object Tracer {
  val TagPrefix = "graftbench-"
}
