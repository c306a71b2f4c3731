package graft.obs

import java.util.{Locale, UUID}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSparkAccess, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, InputAdapter, QueryExecution,
  SQLExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Where the time and bytes of a block of code went: one [[QueryProfile.Action]]
  * per action the block ran (a Dataset action, a pin, a write, a micro-batch,
  * or a job outside any SQL execution), in start order, and one
  * [[QueryProfile.Batch]] per micro-batch of the streams it started. */
final case class QueryProfile[A](result: A, actions: Seq[QueryProfile.Action],
                                 batches: Seq[QueryProfile.Batch]) {
  /** The Spark jobs the block started. */
  def jobs: Int = actions.map(_.jobs).sum

  /** One line per action, then each action's stages and operators, then
    * the stream batches. */
  def report: String = {
    val b = new StringBuilder
    def line(f: String, args: Any*): Unit = b ++= f.formatLocal(Locale.ROOT, args: _*) + "\n"
    line("%-3s %8s %8s %8s %8s %6s %4s %4s %5s %6s %11s %11s %9s %9s %12s %10s  %s", "#",
      "wall_ms", "gap_ms", "run_ms", "cpu_ms", "gc_ms", "jobs", "stgs", "tasks", "skew",
      "shuf_w_b", "spill_b", "in_rows", "out_rows", "peak_mem_b", "func", "call site")
    for ((a, i) <- actions.zipWithIndex)
      line("%-3d %8d %8d %8d %8d %6d %4d %4d %5d %6.2f %11d %11d %9d %9s %12d %10s  %s", i + 1,
        a.wallMs, a.gapMs, a.runMs, a.cpuMs, a.gcMs, a.jobs, a.stages.size, a.tasks, a.skew,
        a.shuffleWriteBytes, a.spillBytes, a.inputRows, a.outputRows.fold("-")(_.toString),
        a.peakMemoryBytes, a.funcName, a.callSite)
    for ((a, i) <- actions.zipWithIndex) {
      line("%n#%d %s (%s)", i + 1, a.callSite, a.funcName)
      for (s <- a.stages)
        line("  stage %4d %6d ms %4d tasks run %6d cpu %6d gc %4d skew %5.2f in %9d rows " +
          "%10d B shuffle w %10d r %10d B %8d rec spill %d peak %d", s.id, s.wallMs, s.tasks,
          s.runMs, s.cpuMs, s.gcMs, s.skew, s.inputRows, s.inputBytes, s.shuffleWriteBytes,
          s.shuffleReadBytes, s.shuffleRecords, s.spillBytes, s.peakMemoryBytes)
      for (o <- a.operators)
        line("  %s%s%s", "  " * o.depth, o.name,
          o.metrics.toSeq.sorted.map { case (k, v) => s" $k=$v" }.mkString)
    }
    if (batches.nonEmpty) line("%nstream batches")
    for (s <- batches)
      line("  %s batch %d: %d rows, state %d rows, ms: %s", s.query, s.batchId, s.inputRows,
        s.stateRows, s.durationMs.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
    b.result()
  }
}

/** The library's one query profiler, Warp's `Job`/progress on Spark's
  * listeners. `QueryProfile(spark)(body)` tags `body`'s jobs and registers,
  * for `body` only, a `SparkListener` (jobs, stages, tasks), a
  * `QueryExecutionListener` (each action's `funcName` and final plan) and a
  * `StreamingQueryListener` (the streams `body` starts). Jobs are attributed
  * by the tag, stages by the job that submitted them, SQL executions by the
  * tags they started with. An action is labelled by Spark's call site
  * (`count at Foo.scala:12`; a pin's is its caller's line). */
object QueryProfile {

  final case class Stage(id: Int, wallMs: Long, tasks: Int, runMs: Long,
                         cpuMs: Long, gcMs: Long, inputRows: Long, inputBytes: Long,
                         shuffleWriteBytes: Long, shuffleReadBytes: Long,
                         shuffleRecords: Long, spillBytes: Long, peakMemoryBytes: Long,
                         skew: Double)

  /** One node of a final plan at `depth` below the root, with its non-zero
    * `SQLMetric`s (times in ms, sizes in bytes). */
  final case class Operator(depth: Int, name: String, metrics: Map[String, Long])

  /** `gapMs` is the fixed cost: the part of `wallMs` in which none of the
    * action's stages ran. `skew` is the largest max/median task time of its
    * stages; `peakMemoryBytes` the largest peak execution memory of a task.
    * `outputRows` is the row count the final plan's top operators report. */
  final case class Action(callSite: String, funcName: String, wallMs: Long, gapMs: Long,
                          jobs: Int, stages: Seq[Stage], operators: Seq[Operator],
                          outputRows: Option[Long], plan: Option[SparkPlan]) {
    private def total(f: Stage => Long): Long = stages.map(f).sum
    def tasks: Int = stages.map(_.tasks).sum
    def runMs: Long = total(_.runMs)
    def cpuMs: Long = total(_.cpuMs)
    def gcMs: Long = total(_.gcMs)
    def inputRows: Long = total(_.inputRows)
    def shuffleWriteBytes: Long = total(_.shuffleWriteBytes)
    def shuffleReadBytes: Long = total(_.shuffleReadBytes)
    def shuffleRecords: Long = total(_.shuffleRecords)
    def spillBytes: Long = total(_.spillBytes)
    def peakMemoryBytes: Long = stages.map(_.peakMemoryBytes).maxOption.getOrElse(0L)
    def skew: Double = stages.map(_.skew).maxOption.getOrElse(1.0)
  }

  /** One micro-batch: its `durationMs` phases and its state operators' rows. */
  final case class Batch(query: String, batchId: Long, inputRows: Long,
                         durationMs: Map[String, Long], stateRows: Long)

  def apply[A](spark: SparkSession)(body: => A): QueryProfile[A] = run(spark)(_ => body)

  /** [[apply]], handing `body` the collector (its delivery count lets a
    * spec see that no listener outlives the call). */
  private[graft] def run[A](spark: SparkSession)(body: Collector => A): QueryProfile[A] = {
    val sc = spark.sparkContext
    val c = new Collector(s"graft-profile-${UUID.randomUUID()}")
    // the QueryExecutionListener first: its bus then precedes the
    // SparkListener on the shared queue (see Collector)
    spark.listenerManager.register(c)
    sc.addSparkListener(c)
    spark.streams.addListener(c.streams)
    sc.addJobTag(c.tag)
    val result = try body(c) finally {
      sc.removeJobTag(c.tag)
      GraftSparkAccess.drain(sc)
      spark.streams.removeListener(c.streams)
      sc.removeSparkListener(c)
      spark.listenerManager.unregister(c)
    }
    c.synchronized(QueryProfile(result, c.actions, c.batches.toSeq))
  }

  /** Every listener callback of one profile; all state is guarded by `this`.
    * `QueryExecutionListener` callbacks carry no execution id, but their bus
    * precedes this `SparkListener` on Spark's shared listener queue, so an
    * execution's `onSuccess`/`onFailure` arrives right before its
    * `SparkListenerSQLExecutionEnd`, which carries the id. */
  private[graft] final class Collector(val tag: String)
      extends SparkListener with QueryExecutionListener {
    private final class Job(val id: Int, val startMs: Long, val stageIds: Seq[Int],
                            val execution: Option[Long], val callSite: String) {
      var endMs: Option[Long] = None
    }
    private final class StageAcc(val id: Int, val jobId: Int, val startMs: Long) {
      var endMs: Long = startMs
      val taskMs = mutable.ArrayBuffer.empty[Long]
      var runMs, cpuNs, gcMs, inRows, inBytes, shufW, shufR, shufRec, spill, peak = 0L
    }
    private final class Execution(val callSite: String, val startMs: Long) {
      var endMs: Long = startMs
      var funcName = "sql"
      var plan: Option[SparkPlan] = None
    }
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAcc]
    private val roots = mutable.LinkedHashMap.empty[Long, Execution]
    private val streamIds = mutable.Set.empty[UUID]
    private[obs] val batches = mutable.ArrayBuffer.empty[Batch]
    private var finished: Option[(String, QueryExecution)] = None
    private var deliveredCount = 0L

    /** Every callback any of the three listeners has received. */
    private[graft] def delivered: Long = synchronized(deliveredCount)

    private def deliver[A](f: => A): A = synchronized { deliveredCount += 1; f }

    private def prop(e: SparkListenerJobStart, key: String): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(key)))

    override def onJobStart(e: SparkListenerJobStart): Unit = deliver {
      if (prop(e, "spark.job.tags").exists(_.split(",").contains(tag)))
        jobs(e.jobId) = new Job(e.jobId, e.time, e.stageIds,
          prop(e, SQLExecution.EXECUTION_ROOT_ID_KEY).map(_.toLong),
          prop(e, "callSite.short").getOrElse(""))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = deliver {
      jobs.get(e.jobId).foreach(_.endMs = Some(e.time))
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = deliver {
      val info = e.stageInfo
      // a shared map stage is listed by several jobs but runs once, under
      // the earliest still-running job that needs it
      jobs.values.filter(j => j.endMs.isEmpty && j.stageIds.contains(info.stageId))
        .map(_.id).minOption.foreach { jobId =>
          stages((info.stageId, info.attemptNumber())) = new StageAcc(info.stageId, jobId,
            info.submissionTime.getOrElse(System.currentTimeMillis()))
        }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = deliver {
      val info = e.stageInfo
      stages.get((info.stageId, info.attemptNumber()))
        .foreach(_.endMs = info.completionTime.getOrElse(System.currentTimeMillis()))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = deliver {
      val m = e.taskMetrics
      if (m != null) stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
        s.taskMs += e.taskInfo.duration
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inRows += m.inputMetrics.recordsRead
        s.inBytes += m.inputMetrics.bytesRead
        s.shufW += m.shuffleWriteMetrics.bytesWritten
        s.shufR += m.shuffleReadMetrics.totalBytesRead
        s.shufRec += m.shuffleWriteMetrics.recordsWritten
        s.spill += m.diskBytesSpilled
        s.peak = s.peak max m.peakExecutionMemory
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => deliver {
        if (s.jobTags.contains(tag) && s.rootExecutionId.forall(_ == s.executionId))
          roots(s.executionId) = new Execution(s.description, s.time)
      }
      case end: SparkListenerSQLExecutionEnd => deliver {
        val done = finished
        finished = None
        roots.get(end.executionId).foreach { x =>
          x.endMs = end.time
          done.foreach { case (f, qe) => x.funcName = f; x.plan = Some(qe.executedPlan) }
        }
      }
      case _ =>
    }

    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      deliver { finished = Some(funcName -> qe) }

    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      deliver { finished = Some(funcName -> qe) }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        deliver { streamIds += e.id }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        deliver(())
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = deliver {
        val p = e.progress
        if (streamIds(p.id)) batches += Batch(Option(p.name).getOrElse(p.id.toString),
          p.batchId, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.numRowsTotal).sum)
      }
    }

    /** The root SQL executions with their jobs, and each job outside them. */
    def actions: Seq[Action] = {
      val byJob = stages.values.toSeq.groupBy(_.jobId)
      val (inSql, bare) = jobs.values.toSeq.partition(_.execution.exists(roots.contains))
      val sqlJobs = inSql.groupBy(_.execution.get)
      val sql = roots.map { case (id, x) => x.startMs -> action(x.callSite, x.funcName,
        x.startMs, x.endMs, sqlJobs.getOrElse(id, Nil), byJob, x.plan) }
      val plain = bare.map(j => j.startMs ->
        action(j.callSite, "job", j.startMs, j.endMs.getOrElse(j.startMs), Seq(j), byJob, None))
      (sql.toSeq ++ plain).sortBy(_._1).map(_._2)
    }

    private def action(callSite: String, funcName: String, startMs: Long, endMs: Long,
                       js: Seq[Job], byJob: Map[Int, Seq[StageAcc]],
                       plan: Option[SparkPlan]): Action = {
      val st = js.flatMap(j => byJob.getOrElse(j.id, Nil)).sortBy(s => (s.startMs, s.id))
      Action(callSite, funcName, endMs - startMs,
        gap(startMs, endMs, st.map(s => s.startMs -> s.endMs)), js.size, st.map(stage),
        plan.fold(Seq.empty[Operator])(operators), plan.flatMap(outputRows), plan)
    }

    private def stage(s: StageAcc): Stage = {
      val sorted = s.taskMs.sorted
      val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      Stage(s.id, s.endMs - s.startMs, sorted.size, s.runMs, s.cpuNs / 1000000,
        s.gcMs, s.inRows, s.inBytes, s.shufW, s.shufR, s.shufRec, s.spill, s.peak,
        if (sorted.size < 2 || median <= 0) 1.0 else sorted.last.toDouble / median)
    }
  }

  /** The part of [start, end] that no stage interval covers. */
  private def gap(start: Long, end: Long, spans: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = start
    for ((s, e) <- spans.map { case (s, e) => (s max start, e min end) }.sortBy(_._1)
         if e > (s max reach)) {
      covered += e - (s max reach)
      reach = e
    }
    end - start - covered
  }

  /** The plan under adaptive wrappers, query stages and command results. */
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case s: QueryStageExec => unwrap(s.plan)
    case c: CommandResultExec => unwrap(c.commandPhysicalPlan)
    case _ => p
  }

  /** A final plan's operators, codegen wrappers skipped; a reused exchange's
    * metrics belong to the exchange it reuses. */
  private def operators(plan: SparkPlan): Seq[Operator] = {
    val out = mutable.ArrayBuffer.empty[Operator]
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(p: SparkPlan, depth: Int): Unit = if (seen.add(p)) unwrap(p) match {
      case q @ (_: WholeStageCodegenExec | _: InputAdapter) => q.children.foreach(walk(_, depth))
      case q =>
        out += Operator(depth, q.nodeName, q.metrics.collect {
          case (k, m) if m.value > 0 =>
            k -> (if (m.metricType == "nsTiming") m.value / 1000000 else m.value)
        })
        if (!q.isInstanceOf[ReusedExchangeExec]) q.children.foreach(walk(_, depth + 1))
        q.subqueries.foreach(walk(_, depth + 1))
    }
    walk(plan, 0)
    out.toSeq
  }

  /** The rows the top of the plan produced: the first `numOutputRows` down
    * each branch, summed over branches. */
  private def outputRows(plan: SparkPlan): Option[Long] = {
    val p = unwrap(plan)
    p.metrics.get("numOutputRows").map(_.value).orElse {
      val below = p.children.map(outputRows)
      if (below.nonEmpty && below.forall(_.isDefined)) Some(below.flatten.sum) else None
    }
  }
}
