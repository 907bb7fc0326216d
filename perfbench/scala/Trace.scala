package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchSql
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Observes graft from outside through Spark's public listener APIs.
  *
  * Two levels:
  *  - write stats (serve_write's untraced runs too): the rows and files
  *    each write command stored, attributed to the job group of the
  *    call that ran it. One callback per SQL execution; it is the only
  *    way to count rows `TableWriter.mergeInto` writes without editing
  *    graft. The harness attaches the listener to an untraced run only
  *    on serve_write.
  *  - traced runs: harness spans (request, operator call,
  *    materialisation), every job, stage and task, and the Catalyst
  *    phase times of every query, all kept in memory and written once
  *    at the end of the run.
  *
  * Times are epoch microseconds so harness spans (nanoTime based) and
  * listener events (epoch milliseconds) share one axis.
  */
final class Trace(val on: Boolean) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L

  /** One timed interval: `group` ties it to the request (job group). */
  final case class Span(id: String, parent: String, group: String, name: String,
      startUs: Long, endUs: Long, attrs: Map[String, Double] = Map.empty)

  private val spans = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = if (on) spans.add(s)

  /** Runs `body` as a span named `name` under `parent`. */
  def span[A](group: String, parent: String, id: String, name: String)(body: => A): A = {
    val t0 = nowUs
    try body finally add(Span(id, parent, group, name, t0, nowUs))
  }

  // execution id → job group, from the SQL execution start event
  private val execGroup = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  // write command stats: (execution id, rows, files)
  private val writes = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  // Catalyst phases: (execution id, phase, start ms, end ms)
  private val phases = new ConcurrentLinkedQueue[(Long, String, Long, Long)]()
  private val failedQueries = new java.util.concurrent.atomic.AtomicLong()

  private def executionEnded(e: SparkListenerSQLExecutionEnd): Unit = {
    if (e.errorMessage.exists(_.nonEmpty)) failedQueries.incrementAndGet()
    PerfbenchSql.queryOf(e).foreach { qe =>
      qe.executedPlan.foreach {
        case w: DataWritingCommandExec =>
          val m = w.cmd.metrics
          writes.add((e.executionId, m.get("numOutputRows").map(_.value).getOrElse(0L),
            m.get("numFiles").map(_.value).getOrElse(0L)))
        case _ =>
      }
      if (on) qe.tracker.phases.foreach { case (name, p) =>
        phases.add((e.executionId, name, p.startTimeMs, p.endTimeMs))
      }
    }
  }

  // job id → (group, start ms); stage (id, attempt) → job id
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()

  /** Task counters, one row per task end. */
  final case class TaskRec(stage: Int, attempt: Int, launchMs: Long, finishMs: Long,
      ok: Boolean, retry: Boolean, runMs: Long, cpuNs: Long, gcMs: Long,
      shWrite: Long, shRead: Long, fetchWaitMs: Long, spill: Long, recordsIn: Long)
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  val sparkListener: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
      case e: SparkListenerSQLExecutionEnd => executionEnded(e)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs.put(e.jobId, (g, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) {
      val (g, t0) = Option(jobs.get(e.jobId)).getOrElse(("", e.time))
      add(Span(s"job${e.jobId}", "", g, "spark.job", t0 * 1000L, e.time * 1000L))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) {
      val i = e.stageInfo
      stageSubmit.put((i.stageId, i.attemptNumber()),
        i.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val i = e.stageInfo
      val job = Option(stageJob.get(i.stageId)).map(_.intValue).getOrElse(-1)
      val g = Option(jobs.get(job)).map(_._1).getOrElse("")
      val t0 = i.submissionTime.getOrElse(0L)
      add(Span(s"stage${i.stageId}.${i.attemptNumber()}", s"job$job", g, "spark.stage",
        t0 * 1000L, i.completionTime.getOrElse(t0) * 1000L,
        Map("tasks" -> i.numTasks.toDouble,
          "failed" -> (if (i.failureReason.isDefined) 1.0 else 0.0))))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val ti = e.taskInfo
      val m = e.taskMetrics
      val ok = e.reason == org.apache.spark.Success
      tasks.add(if (m == null)
        TaskRec(e.stageId, e.stageAttemptId, ti.launchTime, ti.finishTime, ok,
          ti.attemptNumber > 0, 0, 0, 0, 0, 0, 0, 0, 0)
      else TaskRec(e.stageId, e.stageAttemptId, ti.launchTime, ti.finishTime, ok,
        ti.attemptNumber > 0 || ti.speculative, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
        m.inputMetrics.recordsRead))
    }
  }

  /** Rows and files written by write commands that ran under `group`. */
  def written(groups: String => Boolean): (Long, Long) = {
    val sel = writes.asScala.filter { case (id, _, _) =>
      Option(execGroup.get(id)).exists(groups) }
    (sel.map(_._2).sum, sel.map(_._3).sum)
  }

  def failedQueryCount: Long = failedQueries.get

  /** Catalyst phases and tasks become spans: phases under the group of
    * their execution, tasks under their stage (with the stage's wait). */
  def finish(): Seq[Span] = {
    phases.asScala.foreach { case (exec, name, s, e) =>
      add(Span(s"exec$exec.$name", "", Option(execGroup.get(exec)).getOrElse(""),
        s"catalyst.$name", s * 1000L, e * 1000L))
    }
    tasks.asScala.zipWithIndex.foreach { case (t, i) =>
      val job = Option(stageJob.get(t.stage)).map(_.intValue).getOrElse(-1)
      val g = Option(jobs.get(job)).map(_._1).getOrElse("")
      val submit = Option(stageSubmit.get((t.stage, t.attempt))).map(_.longValue)
        .getOrElse(t.launchMs)
      add(Span(s"task$i", s"stage${t.stage}.${t.attempt}", g, "spark.task",
        t.launchMs * 1000L, t.finishMs * 1000L,
        Map("ok" -> (if (t.ok) 1.0 else 0.0), "retry" -> (if (t.retry) 1.0 else 0.0),
          "wait_ms" -> (t.launchMs - submit).toDouble, "run_ms" -> t.runMs.toDouble,
          "cpu_ns" -> t.cpuNs.toDouble, "gc_ms" -> t.gcMs.toDouble,
          "shuffle_write_b" -> t.shWrite.toDouble, "shuffle_read_b" -> t.shRead.toDouble,
          "fetch_wait_ms" -> t.fetchWaitMs.toDouble, "spill_b" -> t.spill.toDouble,
          "records_in" -> t.recordsIn.toDouble)))
    }
    spans.asScala.toSeq
  }
}
