package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One finished task as the listener bus reported it (MB = 1e6 bytes). */
final case class TaskRec(stageId: Int, runS: Double, cpuS: Double, gcS: Double,
                         shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double)

/** One job: its SQL execution (if any) and the benchmark span that was
  * open on the submitting thread when it started. */
final case class JobRec(jobId: Int, execId: Option[Long], span: String,
                        stageIds: Seq[Int], startMs: Long, endMs: Long)

final case class StageRec(stageId: Int, submittedMs: Long, completedMs: Long)

/** One SQL execution: timing from the SQL listener events; from the
  * QueryExecutionListener the bytes its scans selected and (traced
  * passes only) its plan facts. */
final case class ExecRec(id: Long, root: Long, startMs: Long, endMs: Long,
                         scanMb: Double, plan: Option[PlanFacts])

/** What the benchmark reads off a finished query's final (post-AQE)
  * plan: where it wrote, what it scanned, and its exchange count. */
final case class PlanFacts(writePath: Option[String], readPaths: Seq[String],
                           exchanges: Int, scans: Int,
                           tree: String)

/** Everything the listener bus delivered for one pass. */
final case class Window(tasks: Seq[TaskRec], jobs: Seq[JobRec],
                        stages: Map[Int, StageRec], execs: Seq[ExecRec]) {
  lazy val jobOfStage: Map[Int, JobRec] =
    jobs.sortBy(_.jobId).reverse.flatMap(j => j.stageIds.map(_ -> j)).toMap
  def cpuS: Double = tasks.map(_.cpuS).sum
  def shuffleMb: Double = tasks.map(_.shuffleWriteMb).sum
  /** Storage bytes read: the files every query's scans selected. */
  def inputMb: Double = execs.map(_.scanMb).sum
  def gcS: Double = tasks.map(_.gcS).sum
  def spillMb: Double = tasks.map(_.spillMb).sum
  /** Tasks of the jobs `keep` selects. */
  def tasksOf(keep: JobRec => Boolean): Seq[TaskRec] =
    tasks.filter(t => jobOfStage.get(t.stageId).exists(keep))
}

/** Spark listener counters for the benchmark, plus the optional
  * QueryExecutionListener of a traced run.
  *
  * Every pass ends with [[drain]]: a one-task marker job is submitted
  * and the caller polls, with a deadline, until the listener has seen
  * that job end. The bus delivers events of one queue in order, so by
  * then every task, job and SQL-execution event of the pass has been
  * processed. A missed deadline is an error, never a silent partial
  * window. */
final class Meter(sc: SparkContext) extends SparkListener {
  import Meter._

  private val lock = new Object
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val execStart = mutable.LinkedHashMap.empty[Long, (Long, Long)]
  private val execEnd = mutable.HashMap.empty[Long, Long]
  private val plans = mutable.HashMap.empty[Long, PlanFacts] // by QueryExecution.id
  private val scanBytes = mutable.HashMap.empty[Long, Long]   // by QueryExecution.id
  private val qeOfExec = mutable.HashMap.empty[Long, Long]
  private val markerJobs = mutable.HashSet.empty[Int]
  private val markerStages = mutable.HashSet.empty[Int]
  private val markersSeen = mutable.HashSet.empty[Long]
  private var markerSeq = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(pp => Option(pp.getProperty(k)))
    prop(MarkerKey) match {
      case Some(_) => markerJobs += e.jobId; markerStages ++= e.stageIds
      case None =>
        jobs(e.jobId) = JobRec(e.jobId, prop("spark.sql.execution.id").map(_.toLong),
          prop(SpanKey).getOrElse(""), e.stageIds, e.time, -1L)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    if (markerJobs.remove(e.jobId)) markersSeen += e.jobId.toLong
    else jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val i = e.stageInfo
    stages(i.stageId) = StageRec(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val r = TaskRec(e.stageId, m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
        m.jvmGCTime / 1e3,
        m.shuffleWriteMetrics.bytesWritten / 1e6,
        m.shuffleReadMetrics.totalBytesRead / 1e6,
        m.diskBytesSpilled / 1e6)
      lock.synchronized(if (!markerStages(e.stageId)) tasks += r)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => lock.synchronized {
      execStart(s.executionId) = (s.rootExecutionId.getOrElse(s.executionId), s.time)
    }
    case s: SparkListenerSQLExecutionEnd => lock.synchronized {
      execEnd(s.executionId) = s.time
      // the event's QueryExecution is package-private in Scala but a
      // public method in bytecode
      Option(s.getClass.getMethod("qe").invoke(s)).foreach(qe =>
        qeOfExec(s.executionId) = qe.asInstanceOf[QueryExecution].id)
    }
    case _ =>
  }

  /** Set for the traced passes: plan facts are recorded only then. */
  @volatile var tracing = false

  /** Registered on the session for the whole run: records the scanned
    * bytes, and on traced passes the final plan, of every successful
    * query. The SQL execution-end event carries the same
    * QueryExecution, which links them to the execution. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val bytes = PlanWalk.scanBytes(qe)
      val f = if (tracing) Some(PlanWalk.facts(qe)) else None
      lock.synchronized {
        scanBytes(qe.id) = bytes
        f.foreach(plans(qe.id) = _)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  /** Forget everything recorded so far; call it right after a drain so
    * no earlier event lands in the next window. */
  def reset(): Unit = lock.synchronized {
    tasks.clear(); jobs.clear(); stages.clear(); execStart.clear()
    execEnd.clear(); plans.clear(); scanBytes.clear(); qeOfExec.clear()
  }

  /** Block until the bus has delivered every event posted before this
    * call, or fail after `deadlineMs`. */
  def drain(deadlineMs: Long = 60000L): Unit = {
    val before = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, null)
    sc.setLocalProperty(MarkerKey, "1")
    val id = sc.runJob(sc.parallelize(Seq(0), 1), (it: Iterator[Int]) => it.size)
    sc.setLocalProperty(MarkerKey, null)
    sc.setLocalProperty(SpanKey, before)
    markerSeq += 1
    val target = markerSeq
    val deadline = System.nanoTime() + deadlineMs * 1000000L
    // the marker's job id is not returned by runJob; wait for the
    // `target`-th marker to end
    while (markersEnded() < target) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"listener bus not drained within $deadlineMs ms")
      Thread.sleep(2)
    }
    require(id.sum == 1)
  }

  private def markersEnded(): Long = lock.synchronized(markersSeen.size.toLong)

  def window(): Window = lock.synchronized {
    val execs = execStart.toSeq.map { case (id, (root, t0)) =>
      val qe = qeOfExec.get(id)
      ExecRec(id, root, t0, execEnd.getOrElse(id, t0),
        qe.flatMap(scanBytes.get).getOrElse(0L) / 1e6, qe.flatMap(plans.get))
    }
    Window(tasks.toVector, jobs.values.toVector, stages.toMap, execs)
  }
}

object Meter {
  /** Local property naming the benchmark span of the submitting thread. */
  val SpanKey = "graftbench.span"
  private val MarkerKey = "graftbench.marker"

  def withSpan[T](sc: SparkContext, span: String)(f: => T): T = {
    val before = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, span)
    try f finally sc.setLocalProperty(SpanKey, before)
  }
}
