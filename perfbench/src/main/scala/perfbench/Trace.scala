package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program. `span` groups
  * calls (a refresh, an interaction); `call` wraps one public call and,
  * when tracing, runs it under its own Spark job group so the jobs,
  * stages and queries it causes can be attributed to it.
  */
trait Tracer {
  def span[A](name: String, req: String, parent: Long = 0L)(f: Long => A): A
  def call[A](name: String, req: String, parent: Long)(f: => A): A
}

object NoTrace extends Tracer {
  def span[A](name: String, req: String, parent: Long)(f: Long => A): A = f(0L)
  def call[A](name: String, req: String, parent: Long)(f: => A): A = f
}

/** A closed span: times are ms since the epoch, `req` names the
  * refresh or interaction it belongs to.
  */
final case class Span(id: Long, name: String, parent: Long, req: String,
                      start: Double, end: Double) {
  def dur: Double = (end - start) / 1000.0
}

/** One completed stage, attributed to the job group of its job. `site`
  * is the call site of the SQL action that ran it (stages that adaptive
  * execution submits from a pool thread carry that thread's call site as
  * their name, so the action's is the one that says who asked).
  */
final case class StageRec(stageId: Int, jobId: Int, group: String, site: String,
                          numTasks: Int, submit: Long, done: Long,
                          scansSheets: Boolean, recordsRead: Long,
                          bytesWritten: Long, shuffleWrite: Long,
                          shuffleRead: Long, meanTaskWaitMs: Double) {
  def dur: Double = (done - submit) / 1000.0
}

final case class JobRec(jobId: Int, group: String, start: Long, end: Long)

/** Tracer that records spans in memory and registers a SparkListener and
  * a QueryExecutionListener; everything is read after the run ends.
  */
final class SparkTracer(spark: SparkSession) extends Tracer {
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  // listener state: written on the listener-bus thread only
  private val stageJob = mutable.Map.empty[Int, (Int, String, Long)]
  private val stageWait = mutable.Map.empty[Int, (Long, Long)] // Σ wait ms, tasks
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val jobs = mutable.Map.empty[Int, JobRec]
  val execGroup = mutable.Map.empty[Long, String]
  private val execSite = mutable.Map.empty[Long, String]
  val planningMs = new ConcurrentLinkedQueue[(Long, Double)]() // exec id

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(s => stageJob(s) = (e.jobId, g, exec))
      jobs(e.jobId) = JobRec(e.jobId, g, e.time, -1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val (w, n) = stageWait.getOrElse(e.stageId, (0L, 0L))
      stageWait(e.stageId) = (w + e.taskInfo.launchTime, n + 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val (job, group, exec) = stageJob.getOrElse(i.stageId, (-1, "", -1L))
      val submit = i.submissionTime.getOrElse(0L)
      val (launchSum, n) = stageWait.remove(i.stageId).getOrElse((0L, 0L))
      val m = i.taskMetrics
      stages += StageRec(i.stageId, job, group, execSite.getOrElse(exec, i.name),
        i.numTasks, submit,
        i.completionTime.getOrElse(submit),
        i.rddInfos.exists(_.scope.exists(_.name.contains("graft-sheet"))),
        if (m == null) 0L else m.inputMetrics.recordsRead,
        if (m == null) 0L else m.outputMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (n == 0) 0.0 else launchSum.toDouble / n - submit)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup(s.executionId) = g)
        execSite(s.executionId) = s.description
      case _ => ()
    }
  }

  private val qel = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      planningMs.add(qe.id -> qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(fn: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qel)

  private def now: Double = System.nanoTime / 1e6 - nanoOffsetMs
  private val nanoOffsetMs = System.nanoTime / 1e6 - System.currentTimeMillis

  def span[A](name: String, req: String, parent: Long)(f: Long => A): A = {
    val id = ids.incrementAndGet()
    val t0 = now
    try f(id) finally spans.add(Span(id, name, parent, req, t0, now))
  }

  def call[A](name: String, req: String, parent: Long)(f: => A): A = {
    val id = ids.incrementAndGet()
    // the group id only: a job description would replace the call site
    // that SQL executions record
    sc.setLocalProperty("spark.jobGroup.id", s"span-$id")
    val t0 = now
    try f finally {
      spans.add(Span(id, name, parent, req, t0, now))
      sc.setLocalProperty("spark.jobGroup.id", null)
    }
  }

  /** Wait until the listener bus has delivered every event. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(sc)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
}
