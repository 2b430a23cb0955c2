package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbench.Internals

/** One timed call: a public graft call or the materialising collect. */
final case class Span(id: Int, parent: Int, req: Int, name: String, t0Ns: Long, t1Ns: Long) {
  def ms: Double = (t1Ns - t0Ns) / 1e6
}

/** Spark work attributed to the span active when the job started. */
final class JobRec(val id: Int, val span: Int, val req: Int, val startMs: Long) {
  var endMs = 0L
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
}

/** Planned scan work of one finished SQL execution, from the scan nodes'
  * "files read" / "size of files read" metrics (task input metrics
  * under-report parquet bytes).
  */
final case class ScanRec(span: Int, req: Int, files: Long, bytes: Long,
                         rowsScanned: Long, rowsMatched: Long)

/** Spans kept in memory plus a listener that attributes Spark jobs, tasks
  * and scans to them through local properties the tracer sets on the
  * calling thread. Off (the default), `span` and `request` only run the
  * body: end-to-end numbers are measured untraced.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val SpanKey = "graftbench.span"
  private val ReqKey = "graftbench.req"
  private val sc = spark.sparkContext

  var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var req = -1
  private var nextId = 0

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, JobRec]
  private val execToJob = mutable.HashMap.empty[Long, JobRec]
  private val scanRecs = mutable.ArrayBuffer.empty[ScanRec]

  sc.addSparkListener(this)

  def request[T](id: Int)(body: => T): T =
    if (!on) body
    else {
      req = id
      sc.setLocalProperty(ReqKey, id.toString)
      try body finally { req = -1; sc.setLocalProperty(ReqKey, null) }
    }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, req, name, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Snapshot of the attributed work, after the listener bus drained. */
  def snapshot(): (Vector[JobRec], Vector[ScanRec]) = {
    Internals.drainListeners(sc)
    lock.synchronized { (jobs.values.toVector, scanRecs.toVector) }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val span = prop(SpanKey).map(_.toInt)
    if (span.isDefined) lock.synchronized {
      val j = new JobRec(e.jobId, span.get, prop(ReqKey).map(_.toInt).getOrElse(-1), e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageToJob(_) = j)
      prop("spark.sql.execution.id").foreach(x => execToJob.getOrElseUpdate(x.toLong, j))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    for (j <- stageToJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.runMs += m.executorRunTime
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      val owner = lock.synchronized(execToJob.remove(end.executionId))
      for (j <- owner; qe <- Internals.queryExecution(end)) {
        val r = Tracer.scanOf(qe.executedPlan)
        lock.synchronized { scanRecs += r.copy(span = j.span, req = j.req) }
      }
    case _ =>
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** The file scan under a chain of single-child operators, if any. */
  private def scanBelow(p: SparkPlan): Option[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Some(s)
    case u if u.children.length == 1 => scanBelow(u.children.head)
    case _ => None
  }

  /** Files, bytes and rows the plan's file scans read, and the rows that
    * survived the filter sitting on each scan (all of them if none).
    */
  def scanOf(plan: SparkPlan): ScanRec = {
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    val filters = collectWithSubqueries(plan) {
      case f: FilterExec if scanBelow(f.child).isDefined => f -> scanBelow(f.child).get
    }
    val filtered = filters.map(_._2).toSet
    val rows = scans.map(metric(_, "numOutputRows")).sum
    val matched = filters.map(f => metric(f._1, "numOutputRows")).sum +
      scans.filterNot(filtered).map(metric(_, "numOutputRows")).sum
    ScanRec(-1, -1, scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "filesSize")).sum, rows, matched)
  }
}
