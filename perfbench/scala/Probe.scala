package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span the benchmark opens around one of its own calls into the
  * program (a cycle, a read, a query). Spark jobs and stages recorded by
  * [[Probe]] become its children by time containment: the load is one
  * closed-loop client, so at most one benchmark span is open at a time. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Long, endMs: Long, wallNs: Long) {
  def seconds: Double = wallNs / 1e9
  def contains(ms: Long): Boolean = ms >= startMs && ms <= endMs
}

final class StageRec(val stageId: Int, val attempt: Int) {
  var jobId: Int = -1
  var submittedMs = 0L
  var completedMs = 0L
  var tasks = 0
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

final case class JobRec(jobId: Int, startMs: Long, endMs: Long, execId: Long)

/** One SQL execution; `target` is the store table its root node writes,
  * parsed from the version path or catalog name in the plan. */
final case class ExecRec(execId: Long, rootId: Long, startMs: Long,
    endMs: Long, target: Option[String])

/** One completed query's executed plan; `span` is the benchmark span it
  * ran under, assigned when that span's events are drained (the listener
  * callback itself runs later, on the bus thread). */
final case class QeRec(exchanges: Int, broadcasts: Int, var span: Int = 0)

/** Records spans around the benchmark's calls and, in a traced run, the
  * Spark jobs, stages, SQL executions and query plans underneath them
  * through a `SparkListener` and a `QueryExecutionListener`. Nothing here
  * is installed in an untraced run except the span list itself. */
final class Tracer(val probe: Option[Probe], drain: () => Unit) {
  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Int]()
  private var nextId = 1

  /** Times `f` as a span under the innermost open span. In a traced run
    * the listener bus is drained when a span directly under the run
    * closes (outside the span's own time), so that the queries it ran are
    * attributed to it. */
  def span[T](kind: String, name: String)(f: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    open.push(id)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try f
      finally open.pop()
    val ns = System.nanoTime() - t0
    val s = Span(id, parent, kind, name, ms0, System.currentTimeMillis(), ns)
    spans += s
    if (open.size <= 1) probe.foreach { p => drain(); p.assignQes(id) }
    (out, s)
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
}

final class Probe extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val jobStarts = mutable.Map[Int, (Long, Long)]()
  private val stages = mutable.Map[(Int, Int), StageRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val execStarts = mutable.Map[Long, (Long, Long, Option[String])]()
  private val execs = mutable.ArrayBuffer[ExecRec]()
  private val qes = mutable.ArrayBuffer[QeRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobStarts(e.jobId) = (e.time, exec)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, exec) =>
      jobs += JobRec(e.jobId, t0, e.time, exec)
    }
  }

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt), {
      val r = new StageRec(id, attempt)
      r.jobId = stageJob.getOrElse(id, -1)
      r
    })

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val r = stage(i.stageId, i.attemptNumber())
    r.submittedMs = i.submissionTime.getOrElse(0L)
    r.completedMs = i.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = stage(e.stageId, e.stageAttemptId)
    r.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      r.runMs += m.executorRunTime
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execStarts(s.executionId) = (s.time,
        s.rootExecutionId.map(_.asInstanceOf[Long]).getOrElse(s.executionId),
        Probe.targetOf(s.physicalPlanDescription))
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execStarts.remove(s.executionId).foreach { case (t0, root, target) =>
        execs += ExecRec(s.executionId, root, t0, s.time, target)
      }
    }
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = Probe.walk(qe.executedPlan).toSeq
    val rec = QeRec(
      nodes.count(_.nodeName == "Exchange"),
      nodes.count(_.nodeName == "BroadcastExchange"))
    synchronized { qes += rec }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def jobsIn(s: Span): Seq[JobRec] = synchronized { jobs.filter(j => s.contains(j.startMs)).toSeq }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    val ids = js.map(_.jobId).toSet
    stages.values.filter(r => ids(r.jobId)).toSeq
  }

  /** Root SQL executions started inside `s` (a nested execution, such as
    * the insert under a bucketed CTAS, is counted through its root). */
  def rootExecsIn(s: Span): Seq[ExecRec] = synchronized {
    execs.filter(x => x.rootId == x.execId && s.contains(x.startMs)).toSeq
  }

  /** Every execution started inside `s`, nested ones included. */
  def execsIn(s: Span): Seq[ExecRec] = synchronized { execs.filter(x => s.contains(x.startMs)).toSeq }

  def assignQes(span: Int): Unit = synchronized { qes.foreach(q => if (q.span == 0) q.span = span) }

  def qesIn(span: Int): Seq[QeRec] = synchronized { qes.filter(_.span == span).toSeq }

  /** Span wall time not covered by any Spark job started inside it. */
  def driverMs(s: Span): Double = {
    val iv = jobsIn(s).map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.wallNs / 1e6 - covered)
  }

  /** The recorded jobs, stages and SQL executions, each tied to the
    * innermost benchmark span it started in, for the span file. */
  def spanChildren(spans: Seq[Span]): Map[String, Any] = synchronized {
    def owner(ms: Long): Int =
      spans.filter(_.contains(ms)).sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(0)
    Map(
      "jobs" -> jobs.map(j => Map("job_id" -> j.jobId, "span" -> owner(j.startMs),
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "execution_id" -> j.execId)).toSeq,
      "stages" -> stages.values.toSeq.sortBy(r => (r.stageId, r.attempt)).map(r => Map(
        "stage_id" -> r.stageId, "attempt" -> r.attempt, "job_id" -> r.jobId,
        "submitted_ms" -> r.submittedMs, "completed_ms" -> r.completedMs,
        "tasks" -> r.tasks, "run_ms" -> r.runMs,
        "shuffle_write_bytes" -> r.shuffleWriteBytes, "spill_bytes" -> r.spillBytes)),
      "executions" -> execs.map(x => Map("execution_id" -> x.execId, "root_id" -> x.rootId,
        "span" -> owner(x.startMs), "start_ms" -> x.startMs, "end_ms" -> x.endMs,
        "target" -> x.target)).toSeq)
  }
}

object Probe {
  private val VersionPath = """/([A-Za-z0-9_]+)/v\d{19}-[0-9a-f]{8}""".r
  private val CatalogName = """graft_([a-z0-9_]+?)_v\d{19}_[0-9a-f]{8}""".r

  /** The store table a SQL execution writes: the first version path or
    * bucketed-version catalog name in the plan's details from the write
    * command's own section on (the scans listed before it name the
    * versions the write reads). None for executions that write nothing. */
  def targetOf(desc: String): Option[String] = {
    val i = Option(desc).map(_.indexOf(") Execute ")).getOrElse(-1)
    if (i < 0) None
    else {
      val rest = desc.substring(i)
      VersionPath.findFirstMatchIn(rest).map(_.group(1))
        .orElse(CatalogName.findFirstMatchIn(rest).map(_.group(1)))
    }
  }

  /** Every physical node, descending into adaptive plans, query stages
    * and subqueries. */
  def walk(p: SparkPlan): Iterator[SparkPlan] = Iterator.single(p) ++ (p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case _ => p.children.iterator.flatMap(walk) ++ p.subqueries.iterator.flatMap(walk)
  })
}

/** Live heap and GC time. [[settle]] runs a full collection between two
  * measured operations, outside their timed regions: each operation then
  * starts from the same heap state, and the heap in use right after it is
  * the live set, whose largest value is the run's peak heap. */
final class HeapWatch {
  private var peak = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def settle(): Unit = {
    // Spark's ContextCleaner frees broadcast and shuffle state only after
    // a collection has found its owner unreachable, on its own thread:
    // collect again until the heap stops shrinking
    var prev = Long.MaxValue
    var used = collect()
    var rounds = 1
    while (used < prev - prev / 100 && rounds < 6) {
      Thread.sleep(100)
      prev = used
      used = collect()
      rounds += 1
    }
    peak = math.max(peak, used)
  }

  private def collect(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def peakMb: Double = peak / 1048576.0
  def gcMs: Long = beans.map(_.getCollectionTime).filter(_ >= 0).sum
}
