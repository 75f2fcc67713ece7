package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, on the same
  * base as the scheduler's job timestamps (`System.currentTimeMillis`).
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One Spark job as the scheduler reported it: call site of its result
  * stage, start and end time, and the task metrics of its stages.
  */
final class JobRec(val id: Int, val startMs: Long, val site: String,
    val longSite: String) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var taskGcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var inputB = 0L
  var outputB = 0L
  var spillB = 0L

  /** Graft source frames of the long call site, innermost first. */
  def frames: Seq[String] =
    longSite.split('\n').iterator.map(_.trim).filter(_.startsWith("graft.")).toSeq
}

/** Spark listener recording one `JobRec` per job. It has a no-argument
  * constructor so that `spark.extraListeners` can install it into a session
  * the benchmark does not build; every instance registers itself in
  * `JobTap.instances`.
  *
  * A job that belongs to a SQL execution takes the execution's call site:
  * adaptive execution submits its shuffle-map jobs from a thread pool, whose
  * own call site names no program frame.
  */
class JobTap extends SparkListener {
  private val byJob = new ConcurrentHashMap[Int, JobRec]()
  private val byStage = new ConcurrentHashMap[Int, JobRec]()
  private val execSites = new ConcurrentHashMap[Long, (String, String)]()
  JobTap.instances.synchronized { JobTap.instances += this }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSites.put(s.executionId, (s.description, s.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val result = e.stageInfos.maxBy(_.stageId)
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execSites.get(id.toLong)))
    val (site, longSite) = exec.getOrElse((result.name, result.details))
    val j = new JobRec(e.jobId, e.time, site, longSite)
    byJob.put(e.jobId, j)
    e.stageIds.foreach(byStage.put(_, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(byJob.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      Option(byStage.get(e.stageInfo.stageId)).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    Option(byStage.get(e.stageId)).filter(_ => m != null).foreach { j =>
      j.tasks += 1
      j.taskRunMs += m.executorRunTime
      j.taskCpuNs += m.executorCpuTime
      j.taskGcMs += m.jvmGCTime
      j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      j.inputB += m.inputMetrics.bytesRead
      j.outputB += m.outputMetrics.bytesWritten
      j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Jobs with an id above `afterId`, in id order. */
  def jobsAfter(afterId: Int): Seq[JobRec] = synchronized {
    import scala.jdk.CollectionConverters._
    byJob.values.asScala.filter(_.id > afterId).toSeq.sortBy(_.id)
  }

  def lastJobId: Int = synchronized {
    import scala.jdk.CollectionConverters._
    if (byJob.isEmpty) -1 else byJob.keys.asScala.max
  }
}

object JobTap {
  val instances: ArrayBuffer[JobTap] = ArrayBuffer.empty
}

/** Catalyst phase times of every query execution, summed, from the
  * `QueryPlanningTracker` each execution carries. No-argument constructor
  * for `spark.sql.queryExecutionListeners`.
  */
class PlanTap extends QueryExecutionListener {
  @volatile var qes = 0L
  @volatile var analysisMs = 0L
  @volatile var optimizationMs = 0L
  @volatile var planningMs = 0L
  PlanTap.instances.synchronized { PlanTap.instances += this }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(phase: String): Long = p.get(phase).map(_.durationMs).getOrElse(0L)
    qes += 1
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
  }

  def snapshot: Array[Long] = synchronized {
    Array(qes, analysisMs, optimizationMs, planningMs)
  }
}

object PlanTap {
  val instances: ArrayBuffer[PlanTap] = ArrayBuffer.empty
}

/** A span: one timed call across a layer boundary. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spans kept in memory for the whole run and written out when it ends. */
final class Tracer {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty

  def add(parent: Int, op: Int, name: String, startMs: Double,
      endMs: Double): Int = {
    val id = spans.size + 1
    spans += Span(id, parent, op, name, startMs, endMs)
    id
  }

  /** Spans for jobs, as children of the innermost recorded span of the same
    * operation that covers the job's start.
    */
  def addJobs(op: Int, jobs: Seq[JobRec]): Unit = {
    val mine = spans.filter(_.op == op).toList
    jobs.foreach { j =>
      val parent = mine.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(_.ms).headOption.map(_.id).getOrElse(0)
      add(parent, op, s"job ${j.id}: ${j.site}", j.startMs.toDouble,
        math.max(j.startMs, j.endMs).toDouble)
    }
  }

  def json: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)
  }
}

/** Summaries of a set of jobs. */
object Jobs {
  /** Length of the union of the jobs' [start, end] intervals, in ms. */
  def spanMs(jobs: Seq[JobRec]): Double = {
    val iv = jobs.map(j => (j.startMs, math.max(j.startMs, j.endMs))).sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Counters over the jobs, keyed by the `exec.*` metric names. */
  def exec(jobs: Seq[JobRec]): Map[String, Double] = Map(
    "exec.jobs" -> jobs.size.toDouble,
    "exec.stages" -> jobs.map(_.stages).sum.toDouble,
    "exec.tasks" -> jobs.map(_.tasks).sum.toDouble,
    "exec.task_run_ms" -> jobs.map(_.taskRunMs).sum.toDouble,
    "exec.task_cpu_ms" -> jobs.map(_.taskCpuNs).sum / 1e6,
    "exec.task_gc_ms" -> jobs.map(_.taskGcMs).sum.toDouble,
    "exec.shuffle_read_b" -> jobs.map(_.shuffleReadB).sum.toDouble,
    "exec.shuffle_write_b" -> jobs.map(_.shuffleWriteB).sum.toDouble,
    "exec.input_b" -> jobs.map(_.inputB).sum.toDouble,
    "exec.output_b" -> jobs.map(_.outputB).sum.toDouble,
    "exec.spill_b" -> jobs.map(_.spillB).sum.toDouble,
    "exec.job_span_ms" -> spanMs(jobs))

  /** Jobs whose innermost graft frame is in `Tables.scala`: the per-read
    * parquet schema inference.
    */
  def tables(jobs: Seq[JobRec]): Seq[JobRec] =
    jobs.filter(_.frames.headOption.exists(_.contains("(Tables.scala:")))

  private val pinSites = Set("localCheckpoint", "checkpoint")
  private val collectSites = Set("count", "collect", "head", "take", "first",
    "collectAsList", "toLocalIterator", "isEmpty", "reduce")

  private def method(j: JobRec): String = j.site.takeWhile(_ != ' ')
  private def inOperators(j: JobRec): Boolean =
    j.frames.headOption.exists(_.startsWith("graft.operators."))

  /** Jobs an operator launched to pin an intermediate result. */
  def pins(jobs: Seq[JobRec]): Seq[JobRec] =
    jobs.filter(j => inOperators(j) && pinSites(method(j)))

  /** Jobs an operator launched to bring a result to the driver. */
  def collects(jobs: Seq[JobRec]): Seq[JobRec] =
    jobs.filter(j => inOperators(j) && collectSites(method(j)))

  /** Driver time between consecutive jobs where the later one was launched
    * by an operator: the driver-side work of operator loops.
    */
  def operatorGapMs(jobs: Seq[JobRec]): Double = {
    var lastEnd = Long.MaxValue
    var gap = 0L
    jobs.sortBy(_.startMs).foreach { j =>
      if (inOperators(j) && j.startMs > lastEnd) gap += j.startMs - lastEnd
      lastEnd = if (lastEnd == Long.MaxValue) j.endMs else math.max(lastEnd, j.endMs)
    }
    gap.toDouble
  }
}
