package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The `pipeline` workload: `graft.PipelineMain` on the generated tables,
  * writing to a fresh output directory on every run. `PipelineMain` builds
  * and stops its own session, so no benchmark session is alive while it
  * runs; a traced run installs the listeners through `spark.extraListeners`
  * and `spark.sql.queryExecutionListeners`.
  */
final class Pipeline(a: Args) extends Workload {
  private val data = a("data")
  private val stages = PipelineStages.parse(a("pipeline_src"))
  private val summaries = scala.collection.mutable.ArrayBuffer.empty[String]
  private val writtenB = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var opId = 0

  private def out(p: Int) = new File(a.work, s"pipeline_out/$p")

  def setup(round: Int, last: Boolean): Unit = {
    Session.freshTmp(new File(a.work, s"tmp$round"))
    val spark = Session.build(a.int("cpus"))
    Session.warmUp(spark, data)
    spark.stop()
  }

  def pass(p: Int, traced: Boolean): Seq[Op] = {
    opId += 1
    val taps = JobTap.instances.synchronized(JobTap.instances.size)
    val plans = PlanTap.instances.synchronized(PlanTap.instances.size)
    if (traced) {
      System.setProperty("spark.extraListeners", classOf[JobTap].getName)
      System.setProperty("spark.sql.queryExecutionListeners", classOf[PlanTap].getName)
    }
    val buf = new ByteArrayOutputStream()
    val t0 = Clock.ms()
    var err: Option[String] = None
    try Console.withOut(new PrintStream(buf, true, "UTF-8")) {
      graft.PipelineMain.main(Array(data, out(p).getAbsolutePath))
    } catch {
      case NonFatal(e) =>
        err = Some(Session.error(e))
        SparkSession.getDefaultSession.foreach(_.stop())
    }
    val t1 = Clock.ms()
    if (traced) {
      System.clearProperty("spark.extraListeners")
      System.clearProperty("spark.sql.queryExecutionListeners")
      // the session has stopped, and stopping drains its listener bus
      val jobs = JobTap.instances.synchronized(JobTap.instances.drop(taps).toSeq)
        .flatMap(_.jobsAfter(-1))
      val plan = PlanTap.instances.synchronized(PlanTap.instances.drop(plans).toSeq)
        .map(_.snapshot).foldLeft(Array(0L, 0L, 0L, 0L))((x, y) => x.zip(y).map(t => t._1 + t._2))
      val op = tracer.add(0, opId, "pipeline", t0, t1)
      val byStage = jobs.groupBy(j => stageOf(j))
      byStage.toSeq.sortBy(_._2.map(_.startMs).min).foreach { case (stage, js) =>
        tracer.add(op, opId, s"pipeline.$stage", js.map(_.startMs).min.toDouble,
          js.map(j => math.max(j.startMs, j.endMs)).max.toDouble)
      }
      tracer.addJobs(opId, jobs)
      val perStage = (stages.map(_._2) :+ "other").flatMap { s =>
        val js = byStage.getOrElse(s, Nil)
        Seq(s"pipeline.$s.ms" -> Jobs.spanMs(js), s"pipeline.$s.jobs" -> js.size.toDouble)
      }
      val tables = Jobs.tables(jobs)
      layers += p -> (Jobs.exec(jobs) ++ perStage ++ Map(
        "tables.jobs" -> tables.size.toDouble,
        "tables.job_ms" -> Jobs.spanMs(tables),
        "exec.driver_gap_ms" -> math.max(0.0, (t1 - t0) - Jobs.spanMs(jobs)),
        "operators.pin_jobs" -> Jobs.pins(jobs).size.toDouble,
        "operators.collect_jobs" -> Jobs.collects(jobs).size.toDouble,
        "operators.driver_gap_ms" -> Jobs.operatorGapMs(jobs),
        "plans.qes" -> plan(0).toDouble,
        "plans.analysis_ms" -> plan(1).toDouble,
        "plans.optimization_ms" -> plan(2).toDouble,
        "plans.planning_ms" -> plan(3).toDouble))
    }
    val summary = buf.toString("UTF-8").split('\n').map(_.trim)
      .filter(_.startsWith("{\"input\"")).lastOption
    summary.foreach(summaries += _)
    Seq(Op("pipeline", t0, t1,
      err.orElse(if (summary.isEmpty) Some("no summary line") else None)))
  }

  /** Stage of a job: the stage marker above the first `PipelineMain.scala`
    * frame of its call site.
    */
  private def stageOf(j: JobRec): String = {
    val line = j.frames.collectFirst {
      case f if f.contains("(PipelineMain.scala:") =>
        f.split("PipelineMain.scala:")(1).takeWhile(_.isDigit).toInt
    }
    line.flatMap(l => stages.filter(_._1 <= l).lastOption.map(_._2)).getOrElse("other")
  }

  override def afterPass(p: Int, ops: Seq[Op]): Unit = {
    val dir = out(p)
    writtenB += Files.bytes(dir)
    Files.delete(dir)
  }

  def check(): Map[String, Any] = Map(
    "summaries" -> summaries.toSeq,
    "written_b" -> writtenB.toSeq,
    "input_b" -> new File(data, "documents.parquet").length)

  def probeRoot: String = data

  def close(): Unit = ()
}

/** The stages of `PipelineMain.main`, read from the numbered comments that
  * open each stage in its source (`// 0. pre-flight expectations gate`,
  * `// 3.5 eval-split decontamination`, ...), as (first line, name).
  */
object PipelineStages {
  private val names = Map("0" -> "gate", "1" -> "exact", "2" -> "near",
    "3" -> "quality", "3.5" -> "decontam", "4" -> "enrich", "5" -> "pack",
    "5.5" -> "manifest", "6" -> "write", "7" -> "compact")
  private val marker = """^\s*//\s*(\d+(?:\.\d+)?)\.?\s.*""".r

  def parse(source: String): Seq[(Int, String)] = {
    val lines = scala.io.Source.fromFile(source, "UTF-8")
    try lines.getLines().zipWithIndex.collect {
      case (marker(n), i) if names.contains(n) => (i + 1, names(n))
    }.toSeq
    finally lines.close()
  }
}

object Files {
  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum
    else if (f.isFile) f.length else 0L

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
